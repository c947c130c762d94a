"""Spark execution layer: binds operator plans (kgloom.plan) to lazy
DataFrame DAGs and runs them.

The reference (`/root/reference`) stops at plan emission; this package is
the executor it leaves abstract, realized Spark-first: scans are
``spark.read``, Extend is one ``selectExpr`` of Catalyst expressions
compiled to Spark SQL text (percent-encoding included), joins are
DataFrame joins shaped for AQE, and serialization keeps structured
``(subj, pred, obj, graph)`` rows, stringifying to N-Quads only at the
sink.
"""

from .binder import SparkBinder, BindError  # noqa: F401
