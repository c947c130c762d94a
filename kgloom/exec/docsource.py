"""Document sources: JSONPath / XPath iterators over JSON & XML files.

RML/ShExML logical sources iterate a *document* with a root query
(``$.films[*]``, ``//film``) and per-record field paths, possibly with
nested iterators (operator/src/lib.rs:85-98 Iterator/Field).  Mapping
documents are small; these loaders parse the file with the stdlib
(json / xml.etree), flatten nested iterators into dotted columns with
one row per nested element (explode semantics; multi-valued fields
cartesian within their record — correct under RDF set semantics), and
hand Spark a string-typed Arrow table.

Scale note: at 100 TB the inputs are columnar tables, not documents —
the TABLE formulation (parquet/iceberg scans) is the scale path; this
loader exists for mapping-document parity (films.xml-style test data).
"""

from __future__ import annotations

import json
import xml.etree.ElementTree as ET
from itertools import product
from typing import Any, Optional

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

from ..algebra import IterField, SourceIterator


def _json_root(doc: Any, query: Optional[str]) -> list:
    """Navigate ``$.a.b[*]`` style paths to the record list."""
    if not query:
        return doc if isinstance(doc, list) else [doc]
    q = query.strip()
    if q.startswith("$"):
        q = q[1:]
    cur = [doc]
    for part in [p for p in q.split(".") if p]:
        is_array = part.endswith("[*]")
        name = part[:-3] if is_array else part
        nxt = []
        for c in cur:
            if name:
                if not isinstance(c, dict) or name not in c:
                    continue
                c = c[name]
            if is_array:
                if isinstance(c, list):
                    nxt.extend(c)
            else:
                nxt.append(c)
        cur = nxt
    return cur


def _json_field(rec: Any, path: str) -> list:
    """Resolve a dotted field path inside a JSON record → list of
    scalar values (multi-valued fields return several)."""
    cur = [rec]
    for part in [p for p in path.split(".") if p]:
        is_array = part.endswith("[*]")
        name = part[:-3] if is_array else part
        nxt = []
        for c in cur:
            if isinstance(c, dict) and name in c:
                v = c[name]
                nxt.extend(v if isinstance(v, list) else [v])
        cur = nxt
    return [c for c in cur if not isinstance(c, (dict, list))]


def _json_subrecords(rec: Any, path: str) -> list:
    """Nested-iterator query inside a record → list of sub-records."""
    cur = [rec]
    for part in [p for p in path.replace("[*]", "").split(".") if p]:
        nxt = []
        for c in cur:
            if isinstance(c, dict) and part in c:
                v = c[part]
                nxt.extend(v if isinstance(v, list) else [v])
        cur = nxt
    return cur


def _xml_root(tree: ET.ElementTree, query: Optional[str]) -> list:
    if not query:
        return [tree.getroot()]
    q = query.strip()
    if q.startswith("//"):
        return tree.getroot().iter(q[2:]) and list(tree.iter(q[2:]))
    # absolute /Events/Exhibition: root tag must match first component
    parts = [p for p in q.split("/") if p]
    root = tree.getroot()
    if not parts:
        return [root]
    if root.tag != parts[0]:
        return []
    cur = [root]
    for part in parts[1:]:
        nxt = []
        for c in cur:
            nxt.extend(c.findall(part))
        cur = nxt
    return cur


def _xml_field(el: ET.Element, path: str) -> list:
    p = path.strip()
    if p.startswith("@"):
        v = el.get(p[1:])
        return [v] if v is not None else []
    if p in ("", "."):
        return [el.text] if el.text is not None else []
    out = []
    for m in el.findall(p):
        if m.text is not None:
            out.append(m.text)
    return out


def _xml_subrecords(el: ET.Element, path: str) -> list:
    return el.findall(path.strip())


def _flatten(rec: Any, fields: tuple[IterField, ...], get_field, get_sub,
             prefix: str = "") -> list[dict]:
    """One record + field spec → flat rows {dotted_alias: value}.

    Multi-valued fields and nested iterators expand via cartesian
    product (RDF set semantics collapses the duplicates downstream);
    empty matches contribute a single None so sibling data survives.
    """
    groups: list[list[dict]] = []
    for f in fields:
        key = f"{prefix}{f.alias}"
        if f.inner_fields:
            subs = get_sub(rec, f.reference)
            rows: list[dict] = []
            for s in subs:
                rows.extend(_flatten(s, f.inner_fields, get_field, get_sub,
                                     prefix=f"{key}."))
            groups.append(rows or [{}])
        else:
            values = get_field(rec, f.reference) or [None]
            groups.append([{key: None if v is None else str(v)}
                           for v in values])
    out = []
    for combo in product(*groups):
        row: dict = {}
        for d in combo:
            row.update(d)
        out.append(row)
    return out


#: refuse to driver-parse documents larger than this (bytes).  Mapping
#: documents are KBs; anything bigger should come in as a TABLE scan or
#: ``spark.read.json`` / spark-xml.  Override via the
#: KGLOOM_MAX_DOCUMENT_BYTES env var for a deliberate exception.
MAX_DOCUMENT_BYTES = 128 * 1024 * 1024


class DocumentTooLargeError(ValueError):
    """The document source exceeds the driver-parse size guard."""


def _check_document_size(path: str) -> None:
    import os
    limit = int(os.environ.get("KGLOOM_MAX_DOCUMENT_BYTES",
                               MAX_DOCUMENT_BYTES))
    try:
        size = os.path.getsize(path)
    except OSError:
        return  # missing file surfaces as the normal open() error
    if size > limit:
        raise DocumentTooLargeError(
            f"document source {path!r} is {size} bytes (> {limit}); this "
            "loader parses on the driver and is for mapping-document-sized "
            "inputs only. Use a Table logical source (parquet/iceberg) or "
            "spark.read.json for data at scale, or raise "
            "KGLOOM_MAX_DOCUMENT_BYTES deliberately.")


def load_document_source(spark: SparkSession, path: str,
                         iterator: SourceIterator,
                         with_index: bool = False) -> DataFrame:
    """``with_index=True`` adds the synthetic ``AUTOINC_IDX`` column:
    the 0-based *record* index in document order, shared by every
    exploded row of a record — so ShExML AUTOINCREMENT numbers iterator
    entities, not the cartesian expansion of their multi-valued fields
    (a two-director film gets ONE internal id)."""
    from .functions import AUTOINC_IDX

    rf = iterator.reference_formulation.value
    _check_document_size(path)
    if rf == "JSONPath":
        with open(path, "r", encoding="utf-8") as f:
            doc = json.load(f)
        records = _json_root(doc, iterator.reference)
        get_field, get_sub = _json_field, _json_subrecords
    elif rf in ("XMLPath", "XMLQuery"):
        tree = ET.parse(path)
        records = _xml_root(tree, iterator.reference)
        get_field, get_sub = _xml_field, _xml_subrecords
    else:
        raise ValueError(f"not a document formulation: {rf}")
    rows = []
    for idx, rec in enumerate(records):
        flat = _flatten(rec, iterator.fields, get_field, get_sub)
        if with_index:
            for r in flat:
                r[AUTOINC_IDX] = idx
        rows.extend(flat)

    cols: list[str] = []

    def walk(fields, prefix=""):
        for f in fields:
            if f.inner_fields:
                walk(f.inner_fields, prefix=f"{prefix}{f.alias}.")
            else:
                cols.append(f"{prefix}{f.alias}")
    walk(iterator.fields)
    # an Arrow table plans as a LocalTableScan: no Python worker scans it
    table = {c: pa.array([r.get(c) for r in rows], pa.string())
             for c in cols}
    if with_index:
        table[AUTOINC_IDX] = pa.array([r[AUTOINC_IDX] for r in rows],
                                      pa.int64())
    return spark.createDataFrame(pa.table(table))
