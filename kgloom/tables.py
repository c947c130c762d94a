"""Snapshot table store — checkpoint/resume with lineage + metrics.

The north rule requires every pipeline stage to checkpoint to Iceberg
snapshots with per-partition lineage and triple-count metrics, and to
resume mid-plan.  This environment has no Iceberg runtime jar, so the
store abstracts the format:

- **Iceberg mode** (when ``spark.sql.catalog.*`` is configured and the
  runtime jar is on the classpath): ``df.writeTo(table).createOrReplace``
  and snapshot ids come from Iceberg metadata.
- **Parquet-snapshot mode** (default here): each snapshot is an
  immutable directory ``{root}/{table}/snap-{n}/data`` plus a
  ``manifest.json`` carrying the same information Iceberg metadata
  would: schema, row count, per-partition row counts, parent lineage,
  wall time.  The latest committed snapshot is resolved through
  ``_latest`` (written atomically via rename), so readers never see a
  half-written snapshot — the Iceberg commit semantics a resume needs.

Either way the API is identical, so the pipeline code is
format-agnostic and runs unchanged on a real cluster with Iceberg.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import dataclass
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def footer_counts(data_path: str) -> dict[str, int]:
    """Row count of every parquet part file under ``data_path``, read
    from the file footers — no Spark job."""
    import glob

    import pyarrow as pa
    import pyarrow.parquet as pq
    out: dict[str, int] = {}
    for f in sorted(glob.glob(os.path.join(data_path, "**", "part-*"),
                              recursive=True)):
        if f.endswith(".crc"):
            continue
        try:
            out[os.path.relpath(f, data_path)] = \
                pq.ParquetFile(f).metadata.num_rows
        except (OSError, pa.ArrowException):  # not a parquet file
            continue
    return out


@dataclass
class Snapshot:
    table: str
    snapshot_id: str
    path: str
    manifest: dict


class SnapshotStore:
    """``iceberg_catalog`` (or $KGLOOM_ICEBERG_CATALOG) switches data
    writes to real Iceberg tables ``{catalog}.{namespace}.{table}`` via
    ``writeTo(...).createOrReplace()``; snapshot ids and per-file row
    counts then come from Iceberg's ``.snapshots`` / ``.files``
    metadata tables.  The JSON manifest (lineage, metrics, commit
    pointer) is kept either way so resume logic is format-agnostic."""

    def __init__(self, spark: SparkSession, root: str,
                 iceberg_catalog: Optional[str] = None,
                 iceberg_namespace: str = "kgloom"):
        self.spark = spark
        self.root = root
        self.iceberg_catalog = iceberg_catalog or \
            os.environ.get("KGLOOM_ICEBERG_CATALOG")
        self.iceberg_namespace = iceberg_namespace
        os.makedirs(root, exist_ok=True)

    # -- helpers -----------------------------------------------------------
    def _table_dir(self, table: str) -> str:
        d = os.path.join(self.root, table)
        os.makedirs(d, exist_ok=True)
        return d

    def latest(self, table: str) -> Optional[Snapshot]:
        pointer = os.path.join(self._table_dir(table), "_latest")
        if not os.path.exists(pointer):
            return None
        with open(pointer) as f:
            snap_id = f.read().strip()
        path = os.path.join(self._table_dir(table), snap_id)
        with open(os.path.join(path, "manifest.json")) as f:
            manifest = json.load(f)
        return Snapshot(table=table, snapshot_id=snap_id, path=path,
                        manifest=manifest)

    def read(self, table: str) -> DataFrame:
        snap = self.latest(table)
        if snap is None:
            raise FileNotFoundError(f"no committed snapshot for {table!r}")
        return self._read_snap(snap)

    def read_at(self, table: str, snapshot_id: str) -> DataFrame:
        """Time travel: read a SPECIFIC committed snapshot (Iceberg
        ``VERSION AS OF`` semantics in parquet-snapshot mode) —
        snapshots are immutable, so any analysis (SPARQL, closure,
        delta) over ``read_at`` is reproducible point-in-time."""
        path = os.path.join(self._table_dir(table), snapshot_id)
        mpath = os.path.join(path, "manifest.json")
        if not os.path.exists(mpath):
            raise FileNotFoundError(
                f"no snapshot {snapshot_id!r} for {table!r} "
                f"(have: {self.snapshots(table)})")
        with open(mpath) as f:
            manifest = json.load(f)
        return self._read_snap(Snapshot(table=table,
                                        snapshot_id=snapshot_id,
                                        path=path, manifest=manifest))

    def _read_snap(self, snap: Snapshot) -> DataFrame:
        if snap.manifest.get("iceberg_table"):
            if snap.manifest.get("iceberg_snapshot_id"):
                return (self.spark.read
                        .option("snapshot-id",
                                snap.manifest["iceberg_snapshot_id"])
                        .table(snap.manifest["iceberg_table"]))
            return self.spark.table(snap.manifest["iceberg_table"])
        data = snap.manifest.get("external_path") or \
            os.path.join(snap.path, "data")
        return self.spark.read.parquet(data)

    def _commit(self, table: str, snap_id: str, manifest: dict) -> Snapshot:
        """Write the manifest and flip the ``_latest`` pointer
        atomically (rename) — readers never see a half-written
        snapshot, matching Iceberg commit semantics."""
        snap_path = os.path.join(self._table_dir(table), snap_id)
        os.makedirs(snap_path, exist_ok=True)
        with open(os.path.join(snap_path, "manifest.json"), "w") as f:
            json.dump(manifest, f, indent=2)
        tmp = os.path.join(self._table_dir(table), f"._latest.{snap_id}")
        with open(tmp, "w") as f:
            f.write(snap_id)
        os.replace(tmp, os.path.join(self._table_dir(table), "_latest"))
        return Snapshot(table=table, snapshot_id=snap_id, path=snap_path,
                        manifest=manifest)

    def _write_iceberg(self, table: str, df: DataFrame,
                       parents: Optional[list[str]],
                       partition_by: Optional[list[str]],
                       extra_metrics: Optional[dict],
                       t0: float) -> Snapshot:
        """Real Iceberg commit: writeTo(...).createOrReplace() + metadata
        from the .snapshots/.files tables.  Exercised only when an
        Iceberg catalog + runtime jar are configured (skipped test in
        this sandbox; the parquet-snapshot mode is bit-compatible at the
        API level)."""
        full = f"{self.iceberg_catalog}.{self.iceberg_namespace}.{table}"
        self.spark.sql(f"CREATE NAMESPACE IF NOT EXISTS "
                       f"{self.iceberg_catalog}.{self.iceberg_namespace}")
        writer = df.writeTo(full).using("iceberg") \
            .tableProperty("write.parquet.compression-codec", "zstd")
        if partition_by:
            writer = writer.partitionedBy(*[F.col(c) for c in partition_by])
        writer.createOrReplace()
        snap_row = self.spark.sql(
            f"SELECT snapshot_id FROM {full}.snapshots "
            f"ORDER BY committed_at DESC LIMIT 1").collect()[0]
        per_partition = {
            r.file_path: r.record_count for r in self.spark.sql(
                f"SELECT file_path, record_count FROM {full}.files").collect()}
        manifest = {
            "table": table,
            "snapshot_id": f"snap-iceberg-{snap_row.snapshot_id}",
            "iceberg_table": full,
            "iceberg_snapshot_id": snap_row.snapshot_id,
            "created_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            "schema": df.schema.jsonValue(),
            "row_count": sum(per_partition.values()),
            "partition_row_counts": per_partition,
            "parents": parents or [],
            "write_seconds": round(time.time() - t0, 3),
            "metrics": extra_metrics or {},
        }
        return self._commit(table, manifest["snapshot_id"], manifest)

    def link_external(self, table: str, path: str) -> Snapshot:
        """Zero-copy commit: register an existing parquet location as a
        snapshot (what Iceberg's add_files / register_table does) —
        inputs are never rewritten, only referenced with lineage."""
        snap_id = f"snap-{int(time.time() * 1000)}-{uuid.uuid4().hex[:8]}"
        snap_path = os.path.join(self._table_dir(table), snap_id)
        os.makedirs(snap_path, exist_ok=True)
        per_partition = footer_counts(path)
        manifest = {
            "table": table,
            "snapshot_id": snap_id,
            "created_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            "external_path": os.path.abspath(path),
            "row_count": sum(per_partition.values()),
            "partition_row_counts": per_partition,
            "parents": [],
            "metrics": {"zero_copy": True},
        }
        return self._commit(table, snap_id, manifest)

    def write(self, table: str, df: DataFrame,
              parents: Optional[list[str]] = None,
              partition_by: Optional[list[str]] = None,
              extra_metrics: Optional[dict] = None) -> Snapshot:
        """Commit a new immutable snapshot with lineage + metrics.

        Per-partition row counts are collected with one extra cheap
        aggregation over ``spark_partition_id`` on the *written* files
        (file-level parallel read, no full shuffle).
        """
        t0 = time.time()
        if self.iceberg_catalog:
            return self._write_iceberg(table, df, parents, partition_by,
                                       extra_metrics, t0)
        snap_id = f"snap-{int(time.time() * 1000)}-{uuid.uuid4().hex[:8]}"
        snap_path = os.path.join(self._table_dir(table), snap_id)
        data_path = os.path.join(snap_path, "data")
        writer = df.write.mode("overwrite").option("compression", "zstd")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(data_path)

        # per-file row counts straight from parquet footers (no extra
        # Spark job) — the same granularity Iceberg manifests record
        per_partition = footer_counts(data_path)
        manifest = {
            "table": table,
            "snapshot_id": snap_id,
            "created_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            "schema": df.schema.jsonValue(),
            "row_count": sum(per_partition.values()),
            "partition_row_counts": per_partition,
            "parents": parents or [],
            "write_seconds": round(time.time() - t0, 3),
            "metrics": extra_metrics or {},
        }
        return self._commit(table, snap_id, manifest)

    def snapshots(self, table: str) -> list[str]:
        d = self._table_dir(table)
        return sorted(n for n in os.listdir(d) if n.startswith("snap-"))

    # -- maintenance (Iceberg MERGE INTO / rewrite_data_files /
    # -- expire_snapshots equivalents) -------------------------------------

    def merge(self, table: str, updates: DataFrame, keys: list[str],
              delete_col: Optional[str] = None,
              partition_by: Optional[list[str]] = None) -> Snapshot:
        """MERGE INTO semantics as a copy-on-write snapshot commit:
        rows of the current snapshot whose key tuple appears in
        ``updates`` are replaced; unmatched update rows are inserted;
        if ``delete_col`` names a boolean column, update rows with it
        true DELETE their key instead.  Equivalent SQL::

            MERGE INTO t USING u ON <keys>
            WHEN MATCHED AND u.del THEN DELETE
            WHEN MATCHED THEN UPDATE SET *
            WHEN NOT MATCHED [AND NOT u.del] THEN INSERT *

        The new snapshot's lineage records the parent, so the merge is
        resumable/auditable like any other commit and old versions
        stay time-travelable.  Plan shape: one LEFT ANTI join of the
        current snapshot against the (deduplicated) update keys + one
        union — the anti join shuffles on the merge key exactly as
        Iceberg's copy-on-write MERGE does, and AQE sizes it; nothing
        is collected.  ``updates`` must carry one row per key (enforce
        upstream); the base table may be any size.
        """
        current = self.read(table)
        parent = self.latest(table).snapshot_id
        if delete_col is not None:
            upserts = (updates.where(~F.coalesce(F.col(delete_col),
                                                 F.lit(False)))
                       .drop(delete_col))
        else:
            upserts = updates
        touched = updates.select(*keys).distinct()
        merged = current.join(touched, keys, "left_anti") \
            .unionByName(upserts)
        return self.write(table, merged, parents=[parent],
                          partition_by=partition_by,
                          extra_metrics={"merge_keys": keys,
                                         "merge": True})

    def compact(self, table: str, num_files: int,
                sort_by: Optional[list[str]] = None) -> Snapshot:
        """Iceberg ``rewrite_data_files``: rewrite the latest snapshot
        into ``num_files`` files (optionally range-sorted by
        ``sort_by`` for clustering/min-max pruning), committed as a
        new snapshot with lineage — content-identical, layout-new.
        Small-file compaction is what keeps a 100-TB table's scan
        planning cheap after many incremental merges."""
        current = self.read(table)
        parent = self.latest(table).snapshot_id
        if sort_by:
            out = current.repartitionByRange(num_files, *sort_by)
        else:
            out = current.repartition(num_files)
        return self.write(table, out, parents=[parent],
                          extra_metrics={"compaction": True,
                                         "target_files": num_files})

    def expire_snapshots(self, table: str, keep_last: int = 2) -> list[str]:
        """Iceberg ``expire_snapshots``: drop all but the newest
        ``keep_last`` snapshot directories (never the one ``_latest``
        points at).  Returns the expired ids; time travel to them is
        gone afterwards — call only when the retention window allows.
        Parquet-snapshot mode only (real Iceberg expiry is the
        catalog's job)."""
        import shutil
        snaps = self.snapshots(table)
        head = self.latest(table)
        keep = set(snaps[-max(keep_last, 1):])
        if head is not None:
            keep.add(head.snapshot_id)
        expired = []
        for snap_id in snaps:
            if snap_id in keep:
                continue
            shutil.rmtree(os.path.join(self._table_dir(table), snap_id),
                          ignore_errors=True)
            expired.append(snap_id)
        return expired
