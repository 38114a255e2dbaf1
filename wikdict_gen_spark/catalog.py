"""Snapshot catalog: staged tables with idempotent checkpoint/resume.

Locally this is parquet directories with commit markers; on a cluster the
same interface maps 1:1 onto Iceberg tables (`writeTo(...).createOrReplace`
gives the atomic snapshot, `snapshotExists` becomes a catalog lookup).
The commit protocol here: write to `<name>.tmp`, fsync via Spark job
completion, atomic rename to `<name>`, save the read-back schema as
`<name>/_schema.json`, then write the `_COMMITTED` marker.  The marker is
the single commit point: a stage interrupted before the marker leaves a
tmp or unmarked directory and is re-run on resume; a committed stage is never
recomputed (north_rule resumability).  Reads pass the saved schema to the
parquet reader, so opening a committed table starts no Spark job; a table
committed without `_schema.json` falls back to schema inference.

Every commit also appends per-partition lineage/metric rows to the
`_metrics` table: (table, partition_id, rows, committed_seq).
"""

from __future__ import annotations

import json
import shutil
import time
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


class Catalog:
    def __init__(self, spark: SparkSession, root: str | Path):
        self.spark = spark
        self.root = Path(root)
        self.root.mkdir(parents=True, exist_ok=True)

    # -- paths ---------------------------------------------------------------
    def path(self, name: str) -> Path:
        return self.root / name

    def _marker(self, name: str) -> Path:
        return self.path(name) / "_COMMITTED"

    def exists(self, name: str) -> bool:
        return self._marker(name).exists()

    # -- io -------------------------------------------------------------------
    def read(self, name: str) -> DataFrame:
        reader = self.spark.read
        schema = self.path(name) / "_schema.json"
        if schema.exists():
            reader = reader.schema(StructType.fromJson(json.loads(schema.read_text())))
        return reader.parquet(str(self.path(name)))

    def write(self, df: DataFrame, name: str, partition_by: list[str] | None = None) -> DataFrame:
        """Atomically materialize df as table `name`; returns the read-back DF."""
        final = self.path(name)
        tmp = self.root / f"{name}.tmp"
        if tmp.exists():
            shutil.rmtree(tmp)
        t0 = time.monotonic()
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(str(tmp))
        if final.exists():
            shutil.rmtree(final)
        tmp.rename(final)
        self._record_metrics(name, time.monotonic() - t0)
        # stage boundaries are also cache boundaries: drop persisted hot-key
        # sets / checkpoint RDDs so long pipelines don't accumulate heap debris
        self.spark.catalog.clearCache()
        back = self.read(name)  # no _schema.json yet: the one inference job
        (final / "_schema.json").write_text(back.schema.json())
        self._marker(name).touch()
        return back

    def ensure(self, name: str, build, partition_by: list[str] | None = None) -> DataFrame:
        """Resume unit: return the committed table, or build+commit it."""
        if self.exists(name):
            return self.read(name)
        return self.write(build(), name, partition_by)

    def invalidate(self, name: str) -> None:
        if self.path(name).exists():
            shutil.rmtree(self.path(name))

    # -- lineage / metrics ------------------------------------------------------
    def _record_metrics(self, name: str, wall_s: float) -> None:
        """Per-partition lineage rows from the parquet footers — file-level
        row counts are exact and cost zero Spark jobs."""
        import pyarrow.parquet as pq

        parts = {}
        for i, f in enumerate(sorted(self.path(name).rglob("*.parquet"))):
            try:
                parts[str(i)] = pq.ParquetFile(f).metadata.num_rows
            except Exception:
                parts[str(i)] = -1
        meta = {
            "table": name,
            "wall_s": round(wall_s, 3),
            "total_rows": int(sum(v for v in parts.values() if v > 0)),
            "n_partitions": len(parts),
            "partitions": parts,
        }
        metrics_dir = self.root / "_metrics"
        metrics_dir.mkdir(exist_ok=True)
        (metrics_dir / f"{name}.json").write_text(json.dumps(meta, indent=1))

    def metrics(self) -> dict[str, dict]:
        out = {}
        metrics_dir = self.root / "_metrics"
        if metrics_dir.exists():
            for p in sorted(metrics_dir.glob("*.json")):
                out[p.stem] = json.loads(p.read_text())
        return out
