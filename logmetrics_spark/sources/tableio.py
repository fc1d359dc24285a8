"""TableIO — thin seam between the pipeline and the table format.

The target deployment reads/writes Iceberg tables
(``spark.read.format("iceberg")``); this sandbox has no Iceberg runtime
jar, so the default backend is plain Parquet with a JSON *manifest*
standing in for Iceberg snapshot metadata (snapshot id, row count,
schema, partition spec, lineage of completed work units). The logical
layout — partition columns, per-sink tables, snapshot/lineage metadata
— is identical, so flipping ``fmt="iceberg"`` is a config change, not a
code change.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import dataclass, field
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession


def local_path(path: str) -> str:
    """The driver-local path of ``path``, for the files the engine
    reads and writes itself (manifests, lineage, the live view's batch
    records) and for its existence checks of staged partials: a
    ``file:`` URI maps to its path, a plain path stays as it is. Any
    other scheme raises ``ValueError``: Python's ``os`` would take the
    URI for a relative directory name."""
    url = urlparse(path)
    if url.scheme == "file" and url.netloc in ("", "localhost"):
        return url.path
    if url.scheme:
        raise ValueError(f"{path!r} is not a driver-local path")
    return path


@dataclass
class TableIO:
    root: str
    fmt: str = "parquet"  # "parquet" | "iceberg"
    extra_options: dict = field(default_factory=dict)

    def _path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def read(self, spark: SparkSession, table: str, schema=None) -> DataFrame:
        """``schema``: optional explicit schema (StructType or DDL) —
        required to read a legitimately EMPTY parquet table (zero-row
        writes leave no footer to infer from; Iceberg carries schema in
        metadata so the option is a parquet-only concern)."""
        if self.fmt == "iceberg":
            return spark.read.format("iceberg").load(self._path(table))
        reader = spark.read.schema(schema) if schema is not None else spark.read
        return reader.parquet(self._path(table))

    def write(
        self,
        df: DataFrame,
        table: str,
        mode: str = "overwrite",
        partition_by: tuple[str, ...] = (),
        manifest_extra: dict | None = None,
    ) -> dict:
        path = self._path(table)
        writer = df.write.mode(mode)
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        if self.fmt == "iceberg":
            writer.format("iceberg").save(path)
        else:
            writer.parquet(path)
        manifest = {
            "snapshot_id": uuid.uuid4().hex,
            "committed_at_unix": int(time.time()),
            "table": table,
            "format": self.fmt,
            "mode": mode,
            "partition_by": list(partition_by),
            "schema": df.schema.jsonValue(),
        }
        if manifest_extra:
            manifest.update(manifest_extra)
        self._append_manifest(table, manifest)
        return manifest

    # ---- manifest / lineage (Iceberg-snapshot stand-in) ----

    def manifest_path(self, table: str) -> str:
        # OUTSIDE the table data dir: an overwrite write replaces the
        # data directory wholesale, and snapshot history must survive
        # it (Iceberg keeps metadata beside, not inside, the data)
        return os.path.join(local_path(self.root), "_lm_manifests", f"{table}.json")

    def _append_manifest(self, table: str, manifest: dict) -> None:
        path = self.manifest_path(table)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        snapshots = []
        if os.path.exists(path):
            with open(path) as fh:
                snapshots = json.load(fh)
        snapshots.append(manifest)
        with open(path, "w") as fh:
            json.dump(snapshots, fh, indent=1, default=str)

    def snapshots(self, table: str) -> list[dict]:
        path = self.manifest_path(table)
        if not os.path.exists(path):
            return []
        with open(path) as fh:
            return json.load(fh)

    def last_snapshot(self, table: str) -> dict | None:
        snaps = self.snapshots(table)
        return snaps[-1] if snaps else None
