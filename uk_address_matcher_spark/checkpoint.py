"""Per-pass durable checkpoints with lineage + per-partition metrics + resume.

Each pipeline pass (cleaned tables, pass-1/pass-2
predictions, clustering iterations) can be checkpointed: the DataFrame is
written out, a manifest entry records lineage (name, path, schema,
row/partition counts), and the returned DataFrame reads back from storage
— truncating lineage exactly where the reference inserts DuckDB temp-table
materialisation barriers (cleaning_pipelines.py:85-94,131-146).

Resume: a re-run with the same base path skips any pass whose manifest
entry is complete (``resume=True``), reading the stored result instead of
recomputing — the north rule's resumability requirement.

Storage: parquet directories by default (this sandbox ships no Iceberg
runtime). On a cluster with an Iceberg catalog, pass ``table_format=
'iceberg'`` and ``table_prefix='catalog.db.'`` — writes become
``writeTo(...).createOrReplace()`` and every checkpoint is an Iceberg
snapshot with time-travel, which subsumes this manifest's lineage role.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Bumped whenever a pass's stored SCHEMA or SEMANTICS change (v2: pass-1
# artifact renamed predictions_pass1 -> pass1_candidates when it became
# the pruned candidate set, and histograms moved from map to array
# encoding; v3: predictions_pass2 dropped the block-level histogram map
# columns to match the reference's final table; v4: the clustering
# endgame artifact bcc_round_<i>_endgame holds the final (node, component)
# rows instead of (c, lab) labels). Resume across versions is refused:
# silently feeding an old manifest's artifacts into new code produces
# wrong results, not errors.
FORMAT_VERSION = 4


class CheckpointManager:
    def __init__(
        self,
        spark: SparkSession,
        base_path: str,
        resume: bool = False,
        table_format: str = "parquet",
        table_prefix: str = "",
    ):
        self.spark = spark
        self.base_path = base_path.rstrip("/")
        self.resume = resume
        self.table_format = table_format
        self.table_prefix = table_prefix
        os.makedirs(self.base_path, exist_ok=True)
        self.manifest_path = os.path.join(self.base_path, "_manifest.json")
        if not resume:
            # resume=False means REBUILD: start from an empty manifest
            # rather than carrying forward old pass entries. Keeping them
            # would let a stale (even prior-format) artifact survive a
            # rebuild that happens not to re-execute a pass of the same
            # name, and then be served as complete by a later resume=True
            # run — laundering exactly what the format_version check
            # refuses.
            self.manifest = {"passes": {}}
        else:
            self.manifest = self._load_manifest()
        stored = self.manifest.get("format_version")
        if resume and self.manifest["passes"] and stored != FORMAT_VERSION:
            raise ValueError(
                f"checkpoint manifest at {self.manifest_path} has format_version="
                f"{stored!r} but this code writes {FORMAT_VERSION}: pass schemas/"
                "semantics changed between versions, so resuming would feed stale "
                "artifacts into incompatible passes. Delete the checkpoint dir or "
                "rerun with resume=False to rebuild."
            )
        self.manifest["format_version"] = FORMAT_VERSION

    def _load_manifest(self) -> dict:
        if os.path.exists(self.manifest_path):
            with open(self.manifest_path) as f:
                return json.load(f)
        return {"passes": {}}

    def _save_manifest(self) -> None:
        tmp = self.manifest_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(self.manifest, f, indent=2)
        os.replace(tmp, self.manifest_path)

    def _path(self, name: str) -> str:
        return os.path.join(self.base_path, name)

    def has(self, name: str) -> bool:
        entry = self.manifest["passes"].get(name)
        return bool(entry and entry.get("complete"))

    def read(self, name: str) -> DataFrame:
        if self.table_format == "iceberg":
            return self.spark.read.table(self.table_prefix + name)
        return self.spark.read.parquet(self._path(name))

    def checkpoint(self, df: DataFrame, name: str) -> DataFrame:
        """Write ``df`` under ``name`` (skipping if resumable) and return a
        DataFrame reading from storage."""
        if self.resume and self.has(name):
            return self.read(name)
        t0 = time.time()
        # label the materialisation's jobs with the pass name so event-log
        # profiles (tools/cpu_profile.py) attribute stages to passes, then
        # hand the caller's own label back
        sc = self.spark.sparkContext
        caller = sc.getLocalProperty("spark.job.description")
        sc.setJobDescription(f"pass:{name}")
        try:
            if self.table_format == "iceberg":
                df.writeTo(self.table_prefix + name).createOrReplace()
            else:
                df.write.mode("overwrite").parquet(self._path(name))
        finally:
            sc.setJobDescription(caller)
        out = self.read(name)
        self.manifest["passes"][name] = {
            "path": self._path(name),
            "format": self.table_format,
            "schema": out.schema.simpleString(),
            "wall_seconds": round(time.time() - t0, 3),
            "complete": True,
            "metrics": self._metrics(out, name),
        }
        self._save_manifest()
        return out

    def _metrics(self, out: DataFrame, name: str) -> dict:
        """Per-partition row counts: lineage metric for skew diagnosis.

        For local parquet checkpoints the numbers come straight from the
        parquet FOOTERS (one file per write partition) — metadata-only,
        no Spark job. An extra full scan per pass is pure fixed latency
        that never shrinks with executor count, which is exactly what
        scaling efficiency loses to. Non-local / non-parquet storage
        falls back to one aggregation scan.
        """
        path = self._path(name)
        if self.table_format == "parquet" and os.path.isdir(path):
            try:
                import glob

                import pyarrow.parquet as pq

                counts = [
                    pq.ParquetFile(f).metadata.num_rows
                    for f in glob.glob(os.path.join(path, "part-*"))
                ]
                if counts:
                    # metrics_source disambiguates the partition notion:
                    # footers count part-* FILES (empty partitions write
                    # no file; a task may emit several), the scan counts
                    # spark_partition_id — skew numbers are only
                    # comparable within one source
                    return {
                        "n_rows": int(sum(counts)),
                        "n_partitions": len(counts),
                        "max_partition_rows": int(max(counts)),
                        "min_partition_rows": int(min(counts)),
                        "metrics_source": "parquet_footers",
                    }
            except Exception:
                pass
        parts = (
            out.groupBy(F.spark_partition_id().alias("pid"))
            .count()
            .agg(
                F.count("*").alias("n_partitions"),
                F.sum("count").alias("n_rows"),
                F.max("count").alias("max_partition_rows"),
                F.min("count").alias("min_partition_rows"),
            )
            .collect()[0]
        )
        return {
            "n_rows": int(parts["n_rows"] or 0),
            "n_partitions": int(parts["n_partitions"] or 0),
            "max_partition_rows": int(parts["max_partition_rows"] or 0),
            "min_partition_rows": int(parts["min_partition_rows"] or 0),
            "metrics_source": "spark_partition_scan",
        }
