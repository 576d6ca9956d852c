"""Stage checkpointing with per-partition lineage + metrics, and
idempotent resume (north_rule; replaces the reference's Camel retry
state machine, MapBoxUpdateRouteBuilder.java:132-164).

Contract per stage:
* output parquet at ``<workdir>/<stage>/data`` (atomic via Spark's
  _SUCCESS marker);
* a metrics parquet at ``<workdir>/<stage>/metrics`` with one row per
  output partition: (stage, partition_id, row_count, input_fingerprint,
  wall_ms) — schema.METRICS;
* ``input_fingerprint`` = fingerprint of the stage INPUT (plan-level:
  hash of the input fingerprint chain + stage name), so a resume run
  re-executes a stage iff its input lineage changed;
* ``run_stage`` skips recompute when data + metrics exist and the
  stored fingerprint matches (idempotent resume — kill the job after
  stage k, rerun, stages 1..k are read back, k+1.. recompute).
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _fingerprint(parent_fp: str, stage: str, params: str = "") -> str:
    import hashlib

    return hashlib.md5(f"{parent_fp}|{stage}|{params}".encode()).hexdigest()


class CheckpointedPipeline:
    """Driver-side stage runner with lineage-fingerprinted resume."""

    def __init__(self, spark: SparkSession, workdir: str, input_fp: str):
        self.spark = spark
        self.workdir = workdir
        self.fp = input_fp
        self.stage_log: list[dict] = []

    def run_stage(self, stage: str, build, params: str = "") -> DataFrame:
        """build: () -> DataFrame. Returns the (possibly restored)
        stage output; records metrics."""
        fp = _fingerprint(self.fp, stage, params)
        self.fp = fp  # chain lineage
        data_dir = os.path.join(self.workdir, stage, "data")
        metrics_dir = os.path.join(self.workdir, stage, "metrics")
        success = os.path.join(data_dir, "_SUCCESS")
        m_success = os.path.join(metrics_dir, "_SUCCESS")

        if os.path.exists(success) and os.path.exists(m_success):
            stored = (
                self.spark.read.parquet(metrics_dir)
                .select("input_fingerprint").first()
            )
            if stored and stored[0] == fp:
                self.stage_log.append(
                    {"stage": stage, "resumed": True, "wall_ms": 0}
                )
                return self.spark.read.parquet(data_dir)

        t0 = time.perf_counter()
        df = build()
        df.write.mode("overwrite").parquet(data_dir)
        wall_ms = int((time.perf_counter() - t0) * 1000)

        out = self.spark.read.parquet(data_dir)
        # count per source part file, not per read split: the reader
        # packs small files into one split, so spark_partition_id()
        # would merge output partitions. part-NNNNN is the write task's
        # partition id.
        metrics = (
            out.groupBy(F.col("_metadata.file_name").alias("file"))
            .agg(F.count(F.lit(1)).alias("row_count"))
            .select(
                F.lit(stage).alias("stage"),
                F.regexp_extract("file", r"^part-(\d+)", 1)
                .cast("int").alias("partition_id"),
                F.col("row_count").cast("long"),
                F.lit(fp).alias("input_fingerprint"),
                F.lit(wall_ms).cast("long").alias("wall_ms"),
            )
        )
        metrics.write.mode("overwrite").parquet(metrics_dir)
        self.stage_log.append(
            {"stage": stage, "resumed": False, "wall_ms": wall_ms}
        )
        return out

    def metrics(self) -> DataFrame:
        paths = [
            os.path.join(self.workdir, d, "metrics")
            for d in os.listdir(self.workdir)
            if os.path.exists(os.path.join(self.workdir, d, "metrics", "_SUCCESS"))
        ]
        return self.spark.read.parquet(*paths)
