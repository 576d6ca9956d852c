"""SparkSession factory tuned for the engine.

Local sandbox runs on ``local[$SPARK_GRAFT_CPUS]`` (single JVM); the same
conf block is what we'd ship in ``spark-submit --py-files`` on a real
cluster — AQE on, Arrow on, shuffle partitions sized to cores (not the
200 default, which at 100 TB would instead be set to ~2-3× total cores
and AQE-coalesced).
"""

from __future__ import annotations

import os
from contextlib import contextmanager
from contextvars import ContextVar

from pyspark.sql import DataFrame, SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32

# Frames an operator persists for its own lazy plan (build_features'
# entity frame) are owned by the caller that materializes the result:
# the innermost open release_caches() block unpersists them on exit.
# Outside any block they stay cached for the session, as plain
# persist() would.
_OWNED: ContextVar[list[DataFrame] | None] = ContextVar(
    "asag_owned_caches", default=None
)


def persist_released(df: DataFrame, level) -> DataFrame:
    """``df.persist(level)``, released when the innermost open
    ``release_caches()`` block exits."""
    df = df.persist(level)
    owned = _OWNED.get()
    if owned is not None:
        owned.append(df)
    return df


@contextmanager
def release_caches():
    """Own the caches a build persists: run the build AND the write
    that materializes it inside this block; every frame persisted
    through ``persist_released`` in between is unpersisted on exit."""
    owned: list[DataFrame] = []
    scope = _OWNED.set(owned)
    try:
        yield
    finally:
        _OWNED.reset(scope)
        for df in owned:
            df.unpersist()


def get_spark(
    app_name: str = "asag_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    ``master=None`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (32 in the
    sandbox). On a cluster the caller passes no master and lets
    spark-submit decide.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    # make the package importable in worker processes regardless of the
    # driver's cwd (cluster deployments ship --py-files instead)
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pkg_root}{os.pathsep}{existing}" if existing else pkg_root
        )
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("ASAG_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
        )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # executors are sized in GB; a 64m broadcast is cheap and lets
        # AQE keep registry-scale build sides (adjacency maps, zone
        # tables) map-side instead of shuffling the big probe side
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # extract_entities folds prop spans through str_to_map over the
        # REVERSED span array: LAST_WIN + reverse ⇒ the first occurrence
        # of a duplicate key wins (the reference's findFirst semantics)
        .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
        .config("spark.sql.session.timeZone", "UTC")
        # catalog tables (sources.write_bucketed) land outside the repo;
        # a real deployment points this at the Iceberg warehouse
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("ASAG_WAREHOUSE", "/tmp/asag_warehouse"),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("ASAG_DRIVER_MEM", "8g"))
        # the wide feature projection (60-field struct × 4 CASE branches)
        # plus AQE's per-stage re-codegen generate enough classes to
        # thrash the JVM's default 240m code cache: the JIT stops
        # compiling and whole runs execute interpreted (measured 5 s →
        # 100+ s wall swings on identical actions). 1g removes the
        # cliff; UseCodeCacheFlushing is default-on but kept explicit.
        #
        # UseParallelGC: this engine's hot path allocates multi-MB
        # Arrow IPC and shuffle buffers at a high rate from many task
        # threads at once. Under G1 those are humongous allocations
        # (>= half a region): each one takes a global lock and pushes
        # the concurrent-cycle machinery, and at 16 concurrent tasks
        # the measured effect was a 13x per-row JVM CPU inflation in
        # the widest stage (150 s vs 38 s wall on identical input —
        # zero spill, zero reported pause time; the cost hides in
        # allocation stalls attributed to mutator CPU). The
        # throughput-oriented ParallelGC has no humongous path or
        # concurrent threads: the same 16-core stage ran 2.1x faster
        # end-to-end. Batch executors don't need G1's pause targets.
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing "
            "-XX:+UseParallelGC",
        )
        # timestamps in the docs model are zone-less local datetimes
        # (NeTEx ValidBetween — reference ValidityFilter.java:41-49)
        .config("spark.sql.parquet.int96RebaseModeInWrite", "CORRECTED")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
