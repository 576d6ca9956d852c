"""Streaming (availableNow == batch) and checkpoint/resume idempotency."""

import os
import shutil

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from asag_spark.plans.checkpoint import CheckpointedPipeline
from asag_spark.streaming import (
    hourly_counts, read_events_stream, run_available_now, sessionize,
)


def test_streaming_matches_batch(spark, sf_dir, tmp_path):
    # the file stream source requires a directory — stage the table file
    path = f"{sf_dir}/events.parquet"
    stream_dir = tmp_path / "events_stream"
    stream_dir.mkdir()
    shutil.copy(path, stream_dir / "part-0.parquet")
    stream = read_events_stream(spark, str(stream_dir))
    agg = hourly_counts(stream)
    run_available_now(agg, str(tmp_path / "ckpt"), "hourly_stream")
    streamed = {
        (r["hour_start"], r["event_type"]): (r["n"], r["sum_value"])
        for r in spark.sql("select * from hourly_stream").collect()
    }
    batch = {
        (r["hour_start"], r["event_type"]): (r["n"], r["sum_value"])
        for r in (
            spark.read.parquet(path)
            .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.sum("value"), 2).alias("sum_value"))
            .select(F.col("w.start").alias("hour_start"), "event_type", "n",
                    "sum_value")
        ).collect()
    }
    assert streamed == batch


def test_events_fixture_dedup_assumptions(spark, sf_dir):
    """s_dedup_stream's oracle is SELECT DISTINCT * — correct as long
    as any repeated event_id carries an IDENTICAL payload (streaming
    first-wins is then deterministic). Pin that property of the
    fixture loudly so a future events.parquet with conflicting
    duplicate ids fails HERE with a message, not as an unexplained
    oracle hash mismatch (ADVICE r02)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    n_ids = ev.select("event_id").distinct().count()
    n_rows_distinct = ev.distinct().count()
    assert n_ids == n_rows_distinct, (
        "events fixture has duplicate event_ids with DIFFERENT "
        "payloads — s_dedup_stream's first-wins output is then "
        "order-dependent and its DISTINCT oracle cannot match; "
        "key the oracle explicitly before changing the fixture"
    )


def test_lsh_dedup_stream_matches_batch(spark, tmp_path):
    """Streaming near-dup (foreachBatch + persisted bucket index): the
    pair set accumulated across microbatches must equal the batch
    lsh_candidate_pairs over the full corpus — each batch is hashed
    once and probed against the index built by earlier batches."""
    import random

    from pyspark.sql import functions as F

    from asag_spark.operators.dedup import lsh_candidate_pairs
    from asag_spark.streaming import DOCS_TABLE_SCHEMA, lsh_dedup_stream

    rng = random.Random(5)
    words = [f"w{rng.randrange(400)}" for _ in range(150)]
    rows = []
    for i in range(30):
        base = [rng.choice(words) for _ in range(25)]
        rows.append((2 * i, " ".join(base), "en", "s", 99))
        v = list(base)
        if i % 3:
            v[2] = "editY"
        rows.append((2 * i + 1, " ".join(v), "en", "s", 99))
    docs = spark.createDataFrame(rows, DOCS_TABLE_SCHEMA)

    # stage as TWO files so availableNow+maxFilesPerTrigger=1 processes
    # two microbatches, with dup pairs straddling the batch boundary
    src = tmp_path / "docs_stream"
    src.mkdir()
    docs.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(
        str(src / "batch0"))
    docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.parquet(
        str(src / "batch1"))
    stream = (
        spark.readStream.schema(DOCS_TABLE_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*/")
    )
    buckets = str(tmp_path / "buckets")
    pairs_out = str(tmp_path / "pairs")
    lsh_dedup_stream(stream, buckets, pairs_out, str(tmp_path / "ckpt"))

    streamed = {(r["doc_a"], r["doc_b"])
                for r in spark.read.parquet(pairs_out).collect()}
    batch = {(r["doc_a"], r["doc_b"])
             for r in lsh_candidate_pairs(docs).collect()}
    assert streamed == batch
    assert len(batch) >= 10, "corpus must exercise cross-batch dups"
    # the bucket index now covers the whole corpus (ready for batch 3)
    assert spark.read.parquet(buckets).select("doc_id").distinct().count() == 60


def test_sessionize(spark):
    rows = [
        (1, "2024-01-01 10:00:00", 7, "click", 1.0, "{}"),
        (2, "2024-01-01 10:10:00", 7, "click", 2.0, "{}"),
        (3, "2024-01-01 12:00:00", 7, "click", 3.0, "{}"),   # 110-min gap → new session
        (4, "2024-01-01 10:05:00", 8, "view", 4.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string, value double, props string"
    ).withColumn("ts", F.to_timestamp("ts"))
    sess = sessionize(df, gap_minutes=30).collect()
    u7 = sorted([r for r in sess if r["user_id"] == 7], key=lambda r: r["session_start"])
    assert len(u7) == 2
    assert u7[0]["n_events"] == 2 and u7[1]["n_events"] == 1
    assert len([r for r in sess if r["user_id"] == 8]) == 1


def test_checkpoint_resume(spark, sf_dir, tmp_path):
    workdir = str(tmp_path / "wd")

    calls = {"a": 0, "b": 0}

    def build_a():
        calls["a"] += 1
        return spark.range(100).withColumn("v", F.col("id") * 2)

    def make(pipe):
        a = pipe.run_stage("stage_a", build_a)

        def build_b():
            calls["b"] += 1
            return a.groupBy((F.col("id") % 10).alias("k")).agg(
                F.sum("v").alias("s")
            )

        return pipe.run_stage("stage_b", build_b)

    p1 = CheckpointedPipeline(spark, workdir, input_fp="fp0")
    out1 = sorted(make(p1).collect())
    assert calls == {"a": 1, "b": 1}
    assert [s["resumed"] for s in p1.stage_log] == [False, False]

    # resume: nothing recomputes, identical output
    p2 = CheckpointedPipeline(spark, workdir, input_fp="fp0")
    out2 = sorted(make(p2).collect())
    assert calls == {"a": 1, "b": 1}
    assert [s["resumed"] for s in p2.stage_log] == [True, True]
    assert out1 == out2

    # changed input fingerprint → full recompute
    p3 = CheckpointedPipeline(spark, workdir, input_fp="fp1")
    make(p3)
    assert calls == {"a": 2, "b": 2}

    # metrics table carries lineage rows
    m = p3.metrics().collect()
    assert {r["stage"] for r in m} == {"stage_a", "stage_b"}
    assert all(r["row_count"] > 0 for r in m)
    # partial resume: delete stage_b only → a resumes, b recomputes
    shutil.rmtree(os.path.join(workdir, "stage_b"))
    p4 = CheckpointedPipeline(spark, workdir, input_fp="fp1")
    make(p4)
    assert calls == {"a": 2, "b": 3}
    assert [s["resumed"] for s in p4.stage_log] == [True, False]

    # one metrics row per output part file, even where the reader packs
    # small files into fewer splits; partition i holds i + 1 rows
    p4.run_stage("stage_c", lambda: spark.range(0, 400, 1, 8).filter(
        F.col("id") % 50 <= F.floor(F.col("id") / 50)))
    data_dir = os.path.join(workdir, "stage_c", "data")
    footers = {
        int(f.split("-")[1]): pq.ParquetFile(os.path.join(data_dir, f))
        .metadata.num_rows
        for f in os.listdir(data_dir) if f.startswith("part-")
    }
    m = spark.read.parquet(os.path.join(workdir, "stage_c", "metrics")).collect()
    got = {r["partition_id"]: r["row_count"] for r in m}
    assert len(m) == len(footers) == 8
    assert got == footers == {i: i + 1 for i in range(8)}

    # an empty stage: one empty part file, one metrics row with
    # row_count 0, and a rerun resumes it instead of rebuilding
    empty = {"builds": 0}

    def build_empty():
        empty["builds"] += 1
        return spark.range(10).filter(F.col("id") < 0)

    for resumed in (False, True):
        p5 = CheckpointedPipeline(spark, workdir, input_fp="fp_empty")
        assert p5.run_stage("stage_e", build_empty).count() == 0
        assert [s["resumed"] for s in p5.stage_log] == [resumed]
    assert empty["builds"] == 1
    data_dir = os.path.join(workdir, "stage_e", "data")
    footers = [pq.ParquetFile(os.path.join(data_dir, f)).metadata.num_rows
               for f in os.listdir(data_dir) if f.startswith("part-")]
    m = spark.read.parquet(os.path.join(workdir, "stage_e", "metrics")).collect()
    assert [r["row_count"] for r in m] == footers == [0]


def test_sessionize_stateful_cross_batch(spark, sf_dir, tmp_path):
    """applyInPandasWithState with state genuinely carried ACROSS
    micro-batches: events split time-wise into two files, drained with
    maxFilesPerTrigger=1 so sessions spanning the split are folded from
    state. Keeping the last snapshot per (user, session_seq) must equal
    batch gap-sessionization row-for-row."""
    import time as _time

    from asag_spark.streaming import EVENTS_SCHEMA, sessionize, sessionize_stateful

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    n = events.count()
    mid = events.orderBy("ts").limit(n // 2).agg(F.max("ts")).collect()[0][0]
    stream_dir = tmp_path / "ev_split"
    stream_dir.mkdir()
    events.filter(F.col("ts") <= mid).coalesce(1).write.parquet(
        str(stream_dir / "f0"))
    _time.sleep(1.1)  # file-source orders batches by mod time
    events.filter(F.col("ts") > mid).coalesce(1).write.parquet(
        str(stream_dir / "f1"))

    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(stream_dir) + "/*/")
    )
    q = (
        sessionize_stateful(stream)
        .writeStream.format("memory").queryName("sess_stateful_xb")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_xb"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    snaps = spark.sql("SELECT * FROM sess_stateful_xb").collect()
    assert q.lastProgress is not None
    last = {}
    for r in snaps:
        key = (r["user_id"], r["session_seq"])
        if key not in last or r["n_events"] > last[key]["n_events"]:
            last[key] = r
    got = {
        k: (v["session_start"], v["session_end"], v["n_events"], v["sum_value"])
        for k, v in last.items()
    }
    want = {
        (r["user_id"], r["session_seq"]): (
            r["session_start"], r["session_end"], r["n_events"], r["sum_value"])
        for r in sessionize(events).withColumn(
            "session_start", F.col("session_start").cast("timestamp")
        ).withColumn(
            "session_end", F.col("session_end").cast("timestamp")
        ).collect()
    }
    assert got == want


def test_gap_density_stream_matches_batch(spark, sf_dir, tmp_path):
    """Streaming coverage-gap monitor == the same PIP-flag + windowed
    count run in batch, on events mapped to deterministic coords over
    the 50 generated municipality polygons (both covered and uncovered
    points present)."""
    from asag_spark.datagen import generate_zones
    from asag_spark.operators.pip import pip_flag_join
    from asag_spark.streaming import gap_density_stream

    zones = generate_zones(spark)
    path = f"{sf_dir}/events.parquet"
    stream_dir = tmp_path / "ev_gap"
    stream_dir.mkdir()
    shutil.copy(path, stream_dir / "part-0.parquet")

    def with_coords(df):
        # deterministic hash coords spanning the zone bbox and beyond
        u1 = (F.pmod(F.xxhash64("event_id", F.lit(1)), F.lit(10_000))
              / 10_000.0)
        u2 = (F.pmod(F.xxhash64("event_id", F.lit(2)), F.lit(10_000))
              / 10_000.0)
        return df.withColumn("lon", 4.0 + u1 * 28.0).withColumn(
            "lat", 57.5 + u2 * 14.0
        )

    stream = with_coords(read_events_stream(spark, str(stream_dir)))
    agg = gap_density_stream(stream, zones, zoom=6)
    run_available_now(agg, str(tmp_path / "ckpt_gap"), "gap_stream_tbl")
    streamed = {
        (r["hour_start"], r["x"], r["y"]): r["n_uncovered"]
        for r in spark.sql("select * from gap_stream_tbl").collect()
    }

    from asag_spark.geo.xyz import tile_x, tile_y

    flagged = pip_flag_join(with_coords(spark.read.parquet(path)), zones)
    batch = {
        (r["hour_start"], r["x"], r["y"]): r["n_uncovered"]
        for r in (
            flagged.filter(~F.col("covered"))
            .groupBy(F.window("ts", "1 hour").alias("w"),
                     tile_x(F.col("lon"), 6).alias("x"),
                     tile_y(F.col("lat"), 6).alias("y"))
            .agg(F.count(F.lit(1)).alias("n_uncovered"))
            .select(F.col("w.start").alias("hour_start"), "x", "y",
                    "n_uncovered")
        ).collect()
    }
    assert streamed == batch and len(streamed) > 10
    # sanity: gaps are a strict subset — some points ARE covered
    total = spark.read.parquet(path).count()
    assert sum(streamed.values()) < total
