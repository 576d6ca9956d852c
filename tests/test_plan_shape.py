"""Plan-SHAPE regression guards.

test_plan_audit.py rejects per-row Python anywhere; this file pins the
exchange structure of the operators whose scale story depends on it
(SCALE.md). A refactor that silently adds a shuffle to the PIP point
side or re-introduces the per-level pyramid unions would pass row-level
correctness and still be wrong at 100 TB — these asserts catch that at
test time.

Counts are taken on executedPlan().toString() of UNCACHED plans
(cached InMemoryRelations embed their child plan text and would
overcount).
"""

import re

import pytest
from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _shuffles(plan: str) -> int:
    # shuffle exchanges only — broadcast exchanges are not shuffles
    return len(re.findall(r"Exchange (?:hash|range|rebalance|Single)", plan))


@pytest.fixture(scope="module")
def pts(spark):
    import numpy as np

    rng = np.random.default_rng(5)
    n = 500
    return spark.createDataFrame(
        [(f"P:{i}", float(lo), float(la)) for i, (lo, la) in enumerate(
            zip(rng.uniform(5, 30, n), rng.uniform(58, 71, n)))],
        "feature_id string, lon double, lat double",
    ).withColumn("geometry_wkt", F.concat(
        F.lit("POINT("), F.col("lon"), F.lit(" "), F.col("lat"), F.lit(")")
    ))


@pytest.mark.parametrize("op", ["pip_join", "pip_anti_join", "pip_flag_join"])
def test_pip_broadcast_plan_has_no_shuffle(spark, pts, op):
    """The broadcast PIP family's contract: the (10^12-row) point side
    NEVER shuffles — candidates come from a broadcast index probe
    inside one mapInArrow pass."""
    from asag_spark.datagen import generate_zones
    from asag_spark.operators import pip

    plan = _plan(getattr(pip, op)(pts, generate_zones(spark)))
    assert _shuffles(plan) == 0, plan


def test_tile_assignment_is_shuffle_free(spark, pts):
    """Tile assignment is a pure per-row projection: zero exchanges of
    any kind on an already-extracted feature frame (SCALE.md §3)."""
    from asag_spark.functions import assign_tiles

    plan = _plan(assign_tiles(pts))
    assert "Exchange" not in plan, plan


def test_pyramid_single_wide_aggregation(spark, pts):
    """tile_pyramid: ONE base-zoom shuffle; rollups are explodes on the
    aggregated rows, not per-level re-aggregations of the input
    (SCALE.md §7 — the per-level-union plan measured 8-12x slower).
    Two shuffles total: base agg + final per-(level,tile) agg."""
    from asag_spark.geo.xyz import tile_pyramid

    plan = _plan(tile_pyramid(pts, base_zoom=10, min_zoom=5))
    assert _shuffles(plan) <= 2, plan


def test_rasterize_density_one_partial_agged_shuffle(spark, pts):
    """Point rasters: one groupBy whose exchange moves distinct cells,
    with a map-side partial_count before it (SCALE.md §7)."""
    from asag_spark.functions import assign_tiles
    from asag_spark.geo.tiles import rasterize_density

    plan = _plan(rasterize_density(assign_tiles(pts), "h3_r9"))
    assert _shuffles(plan) == 1, plan
    assert "partial_count" in plan, plan


def test_bucketed_join_is_shuffle_free(spark, pts):
    """Two tables written with the same bucket spec on doc_id join with
    ZERO exchanges — bucketed scans already satisfy the join's
    distribution requirement (the Iceberg bucket(doc_id) layout the
    SCALE.md cluster shape assumes)."""
    from asag_spark.sources import write_bucketed

    a = pts.select(F.col("feature_id").alias("doc_id"), "lon")
    b = pts.select(F.col("feature_id").alias("doc_id"), "lat")
    write_bucketed(a, "bucketed_a", key="doc_id", buckets=8)
    write_bucketed(b, "bucketed_b", key="doc_id", buckets=8)
    ta, tb = spark.table("bucketed_a"), spark.table("bucketed_b")
    # defeat broadcast so the test exercises the co-located SMJ path
    joined = ta.hint("merge").join(tb, "doc_id")
    plan = _plan(joined)
    assert _shuffles(plan) == 0, plan
    assert joined.count() == pts.count()


def test_knn_windows_key_by_probe_id_not_cell(spark, pts):
    """Both kNN top-k windows partition by the uniform probe id — a
    cell-keyed window concentrates dense-cell quadratic candidates
    into single tasks (measured 9x slower; SCALE.md §5)."""
    from asag_spark.operators.knn import knn_join

    spark.catalog.clearCache()  # knn persists its phase-1 top-k
    plan = _plan(knn_join(pts, k=3))
    windows = re.findall(r"Window \[row_number\(\).*?windowspecdefinition\(([^,]+),", plan)
    assert windows, plan
    for spec in windows:
        assert "cell" not in spec, (spec, plan)


def test_emb_lsh_joins_key_on_band_keys(spark):
    """Round-2 LSH rebuild (VERDICT r01 'what's wrong' #3): the
    candidate joins must key on the high-cardinality band key, the
    signatures must be computed map-side (ArrowEvalPython directly over
    the scan — no exchange between scan and key generation), and no
    join may key on the old 16-value sign-bucket column."""
    import numpy as np

    from asag_spark.operators.dedup import embedding_near_dups

    rng = np.random.default_rng(11)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in rng.standard_normal(16)], 0)
         for i in range(200)],
        "vec_id long, embedding array<float>, label int",
    )
    plan = _plan(embedding_near_dups(emb, threshold=0.9))
    # candidate-generation join keys on bkey
    assert re.search(r"Join \[bkey#\d+L?\], \[bkey#\d+L?\]", plan), plan[:500]
    # signature generation is an Arrow projection, never a Python
    # row-at-a-time eval
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan
    # the legacy low-cardinality bucket column is gone
    assert "bucket" not in plan


def test_ivf_probe_corpus_never_shuffles(spark):
    """ivf_topk's scale contract: the corpus reaches the probe
    mapInPandas with ZERO shuffle exchanges before it — assignment and
    candidate generation are map-only (centroids + probe sets ride a
    broadcast variable); the only exchange in the plan is the single
    hash exchange feeding the tiny global top-k window over candidate
    rows (<= partitions x n_q x k)."""
    from asag_spark.operators.similarity import ivf_topk

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    plan = _plan(ivf_topk(e, e.filter(F.col("vec_id") < 5), k=5))
    assert _shuffles(plan) == 1, plan
    # the one exchange must sit ABOVE the Python probe (window merge),
    # not below it (corpus shuffle): in the bottom-up plan string the
    # mapInPandas node appears after (deeper than) the exchange
    probe_pos = plan.index("MapInPandas")
    exch_pos = plan.index("Exchange hash")
    assert exch_pos < probe_pos, plan


def test_tfidf_single_text_pass(spark):
    """tfidf_top_terms reads the raw text ONCE: the df-agg-and-join
    formulation re-scanned + re-exploded documents for the vocabulary
    side (3 FileScans / 5 exchanges); the window-over-tf shape pins 2
    scans (the second is the parquet-statistics-only count for N)."""
    from asag_spark.operators.text import tfidf_top_terms

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(tfidf_top_terms(docs, 3))
    assert plan.count("FileScan") == 2, plan
    assert _shuffles(plan) <= 4, plan


def test_seq_pack_window_is_bucket_partitioned(spark):
    """seq_pack's scale story (SCALE.md §8): the global running sum
    must NEVER compile to a single-partition window — the prefix sum
    is two-phase, so the only window is partitioned by bucket and the
    only exchanges are bucket-hash ones."""
    from asag_spark.operators.text import seq_pack

    docs = spark.createDataFrame(
        [(i, "a b c") for i in range(100)], "doc_id long, text string"
    )
    plan = _plan(seq_pack(docs, n_buckets=8))
    assert "Exchange SinglePartition" not in plan
    assert "windowspecdefinition(_bkt" in plan  # bucket-keyed window


def test_contamination_filters_before_fp_join(spark):
    """contamination_check recomputes split labels inline (pure
    function of doc_id), so the plan must contain no join other than
    the fp-keyed ones — in particular no join against a split
    assignment table and no nested-loop anywhere."""
    from asag_spark.operators.text import contamination_check

    docs = spark.createDataFrame(
        [(i, "w x y z u v " * 4) for i in range(50)],
        "doc_id long, text string",
    )
    plan = _plan(contamination_check(docs))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_lm_score_tokenizes_once_per_keyspace(spark, sf_dir):
    """lm_bigram_score's ReusedExchange alignments (SCALE.md §8): the
    (doc,w1,w2) exchange feeds scoring AND corpus bigram counts, the
    unigram exchange feeds the conditional AND V — so the final plan
    carries exactly two ReusedExchange nodes and only THREE file
    scans (docbg explode, uni explode, doc-spine left join)."""
    from asag_spark.operators.text import lm_bigram_score

    df = lm_bigram_score(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    df.collect()
    plan = _plan(df)
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("ReusedExchange") == 2
    assert final.count("FileScan parquet") == 3


def test_rendezvous_is_shuffle_free_codegen(spark, sf_dir):
    from asag_spark.operators.text import rendezvous_shards

    df = rendezvous_shards(
        spark.read.parquet(f"{sf_dir}/documents.parquet"), n_shards=12
    )
    df.collect()
    plan = _plan(df)
    assert _shuffles(plan) == 0
    assert "*(1) Project" in plan  # codegen survived (no janino bailout)


def test_boundary_snap_is_shuffle_free(spark, pts):
    from asag_spark.datagen import fixture_zones
    from asag_spark.operators.pip import snap_to_boundary

    df = snap_to_boundary(pts, fixture_zones(spark))
    df.collect()
    assert _shuffles(_plan(df)) == 0


def test_ngram_scrub_shuffle_budget(spark, sf_dir):
    """ngram_span_scrub: window-count exchange (map-combined), the
    semi-join + distinct drop-set exchanges, and the per-doc
    reassembly — all keyed by window or doc. The budget is pinned so
    a refactor can't silently add a corpus-sized extra exchange."""
    from asag_spark.operators.dedup import ngram_span_scrub

    df = ngram_span_scrub(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    df.collect()
    plan = _plan(df).split("== Initial Plan ==")[0]
    assert len(re.findall(r"Exchange (?:hash|range|rebalance|Single)",
                          plan)) <= 7
