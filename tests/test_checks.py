"""Data-quality contract checks (operators/checks.py)."""

import pytest

from asag_spark.operators.checks import assert_checks, table_checks


def test_table_checks_rules(spark):
    df = spark.createDataFrame(
        [(1, "en", 10), (2, "en", 20), (2, None, 500)],
        "doc_id long, lang string, n_chars long",
    )
    rules = [
        {"rule": "not_null", "col": "lang"},
        {"rule": "unique", "col": "doc_id"},
        {"rule": "range", "col": "n_chars", "min": 0, "max": 100},
        {"rule": "accepted_values", "col": "lang", "values": ["en"]},
        {"rule": "matches", "col": "lang", "regex": "^[a-z]{2}$"},
        {"rule": "min_rows", "n": 5},
    ]
    out = {r.rule_id: r for r in table_checks(df, rules).collect()}
    assert len(out) == 6
    assert (out[0].observed, out[0].passed) == (1.0, 0)   # one null lang
    assert (out[1].observed, out[1].expected, out[1].passed) == (2.0, 3.0, 0)
    assert (out[2].observed, out[2].passed) == (1.0, 0)   # 500 out of range
    assert (out[3].observed, out[3].passed) == (1.0, 0)   # null fails accept
    assert (out[4].observed, out[4].passed) == (1.0, 0)   # null fails match
    assert (out[5].observed, out[5].passed) == (3.0, 0)   # min_rows 5 > 3
    # a contract the frame satisfies
    ok = [
        {"rule": "range", "col": "n_chars", "min": 0},
        {"rule": "min_rows", "n": 3},
    ]
    rows = {r.rule_id: r for r in table_checks(df, ok).collect()}
    assert all(r.passed == 1 for r in rows.values())


def test_assert_checks_gate(spark):
    df = spark.createDataFrame([(1,), (2,)], "doc_id long")
    out = assert_checks(df, [{"rule": "unique", "col": "doc_id"}])
    assert out.count() == 1
    with pytest.raises(ValueError, match="min_rows"):
        assert_checks(df, [{"rule": "min_rows", "n": 99}])


def test_table_checks_rule_validation(spark):
    df = spark.createDataFrame([(1,)], "doc_id long")
    with pytest.raises(ValueError, match="non-empty"):
        table_checks(df, [])
    with pytest.raises(ValueError, match="unknown kind"):
        table_checks(df, [{"rule": "nope", "col": "doc_id"}])
    with pytest.raises(ValueError, match="needs 'col'"):
        table_checks(df, [{"rule": "not_null"}])
    with pytest.raises(ValueError, match="needs 'values'"):
        table_checks(df, [{"rule": "accepted_values", "col": "doc_id"}])


def test_table_checks_single_pass_plan(spark):
    """The whole contract is ONE aggregation job over one scan — the
    physical plan contains exactly one scan of the input (rule count
    must not multiply passes)."""
    df = spark.range(100).selectExpr("id AS doc_id", "id % 7 AS v")
    out = table_checks(df, [
        {"rule": "not_null", "col": "doc_id"},
        {"rule": "range", "col": "v", "min": 0, "max": 10},
        {"rule": "matches", "col": "v", "regex": "^[0-9]+$"},
        {"rule": "min_rows", "n": 1},
    ])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Range (0, 100") == 1


def test_checks_stream_rejects_exact_unique(spark, tmp_path):
    """Streaming aggregation cannot plan a distinct aggregate — the
    exact 'unique' rule must be rejected loudly at build time, before
    any query starts."""
    from asag_spark.streaming import checks_stream, read_events_stream

    ev = read_events_stream(spark, str(tmp_path))
    with pytest.raises(ValueError, match="approx_unique"):
        checks_stream(ev, [{"rule": "unique", "col": "event_id"}])


def test_review_r3_fixes(spark):
    """Regression battery for the round-3 review findings: approx
    uniqueness passes within its HLL tolerance on clean data, a
    boundless range rule is rejected, and dsir handles null
    text/source without dropping rows."""
    from asag_spark.operators.text import dsir_weights

    # approx_unique on a perfectly unique 50k-row column must PASS
    big = spark.range(50_000).selectExpr("id AS k")
    out = table_checks(big, [{"rule": "approx_unique", "col": "k"}])
    assert out.collect()[0].passed == 1

    with pytest.raises(ValueError, match="boundless"):
        table_checks(big, [{"rule": "range", "col": "k"}])

    docs = spark.createDataFrame(
        [(0, "alpha beta", "en", "t"), (1, None, "en", "r"),
         (2, "alpha", "en", None)],
        "doc_id long, text string, lang string, source string",
    )
    w = {r.doc_id: r for r in
         dsir_weights(docs, target_sources=("t",), n_buckets=64).collect()}
    assert set(w) == {1, 2}  # null text AND null source docs present
    assert w[1].n_grams == 1  # the '' gram

    with pytest.raises(Exception, match="target corpus is empty"):
        dsir_weights(docs, target_sources=("nope",),
                     n_buckets=64).collect()


