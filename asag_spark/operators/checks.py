"""Data-quality contract checks (the Deequ / Great Expectations
component of a production pipeline): declarative per-column rules
evaluated in ONE aggregation pass over the table, emitted as a
metrics frame a gate can assert on before data ships downstream.

The reference has no validation stage (its XSD check is schema-level,
mirrored by netex.validate_delivery); this is the row-content
counterpart a 100 TB ingest runs between landing and curation — the
same role as plans/checkpoint.py's row-count metrics, extended to
content constraints.

Scale shape: every rule compiles to conditional aggregate expressions
over ONE scan — a single map-combined hash aggregate with no grouping
key (partial rows are one row per partition), so the pass costs one
scan regardless of rule count. The `unique` rule needs a distinct
count; it uses count_distinct (exact), which Spark plans via expand +
two-level aggregate — still map-combined per key, and the only rule
whose wire volume is data-dependent; at 10^12 rows swap in
approx_count_distinct via the ``approx_unique`` rule when a relative
HLL bound is acceptable (both variants are first-class so the choice
is explicit, not silent). All observed values are exact counts (longs
cast to double only at the output boundary) — engine-portable, no
float accumulation.

Rules (dicts, validated loudly):
  {"rule": "not_null",        "col": c}
  {"rule": "unique",          "col": c}                 # exact
  {"rule": "approx_unique",   "col": c, "rsd": 0.05}    # HLL; passes
                                        # within a 2·rsd band; no oracle
  {"rule": "range",           "col": c, "min": x, "max": y}  # null passes;
                                        # at least one bound required
  {"rule": "accepted_values", "col": c, "values": [...]}     # null fails
  {"rule": "matches",         "col": c, "regex": r}          # null fails
  {"rule": "min_rows",        "n": k}

Output: one row per rule —
  (rule_id, rule, column, observed, expected, passed)
where observed = the violating-row count (not_null / range /
accepted_values / matches), the distinct count (unique variants), or
the row count (min_rows); expected = the bound the rule asserts
(violations: 0; unique: the total non-null count it must equal;
min_rows: k); passed = 1/0. rule_id is the rule's position in the
input list, so the output order is the contract order and joins back
to the caller's rule table deterministically.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_RULES = ("not_null", "unique", "approx_unique", "range",
          "accepted_values", "matches", "min_rows")


def _violations(rule: dict) -> Column:
    """Conditional count of rows violating the rule (None when the
    rule is not violation-shaped)."""
    c = F.col(rule["col"]) if "col" in rule else None
    kind = rule["rule"]
    if kind == "not_null":
        return F.count(F.when(c.isNull(), F.lit(1)))
    if kind == "range":
        lo, hi = rule.get("min"), rule.get("max")
        bad = F.lit(False)
        if lo is not None:
            bad = bad | (c < F.lit(lo))
        if hi is not None:
            bad = bad | (c > F.lit(hi))
        return F.count(F.when(bad, F.lit(1)))
    if kind == "accepted_values":
        vals = [F.lit(v) for v in rule["values"]]
        return F.count(F.when(~c.isin(*vals) | c.isNull(), F.lit(1)))
    if kind == "matches":
        ok = c.isNotNull() & c.cast("string").rlike(rule["regex"])
        return F.count(F.when(~ok, F.lit(1)))
    return None


def _validate_rules(rules: list[dict], exact_unique_ok: bool = True) -> None:
    if not rules:
        raise ValueError("table_checks: rules must be non-empty")
    for i, r in enumerate(rules):
        if r.get("rule") not in _RULES:
            raise ValueError(
                f"table_checks: rule #{i} has unknown kind {r.get('rule')!r}"
                f" (known: {_RULES})"
            )
        if r["rule"] != "min_rows" and "col" not in r:
            raise ValueError(f"table_checks: rule #{i} needs 'col'")
        if r["rule"] == "min_rows" and "n" not in r:
            raise ValueError("table_checks: min_rows needs 'n'")
        if r["rule"] == "range" and r.get("min") is None \
                and r.get("max") is None:
            raise ValueError(
                "table_checks: range needs 'min' and/or 'max' (a "
                "boundless range asserts nothing)"
            )
        if r["rule"] == "accepted_values" and not r.get("values"):
            raise ValueError("table_checks: accepted_values needs 'values'")
        if r["rule"] == "matches" and not r.get("regex"):
            raise ValueError("table_checks: matches needs 'regex'")
        if r["rule"] == "unique" and not exact_unique_ok:
            raise ValueError(
                "checks_stream: exact 'unique' needs a distinct aggregate, "
                "which streaming aggregation does not support — use "
                "'approx_unique'"
            )


def _rule_aggs(rules: list[dict]) -> list[Column]:
    """One conditional-aggregate column set for the whole contract —
    shared by the batch single-pass and the streaming per-window
    variants (the compilation IS the operator; only the grouping
    differs)."""
    aggs = [F.count(F.lit(1)).alias("_n")]
    for i, r in enumerate(rules):
        kind = r["rule"]
        if kind == "unique":
            c = F.col(r["col"])
            aggs.append(F.count_distinct(c).alias(f"_d{i}"))
            aggs.append(F.count(c).alias(f"_c{i}"))
        elif kind == "approx_unique":
            c = F.col(r["col"])
            aggs.append(
                F.approx_count_distinct(c, rsd=float(r.get("rsd", 0.05)))
                .alias(f"_d{i}")
            )
            aggs.append(F.count(c).alias(f"_c{i}"))
        elif kind != "min_rows":
            aggs.append(_violations(r).alias(f"_v{i}"))
    return aggs


def _readout(rules: list[dict]) -> list[Column]:
    """Per-rule result structs over the aggregate columns _rule_aggs
    emits — exploded as a plan-time array so rule count never
    multiplies jobs."""
    out_rows = []
    for i, r in enumerate(rules):
        kind = r["rule"]
        col = r.get("col")
        if kind == "unique":
            observed = F.col(f"_d{i}")
            expected = F.col(f"_c{i}")
            passed = observed == expected
        elif kind == "approx_unique":
            # HLL is exact only in its small-cardinality sparse mode;
            # at real cardinalities the estimate carries ~rsd relative
            # error, so exact equality would false-alarm on perfectly
            # unique data (review r3). Pass within a 2·rsd band — the
            # ~95% interval of the HLL error distribution.
            observed = F.col(f"_d{i}")
            expected = F.col(f"_c{i}")
            tol = 2.0 * float(r.get("rsd", 0.05))
            passed = (
                F.abs(observed - expected)
                <= F.lit(tol) * F.greatest(expected, F.lit(1))
            )
        elif kind == "min_rows":
            observed = F.col("_n")
            expected = F.lit(int(r["n"])).cast("long")
            passed = observed >= expected
        else:
            observed = F.col(f"_v{i}")
            expected = F.lit(0).cast("long")
            passed = observed == expected
        out_rows.append(F.struct(
            F.lit(i).cast("int").alias("rule_id"),
            F.lit(kind).alias("rule"),
            (F.lit(col) if col is not None
             else F.lit(None).cast("string")).alias("column"),
            observed.cast("double").alias("observed"),
            expected.cast("double").alias("expected"),
            F.when(passed, F.lit(1)).otherwise(F.lit(0)).cast("int")
            .alias("passed"),
        ))
    return out_rows


def table_checks(df: DataFrame, rules: list[dict]) -> DataFrame:
    """Evaluate ``rules`` against ``df`` in one aggregation job; see
    module docstring for the rule grammar and output contract."""
    _validate_rules(rules)
    agg = df.agg(*_rule_aggs(rules))
    # one row in, |rules| rows out: explode the plan-time struct array
    # over the single aggregate row — no second pass, no union of jobs
    return agg.select(
        F.explode(F.array(*_readout(rules))).alias("r")
    ).select("r.*")


def assert_checks(df: DataFrame, rules: list[dict]) -> DataFrame:
    """Gate form: evaluate and RAISE listing every failed rule (the
    stop-the-line behavior a pipeline stage wants between landing and
    curation); returns the metrics frame when all rules pass so
    callers can persist it alongside checkpoint metrics."""
    out = table_checks(df, rules)
    rows = out.collect()
    failed = [r for r in rows if r["passed"] == 0]
    if failed:
        detail = "; ".join(
            f"#{r['rule_id']} {r['rule']}({r['column']}) "
            f"observed={r['observed']:g} expected={r['expected']:g}"
            for r in failed
        )
        raise ValueError(f"table_checks failed: {detail}")
    return out


