"""spark-submit entry point: the full training-data CURATION pipeline
— the text-side counterpart of plans/job.py's geo pipeline, composing
the engine's training-data operators into one staged, checkpointed,
resumable driver (each stage lineage-fingerprinted with per-partition
row counts — plans/checkpoint.py; re-running after a kill resumes at
the first incomplete stage).

    spark-submit --py-files asag_spark.zip -m asag_spark.plans.curate \\
        --input <documents parquet> --workdir <checkpoint dir>

Stages (the canonical web-corpus curation order — cheap row-local
gates first so every later corpus-wide pass runs on fewer rows):
    quality_gate   Gopher composite filter (keep passing docs)
    pii_scrub      redact emails/IPs/phones in place
    ngram_scrub    drop corpus-repeated token spans (Lee et al.)
    exact_dedup    keep one doc per normalized-text fingerprint
    near_dedup     MinHash-LSH + Jaccard verify; drop non-keepers
                   (cluster keeper = min doc_id)
    split_shard    train/val/test labels + rendezvous shard

Every stage emits the full doc frame (doc_id, text, ...) so any stage
output is a valid corpus snapshot; the funnel counts land in the
summary JSON and the per-stage metrics tables.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys
import time


def run(spark, input_path: str, workdir: str, *, n_shards: int = 8,
        quality_gate: str = "gopher", quality_share: float = 0.8,
        contract: str = "assert") -> dict:
    """The curation pipeline body, callable on an EXISTING session
    (perfbench's curate_job workload drives this directly; the CLI
    wrapper below owns session create/stop). Returns the summary dict
    main() prints."""
    from pyspark.sql import functions as F

    from asag_spark.operators.dedup import (
        exact_dedup, minhash_dedup, ngram_span_scrub,
    )
    from asag_spark.operators.text import (
        gopher_filter, pii_scrub, quality_topq, rendezvous_shards,
        split_assign,
    )
    from asag_spark.plans.checkpoint import CheckpointedPipeline

    t0 = time.perf_counter()
    input_fp = hashlib.md5(input_path.encode()).hexdigest()
    pipe = CheckpointedPipeline(spark, workdir, input_fp)

    docs = spark.read.parquet(input_path)
    counts: dict[str, int] = {}
    if contract == "assert":
        from asag_spark.operators.checks import assert_checks

        # raises listing every failed rule BEFORE any curation stage
        # spends compute on a malformed snapshot; one aggregation pass
        # (the rule count is static — re-counting the returned frame
        # would re-run the whole aggregation, review r3)
        contract_rules = [
            {"rule": "not_null", "col": "doc_id"},
            {"rule": "unique", "col": "doc_id"},
            {"rule": "not_null", "col": "text"},
            {"rule": "min_rows", "n": 1},
        ]
        assert_checks(docs, contract_rules)
        counts["contract_rules"] = len(contract_rules)
    n_in = docs.count()
    counts["input"] = n_in

    def gated():
        if quality_gate == "none":
            return docs
        if quality_gate == "topq":
            keep = quality_topq(docs, share=quality_share).select(
                "doc_id"
            )
        else:
            keep = gopher_filter(docs).filter(
                F.col("keep") == 1
            ).select("doc_id")
        return docs.join(keep, "doc_id", "left_semi")

    cur = pipe.run_stage(
        "quality_gate", gated,
        params=f"{quality_gate}:{quality_share}",
    )
    counts["quality_gate"] = cur.count()

    def scrubbed():
        s = pii_scrub(cur).select("doc_id", "scrubbed")
        return (
            cur.drop("text")
            .join(s, "doc_id")
            .withColumnRenamed("scrubbed", "text")
        )

    cur = pipe.run_stage("pii_scrub", scrubbed)

    def span_scrubbed():
        s = ngram_span_scrub(cur).select("doc_id", "text_clean")
        return (
            cur.drop("text")
            .join(s, "doc_id")
            .withColumnRenamed("text_clean", "text")
        )

    cur = pipe.run_stage("ngram_scrub", span_scrubbed)

    def exact_deduped():
        keepers = exact_dedup(cur).select(
            F.col("keeper_doc_id").alias("doc_id")
        )
        return cur.join(keepers, "doc_id", "left_semi")

    cur = pipe.run_stage("exact_dedup", exact_deduped)
    counts["exact_dedup"] = cur.count()

    def near_deduped():
        pairs = minhash_dedup(cur, threshold=0.8)
        # undirected near-dup pairs with doc_a < doc_b: every doc_b is
        # dominated by a smaller near-duplicate — dropping all doc_b
        # keeps exactly the per-cluster minimum through transitivity
        losers = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
        return cur.join(losers, "doc_id", "left_anti")

    cur = pipe.run_stage("near_dedup", near_deduped)
    counts["near_dedup"] = cur.count()

    def sharded():
        return (
            cur.join(split_assign(cur), "doc_id")
            .join(rendezvous_shards(cur, n_shards=n_shards), "doc_id")
        )

    out = pipe.run_stage("split_shard", sharded, params=str(n_shards))
    counts["output"] = out.count()

    wall = time.perf_counter() - t0
    return {
        "funnel": counts,
        "wall_s": round(wall, 3),
        "docs_per_sec": round(n_in / wall, 1),
        "stages": pipe.stage_log,
    }


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="documents parquet dir")
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--n-shards", type=int, default=8)
    # gopher is the canonical web-corpus gate; topq (keep the top
    # quality share) suits corpora the absolute rules reject wholesale
    # (the synthetic bench corpus is repetitious by construction and
    # gopher's repetition rule drops ~99% of it — real behavior,
    # wrong demo); none skips the gate
    ap.add_argument("--quality-gate", choices=["gopher", "topq", "none"],
                    default="gopher")
    ap.add_argument("--quality-share", type=float, default=0.8)
    # input contract (operators/checks.py): stop-the-line before any
    # curation compute is spent on a malformed corpus snapshot
    ap.add_argument("--contract", choices=["assert", "off"],
                    default="assert")
    ap.add_argument("--master", default=None)
    args = ap.parse_args(argv)

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__)))))
    from asag_spark.session import get_spark

    spark = get_spark("asag_curate", master=args.master)
    summary = run(
        spark, args.input, args.workdir, n_shards=args.n_shards,
        quality_gate=args.quality_gate, quality_share=args.quality_share,
        contract=args.contract,
    )
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
