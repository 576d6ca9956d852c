"""Sources: testdata parquet loaders + the docs-table derivation.

``docs_from_documents`` turns the driver-provided ``documents`` parquet
into the engine's interleaved text+media docs shape (input_hint)
DETERMINISTICALLY — every value is a pure function of the source row,
so the derived table is identical at any parallelism level. All span
assembly is built-in codegen'd expressions (array/struct literals with
explicit running-sum offsets) — JVM-side, no lambdas.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# Norway-ish bbox used for deterministic coordinate derivation
_LON0, _LON1 = 4.5, 31.0
_LAT0, _LAT1 = 57.9, 71.2


def _u(col, stream: int):
    """Deterministic U[0,1) per row: xxhash64 of (doc_id, stream) —
    JVM-side, no Python."""
    h = F.xxhash64(col, F.lit(stream))
    return (F.pmod(h, F.lit(1 << 40))).cast("double") / F.lit(float(1 << 40))


def write_clustered(
    df: DataFrame, path: str, key: str = "qk12", partitions: int | None = None
) -> None:
    """Spatially-clustered parquet layout: range-partition + sort on a
    quadkey (its base-4 digits ARE a Morton/Z-order curve, so
    lexicographic order is spatial locality). Parquet row-group min/max
    stats on the key then let tile range scans prune — a reader doing
    ``col(key).startswith(<tile prefix>)`` touches only the files/row
    groups whose stat range intersects, which is how a 100 TB tile
    table serves single-tile queries without an index service. The
    same layout is what an Iceberg table with a sort order on ``key``
    would maintain automatically."""
    n = partitions or df.sparkSession.sparkContext.defaultParallelism
    (
        df.repartitionByRange(n, F.col(key))
        .sortWithinPartitions(key)
        .write.mode("overwrite")
        .parquet(path)
    )


def write_bucketed(
    df: DataFrame, table: str, key: str = "doc_id", buckets: int = 64
) -> None:
    """Bucket-partitioned catalog table — the parquet stand-in for an
    Iceberg ``bucket(key)`` partition spec on the docs table (SCALE.md
    header: "docs table Iceberg-partitioned by bucket(doc_id)").

    Any equi-join on ``key`` between tables sharing this bucket spec
    compiles to ZERO exchanges: each bucketed scan reports
    HashPartitioning(key, buckets), so sort-merge join's distribution
    requirement is already satisfied and only (pre-sorted, via sortBy)
    bucket-local sorts remain. tests/test_plan_shape.py pins exactly
    that plan. On a 10^12-doc table this is what makes repeated
    doc-keyed joins (enrichment backfills, media-feature attach,
    dedup-verdict application) shuffle-free forever after one layout
    pass."""
    spark = df.sparkSession
    if "." in table:
        # the orphan-location cleanup below assumes the default
        # database's warehouse layout; a qualified name would compute
        # (and potentially delete) the wrong directory
        raise ValueError(
            f"write_bucketed takes an unqualified table name, got {table!r}"
        )
    # idempotent overwrite across sessions: a fresh in-memory catalog
    # does not know about a previous session's managed-table location,
    # and saveAsTable refuses to claim an existing directory — drop the
    # catalog entry AND clear the orphaned location. Resolve the real
    # path from the catalog when the table is still registered; fall
    # back to the default-database warehouse layout only for a
    # catalog-unknown orphan, and only for a local file: warehouse.
    orphan = None
    try:
        detail = spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect()
        for row in detail:
            if row.col_name == "Location":
                loc = row.data_type
                if loc.startswith("file:"):
                    orphan = loc[5:]
                break
    except Exception:  # noqa: BLE001 — table not in this session's catalog
        warehouse = spark.conf.get("spark.sql.warehouse.dir", "")
        if warehouse.startswith("file:"):
            warehouse = warehouse[5:]
        elif ":" in warehouse.split(os.sep)[0]:
            warehouse = ""  # non-file warehouse URI: no local path to clean
        if warehouse:
            orphan = os.path.join(warehouse, table.lower())
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    if orphan and os.path.isdir(orphan):
        shutil.rmtree(orphan)
    (
        df.write.mode("overwrite")
        .format("parquet")
        .bucketBy(buckets, key)
        .sortBy(key)
        .saveAsTable(table)
    )


def docs_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents(doc_id,text,lang,source,n_chars) → docs(doc_id, spans).

    Encoding (FIXTURES.md §1): meta span, name/stopPlaceType prop spans
    derived from the text, POINT geometry from hashed coordinates
    (clustered: 1 of 32 hash-derived cluster anchors + scatter so the
    H3-cell distribution is skewed), and a media span for every 8th doc
    — interleaved text+media, exercising the full pipeline on real
    table input.
    """
    d = load_table(spark, sf_dir, "documents")
    cluster = F.pmod(F.xxhash64("doc_id", F.lit(101)), F.lit(32))
    # Zipf-ish skew: map uniform cluster id through a quadratic so low
    # ids (hot clusters) absorb most docs
    hot = F.pow(_u(F.col("doc_id"), 7), 2.0)  # density toward 0
    anchor_lon = F.lit(_LON0) + (F.pmod(cluster * F.lit(37), F.lit(97)) / 97.0) * (
        _LON1 - _LON0
    )
    anchor_lat = F.lit(_LAT0) + (F.pmod(cluster * F.lit(53), F.lit(89)) / 89.0) * (
        _LAT1 - _LAT0
    )
    lon = F.round(anchor_lon + (_u(F.col("doc_id"), 1) - 0.5) * 0.2 * (1.0 + hot), 7)
    lat = F.round(anchor_lat + (_u(F.col("doc_id"), 2) - 0.5) * 0.1, 7)

    sid = F.concat(F.lit("DOC:StopPlace:"), F.col("doc_id").cast("string"))
    stop_type = F.element_at(
        F.array(*[F.lit(t) for t in
                  ("onstreetBus", "railStation", "ferryStop", "busStation", "metroStation")]),
        (F.pmod(F.xxhash64("doc_id", F.lit(3)), F.lit(5)) + 1).cast("int"),
    )
    name = F.concat(F.lit("Stop "), F.substring("text", 1, 16))

    texts = F.array(
        F.concat(F.lit("entity_type=StopPlace;id="), sid, F.lit(";version=1")),
        F.concat(F.lit("name="), name),
        F.concat(F.lit("nameLang="), F.col("lang")),
        F.concat(F.lit("stopPlaceType="), stop_type),
        F.concat(F.lit("POINT("), lon.cast("string"), F.lit(" "),
                 lat.cast("string"), F.lit(")")),
    )
    has_media = F.pmod(F.col("doc_id"), F.lit(8)) == 0
    media_ref = F.concat(F.lit("img://"), sid, F.lit(".jpg"))

    # The span list is a FIXED 5-element sequence, so offsets are an
    # explicit running sum of lengths and the array is built literally
    # — no sequence/transform/aggregate lambdas (CodegenFallback; this
    # feeds the flagship entry query's extraction stage).
    kind_strs = ("meta", "prop", "prop", "prop", "geom")
    text_cols = [F.get(texts, i) for i in range(5)]
    offsets = [F.lit(0)]
    for i in range(1, 5):
        offsets.append(offsets[i - 1] + F.length(text_cols[i - 1]))
    spans = F.array(
        *[
            F.struct(
                F.lit(kind_strs[i]).alias("kind"),
                text_cols[i].alias("text"),
                F.lit("").alias("media_ref"),
                offsets[i].cast("int").alias("offset"),
            )
            for i in range(5)
        ]
    )
    total_len = offsets[4] + F.length(text_cols[4])
    media_span = F.struct(
        F.lit("media").alias("kind"), F.lit("").alias("text"),
        media_ref.alias("media_ref"), total_len.cast("int").alias("offset"),
    )
    spans_full = F.when(
        has_media, F.concat(spans, F.array(media_span))
    ).otherwise(spans)
    return d.select(sid.alias("doc_id"), spans_full.alias("spans"))


