"""Feature projections P1-P15 and adjacency join J1 in one feature
build, :func:`build_features` (U1's per-type union is its CASE
projection).

Re-expresses the reference mappers
(/root/reference/src/main/java/org/entur/asag/mapbox/mapper/*.java and
DeliveryPublicationStreamToGeoJson.java) as one declarative DataFrame
program. Everything is built-in ``pyspark.sql.functions`` — no UDFs —
so Catalyst prunes/pushes and whole-stage codegen covers the whole
projection.

Scale notes:
* J1 runs on explicit ``broadcast()`` hints, and a hint overrides
  ``spark.sql.autoBroadcastJoinThreshold`` — there is no fallback to a
  shuffled join. Three thin frames go through the driver: the
  distinct adjacent refs (O(distinct refs)), the referenced stops'
  ``(id, own_type)`` rows (O(distinct refs) × versions), and J1's
  result, joined back in :func:`build_features` (O(stops with
  adjacentSites)). At the reference's registry scale (~10^5 stops,
  ~1/25 with adjacentSites) these are thousands of rows. The plan
  stops working where they outgrow the driver's memory or
  ``spark.sql.maxBroadcastTableSize``, whatever the stop table's size.
* The feature build's shuffles: one window exchange keyed on
  ``(xxhash64(_pkey), _pkey)`` that carries both the A1 dedup and the
  X1 quay gate, and the adjacency aggregations over rows that HAVE
  adjacent sites (a few % of stops — FIXTURES.md §3 rate 1/25). The
  CASE projection is shuffle-free.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..extract import extract_entities, keylist_value
from ..schema import ENTITY_PROP_KEYS, PROP_FIELDS, SUBMODE_KEYS
from ..datagen import AS_OF
from .filters import validity_filter, validity_predicate

SECTION_STOPS = 0
SECTION_PARKINGS = 1
SECTION_TARIFF_ZONES = 2

# props fields consumed ABOVE the dedup/gate window exchange. The four
# dropped keys' derived values ride as their own thin columns (_valid,
# _pkey, _adj_sorted), so carrying the source strings through the
# shuffle+sort is pure dead weight — and UnsafeRow struct cost is
# ~8 B/field of offset alone. Measured at 10M docs / 16 pinned cores:
# pruning them cut the windowed sub-plan from 8.7 s to 4.0 s.
_POST_WINDOW_PROP_KEYS = tuple(
    k for k in ENTITY_PROP_KEYS
    if k not in ("validFrom", "validTo", "adjacentSites", "parentDocId")
)


# -- scalar helpers (P2, P8, geometry lon/lat) ------------------------------

def codespace(id_col: Column) -> Column:
    """P2 — codeSpace = id.split(':')[0] iff the id contains exactly two
    ':' (ZoneToGeoJsonFeatureMapper.java:68-74)."""
    return F.when(
        F.size(F.split(id_col, ":")) == 3, F.split(id_col, ":")[0]
    )


def resolved_submode(props: Column) -> Column:
    """P8 — first non-null submode whose value != 'unknown'
    (PublicationDeliveryHelper.java:106-126; 'unknown' guard :114).
    Reflection over get*Submode getters becomes an explicit coalesce
    over the fixed NeTEx submode key list."""
    return F.coalesce(
        *[F.nullif(props[k], F.lit("unknown")) for k in SUBMODE_KEYS],
        F.lit(None).cast("string"),
    )


def own_stop_type(props: Column) -> Column:
    """getStopPlaceType fallback chain: submode → stopPlaceType →
    'unknown' (DeliveryPublicationStreamToGeoJson.java:201-214)."""
    return F.coalesce(
        resolved_submode(props), props["stopPlaceType"], F.lit("unknown")
    )


# Coordinate atom shared with the polygon path (geojson.py): accepts
# scientific notation (1e-05 is legal WKT and producible by float
# formatting) — round 2 rejected it here only, so such POINTs silently
# dropped out of PIP/kNN/tiles instead of parsing (ADVICE r02).
_WKT_NUM = r"[-\d.eE+]+"


def point_lon(wkt: Column) -> Column:
    return F.regexp_extract(
        wkt, rf"POINT\(({_WKT_NUM}) ({_WKT_NUM})\)", 1
    ).try_cast("double")


def point_lat(wkt: Column) -> Column:
    return F.regexp_extract(
        wkt, rf"POINT\(({_WKT_NUM}) ({_WKT_NUM})\)", 2
    ).try_cast("double")


def _props_struct(present: dict) -> Column:
    """properties struct: ``present`` maps field → Column; every other
    canonical field is a null literal."""
    return F.struct(
        *[
            (present[k] if k in present else F.lit(None).cast("string")).alias(k)
            for k in PROP_FIELDS
        ]
    )


def _zone_base_entries(df_props: Column, id_col: Column,
                       entity_type: str) -> dict:
    """P1 — shared Zone→Feature projection
    (ZoneToGeoJsonFeatureMapper.java:51-66). name/description are set
    whenever the MultilingualString exists (even empty — MapperHelper
    .java:34-41); privateCode is skipped when empty (:56-62)."""
    return {
        "name": df_props["name"],
        "nameLang": df_props["nameLang"],
        "description": df_props["description"],
        "descriptionLang": df_props["descriptionLang"],
        "privateCode": F.nullif(df_props["privateCode"], F.lit("")),
        "id": id_col,
        "codeSpace": codespace(id_col),
        "entityType": F.lit(entity_type),
    }


def _parking_entries(p: Column) -> dict:
    """P14 — ParkingToGeoJsonFeatureMapper.java:55-75. Capacities are
    BigInteger→string (MapperHelper.java:50-54); parkingVehicleTypes is
    the sorted, ','-joined enum-value list (A4, :64-69)."""
    return {
        **_zone_base_entries(p, F.col("id"), "Parking"),
        "totalCapacity": p["totalCapacity"],
        "principalCapacity": p["principalCapacity"],
        "numberOfParkingLevels": p["numberOfParkingLevels"],
        "publicCode": F.nullif(p["publicCode"], F.lit("")),
        "covered": p["covered"],
        "parkingVehicleTypes": F.when(
            p["parkingVehicleTypes"].isNotNull(),
            F.array_join(
                F.array_sort(F.split(p["parkingVehicleTypes"], ",")), ","
            ),
        ),
        "hasParentSiteRef": F.when(
            p["parentSiteRef"].isNotNull(), "true"
        ).otherwise("false"),
    }


# -- J1: adjacency broadcast self-join --------------------------------------

def adjacent_sites_sorted(props: Column) -> Column:
    """O1 — adjacentSites as a case-insensitively sorted array
    (TreeSet(String::compareToIgnoreCase), PublicationDeliveryHelper
    .java:92-104). Ties (refs equal modulo case) break lexicographically
    — documented deviation, reference behavior undefined."""
    refs = F.array_distinct(F.split(props["adjacentSites"], ","))
    # sort on struct(lower(r), r): native struct ordering gives the
    # case-insensitive order with lexicographic tie-break WITHOUT a
    # comparator lambda — a lambda comparator interprets its whole
    # expression tree once per comparison (HOFs are CodegenFallback;
    # measured +37 s / 10M rows at 16 cores)
    keyed = F.transform(
        refs, lambda r: F.struct(F.lower(r).alias("k"), r.alias("v"))
    )
    return F.when(
        props["adjacentSites"].isNotNull(),
        F.transform(F.array_sort(keyed), lambda s: s["v"]),
    )


def adjacency_final_types_from_aux(stops_aux: DataFrame) -> DataFrame:
    """J1/A3 over the thin aux frame (id, own_type, adj_sorted) — see
    adjacency_final_types for semantics/citations.

    The edge set (stops WITH adjacentSites × refs) is a few % of stops
    (FIXTURES.md §3 rate 1/25), so the referenced-id set is small:

    1. ``edges`` = explode(adj_sorted) over the adj-bearing stops;
    2. broadcast ``distinct(ref)`` and LEFT-SEMI join the full stop
       side against it — the big side is pruned to the referenced
       stops with NO shuffle of the big side (one parallel scan of
       the shared entity cache);
    3. broadcast the pruned ``(id, own_type)`` result and left-join
       the edges; groupBy(id) over O(|edges|) rows only.

    Both broadcasts pass through the driver: O(distinct refs) and
    O(referenced stops) thin rows (module docstring). Duplicate
    (id, version) rows need no pre-dedup: collect_set is idempotent
    under duplicates, and several versions of one id fold by the rule
    in :func:`_adjacency_fold` (the reference's toMap would throw on a
    dup id — undefined input we tolerate).
    """
    edges = stops_aux.filter(F.size("adj_sorted") > 0).select(
        "id", "own_type", F.explode("adj_sorted").alias("ref")
    )
    ref_ids = edges.select("ref").distinct()
    ref_types = stops_aux.join(
        F.broadcast(ref_ids), stops_aux["id"] == ref_ids["ref"], "left_semi"
    ).select(F.col("id").alias("_rid"), F.col("own_type").alias("ref_type"))
    resolved = edges.join(
        F.broadcast(ref_types), edges["ref"] == F.col("_rid"), "left"
    ).select("id", "own_type", "ref_type")
    return _adjacency_fold(resolved)


def _adjacency_fold(resolved: DataFrame) -> DataFrame:
    """(id, own_type, ref_type) edge rows → (id, final_joined_type):
    the id's types ∪ the found ref types, distinct, sorted, '_'-joined
    (A3 — DeliveryPublicationStreamToGeoJson.java:150-159).

    Multi-version rule: a stop id's types are the set of its valid
    versions' types. On the ref side every version of the referenced
    id contributes its type; on the probe side every version that
    carries the edge contributes its own type, so every version of a
    stop that carries adjacentSites gets the same string. collect_set
    drops null ref_types, so unresolved refs contribute nothing
    (Optional.ifPresent, :153-154)."""
    return resolved.groupBy("id").agg(
        F.array_join(
            F.array_sort(
                F.array_union(F.collect_set("own_type"), F.collect_set("ref_type"))
            ),
            "_",
        ).alias("final_joined_type")
    )


def adjacency_final_types(stops: DataFrame) -> DataFrame:
    """J1/A3 — per stop with adjacentSites: probe every ref against the
    broadcast ``id → ownType`` map, union the found types with the own
    type, sort, '_'-join (DeliveryPublicationStreamToGeoJson.java:135,
    146-164). Left join: unknown refs contribute nothing
    (Optional.ifPresent at :153-154).

    Returns (id, final_joined_type) for stops that HAVE adjacent sites.
    collect_set drops nulls, so missing refs contribute nothing.
    """
    aux = stops.select(
        "id",
        own_stop_type(F.col("props")).alias("own_type"),
        adjacent_sites_sorted(F.col("props")).alias("adj_sorted"),
    )
    return adjacency_final_types_from_aux(aux)


# -- the flagship pipeline ---------------------------------------------------

def build_features(docs: DataFrame, as_of: str = AS_OF) -> DataFrame:
    """docs → canonical feature table (E2's lineage, SURVEY.md §3) — the
    one feature build every pipeline, sink and oracle runs.

    Stages: extract → F1 validity → one wide shuffle keyed on
    coalesce(parentDocId, doc_id) carrying BOTH the A1 dedup and the X1
    quay-parent gate as windows → broadcast join of the (small) J1
    adjacency result → one conditional projection (CASE per entity_type
    building each type's property map, P6–P15). F2 geometry presence
    folds into the keep-predicate (quays follow their parent, matching
    the reference's handle() which only checks the top-level zone).

    Scan count: ONE extraction pass — the entity frame is persisted and
    both the main path and the adjacency build side read the cache (a
    global stop→type map needs a second pass over the *entities* by
    construction — the reference buffers everything for the same
    reason, DeliveryPublicationStreamToGeoJson.java:135 — but not a
    second parse). A reference-shaped plan with one branch per entity
    type unioned at the end cost 7 scans / 8 shuffles at 200k docs.

    Output is unordered; canonical order is (section, feature_id) —
    the reference's within-section order is HashSet-nondeterministic
    (SURVEY.md §7.3) so we sort only at sinks.
    """
    # spans_through=False: build_features never emits spans, and the
    # span array is the widest column in the frame — dropping it before
    # the window exchange keeps the shuffle thin. Callers needing the
    # span-sequence invariant use extract_entities(docs) directly.
    #
    # SINGLE-EVALUATION RULE: the JVM extraction expressions (str_to_map
    # + HOF span traversals — interpreted CodegenFallback trees) must be
    # evaluated exactly ONCE per row. Catalyst inlines a projection
    # alias into every consumer, and only ProjectExec's within-operator
    # subexpression elimination dedups the copies — a Filter / Window
    # sort key / shuffle hash that references an extraction-derived
    # alias gets its own interpreted copy (the first formulation left
    # 39 str_to_map / 85 lambda instances in the physical plan and ran
    # 1.6× slower than the Arrow kernel it replaced). So EVERYTHING
    # derived from the extraction — validity flag, window key, sorted
    # adjacency — is computed in the SAME projection (CollapseProject
    # merges them; subexpr elimination dedups), and every operator
    # above (window, filters, join, final projection) references only
    # materialized attributes of that one projection.
    #
    # One extraction pass shared by the main path and the adjacency
    # build side: materialize the (spans-free) entity frame in the
    # columnar block cache and derive both consumers from it. Without
    # this the aux side re-scans the parquet + re-runs the str_to_map
    # extraction over every doc — measured as 30% of job CPU at 10M
    # docs, and the worst-inflating stage at 16 cores on a
    # bandwidth-capped host. MEMORY_AND_DISK: the entity frame is ~20%
    # the size of the raw span text; at 1.75 GB heap/core the storage
    # pool holds it at bench scale, and the disk tier is the executor's
    # local NVMe. The caller that writes the result owns the cache
    # (session.release_caches: run_stage, publish_netex_zip).
    from pyspark.storagelevel import StorageLevel

    from ..session import persist_released

    e0 = persist_released(extract_entities(docs, spans_through=False),
                          StorageLevel.MEMORY_AND_DISK)

    p = F.col("props")
    et = F.col("entity_type")
    # Explicit pruned projection instead of "*": only the props fields
    # read above the window cross the exchange (see
    # _POST_WINDOW_PROP_KEYS); valid_from/valid_to fold into _valid
    # here and are dropped. Field reads against the materialized e0
    # props struct — no re-extraction (single-evaluation rule below).
    keyed = e0.select(
        "doc_id",
        "entity_type",
        "id",
        "version",
        F.struct(
            *[p[k].alias(k) for k in _POST_WINDOW_PROP_KEYS]
        ).alias("props"),
        "geom_wkt",
        validity_predicate(as_of).alias("_valid"),
        F.coalesce(p["parentDocId"], F.col("doc_id")).alias("_pkey"),
        adjacent_sites_sorted(p).alias("_adj_sorted"),
    ).withColumn("_pkh", F.xxhash64("_pkey"))

    # ONE wide shuffle for both A1 dedup and the X1 quay parent gate,
    # and NO driver-side broadcast of the stop-id set (which would
    # serialize ~N_stops through the driver — measured as the scaling
    # bottleneck; impossible at 10^9 docs). Key trick: partition by
    # coalesce(parentDocId, doc_id) —
    # * duplicate (id, version) rows share a doc_id, hence a key, so
    #   sorting within the key makes duplicates adjacent (A1);
    # * a quay lands in the SAME window group as its parent stop, so a
    #   per-group max computes "my parent is a kept stop" (X1);
    # both windows share the partition spec (one exchange), and keys
    # are distinct entity ids → no skew.
    #
    # Validity (F1) folds into the windows instead of pre-filtering
    # (a pre-window Filter would re-evaluate the extraction trees —
    # see above): `_valid DESC` in the dedup sort makes the first row
    # of a duplicate run a valid one when any is, `_parent_ok` counts
    # only valid parents, and the residual `_valid` conjunct applies
    # with the keep-predicate after the window. For content-identical
    # duplicates (the reference's A1 HashSet semantics — equal JAXB
    # objects ⇒ equal validity) this is exactly filter-then-dedup.
    # Window spec leads with `_pkh = xxhash64(_pkey)`: real entity ids
    # share a long constant prefix ("NSR:StopPlace:…"), so the sorter's
    # 8-byte sort-key prefix never discriminates and EVERY comparison
    # in the 10M-row window sort falls through to a full UTF8String
    # compare. A leading 64-bit hash makes the prefix decide almost
    # every comparison; _pkey stays second so hash collisions cannot
    # merge two window groups (partition-by set is (hash, key) ≡ key).
    from pyspark.sql import Window

    w_sorted = Window.partitionBy("_pkh", "_pkey").orderBy(
        "id", "version", F.col("_valid").desc()
    )
    e = keyed.withColumn(
        "_is_first",
        F.lag("id").over(w_sorted).isNull()
        | (F.lag("id").over(w_sorted) != F.col("id"))
        | (F.lag("version").over(w_sorted) != F.col("version")),
    )

    gated = e.withColumn(
        "_parent_ok",
        F.max(
            F.when(
                (et == "StopPlace")
                & F.col("geom_wkt").isNotNull()
                & F.col("_valid"),
                1,
            ).otherwise(0)
        ).over(Window.partitionBy("_pkh", "_pkey")),
    ).filter(F.col("_valid") & F.col("_is_first"))

    # Thin aux frame for the adjacency pass, read from the e0 cache.
    # Deriving it from the windowed frame instead does NOT get exchange
    # reuse (column pruning gives each consumer a different ReadSchema,
    # so the exchange subtrees never canonicalize equal — that plan ran
    # the scan 4×). Dedup is unnecessary here: the adjacency
    # aggregation is idempotent under duplicate (id, version) rows (the
    # reference's toMap would throw on a dup id — undefined input we
    # tolerate).
    stops_aux = validity_filter(e0, as_of).filter(
        (et == "StopPlace") & F.col("geom_wkt").isNotNull()
    ).select(
        "doc_id",
        "id",
        own_stop_type(F.col("props")).alias("own_type"),
        adjacent_sites_sorted(F.col("props")).alias("adj_sorted"),
    )
    adj = adjacency_final_types_from_aux(stops_aux)
    joined = gated.join(F.broadcast(adj), "id", "left")

    keep = F.when(et == "Quay", F.col("_parent_ok") == 1).otherwise(
        F.col("geom_wkt").isNotNull()
    )

    # P6/P7 — StopPlaceToGeoJsonFeatureMapper.java:56-91:
    # finalStopPlaceType is submode, else stopPlaceType, overwritten by
    # the adjacency-joined string ONLY for the primary adjacent site
    # (:84-87); primary iff no adjacent ref is strictly greater than own
    # id, case-insensitively (TreeSet.higher(id) == null, :79-86)
    adj_sorted = F.col("_adj_sorted")
    has_adj = adj_sorted.isNotNull() & (F.size(adj_sorted) > 0)
    is_primary = has_adj & (
        F.size(
            F.filter(adj_sorted, lambda r: F.lower(r) > F.lower(F.col("id")))
        )
        == 0
    )
    submode = resolved_submode(p)
    final_type = F.when(
        has_adj & is_primary, F.col("final_joined_type")
    ).otherwise(F.coalesce(submode, p["stopPlaceType"]))

    stop_map = _props_struct(
        {
            **_zone_base_entries(p, F.col("id"), "StopPlace"),
            "submode": submode,
            "stopPlaceType": p["stopPlaceType"],
            "finalStopPlaceType": final_type,
            "publicCode": F.nullif(p["publicCode"], F.lit("")),
            "weighting": p["weighting"],
            "hasParentSiteRef": F.when(
                p["parentSiteRef"].isNotNull(), "true"
            ).otherwise("false"),
            "isParentStopPlace": keylist_value(p, "IS_PARENT_STOP_PLACE"),
            "isPrimaryAdjacentSite": F.when(has_adj, is_primary.cast("string")),
        }
    )
    # P13 — QuayToGeoJsonFeatureMapper.java:45-66
    quay_map = _props_struct(
        {
            **_zone_base_entries(p, F.col("id"), "Quay"),
            "publicCode": F.nullif(p["publicCode"], F.lit("")),
        }
    )
    parking_map = _props_struct(_parking_entries(p))
    # P15 — TariffZoneToGeoJsonFeatureMapper.java:39-42 (zone base only)
    tz_map = _props_struct(_zone_base_entries(p, F.col("id"), "TariffZone"))

    return joined.filter(keep).select(
        F.col("id").alias("feature_id"),
        F.when(et == "Parking", SECTION_PARKINGS)
        .when(et == "TariffZone", SECTION_TARIFF_ZONES)
        .otherwise(SECTION_STOPS)
        .cast("int")
        .alias("section"),
        et.alias("entity_type"),
        F.col("geom_wkt").alias("geometry_wkt"),
        point_lon(F.col("geom_wkt")).alias("lon"),
        point_lat(F.col("geom_wkt")).alias("lat"),
        F.when(et == "StopPlace", stop_map)
        .when(et == "Quay", quay_map)
        .when(et == "Parking", parking_map)
        .otherwise(tz_map)
        .alias("properties"),
        F.when((et == "StopPlace") & has_adj, adj_sorted).alias("adjacent_sites"),
        "doc_id",
    )
