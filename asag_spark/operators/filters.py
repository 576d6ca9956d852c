"""Row filters F1/F2 (SURVEY.md §2.2).

F1 — temporal validity, parity with the reference ValidityFilter
(/root/reference/src/main/java/org/entur/asag/mapbox/filter/
ValidityFilter.java:28-52):

* no validity interval → valid
* ``fromDate > now``   → invalid (strictly-after check)
* ``toDate   < now``   → invalid (strictly-before check)
* the reference evaluates only the FIRST ValidBetween of the list
  (``findAny`` on a sequential stream — pinned by
  ValidityFilterTest.java:54-62); the docs encoding carries at most one
  interval, so first == only.

``as_of`` is a parameter, not wall-clock, for determinism
(SURVEY.md §7.3).

F2 — geometry presence (DeliveryPublicationStreamToGeoJson.java:225-231):
zones with neither centroid nor polygon are dropped. It has no filter
here: ``enrich.build_features`` folds it into its keep-predicate (and
the quay gate counts only parents with a geometry), so it costs no
extra pass.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def validity_predicate(as_of: str,
                       from_col: str = "valid_from",
                       to_col: str = "valid_to") -> Column:
    as_of_ts = F.to_timestamp_ntz(F.lit(as_of))
    return (
        (F.col(from_col).isNull() | (F.col(from_col) <= as_of_ts))
        & (F.col(to_col).isNull() | (F.col(to_col) >= as_of_ts))
    )


def validity_filter(entities: DataFrame, as_of: str) -> DataFrame:
    return entities.filter(validity_predicate(as_of))

