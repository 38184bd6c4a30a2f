"""Retention (age-off) — per-metric TTLs.

Reference: MetricAgeOffIterator (server/.../store/MetricAgeOffIterator.java:26-217)
applies a default TTL plus per-metric-prefix overrides (longest-prefix
match via a PatriciaTrie) and *seeks* past dead key ranges at scan and
compaction time; MetaAgeOffIterator does the same for the catalog.

Spark split (SURVEY.md §4): age-off is two pieces —

1. ``ageoff_filter``  — the QUERY-TIME guard ``ts >= now - ttl(metric)``
   (the cache applies the same guard, DataStoreCache.java:747-750). A pure
   Column predicate; with the store partitioned by day it prunes whole
   partitions.
2. the MAINTENANCE job, ``sources/store.PointStore.expire``: drop the
   partition directories wholly older than the TTL (the Parquet analogue
   of seek-skipping + TieredCompactionStrategy's drop-RFiles-wholesale,
   TieredCompactionStrategy.java:25-156). Only the store knows its
   layout; this module holds the TTL expressions both pieces use.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def ttl_for_metric(metric_col: Column | str, ttls: dict[str, int], default_ttl_ms: int) -> Column:
    """Longest-prefix TTL lookup as a CASE expression.

    ``ttls`` maps metric-name prefixes to TTL ms. Longest prefix wins
    (MetricAgeOffIterator.java:78-120's PatriciaTrie semantics); the CASE
    checks prefixes longest-first so the first hit is the longest match.
    """
    c = F.col(metric_col) if isinstance(metric_col, str) else metric_col
    # longest prefixes take precedence: build shortest-first so each longer
    # prefix wraps (and therefore shadows) the shorter ones
    result = F.lit(default_ttl_ms)
    for prefix in sorted(ttls, key=len):
        result = F.when(c.startswith(prefix), F.lit(ttls[prefix])).otherwise(result)
    return result


def ageoff_filter(
    df: DataFrame,
    now_ms,
    ttls: dict[str, int] | None = None,
    default_ttl_ms: int = 7 * 86_400_000,
    ts_col: str = "ts",
) -> DataFrame:
    """Query-time age-off guard: keep rows with ts >= now - ttl(metric).

    ``now_ms`` is an epoch-ms int (the query path pins the clock per
    request) or a Column (long-lived SQL views evaluate the clock at
    QUERY time, not registration time)."""
    from pyspark.sql import Column

    now = now_ms if isinstance(now_ms, Column) else F.lit(now_ms)
    ttl = ttl_for_metric("metric", ttls or {}, default_ttl_ms)
    return df.filter(F.col(ts_col) >= (now - ttl))
