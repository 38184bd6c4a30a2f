"""Meta catalog (metric/tag discovery) + suggest / lookup / metrics queries.

Reference: the meta table holds ``m:<metric>``, ``t:<metric>/tagKey``,
``v:<metric>/tagKey/tagValue`` rows updated on every write
(common/.../model/Meta.java:54-66, DataStore.java:415-433); queries are

- suggest  (GET/POST /api/suggest, DataStore.java:528-580): substring /
  prefix search over metric names (or tag keys/values), sorted, capped;
- lookup   (/api/search/lookup, DataStore.java:582-624): regex tag match
  returning (metric, tag pairs) + a total count;
- metrics  (/api/metrics): dump of metric -> known tags.

Spark: the catalog is a tiny derived DataFrame
``(metric, tag_key, tag_value, last_seen)`` = explode of the point
stream's tags with max(ts). At 100 TB it is maintained incrementally by
the ingest path, never recomputed from raw points; it is small enough to
broadcast into any planning join. These are the Spark-native forms. The
engine's catalog tier, ``sources/catalog.MetaCatalog``, writes each
put's :func:`build_meta` rows, ages them off, answers suggest and
metrics from a driver-resident fold of them (the tests hold it equal to
:func:`suggest` and :func:`metrics_dump`) and answers lookup from the
same fold (``MetaCatalog.lookup``). :func:`search_lookup` is the ``ts_lookup``
registry row's form.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def build_meta(points: DataFrame) -> DataFrame:
    """Full recompute of the catalog from a point DataFrame (batch path)."""
    return (
        points.select("metric", "ts", F.explode_outer("tags").alias("tag_key", "tag_value"))
        .groupBy("metric", "tag_key", "tag_value")
        .agg(F.max("ts").alias("last_seen"))
    )


def suggest(
    meta: DataFrame,
    q: str | None,
    kind: str = "metrics",
    max_results: int = 25,
    tag: str | None = None,
) -> DataFrame:
    """Sorted, capped suggestions with the reference's EXACT per-type
    semantics (DataStore.java:528-580):

    - ``metrics``: metric names CONTAINING ``q`` (``q`` absent => all).
    - ``tagk``: the tag KEYS of the metric EQUAL to ``q`` — the query
      string is a metric name, not a tag-key substring (the Grafana
      ``suggest_tagk(<metric>)`` shape, TimelyDataSource.ts:178-183).
      No metric => empty.
    - ``tagv``: the tag VALUES where metric == ``q`` AND tag key ==
      ``tag`` (the ``t`` request param, SuggestRequest.java:38,
      ``suggest_tagv(<metric>, <tagk>)``). Either absent => empty.

    A negative ``max_results`` means unlimited — the reference caps only
    when ``request.getMax() >= 0`` (DataStore.java:538,551,567), and the
    Grafana datasource relies on it (``max: '-1'`` for the metric list,
    grafana/timely-datasource/src/TimelyDataSource.ts:228).

    Nulls never suggest: ``build_meta``'s ``explode_outer`` keeps a
    tagless metric as a ``(metric, null, null)`` row, and the reference
    holds no tag-key row for such a metric.

    This is the Spark-native form (the ``ts_suggest`` registry row).
    ``TimelyEngine.suggest`` answers the same from its driver-resident
    copy, ``sources.catalog.MetaCatalog.suggest``, and the tests hold
    the two equal.
    """
    if kind == "metrics":
        out = meta if not q else meta.filter(F.col("metric").contains(q))
        col = "metric"
    elif kind == "tagk":
        out = meta.filter(F.col("metric") == q) if q else meta.limit(0)
        col = "tag_key"
    elif kind == "tagv":
        if q and tag:
            out = meta.filter(
                (F.col("metric") == q) & (F.col("tag_key") == tag)
            )
        else:
            out = meta.limit(0)
        col = "tag_value"
    else:
        # DataStore.suggest (DataStore.java:528-580) silently answers an
        # empty list (200) for unrecognized types; match it
        out = meta.limit(0)
        col = "metric"
    out = (
        out.select(F.col(col).alias("suggestion"))
        .filter(F.col("suggestion").isNotNull())
        .distinct()
        .orderBy("suggestion")
    )
    return out.limit(max_results) if max_results >= 0 else out


def search_lookup(
    meta: DataFrame,
    metric: str | None = None,
    tag_key: str | None = None,
    tag_value_pattern: str | None = None,
    limit: int = 25,
) -> tuple[DataFrame, DataFrame]:
    """Regex tag-value lookup (DataStore.java:582-624).

    Returns (limited results ordered by metric/tag, total-count DataFrame) —
    the reference reports ``totalResults`` over all matches while capping
    the returned list at ``limit`` (SearchLookupRequest.java:30-33).
    """
    m = meta
    if metric is not None:
        m = m.filter(F.col("metric") == metric)
    if tag_key is not None:
        m = m.filter(F.col("tag_key") == tag_key)
    if tag_value_pattern is not None:
        m = m.filter(F.col("tag_value").rlike(tag_value_pattern))
    results = m.select("metric", "tag_key", "tag_value").distinct()
    ordered = results.orderBy("metric", "tag_key", "tag_value").limit(limit)
    total = results.agg(F.count(F.lit(1)).alias("total_results"))
    return ordered, total


def metrics_dump(meta: DataFrame, ignored_tags: list[str] | None = None) -> DataFrame:
    """/api/metrics: metric -> sorted list of known tag k=v pairs.

    Ignored tag KEYS drop from the lists but never drop the metric: the
    reference (MetricsResponse.generateJson/generateHtml) reports every
    known metric and only omits the ignored tags, so a metric whose tags
    are ALL ignored still appears with ``tags=[]``, like a tagless one
    (its ``build_meta`` row has a null key). collect_set skips NULLs, so
    the conditional inside the aggregate does exactly that without a
    second scan or join-back.
    """
    keep = F.col("tag_key").isNotNull()
    if ignored_tags:
        keep = keep & ~F.col("tag_key").isin(ignored_tags)
    kv = F.when(keep, F.concat_ws("=", "tag_key", "tag_value"))
    return (
        meta.groupBy("metric")
        .agg(F.array_sort(F.collect_set(kv)).alias("tags"))
        .orderBy("metric")
    )
