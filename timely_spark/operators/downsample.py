"""Downsample (per-series time-bucket aggregation) and cross-series combine.

Reference semantics (server/.../sample/iterators/DownsampleIterator.java:34-186
and AggregationIterator.java:27-128):

1. DOWNSAMPLE: group points by exact tag set + time bucket
   (``start + floor((ts-start)/period)*period``), apply the aggregator
   per bucket.
2. AGGREGATION: fold the per-series buckets across all series that share
   the *queried* tag projection (the OpenTSDB cross-series aggregator).

Spark shape: two groupBys, each rendered as SQL text
(:func:`group_stage`). Catalyst's partial/final hash aggregation
replaces the reference's memory-estimator batching
(DownsampleMemoryEstimator.java:1-101) and coordinator-side
``combineAggregation`` merge (DataStore.java:844-858) — at scale the first
groupBy is a single shuffle on (metric, series, bucket) and the second is
map-side-combinable because its keys are a subset.

``aggregator="none"`` disables bucketing (1 ms buckets == identity,
Aggregator.java:40-59) — we return the raw points unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.time import query_aligned_bucket_sql
from ..model import projected_tags_sql, series_id_sql
from ..parse import DownsampleSpec
from .aggregators import AGGREGATORS, agg_sql


def group_stage(
    df: DataFrame,
    key: str,
    bucket: str,
    aggregator: str,
    value_col: str = "value",
    aggregators: dict[str, str] = AGGREGATORS,
) -> DataFrame:
    """``(metric, tags, bucket_ts, value)`` of one aggregation over
    ``(key, bucket)``: the shared shape of the downsample, the
    cross-series combine and the builder's collapsed single stage.
    ``key`` and ``bucket`` are SQL text over ``df``'s columns; the stage
    builds in about a dozen py4j calls. ``aggregators`` is the SQL table
    the aggregation comes from: ``MERGE_AGGREGATORS`` when ``value``
    holds rollup partials."""
    pre = df.selectExpr(
        f"{key} AS __gkey", f"{bucket} AS bucket_ts", "metric", "tags",
        f"{value_col} AS value",
    )
    return (
        pre.groupBy("__gkey", "bucket_ts")
        .agg(
            F.expr("first(metric) AS metric"),
            F.expr("first(tags) AS tags"),
            F.expr(f"{agg_sql(aggregator, table=aggregators)} AS value"),
        )
        .selectExpr("metric", "tags", "bucket_ts", "value")
    )


def downsample(
    df: DataFrame,
    spec: str | DownsampleSpec,
    start_ms: int = 0,
    ts_col: str = "ts",
    value_col: str = "value",
    series_col: str | None = None,
    aggregators: dict[str, str] = AGGREGATORS,
) -> DataFrame:
    """Per-series downsample: one row per (metric, tags, bucket_ts).

    Output columns: metric, tags, bucket_ts (epoch ms), value.

    ``series_col``: group on a materialized series-key column (bucketed
    store, rollup partials) — HashPartitioning(series_key) satisfies the
    grouping's ClusteredDistribution, so the aggregation runs without an
    Exchange. ``aggregators``: as in :func:`group_stage`.
    """
    if isinstance(spec, str):
        spec = DownsampleSpec.parse(spec)
    if spec.aggregator == "none":
        # 1 ms buckets == identity (DownsampleIterator.java:161-169)
        return df.selectExpr(
            "metric", "tags", f"{ts_col} AS bucket_ts", f"{value_col} AS value"
        )
    return group_stage(
        df,
        series_col or series_id_sql(),
        query_aligned_bucket_sql(ts_col, start_ms, spec.period_ms),
        spec.aggregator,
        value_col,
        aggregators,
    )


def combine_series(
    downsampled: DataFrame,
    group_tag_keys: list[str],
    aggregator: str,
    value_col: str = "value",
) -> DataFrame:
    """Cross-series combine keyed by the queried tag projection.

    Tag projection: the result keeps ONLY the tag keys named in the query
    (DataStore.java:752-762); all series mapping to the same projected tag
    set merge under ``aggregator`` (AggregationIterator.java:27-128).

    Output: metric, tags (projected map), bucket_ts, value.
    """
    # map columns can't be groupBy keys; group on the canonical sorted
    # rendering of the PROJECTED tags and keep the map via first()
    proj = downsampled.selectExpr(
        "metric", f"{projected_tags_sql(group_tag_keys)} AS tags", "bucket_ts", value_col
    )
    return group_stage(proj, series_id_sql(), "bucket_ts", aggregator, value_col)
