"""Compile a QueryRequest into ONE DataFrame plan.

Pipeline per SubQuery, mirroring the reference's iterator stack order
(DataStore.java:711-745: TagFilter(100) -> Rate(499) -> Downsample(500)
-> Aggregation(501), then the coordinator merge at :748-779):

    scan -> one SQL filter: the store's scan predicates (metric, time,
            partition pruning) + tag + visibility predicates
         -> [rate]
         -> downsample (per-series buckets)
         -> cross-series combine on the projected tag keys

One plan per request: the API layer reads the tier that holds the
request's range (``TimelyEngine.points(since_ms=...)``), builds every
SubQuery over it here, and ``plans/response.to_query_response`` unions
the SubQuery frames (tagged with their index) and collects them ONCE —
the reference's per-SubQuery scans (DataStore.java:645) become branches
of one Spark job graph (AnalyticDB-V's query fusion, PAPERS.md).

Every stage is rendered as SQL text: the predicates as one ``filter``
string, the rate window, bucket and aggregations as ``selectExpr`` /
``F.expr`` strings. Building a SubQuery therefore costs a few dozen
py4j calls instead of a Column-builder exchange per expression node,
and the schema is read once per SubQuery (PySpark caches it on the
shared ``points`` frame, so only the first read is a py4j call). All
predicates are plain comparisons, so Catalyst pushes them into the
Parquet scan (the analogue of the reference's hour-range planning
DataStore.getQueryRanges:997-1039 + column-family fetch :936-947 —
``sources/store.scan_predicates`` adds the partition predicates of the
store's layout, so they become directory pruning).

Semantics notes:
- Tag values that are not ``^\\w+$`` are regexes (DataStore.java:860-862),
  compiled to ``RLIKE`` anchored on both ends, matching Java
  ``Matcher.matches()``. String literals are escaped with
  ``model.sql_literal`` (backslash and quote), so a value reaches the
  plan exactly as given.
- When the cross-series aggregator equals the downsample aggregator (or
  there is no downsample), the two groupBys collapse into ONE aggregation
  over the projected tags — this reproduces the reference's partial-merge
  semantics exactly (Aggregation.java:85-96 re-accumulates raw
  sums/counts, so e.g. avg is the weighted average over all points, and
  count counts points, not series) while saving a shuffle.
- ``start`` is floored to the downsample period before bucketing
  (DataStore.java:693-695); :func:`query_start` is that floor, and the
  earliest one over a request's SubQueries picks its tier.

The rollup tier compiles here too. ``TimelyEngine.build_rollup`` gives
partials in the points' shape: ``ts`` is the start of the level bucket,
``series_key`` the series, and ``value`` a ``struct<n, vsum, vmin, vmax>``.
The one difference is the SQL of the first aggregation, which merges the
partials (``operators.aggregators.MERGE_AGGREGATORS``, chosen from the
type of ``value``) instead of aggregating raw values; the predicates, the
bucket, the collapse and the combine are the ones above.
"""

from __future__ import annotations

from dataclasses import replace

from pyspark.sql import DataFrame
from pyspark.sql.types import StructType

from ..functions.viz import viz_filter, viz_predicate_sql
from ..model import projected_tags_sql, series_id_sql, sql_literal
from ..functions.time import query_aligned_bucket_sql
from ..operators.aggregators import AGGREGATORS, MERGE_AGGREGATORS
from ..operators.downsample import combine_series, downsample, group_stage
from ..operators.rate import rate
from ..parse import is_tag_regex
from ..sources.store import scan_predicates
from .request import QueryRequest, SubQuery


def _decode_tsuid(t: str) -> str:
    """Wire tsuid -> series_id string. Hex-encoded UTF-8 (the comma-free GET
    form, encode_tsuid's output) decodes; anything non-hex is already a raw
    series_id string and passes through."""
    try:
        return bytes.fromhex(t).decode("utf-8")
    except ValueError:
        return t


def encode_tsuid(series: str) -> str:
    """series_id string -> wire tsuid (hex UTF-8), safe inside the GET
    ``?tsuid=agg:id,id`` comma list."""
    return series.encode("utf-8").hex()


def _ident(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def tag_predicates_sql(tags: dict[str, str], columns: list[str]) -> list[str]:
    """One SQL predicate per tag filter. A promoted ``tag_<k>`` column
    (sources/store.with_promoted_tags) is preferred: a plain string
    column's predicate reaches PushedFilters + row-group stats, which a
    tags-map access never can."""
    out = []
    for k, v in tags.items():
        pc = f"tag_{k}"
        col = _ident(pc) if pc in columns else f"tags[{sql_literal(k)}]"
        if v == "*" or v == ".*":
            out.append(f"{col} IS NOT NULL")
        elif is_tag_regex(v):
            # Matcher.matches() semantics
            out.append(f"{col} RLIKE {sql_literal(f'^(?:{v})$')}")
        else:
            out.append(f"{col} = {sql_literal(v)}")
    return out


def query_start(q: SubQuery, start_ms: int) -> int:
    """The request start floored to the SubQuery's downsample period
    (DataStore.java:693-695): the first timestamp the SubQuery reads."""
    spec = q.downsample_spec()
    period = spec.period_ms if spec else 1
    return start_ms - (start_ms % period) if period > 1 else start_ms


def build_subquery(
    points: DataFrame,
    q: SubQuery,
    start_ms: int,
    end_ms: int,
    auths: set[str] | None = None,
    viz_exprs: list[str] | None = None,
) -> DataFrame:
    """Returns (metric, tags, bucket_ts, value) for one SubQuery."""
    schema = points.schema
    cols = schema.names
    spec = q.downsample_spec()
    start_ms = query_start(q, start_ms)
    series_key = "series_key" if "series_key" in cols else None
    # rollup partials hold a struct per level bucket: the first
    # aggregation merges them
    aggregators = MERGE_AGGREGATORS if isinstance(schema["value"].dataType, StructType) else AGGREGATORS

    preds = []
    if q.tsuids:
        # tsuid SubQuery (GET ?tsuid=agg:id,.. — QueryRequest.java:615-627):
        # a tsuid here IS the canonical series_id (metric + sorted k=v tag
        # pairs, model.series_id), hex-encoded on the wire so the GET
        # comma-separated list stays unambiguous (the reference's tsuids are
        # likewise hex UID strings). Raw series-id strings are accepted too
        # (JSON path). Selects the listed series directly; the metric
        # predicate is skipped (metric is "" on these SubQueries). Over a
        # series-bucketed store the materialized key is a plain string
        # column, so the IN-list reaches PushedFilters and the
        # (series_key, ts)-sorted row groups prune.
        ids = ", ".join(sql_literal(_decode_tsuid(t)) for t in q.tsuids)
        preds.append(f"{series_key or series_id_sql()} IN ({ids})")
    preds += scan_predicates(schema, None if q.tsuids else q.metric, start_ms, end_ms)
    preds += tag_predicates_sql(q.tags, cols)
    # non-grouping filters (Filter.groupBy=false): predicate only — the
    # tag key does NOT enter the projected tag set / series identity
    preds += tag_predicates_sql(q.filters, cols)
    viz_scan = False
    if auths is not None and "viz" in cols:
        # ALWAYS before any aggregation; viz_exprs (from the meta catalog)
        # saves the per-query distinct-viz scan
        viz = viz_predicate_sql(auths, viz_exprs)
        if viz is None:
            viz_scan = True
        else:
            preds.append(viz)
    df = points.filter(" AND ".join(f"({p})" for p in preds))
    if viz_scan:
        df = viz_filter(df, auths, known_exprs=viz_exprs)
    # the store's layout columns were filtered on above and are never
    # projected
    df = df.selectExpr("metric", "tags", "ts", "value", *([series_key] if series_key else []))

    if q.rate:
        opts = q.rate_options
        if spec and opts.interval_ms is None:
            # DataStore.java:713-721: rate interval defaults to the
            # downsample period when one is set
            opts = replace(opts, interval_ms=spec.period_ms)
        # series-bucketed store: window on the materialized series_key —
        # the bucketed scan's HashPartitioning already satisfies the
        # window distribution, so the rate stage adds NO Exchange
        df = rate(df, opts, series_col=series_key)

    group_keys = sorted(q.tags.keys())

    if q.aggregator == "none":
        # 'none' disables downsampling AND cross-series combine
        # (Aggregator.java:40-59): raw points, tags projected
        return df.selectExpr(
            "metric", f"{projected_tags_sql(group_keys)} AS tags", "ts AS bucket_ts", "value"
        )

    if spec is None or spec.aggregator == "none" or spec.aggregator == q.aggregator:
        # single-shuffle path: one aggregation over (projected tags, bucket)
        if spec is None or spec.aggregator == "none":
            bucket = "ts"
        else:
            bucket = query_aligned_bucket_sql("ts", start_ms, spec.period_ms)
        pre = df.selectExpr(
            "metric", f"{projected_tags_sql(group_keys)} AS tags", f"{bucket} AS bucket_ts",
            "value",
        )
        return group_stage(pre, series_id_sql(), "bucket_ts", q.aggregator, aggregators=aggregators)

    # two-stage path: downsample agg differs from the cross-series agg.
    # Over a series-bucketed store the per-series stage groups on the
    # materialized series_key — HashPartitioning(series_key) satisfies the
    # grouping distribution, so only the cross-series combine shuffles.
    ds = downsample(df, spec, start_ms=start_ms, series_col=series_key, aggregators=aggregators)
    return combine_series(ds, group_keys, q.aggregator)


def run_query(
    points: DataFrame,
    request: QueryRequest,
    auths: set[str] | None = None,
    viz_exprs: list[str] | None = None,
) -> list[DataFrame]:
    """One result DataFrame per SubQuery over the same ``points`` (read
    once per request); ``plans/response.to_query_response`` fuses them
    into one plan (QueryRequest.java:370-372 / DataStore.java:645)."""
    return [
        build_subquery(
            points,
            q,
            request.start,
            request.end,
            auths=auths,
            viz_exprs=viz_exprs,
        )
        for q in request.queries
    ]
