"""One plan, one collect per request: no-tolerance parity and plan shape.

``TimelyEngine.query`` fuses a request's SubQueries into one plan, reads
only the tier that holds the range, and renders every predicate and
stage as SQL text. The reference below is the per-SubQuery pipeline the
engine ran before: Column-builder predicates and stages over the hybrid
seam, one ``orderBy`` + ``collect`` per SubQuery, shaped row by row.
Both must give the same series with identical ``dps`` (values and key
order); series that tie on (metric, first bucket) may come in any order
from the reference and come in sorted-tag-pair order from the engine
(the tie rule of ``plans/response.py``).
"""

from __future__ import annotations

import contextlib
import hashlib
import itertools
import json
import os
from dataclasses import replace

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from timely_spark.api import ALL_AUTHS, NoMatchingTagsError, TimelyEngine
from timely_spark.functions.viz import evaluate_visibility
from timely_spark.model import series_id
from timely_spark.parse import is_tag_regex
from timely_spark.plans.builder import _decode_tsuid, encode_tsuid
from timely_spark.plans.request import QueryRequest
from timely_spark.plans.response import _series, fuse

BASE = 1_699_920_000_000  # a UTC midnight
MIN = 60_000
MINUTES = 240
HOT_MS = 120 * MIN
HOSTS = 8
PATHS = ["C:\\tmp", "it's", "a.b", "plain"]  # backslash, quote, regex-ish, literal

# ------------------------------------------------ the reference pipeline

_AGG = {
    "avg": F.avg, "sum": F.sum, "min": F.min, "max": F.max, "count": F.count,
    "dev": lambda c: F.when(
        F.count(c) > 1, F.sqrt(F.sum(c * c) / (F.count(c) - F.lit(1)))
    ).otherwise(F.lit(None)),
}


def _ref_tags(df, tags):
    for k, v in tags.items():
        pc = f"tag_{k}"
        col = F.col(pc) if pc in df.columns else F.col("tags").getItem(k)
        if v in ("*", ".*"):
            df = df.filter(col.isNotNull())
        elif is_tag_regex(v):
            df = df.filter(col.rlike(f"^(?:{v})$"))
        else:
            df = df.filter(col == v)
    return df


def _ref_series():
    return series_id(F.col("metric"), F.col("tags"))


def _ref_projected(keys):
    if not keys:
        return F.map_filter("tags", lambda k, v: F.lit(False))
    return F.map_filter("tags", lambda k, v: k.isin(keys))


def _ref_rate(df, opt, series_col):
    key = F.col(series_col) if series_col else _ref_series()
    w = Window.partitionBy(key).orderBy(F.col("ts"))
    prev_v, prev_t = F.lag("value").over(w), F.lag("ts").over(w)
    dt = (F.col("ts") - prev_t).cast("double")
    dv = F.col("value") - prev_v
    if opt.counter:
        wrap = (
            F.lit(float(opt.counter_max))
            if opt.counter_max is not None and opt.counter_max > 0
            else prev_v
        )
        dv = F.when(dv < 0, dv + wrap).otherwise(dv)
    interval = F.lit(float(opt.interval_ms if opt.interval_ms is not None else 1000))
    r = F.when(dt == 0, F.lit(0.0)).otherwise(dv / dt * interval)
    if opt.counter and opt.reset_value > 0:
        r = F.when(r > F.lit(float(opt.reset_value)), F.lit(0.0)).otherwise(r)
    out = df.withColumn("__rate", r).filter(F.col("__rate").isNotNull())
    return out.withColumn("value", F.col("__rate")).drop("__rate")


def _ref_group(df, key, bucket, agg):
    return (
        df.withColumn("bucket_ts", bucket)
        .withColumn("__k", key)
        .groupBy("__k", "bucket_ts")
        .agg(
            F.first("metric").alias("metric"),
            F.first("tags").alias("tags"),
            _AGG[agg](F.col("value")).alias("value"),
        )
        .select("metric", "tags", "bucket_ts", "value")
    )


def _ref_build(points, q, start, end, auths, viz_exprs, bucket_metrics):
    spec = q.downsample_spec()
    period = spec.period_ms if spec else 1
    start = start - (start % period) if period > 1 else start
    sk = "series_key" if "series_key" in points.columns else None
    if q.tsuids:
        ids = [_decode_tsuid(t) for t in q.tsuids]
        df = points.filter((F.col(sk) if sk else _ref_series()).isin(ids))
    else:
        df = points.filter(F.col("metric") == q.metric)
        if bucket_metrics and "metric_bucket" in df.columns:
            df = df.filter(
                F.col("metric_bucket")
                == F.pmod(F.xxhash64(F.lit(q.metric)), F.lit(bucket_metrics))
            )
    df = df.filter((F.col("ts") >= start) & (F.col("ts") <= end))
    if "dt" in df.columns:
        df = df.filter(
            (F.col("dt") >= start // 86_400_000) & (F.col("dt") <= end // 86_400_000)
        )
    df = _ref_tags(_ref_tags(df, q.tags), q.filters)
    if auths is not None:
        c = F.col("viz")
        if not auths:
            df = df.filter(c.isNull() | (c == ""))
        else:
            allowed = [e for e in viz_exprs if evaluate_visibility(e, frozenset(auths))]
            df = df.filter(c.isNull() | (c == "") | c.isin(allowed))
    if q.rate:
        opts = q.rate_options
        if spec and opts.interval_ms is None:
            opts = replace(opts, interval_ms=spec.period_ms)
        df = _ref_rate(df, opts, sk)
    keys = sorted(q.tags)
    if q.aggregator == "none":
        return df.select(
            "metric", _ref_projected(keys).alias("tags"),
            F.col("ts").alias("bucket_ts"), "value",
        )
    off = F.col("ts") - F.lit(start)
    bucket = (
        F.col("ts")
        if spec is None or spec.aggregator == "none"
        else F.lit(start) + (off - off % F.lit(period))
    )
    if spec is None or spec.aggregator in ("none", q.aggregator):
        return _ref_group(
            df.withColumn("tags", _ref_projected(keys)), _ref_series(), bucket, q.aggregator
        )
    ds = _ref_group(df, F.col(sk) if sk else _ref_series(), bucket, spec.aggregator)
    return _ref_group(
        ds.withColumn("tags", _ref_projected(keys)), _ref_series(), F.col("bucket_ts"),
        q.aggregator,
    )


def _ref_query(eng, request, auths=None, strict=False):
    """The per-SubQuery collect-and-shape loop: hybrid seam, one
    ``orderBy`` + ``collect`` per SubQuery, strict probe per empty one.
    Returns the series list of each SubQuery."""
    req = QueryRequest.from_dict(request)
    eff = None if auths is ALL_AUTHS else set(auths or ())
    known = eng.catalog.viz() if eff else None
    pts = eng.points()
    out = []
    for q in req.queries:
        frame = _ref_build(
            pts, q, req.start, req.end, eff,
            sorted(known) if known is not None else None, eng.store.bucket_metrics,
        )
        series: dict[tuple, dict] = {}
        for r in frame.orderBy("metric", "bucket_ts").collect():
            tags = dict(r["tags"] or {})
            s = series.setdefault(
                (r["metric"], tuple(sorted(tags.items()))),
                {"metric": r["metric"], "tags": tags, "aggregatedTags": [], "dps": {}},
            )
            ts = r["bucket_ts"] if req.ms_resolution else r["bucket_ts"] // 1000
            s["dps"][str(ts)] = r["value"]
        if strict and not series and not eng.catalog.has_tags(q):
            raise NoMatchingTagsError("No matching tags")
        out.append(list(series.values()))
    return out


def _outcome(fn):
    try:
        return fn()
    except NoMatchingTagsError as e:
        return e


def _assert_parity(got, parts):
    """``got``: the engine's response; ``parts``: the reference's series
    per SubQuery (or the exception both must raise)."""
    if isinstance(parts, Exception) or isinstance(got, Exception):
        assert type(got) is type(parts), (got, parts)
        return
    want = [s for part in parts for s in part]
    assert want, "a parity case must return series"

    def head(s):
        return s["metric"], next(iter(s["dps"]))

    # same series, identical dps values and key order (json keeps order)
    assert sorted(json.dumps(s) for s in got) == sorted(json.dumps(s) for s in want)
    # same order up to ties on (metric, first bucket) ...
    assert [head(s) for s in got] == [head(s) for s in want]
    # ... and, within each SubQuery, ties in sorted-tag-pair order
    at = 0
    for part in parts:
        for _, run in itertools.groupby(got[at:at + len(part)], key=head):
            pairs = [sorted(s["tags"].items()) for s in run]
            assert pairs == sorted(pairs)
        at += len(part)


# ------------------------------------------------------------- fixtures


def _payload():
    """3 metrics x 8 hosts x 240 minutes (points at :30 s), dyadic
    values; ``req`` is a wrapping counter; ``lat`` carries a ``shard``
    tag so it has twice the tag sets; 2 hosts OPS, 2 hosts SEC."""
    out = []
    for m in range(MINUTES):
        ts = BASE + m * MIN + 30_000
        for h in range(HOSTS):
            tags = {"host": f"h0{h}", "rack": f"r{h % 2}", "path": PATHS[h % 4]}
            if h < 2:
                tags["viz"] = "OPS"
            elif h < 4:
                tags["viz"] = "SEC"
            out.append({"metric": "cpu", "timestamp": ts,
                        "value": ((m * 7 + h * 3) % 64) / 8, "tags": dict(tags)})
            out.append({"metric": "req", "timestamp": ts,
                        "value": float((m * (h + 3) * 37) % 1000), "tags": dict(tags)})
            out.append({"metric": "lat", "timestamp": ts,
                        "value": ((m * 5 + h) % 32) / 4,
                        "tags": {**tags, "shard": f"s{m % 2}"}})
    return out


@pytest.fixture(scope="module")
def engines(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("fused")
    payload = _payload()
    store = str(d / "store")
    plain = TimelyEngine(spark, store_path=store, promote_tags=["host"])
    plain.put_json(payload)
    plain.enable_hot_cache(window_ms=HOT_MS)
    regex = TimelyEngine(spark, store_path=store)
    regex.enable_hot_cache(window_ms=HOT_MS, non_cached_metrics=("^lat$",))
    budget = TimelyEngine(spark, store_path=store)
    budget.enable_hot_cache(window_ms=HOT_MS, max_unique_tag_sets=10)
    assert budget._hot._evicted == ["lat"]
    bucketed = TimelyEngine(spark, store_path=str(d / "bucketed"), bucket_metrics=2)
    bucketed.put_json(payload)
    bucketed.enable_hot_cache(window_ms=HOT_MS)
    table = "fused_query_series"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    series = TimelyEngine(spark, store_path=str(d / "unused"), series_table=table)
    series.put_json(payload)
    series.enable_hot_cache(window_ms=HOT_MS)
    yield {"plain": plain, "regex": regex, "budget": budget,
           "bucketed": bucketed, "series": series}
    for e in (plain, regex, budget, bucketed, series):
        e._hot.close()
    spark.sql(f"DROP TABLE IF EXISTS {table}")


def _request(start_min, end_min, queries, ms=True):
    return {"start": BASE + int(start_min * MIN), "end": BASE + int(end_min * MIN) - 1,
            "msResolution": ms, "queries": queries}


PANEL = [
    {"metric": "cpu", "aggregator": "avg", "downsample": "5m-avg",
     "tags": {"host": "h0[0-5]"}},
    {"metric": "lat", "aggregator": "max", "downsample": "15m-avg",
     "tags": {"rack": "*"}},
    {"metric": "req", "aggregator": "sum", "downsample": "10m-avg",
     "tags": {"rack": "*"}, "rate": True,
     "rateOptions": {"counter": True, "counterMax": 1000}},
    {"metric": "cpu", "aggregator": "count", "downsample": "30m-count", "tags": {}},
]

# (start, end) in minutes; the hot window holds minutes > 119.5
RANGES = {
    "hot": (150, 240),
    "hot_after_floor": (125, 240),  # 15m/30m floors land at 120 > cut
    "floor_crosses_cut": (119.75, 240),  # 5m floor lands at 115 <= cut
    "seam": (60, 240),
    "cold": (0, 100),
}


@pytest.mark.parametrize("rng", sorted(RANGES))
@pytest.mark.parametrize("name", ["plain", "regex", "budget"])
def test_ranges_and_admission_match_reference(engines, name, rng):
    eng = engines[name]
    req = _request(*RANGES[rng], PANEL)
    _assert_parity(
        eng.query(req, auths={"OPS"}), _ref_query(eng, req, auths={"OPS"})
    )


@pytest.mark.parametrize("name", ["bucketed", "series"])
def test_layouts_match_reference(engines, name):
    eng = engines[name]
    for rng in ("hot", "seam"):
        req = _request(*RANGES[rng], PANEL)
        _assert_parity(eng.query(req, auths=ALL_AUTHS), _ref_query(eng, req, ALL_AUTHS))


# ------------------------------------------------------ layout parity
#
# Every store layout, with the hot tier on and off, must answer with the
# exact response and build the exact per-SubQuery SQL filter text that
# the engine produced before the layout moved behind
# ``sources/store.PointStore`` (commit cb4c0c9). LAYOUT_GOLDEN holds
# those filters and a SHA-256 of each response's JSON, recorded by
# running :func:`layout_cases` against that commit.

LAYOUT_GOLDEN = os.path.join(os.path.dirname(__file__), "fixtures", "layout_parity.json")
LAYOUTS = {
    "flat": {},
    "promoted": {"promote_tags": ["host"]},
    "bucketed": {"bucket_metrics": 2},
    "series": {"series_table": "fused_layout_series"},
}
LAYOUT_REQUESTS = {
    "panel_hot": (_request(*RANGES["hot"], PANEL), {"OPS"}),
    "panel_seam": (_request(*RANGES["seam"], PANEL), {"OPS"}),
    "tsuid_none": (_request(150, 240, [
        {"metric": "", "aggregator": "avg",
         "tsuids": [encode_tsuid("cpu,host=h05,path=it's,rack=r1")]},
        {"metric": "cpu", "aggregator": "none", "tags": {"host": "h0[5-7]"}},
        {"metric": "req", "aggregator": "max", "downsample": "10m-min",
         "tags": {"host": "h06", "path": "*"}},
    ], ms=False), ALL_AUTHS),
}


@contextlib.contextmanager
def _filter_strings():
    """Record the SQL text of every ``DataFrame.filter(str)`` call."""
    from pyspark.sql.classic.dataframe import DataFrame

    seen, original = [], DataFrame.filter

    def recording(self, condition):
        if isinstance(condition, str):
            seen.append(condition)
        return original(self, condition)

    DataFrame.filter = recording
    try:
        yield seen
    finally:
        DataFrame.filter = original


def layout_cases(spark, root) -> dict:
    """``{"<layout>/<hot|cold>/<request>": {"filters", "response",
    "series"}}`` for every layout, tier setting and request, over stores
    made under ``root``: the SubQueries' filter strings, the SHA-256 of
    the response JSON and its series count. To re-record the golden
    file from a checkout, run this with that checkout's ``timely_spark``
    first on ``sys.path`` and dump ``{"cases": ...}`` as JSON."""
    out = {}
    for layout, opts in LAYOUTS.items():
        table = opts.get("series_table")
        if table:
            spark.sql(f"DROP TABLE IF EXISTS {table}")
        store = os.path.join(str(root), layout)
        writer = TimelyEngine(spark, store_path=store, **opts)
        writer.put_json(_payload())
        for tier in ("hot", "cold"):
            eng = TimelyEngine(spark, store_path=store, **opts)
            if tier == "hot":
                eng.enable_hot_cache(window_ms=HOT_MS)
            for name, (req, auths) in LAYOUT_REQUESTS.items():
                with _filter_strings() as filters:
                    eng.query_frames(req, auths=auths)
                resp = eng.query(req, auths=auths)
                out[f"{layout}/{tier}/{name}"] = {
                    "filters": list(filters),
                    "response": hashlib.sha256(json.dumps(resp).encode()).hexdigest(),
                    "series": len(resp),
                }
            if eng._hot is not None:
                eng._hot.close()
        if table:
            spark.sql(f"DROP TABLE IF EXISTS {table}")
    return out


def test_layouts_match_recorded_filters_and_responses(spark, tmp_path):
    with open(LAYOUT_GOLDEN) as f:
        golden = json.load(f)["cases"]
    got = layout_cases(spark, tmp_path)
    assert sorted(got) == sorted(golden)
    for case, want in golden.items():
        assert want["series"], case
        assert got[case] == want, case


@pytest.mark.parametrize("auths", [None, {"OPS"}, {"OPS", "SEC"}, ALL_AUTHS],
                         ids=["anonymous", "held", "both", "all"])
def test_auths_match_reference(engines, auths):
    eng = engines["plain"]
    req = _request(60, 240, PANEL[:2] + [
        {"metric": "cpu", "aggregator": "sum", "downsample": "1h-dev",
         "tags": {"host": "*"}},
    ])
    _assert_parity(eng.query(req, auths=auths), _ref_query(eng, req, auths))


def test_escaped_tag_values_match_reference(engines):
    """Literal and regex values with a backslash, a quote and regex
    metacharacters reach the SQL filter exactly as given."""
    eng = engines["plain"]
    queries = [
        {"metric": "cpu", "aggregator": "sum", "downsample": "1h-sum",
         "tags": {"path": v}}
        for v in ("C:\\\\tmp", "it's", "it'.", "a\\.b", "a.b", "plain", "(it's|plain)")
    ] + [
        {"metric": "lat", "aggregator": "avg", "downsample": "1h-avg",
         "tags": {"host": "h0\\d"}, "filters": [
             {"tagk": "path", "filter": "C:\\\\tmp|it's", "groupBy": False}]},
    ]
    req = _request(0, 240, queries)
    got = eng.query(req, auths=ALL_AUTHS)
    _assert_parity(got, _ref_query(eng, req, ALL_AUTHS))
    paths = {s["tags"].get("path") for s in got}
    assert {"C:\\tmp", "it's", "a.b", "plain"} <= paths


def test_tsuid_and_none_match_reference(engines):
    eng = engines["plain"]
    sid = "cpu,host=h05,path=it's,rack=r1"
    req = _request(150, 240, [
        {"metric": "", "aggregator": "avg", "tsuids": [encode_tsuid(sid), "nope"]},
        {"metric": "cpu", "aggregator": "none", "tags": {"host": "h0[5-7]"}},
        {"metric": "req", "aggregator": "max", "downsample": "10m-min",
         "tags": {"host": "h06"}},
    ], ms=False)
    got = eng.query(req, auths=ALL_AUTHS)
    _assert_parity(got, _ref_query(eng, req, ALL_AUTHS))
    assert got[0]["tags"] == {} and len(got[0]["dps"]) == 90


def test_get_query_matches_reference(engines):
    eng = engines["regex"]
    params = {"start": str(BASE + 130 * MIN), "end": str(BASE + 240 * MIN - 1),
              "m": ["sum:10m-avg:lat{rack=*}", "avg:rate:5m-avg:cpu{host=h0[4-7]}"]}
    got = eng.query_get(params, auths=ALL_AUTHS)
    req = {"start": int(params["start"]), "end": int(params["end"]), "queries": [
        {"metric": "lat", "aggregator": "sum", "downsample": "10m-avg", "tags": {"rack": "*"}},
        {"metric": "cpu", "aggregator": "avg", "downsample": "5m-avg", "rate": True,
         "tags": {"host": "h0[4-7]"}},
    ]}
    _assert_parity(got, _ref_query(eng, req, ALL_AUTHS))


@pytest.mark.parametrize("rng", ["hot", "seam"])
def test_strict_empty_subquery_raises_like_reference(engines, rng):
    eng = engines["plain"]
    bad = {"metric": "cpu", "aggregator": "sum", "tags": {"host": "nohost"}}
    req = _request(*RANGES[rng], PANEL[:1] + [bad])
    got = _outcome(lambda: eng.query(req, auths={"OPS"}, strict=True))
    want = _outcome(lambda: _ref_query(eng, req, {"OPS"}, strict=True))
    assert isinstance(got, NoMatchingTagsError)
    _assert_parity(got, want)
    # matching tags over an empty window: 200 with no series, no raise
    empty = _request(300, 360, [PANEL[0]])
    assert eng.query(empty, auths={"OPS"}, strict=True) == []
    assert _ref_query(eng, empty, {"OPS"}, strict=True) == [[]]


def test_series_order_is_independent_of_collect_order():
    """The driver-side ordering: series by (metric, first bucket, sorted
    tag pairs), dps ascending, a duplicate bucket's last collected value
    wins, and a series keeps the tags map of its earliest row."""
    from pyspark.sql import Row

    R = Row("metric", "tags", "bucket_ts", "value")
    rows = [
        R("b", {"h": "2"}, 2000, 1.0),
        R("a", {"h": "1", "r": "x"}, 3000, 2.0),
        R("a", {"r": "x", "h": "1"}, 1000, 3.0),
        R("a", {"h": "0"}, 1000, 4.0),
        R("a", None, 5000, 5.0),
        R("a", {"h": "1", "r": "x"}, 3000, 6.0),
    ]
    want = [
        {"metric": "a", "tags": {"h": "0"}, "aggregatedTags": [], "dps": {"1": 4.0}},
        {"metric": "a", "tags": {"r": "x", "h": "1"}, "aggregatedTags": [],
         "dps": {"1": 3.0, "3": 6.0}},
        {"metric": "a", "tags": {}, "aggregatedTags": [], "dps": {"5": 5.0}},
        {"metric": "b", "tags": {"h": "2"}, "aggregatedTags": [], "dps": {"2": 1.0}},
    ]
    got = _series(rows, ms_resolution=False, integral=False)
    assert json.dumps(got) == json.dumps(want)
    # any collect order that keeps the two duplicate-bucket rows in order
    for perm in itertools.permutations(rows[:5]):
        assert json.dumps(_series([*perm, rows[5]], False, False)) == json.dumps(want)


# ----------------------------------------------------------- plan shape

HOT_LEAF = "Scan ExistingRDD"  # a pinned window segment


def _scan_nodes(plan) -> list[str]:
    """Node names of an executed plan, through AQE stages."""
    names = []

    def walk(node):
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            return walk(node.finalPhysicalPlan())
        if "QueryStage" in name:
            return walk(node.plan())
        names.append(name)
        for i in range(node.children().size()):
            walk(node.children().apply(i))

    walk(plan)
    return names


def _jobs(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_hot_request_is_one_plan_without_a_store_scan(spark, engines):
    eng = engines["plain"]
    req = _request(*RANGES["hot"], PANEL)
    frame = fuse(eng.query_frames(req, auths={"OPS"}))
    frame.collect()
    nodes = _scan_nodes(frame._jdf.queryExecution().executedPlan())
    assert HOT_LEAF in nodes, nodes
    assert not [n for n in nodes if n.startswith("Scan parquet")], nodes

    got, fused_jobs = _jobs(spark, "fused-hot", lambda: eng.query(req, auths={"OPS"}))
    want, split_jobs = _jobs(
        spark, "split-hot", lambda: _ref_query(eng, req, auths={"OPS"})
    )
    _assert_parity(got, want)
    assert fused_jobs < split_jobs, (fused_jobs, split_jobs)


def test_seam_request_still_scans_the_store(engines):
    eng = engines["plain"]
    frame = fuse(eng.query_frames(_request(*RANGES["seam"], PANEL), auths={"OPS"}))
    frame.collect()
    nodes = _scan_nodes(frame._jdf.queryExecution().executedPlan())
    assert [n for n in nodes if n.startswith("Scan parquet")], nodes
    assert HOT_LEAF in nodes, nodes


def test_admission_rejections_keep_the_seam(engines):
    """Past the cut, a metric that admission keeps out of the window
    still needs the store: the request scans it as well as the cache."""
    for name in ("regex", "budget"):
        eng = engines[name]
        frame = fuse(eng.query_frames(_request(*RANGES["hot"], PANEL), auths={"OPS"}))
        frame.collect()
        nodes = _scan_nodes(frame._jdf.queryExecution().executedPlan())
        assert [n for n in nodes if n.startswith("Scan parquet")], (name, nodes)
        assert HOT_LEAF in nodes, (name, nodes)


# ------------------------------------------------------- strict probe


@pytest.mark.parametrize(
    "sub, want",
    [
        ({"metric": "nosuch", "tags": {}}, False),
        ({"metric": "cpu", "tags": {"host": "h09"}}, False),
        ({"metric": "cpu", "tags": {"host": "h0[1-3]", "rack": "r1"}}, True),
        ({"metric": "cpu", "tags": {"host": "h0[1-3]", "rack": "r9"}}, False),
        ({"metric": "cpu", "tags": {"host": "*", "path": "it's"}}, True),
        ({"metric": "cpu", "tags": {"shard": ".*"}}, False),
        ({"metric": "lat", "tags": {"shard": ".*", "path": "C:\\\\tmp"}}, True),
        # unescaped, the backslash reaches the regex engine as ``\t``
        ({"metric": "cpu", "tags": {"path": "C:\\tmp"}}, False),
    ],
)
def test_strict_probe_is_one_job(spark, engines, sub, want):
    eng = engines["plain"]
    q = QueryRequest.from_dict({"start": 1, "end": 2, "queries": [sub]}).queries[0]
    got, jobs = _jobs(spark, f"probe-{sub}", lambda: eng.catalog.has_tags(q))
    assert got is want
    assert jobs == 1


def test_strict_probe_tsuid_needs_no_job(spark, engines):
    q = QueryRequest.from_dict(
        {"start": 1, "end": 2, "queries": [{"metric": "", "tsuids": ["ab"]}]}
    ).queries[0]
    got, jobs = _jobs(spark, "probe-tsuid", lambda: engines["plain"].catalog.has_tags(q))
    assert got is True and jobs == 0
