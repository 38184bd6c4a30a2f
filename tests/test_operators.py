"""Operator golden tests lifted from the reference's unit/integration
suites (RateIteratorTest.java, DownsampleIteratorTest.java,
TimeSeriesGroupingIteratorTest.java, HttpApiIT.java)."""

import pytest
from pyspark.sql import functions as F

from timely_spark.operators.aggregators import agg_expr
from timely_spark.operators.fir import fir_filter
from timely_spark.operators.rate import RateOptions, rate
from timely_spark.plans.builder import run_query
from timely_spark.plans.request import QueryRequest
from timely_spark.plans.response import to_query_response


def _q(d):
    return QueryRequest.from_dict(d)


def test_rate_constant_ramp(spark, ramp_points):
    """RateIteratorTest.java:47-72: value i at second i => rate 1.0."""
    base, pts = ramp_points
    req = _q(
        {
            "start": 0,
            "end": base + 10_000_000,
            "msResolution": True,
            "queries": [
                {"aggregator": "sum", "metric": "sys.eth0.rx", "rate": True, "tags": {"host": "h1"}}
            ],
        }
    )
    rows = run_query(pts, req)[0].collect()
    assert len(rows) == 119  # first point of the series emits nothing
    assert all(abs(r["value"] - 1.0) < 1e-9 for r in rows)


def test_rate_interval_60s(spark, ramp_points):
    """rateOptions.interval=60s on the 1/s ramp => 60.0 (HttpApiIT rateInterval)."""
    base, pts = ramp_points
    req = _q(
        {
            "start": 0,
            "end": base + 10_000_000,
            "queries": [
                {
                    "aggregator": "sum",
                    "metric": "sys.eth0.rx",
                    "rate": True,
                    "rateOptions": {"interval": "60s"},
                    "tags": {"host": "h1"},
                }
            ],
        }
    )
    rows = run_query(pts, req)[0].collect()
    assert all(abs(r["value"] - 60.0) < 1e-9 for r in rows)


def test_counter_rate_wrap(spark):
    """RateIterator counter mode: decrease adds counterMax (RateIterator.java:60-82)."""
    from timely_spark.sources.lineprotocol import parse_lines_df

    b = 1_447_767_913_000
    lines = [f"put ctr {b + 1000} 10 h=a", f"put ctr {b + 2000} 20 h=a", f"put ctr {b + 3000} 5 h=a"]
    pts = parse_lines_df(spark.createDataFrame([(l,) for l in lines], ["value"]))
    req = _q(
        {
            "start": 0,
            "end": b + 10_000_000,
            "msResolution": True,
            "queries": [
                {
                    "aggregator": "sum",
                    "metric": "ctr",
                    "rate": True,
                    "rateOptions": {"counter": True, "counterMax": 100},
                    "tags": {"h": "a"},
                }
            ],
        }
    )
    rows = sorted((r["bucket_ts"] - b, r["value"]) for r in run_query(pts, req)[0].collect())
    assert rows == [(2000, 10.0), (3000, 85.0)]


def test_counter_reset_value(spark):
    """resetValue clamps runaway rates to 0 (RateIterator.java:84-90)."""
    from timely_spark.sources.lineprotocol import parse_lines_df

    b = 1_447_767_913_000
    lines = [f"put ctr {b + 1000} 0 h=a", f"put ctr {b + 2000} 1000000 h=a"]
    pts = parse_lines_df(spark.createDataFrame([(l,) for l in lines], ["value"]))
    r = rate(pts, RateOptions(counter=True, reset_value=100)).collect()
    assert len(r) == 1 and r[0]["value"] == 0.0


def test_downsample_avg_bucketing(spark, ramp_points):
    """Downsample.java:36 bucket alignment: start floored to the period."""
    base, pts = ramp_points
    req = _q(
        {
            "start": base,
            "end": base + 10_000_000,
            "queries": [
                {"aggregator": "avg", "metric": "sys.eth0.rx", "downsample": "1m-avg", "tags": {}}
            ],
        }
    )
    rows = sorted(
        (r["bucket_ts"], r["value"]) for r in run_query(pts, req)[0].collect()
    )
    floored = base - (base % 60_000)
    assert rows[0][0] == floored
    # first bucket = [floored, floored+60s) right-exclusive: holds contiguous
    # ramp values 1..hi; avg = midpoint
    lo, hi = 1, (floored + 60_000 - base) // 1000 - 1
    assert rows[0][1] == pytest.approx((lo + hi) / 2)


def test_downsample_none_identity(spark, ramp_points):
    base, pts = ramp_points
    req = _q(
        {
            "start": 0,
            "end": base + 10_000_000,
            "queries": [
                {"aggregator": "none", "metric": "sys.eth0.rx", "downsample": "1ms-none", "tags": {}}
            ],
        }
    )
    rows = run_query(pts, req)[0].collect()
    assert len(rows) == 120  # every raw point survives


def test_dev_aggregator_formula(spark):
    """Dev.java:8-19: sqrt(sum(x^2)/(n-1)), NOT stddev."""
    df = spark.createDataFrame([(float(x),) for x in [1, 2, 3, 4]], ["value"])
    got = df.agg(agg_expr("dev").alias("d")).collect()[0]["d"]
    assert got == pytest.approx((30 / 3) ** 0.5)  # sqrt((1+4+9+16)/3)
    one = spark.createDataFrame([(1.0,)], ["value"]).agg(agg_expr("dev").alias("d"))
    assert one.collect()[0]["d"] is None  # n==1 -> NULL not Infinity


def test_cross_series_combine_and_tag_projection(spark):
    """AggregationIterator + tag projection (DataStore.java:752-762):
    grouping keeps only queried tag keys."""
    from timely_spark.sources.lineprotocol import parse_lines_df

    b = 1_447_767_913_000
    lines = [
        f"put m {b + 1000} 1.0 host=h1 rack=r1",
        f"put m {b + 1000} 2.0 host=h2 rack=r1",
        f"put m {b + 1000} 4.0 host=h1 rack=r2",
    ]
    pts = parse_lines_df(spark.createDataFrame([(l,) for l in lines], ["value"]))
    # no tags queried -> ALL series combine into one group
    req = _q(
        {
            "start": b,
            "end": b + 10_000,
            "queries": [{"aggregator": "sum", "metric": "m", "downsample": "1m-sum", "tags": {}}],
        }
    )
    rows = run_query(pts, req)[0].collect()
    assert len(rows) == 1 and rows[0]["value"] == 7.0 and rows[0]["tags"] == {}
    # group by host -> two groups
    req2 = _q(
        {
            "start": b,
            "end": b + 10_000,
            "queries": [
                {"aggregator": "sum", "metric": "m", "downsample": "1m-sum", "tags": {"host": "*"}}
            ],
        }
    )
    got = {r["tags"]["host"]: r["value"] for r in run_query(pts, req2)[0].collect()}
    assert got == {"h1": 5.0, "h2": 2.0}


def test_tag_regex_and_alternation(spark):
    from timely_spark.sources.lineprotocol import parse_lines_df

    b = 1_447_767_913_000
    lines = [
        f"put m {b} 1.0 host=h001",
        f"put m {b} 2.0 host=h002",
        f"put m {b} 4.0 host=x900",
    ]
    pts = parse_lines_df(spark.createDataFrame([(l,) for l in lines], ["value"]))

    def total(tags):
        req = _q(
            {
                "start": b,
                "end": b + 10_000,
                "queries": [{"aggregator": "sum", "metric": "m", "downsample": "1h-sum", "tags": tags}],
            }
        )
        return sum(r["value"] for r in run_query(pts, req)[0].collect())

    assert total({"host": "h0.*"}) == 3.0  # regex
    assert total({"host": "h001|x900"}) == 5.0  # alternation
    assert total({"host": "h001"}) == 1.0  # literal
    assert total({"host": "*"}) == 7.0  # wildcard
    assert total({"host": "h0"}) == 0.0  # literal must match exactly


def test_tag_filter_reference_counts(spark):
    """TagFilterTest.java:56-90 ported: 10 racks x 10 nodes x 3 metrics,
    AND across tag keys, Matcher.matches() per value — the comma-class
    regex, plain regex, wildcard and alternation cases return exactly
    the reference's row counts (15 / 30 / 30 / 12)."""
    from timely_spark.plans.builder import tag_predicates_sql

    rows = []
    for rack in range(1, 11):
        for node in range(1, 11):
            tags = {
                "cluster": "metrics",
                "host": f"r{rack:02d}n{node:02d}",
                "rack": f"r{rack:02d}",
            }
            for m in ("sys.cpu.user", "sys.cpu.system", "sys.cpu.idle"):
                rows.append((m, 1_447_767_913_000, 0.0, tags, None))
    df = spark.createDataFrame(
        rows, "metric string, ts long, value double, tags map<string,string>, viz string"
    )
    cases = [
        ({"rack": "r07", "host": "r07n0[1,3,5,7,9]"}, 15),  # testHostRangeRegex
        ({"rack": "r07", "host": "r07n.*"}, 30),             # testHostRegex
        ({"rack": "r07", "host": ".*"}, 30),                 # testHostWildcard
        ({"rack": "r08", "host": "r08n01|r08n02|r08n03|r08n04"}, 12),  # testHostOrRegex
    ]
    for tags, want in cases:
        preds = " AND ".join(f"({p})" for p in tag_predicates_sql(tags, df.columns))
        assert df.filter(preds).count() == want, tags


def test_metric_braces_escaped_commas():
    """TagListParser.java:20-31: ``\\,`` escapes a comma inside a tag
    value so regex character classes survive the tag-list split — the
    escaping TagFilterTest.testHostRangeRegex:58-64 calls out."""
    from timely_spark.http_facade import _parse_metric_braces

    metric, tags = _parse_metric_braces(
        r"sys.cpu.user{rack=r07,host=r07n0[1\,3\,5\,7\,9]}"
    )
    assert metric == "sys.cpu.user"
    assert tags == {"rack": "r07", "host": "r07n0[1,3,5,7,9]"}
    # no braces / empty braces still parse
    assert _parse_metric_braces("sys.cpu.user") == ("sys.cpu.user", {})
    assert _parse_metric_braces("m{}") == ("m", {})
    # a regex quantifier's closing brace survives (r7 review: rstrip
    # ate every trailing brace, corrupting host=r07n0[0-9]{2})
    assert _parse_metric_braces("m{host=r07n0[0-9]{2}}") == (
        "m", {"host": "r07n0[0-9]{2}"}
    )


def test_fir_moving_average(spark, ramp_points):
    """TimeSeriesGroupingIteratorTest: 5-pt MA of the ramp = value-2."""
    base, pts = ramp_points
    f = (
        fir_filter(pts.filter(F.col("metric") == "sys.eth0.rx"), "0.2,0.2,0.2,0.2,0.2")
        .orderBy("ts")
        .collect()
    )
    assert len(f) == 116  # 120 - (5-1)
    for r in f:
        i = (r["ts"] - base) // 1000
        assert r["value"] == pytest.approx(i - 2.0)


def test_query_response_shape(spark, ramp_points):
    """QueryResponse.java:8-60: dps keyed by epoch seconds unless msResolution."""
    base, pts = ramp_points
    req = _q(
        {
            "start": base,
            "end": base + 10_000_000,
            "queries": [
                {"aggregator": "avg", "metric": "sys.cpu.user", "downsample": "1m-avg", "tags": {"tag1": "value1"}}
            ],
        }
    )
    res = run_query(pts, req)[0]
    out = to_query_response(res, ms_resolution=False)
    assert len(out) == 1
    assert out[0]["metric"] == "sys.cpu.user"
    assert out[0]["tags"] == {"tag1": "value1"}
    for k, v in out[0]["dps"].items():
        assert int(k) < 10_000_000_000  # seconds, not ms
        assert v == 1.0
    out_ms = to_query_response(res, ms_resolution=True)
    assert all(int(k) > 1_000_000_000_000 for k in out_ms[0]["dps"])


def test_multi_subquery_union(spark, ramp_points):
    base, pts = ramp_points
    req = _q(
        {
            "start": base,
            "end": base + 10_000_000,
            "queries": [
                {"aggregator": "avg", "metric": "sys.cpu.user", "downsample": "1h-avg", "tags": {}},
                {"aggregator": "max", "metric": "sys.eth0.rx", "downsample": "1h-max", "tags": {}},
            ],
        }
    )
    results = run_query(pts, req)
    assert len(results) == 2
    merged = results[0].unionByName(results[1]).collect()
    metrics = {r["metric"] for r in merged}
    assert metrics == {"sys.cpu.user", "sys.eth0.rx"}


def test_salted_agg_matches_plain(spark):
    """Two-phase salted aggregation equals the plain groupBy for every
    mergeable aggregator (skew relief changes the plan, not the answer)."""
    import pytest as _pt
    from pyspark.sql import functions as F

    from timely_spark.operators.skew import salted_agg

    rows = [("hot", float(i % 7)) for i in range(5000)] + [
        (f"k{i % 13}", float(i)) for i in range(500)
    ]
    df = spark.createDataFrame(rows, "k string, value double")
    for agg in ["sum", "count", "min", "max", "avg"]:
        got = {
            r["k"]: r[f"{agg}_value"]
            for r in salted_agg(df, ["k"], agg=agg, n_salts=8).collect()
        }
        fn = {
            "sum": F.sum, "count": F.count, "min": F.min,
            "max": F.max, "avg": F.avg,
        }[agg]
        want = {
            r["k"]: r["w"]
            for r in df.groupBy("k").agg(fn("value").alias("w")).collect()
        }
        assert set(got) == set(want)
        for k in want:
            assert got[k] == _pt.approx(want[k], rel=1e-12), (agg, k)


def test_rate_same_timestamp_emits_zero(spark):
    """RateIterator.java:93-95: a pair sharing a timestamp yields 0.0 —
    the row is emitted, not dropped (and no divide-by-zero NULL)."""
    from timely_spark.sources.lineprotocol import parse_lines_df

    b = 1_447_767_913_000
    lines = [f"put m {b + 1000} 10 h=a", f"put m {b + 1000} 20 h=a"]
    pts = parse_lines_df(spark.createDataFrame([(l,) for l in lines], ["value"]))
    r = rate(pts).collect()
    assert len(r) == 1 and r[0]["value"] == 0.0


def test_counter_negative_rate_not_clamped(spark):
    """RateIterator.java:101-104 clamps only result > resetValue (signed):
    a large NEGATIVE post-wrap rate passes through unclamped."""
    from timely_spark.sources.lineprotocol import parse_lines_df

    b = 1_447_767_913_000
    # dv = 0-500 = -500; wrap add counterMax=100 => -400; rate = -400.0/s
    lines = [f"put ctr {b + 1000} 500 h=a", f"put ctr {b + 2000} 0 h=a"]
    pts = parse_lines_df(spark.createDataFrame([(l,) for l in lines], ["value"]))
    r = rate(pts, RateOptions(counter=True, counter_max=100, reset_value=100)).collect()
    assert len(r) == 1 and r[0]["value"] == -400.0
    # and a positive rate beyond resetValue still clamps to 0
    lines2 = [f"put ctr {b + 1000} 0 h=a", f"put ctr {b + 2000} 1000 h=a"]
    pts2 = parse_lines_df(spark.createDataFrame([(l,) for l in lines2], ["value"]))
    r2 = rate(pts2, RateOptions(counter=True, counter_max=5000, reset_value=100)).collect()
    assert len(r2) == 1 and r2[0]["value"] == 0.0


def test_events_retention_cohorts(spark, tmp_path):
    """Hand-built cohorts: day numbers, offsets, and rates are exact."""
    import __spark_entry__ as e
    from pyspark.sql import functions as F

    day = 86_400_000
    rows = []
    # cohort day 0: users 1,2,3 -> day0; 1,2 return day1; 1 returns day2
    for u, ds in [(1, [0, 1, 2]), (2, [0, 1]), (3, [0])]:
        rows += [(u, d * day + 1000 * u) for d in ds]
    # cohort day 1: user 4 active day1 and day3
    rows += [(4, 1 * day + 5), (4, 3 * day + 5)]
    ev = spark.createDataFrame(rows, ["user_id", "ts_ms"]).select(
        "user_id", F.timestamp_millis(F.col("ts_ms")).alias("ts")
    )
    path = str(tmp_path / "events.parquet")
    ev.write.parquet(path)
    out = {
        (r["cohort_day"], r["day_offset"]): r
        for r in e.q_events_retention(spark, str(tmp_path)).collect()
    }
    assert out[(0, 0)]["n_cohort"] == 3 and out[(0, 0)]["retention"] == 1.0
    assert out[(0, 1)]["n_active"] == 2 and out[(0, 1)]["retention"] == round(2 / 3, 4)
    assert out[(0, 2)]["n_active"] == 1
    assert out[(1, 0)]["n_cohort"] == 1 and out[(1, 2)]["n_active"] == 1
    assert set(out) == {(0, 0), (0, 1), (0, 2), (1, 0), (1, 2)}


def test_dsir_weights_string_and_hashed(spark):
    """DSIR: target-like docs outscore off-domain docs in BOTH feature
    modes; identical docs get identical weights; n_feats is the exact
    unigram+bigram occurrence count; empty docs score 0; dsir_select
    keeps the top-k deterministically."""
    from timely_spark.operators.dsir import dsir_log_weights, dsir_select

    target = spark.createDataFrame(
        [(100, "spark shuffles partition data across executors"),
         (101, "partition pruning keeps spark scans small")],
        "doc_id long, text string",
    )
    docs = spark.createDataFrame(
        [(1, "spark shuffles partition data across executors"),  # on-domain
         (2, "the cat sat on the warm windowsill all day"),      # off-domain
         (3, "spark shuffles partition data across executors"),  # dup of 1
         (4, "")],                                                # empty
        "doc_id long, text string",
    )
    for hb in (None, 997):
        out = {r["doc_id"]: r for r in
               dsir_log_weights(docs, target, hash_buckets=hb).collect()}
        assert set(out) == {1, 2, 3, 4}
        assert out[1]["log_weight"] > out[2]["log_weight"]
        assert out[1]["log_weight"] == out[3]["log_weight"]
        assert out[1]["n_feats"] == out[3]["n_feats"] == 6 + 5
        assert out[2]["n_feats"] == 9 + 8
        assert out[4]["n_feats"] == 0 and out[4]["log_weight"] == 0.0
        want = sorted(out, key=lambda i: (-out[i]["log_weight"], i))[:2]
        top = dsir_select(docs, target, keep_n=2, hash_buckets=hb).collect()
        assert [r["doc_id"] for r in top] == want


def test_dsir_hashed_feature_table_bounded(spark):
    """Hashed mode: the feature-weight table never exceeds B rows (the
    broadcastability contract that makes the scoring join corpus-linear
    at any scale)."""
    from timely_spark.operators.dsir import _feature_counts

    docs = spark.range(200).selectExpr(
        "id AS doc_id",
        "concat('tok', id, ' tok', id + 1, ' tok', id * 7 % 50) AS text",
    )
    b = 31
    assert _feature_counts(docs, "text", b).count() <= b
    distinct_f = _feature_counts(docs, "text", None).count()
    assert distinct_f > b  # the bound actually bit


def test_dsir_scoring_plan_single_corpus_explode(spark):
    """r12 plan pin: the corpus feature-explode appears ONCE in the
    scoring plan — the count aggregates are localCheckpoint-pinned
    before the driver-seam collects, so neither the smoothing-constant
    reads nor the feature-weight join re-run the tokenize + bigram +
    explode pass (3 Generates -> 1 in the committed plan diff)."""
    from timely_spark.operators.dsir import dsir_log_weights

    docs = spark.range(50).selectExpr(
        "id AS doc_id", "concat('tok', id % 7, ' tok', id % 11) AS text"
    )
    target = docs.filter("doc_id % 5 = 0")
    frame = dsir_log_weights(docs, target, hash_buckets=997)
    plan = frame._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Generate") == 1, plan


def test_asof_join_semantics(spark):
    """Backward as-of: latest right at-or-before per key; exact-ts ties
    match (DuckDB >= semantics); tolerance nulls out stale matches;
    keys with no prior right row yield nulls."""
    from timely_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [("a", 100, 1.0), ("a", 205, 2.0), ("a", 300, 3.0), ("b", 50, 4.0)],
        "k string, ts long, v double",
    )
    right = spark.createDataFrame(
        [("a", 100, "r1"), ("a", 200, "r2"), ("b", 60, "r3")],
        "k string, ts long, tag string",
    )
    out = {(r["k"], r["ts"]): r for r in
           asof_join(left, right, key="k").collect()}
    assert out[("a", 100)]["tag"] == "r1"      # tie matches
    assert out[("a", 100)]["asof_ts"] == 100
    assert out[("a", 205)]["tag"] == "r2"
    assert out[("a", 300)]["tag"] == "r2"
    assert out[("b", 50)]["tag"] is None       # nothing at-or-before
    tol = {(r["k"], r["ts"]): r for r in
           asof_join(left, right, key="k", tolerance_ms=10).collect()}
    assert tol[("a", 100)]["tag"] == "r1"      # within 10ms
    assert tol[("a", 205)]["tag"] == "r2"      # 5ms stale: within
    assert tol[("a", 300)]["tag"] is None      # 100ms stale: out


def test_range_join_bucketized(spark):
    """Bucketized range join == the inequality-join answer: exclusive
    end, multi-bucket intervals, keyed variant."""
    from timely_spark.operators.joins import range_join

    pts = spark.createDataFrame(
        [("x", 0), ("x", 999), ("x", 1000), ("x", 2500), ("y", 500)],
        "k string, ts long",
    )
    iv = spark.createDataFrame(
        [("x", 0, 1000, "i1"),     # [0, 1000): catches 0, 999 only
         ("x", 900, 2600, "i2"),   # spans 3 buckets of 1000
         ("y", 400, 401, "i3"),    # degenerate-short
         ("y", 700, 700, "i4")],   # empty: start == end
        "k string, start long, end long, name string",
    )
    got = sorted(
        (r["k"], r["ts"], r["name"])
        for r in range_join(pts, iv, key="k", bucket_ms=1000).collect()
    )
    want = sorted(
        (r["k"], r["ts"], r["name"])
        for r in pts.join(iv, "k")
        .filter("ts >= start AND ts < end")
        .collect()
    )
    assert got == want
    assert ("x", 999, "i1") in got and ("x", 1000, "i1") not in got
    assert ("x", 2500, "i2") in got and ("x", 999, "i2") in got


def test_rollup_merge_identity(spark):
    """Partials merged to a coarser level equal a direct aggregation at
    that level; non-divisible windows are rejected; avg comes from
    (sum, count), surviving multi-hop merges (1m -> 5m -> 1h)."""
    import pytest

    from timely_spark.operators.rollup import (
        answer_from_rollup,
        merge_rollup,
        rollup_partials,
    )

    rows = [("m", 1000 * 60 * i + (i % 7) * 250, float(i % 13) + 0.125)
            for i in range(500)]
    pts = spark.createDataFrame(rows, "metric string, ts long, value double")
    p1m = rollup_partials(pts, 60_000)
    direct = rollup_partials(pts, 3_600_000)  # direct 1h partials
    via_1m = merge_rollup(p1m, 60_000, 3_600_000)
    via_5m = merge_rollup(merge_rollup(p1m, 60_000, 300_000), 300_000, 3_600_000)
    key = lambda df: sorted(map(tuple, df.collect()))  # noqa: E731
    assert key(via_1m) == key(direct) == key(via_5m)
    ans = {r["bucket_ts"]: r for r in
           answer_from_rollup(p1m, 60_000, 3_600_000).collect()}
    d = {r["bucket_ts"]: r for r in direct.collect()}
    for b, r in ans.items():
        assert r["n"] == d[b]["n"]
        assert r["avg_value"] == round(float(d[b]["vsum"]) / d[b]["n"], 4)
    with pytest.raises(ValueError, match="not a multiple"):
        merge_rollup(p1m, 60_000, 90_000)


def test_hll_rollup_merge_identity(spark):
    """HLL union of fine-bucket partials == a direct sketch over raw
    rows (register-max union is lossless), and the estimate sits within
    the lgK=12 error envelope of the exact distinct count."""
    from pyspark.sql import functions as F

    from timely_spark.operators.rollup import hll_merge, hll_partials

    rows = [("m", 60_000 * (i % 120), f"user{i % 337}") for i in range(5000)]
    pts = spark.createDataFrame(rows, "metric string, ts long, uid string")
    partials = hll_partials(pts, 60_000, "uid")
    merged = {r["bucket_ts"]: r["approx_distinct"] for r in
              hll_merge(partials, 60_000, 3_600_000).collect()}
    direct = {r["bucket_ts"]: r["est"] for r in
              pts.groupBy((F.col("ts") - F.col("ts") % 3_600_000).alias("bucket_ts"))
              .agg(F.hll_sketch_estimate(
                  F.hll_sketch_agg("uid", F.lit(12))).alias("est")).collect()}
    assert merged == direct  # lossless union, bucket by bucket
    exact = {r["bucket_ts"]: r["n"] for r in
             pts.groupBy((F.col("ts") - F.col("ts") % 3_600_000).alias("bucket_ts"))
             .agg(F.countDistinct("uid").alias("n")).collect()}
    for b, est in merged.items():
        assert abs(est - exact[b]) / exact[b] < 0.05


def test_asof_join_rejects_column_collision(spark):
    import pytest

    from timely_spark.operators.joins import asof_join

    left = spark.createDataFrame([("a", 1, 1.0)], "k string, ts long, v double")
    right = spark.createDataFrame([("a", 1, 2.0)], "k string, ts long, v double")
    with pytest.raises(ValueError, match="collide"):
        asof_join(left, right, key="k")


def test_asof_join_null_right_ts_never_matches(spark):
    """A NULL right timestamp matches NOTHING (DuckDB >= semantics) —
    it must not become every left row's fallback match."""
    from timely_spark.operators.joins import asof_join

    left = spark.createDataFrame([("a", 100, 1.0)], "k string, ts long, v double")
    right = spark.createDataFrame(
        [("a", None, "rnull")], "k string, ts long, tag string"
    )
    out = asof_join(left, right, key="k").collect()
    assert len(out) == 1 and out[0]["tag"] is None


def test_refresh_rollup_incremental_equals_full(spark, tmp_path):
    """Base write + late-batch refresh == a full recompute over all
    points (associative merge), and the refresh touches only the late
    batch's day partitions."""
    from pyspark.sql import functions as F

    from timely_spark.operators.rollup import (
        refresh_rollup,
        rollup_partials,
        write_rollup,
    )

    day = 86_400_000
    base = [("m", day * (i % 5) + 60_000 * i, float(i)) for i in range(200)]
    late = [("m", day * 1 + 60_000 * i + 7, float(1000 + i)) for i in range(30)]
    pb = spark.createDataFrame(base, "metric string, ts long, value double")
    pl = spark.createDataFrame(late, "metric string, ts long, value double")
    path = str(tmp_path / "rollup_1m")
    write_rollup(rollup_partials(pb, 60_000), path)
    n_days = refresh_rollup(spark, path, pl, 60_000)
    assert n_days == 1  # late batch touches only day 1
    got = sorted(map(tuple,
        spark.read.parquet(path).drop("dt")
        .select("metric", "bucket_ts", "n", "vsum", "vmin", "vmax").collect()))
    want = sorted(map(tuple,
        rollup_partials(pb.unionByName(pl), 60_000)
        .select("metric", "bucket_ts", "n", "vsum", "vmin", "vmax").collect()))
    assert got == want
    # empty batch: no-op
    assert refresh_rollup(spark, path, pl.filter(F.lit(False)), 60_000) == 0


def test_lm_perplexity_model_parity(spark):
    """Perplexity vs an independent pure-Python bigram LM: string-mode
    log_ppl matches to the 4-dp rounding exactly; identical docs score
    identically; <2-token docs sit at (0 positions, 0.0, head)."""
    import math
    import re
    from collections import Counter

    from timely_spark.operators.perplexity import lm_log_ppl

    ref_texts = ["the cat sat on the mat", "the cat sat on the hat"]
    ref = spark.createDataFrame(
        [(100 + i, t) for i, t in enumerate(ref_texts)],
        "doc_id long, text string",
    )
    doc_texts = {
        1: "the cat sat on the mat",   # in-domain
        2: "zzq qqz zxw wxz vvv",      # gibberish
        3: "the cat sat on the mat",   # dup of 1
        4: "the",                       # 1 token: no positions
        5: "",                          # empty
    }
    docs = spark.createDataFrame(
        list(doc_texts.items()), "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in lm_log_ppl(docs, ref).collect()}

    # independent model
    tok = lambda t: [x for x in re.split(r"[^a-z0-9']+", t.lower()) if x]
    c2, c1, vocab = Counter(), Counter(), set()
    for ts in map(tok, ref_texts):
        for v, w in zip(ts, ts[1:]):
            c2[(v, w)] += 1
            c1[v] += 1
            vocab.update((v, w))
    V = len(vocab)
    for did, txt in doc_texts.items():
        ts = tok(txt)
        lps = [
            math.log((c2[(v, w)] + 1.0) / (c1[v] + 1.0 * V))
            for v, w in zip(ts, ts[1:])
        ]
        want = round(-sum(lps) / len(lps), 4) if lps else 0.0
        assert out[did]["n_pos"] == len(lps)
        assert out[did]["log_ppl"] == pytest.approx(want, abs=1e-9)
    assert out[1]["log_ppl"] == out[3]["log_ppl"]
    assert out[1]["log_ppl"] < out[2]["log_ppl"]  # in-domain beats gibberish
    assert out[4]["ppl_bucket"] == out[5]["ppl_bucket"] == "head"


def test_lm_perplexity_hashed_mode(spark):
    """Hashed production mode: n_pos identical to string mode, the
    in-domain-vs-gibberish ordering is preserved, and BOTH model tables
    are bounded by B rows (the broadcastability contract)."""
    from timely_spark.operators.perplexity import (
        bigram_lm_counts,
        lm_log_ppl,
        perplexity_filter,
    )

    ref = spark.range(40).selectExpr(
        "id AS doc_id",
        "concat('alpha beta gamma delta tok', id % 7, ' epsilon') AS text",
    )
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon"), (2, "qqz zxw vvv wxz qzz")],
        "doc_id long, text string",
    )
    s = {r["doc_id"]: r for r in lm_log_ppl(docs, ref, hash_buckets=None).collect()}
    h = {r["doc_id"]: r for r in lm_log_ppl(docs, ref, hash_buckets=499).collect()}
    for i in (1, 2):
        assert s[i]["n_pos"] == h[i]["n_pos"]
    assert h[1]["log_ppl"] < h[2]["log_ppl"]
    # collision-free regime: hashed scores EQUAL string scores (the
    # observed-vocab smoothing contract that keeps the tier cutoffs
    # mode-independent)
    hb = {r["doc_id"]: r
          for r in lm_log_ppl(docs, ref, hash_buckets=1 << 40).collect()}
    for i in (1, 2):
        assert hb[i]["log_ppl"] == s[i]["log_ppl"]

    b = 7
    big, ctx, vocab = bigram_lm_counts(ref, hash_buckets=b)
    assert big.count() <= b and ctx.count() <= b and vocab <= b
    # string mode's tables exceed the bound on this vocabulary
    big_s, _, _ = bigram_lm_counts(ref, hash_buckets=None)
    assert big_s.count() > b

    kept = perplexity_filter(docs, ref, max_log_ppl=h[1]["log_ppl"],
                             hash_buckets=499).collect()
    assert [r["doc_id"] for r in kept] == [1]


def test_ddsketch_quantile_rollup(spark):
    """DDSketch rollup: (a) merge identity — quantiles answered from
    fine-level partials equal the direct sketch over raw for any level
    dividing the window; (b) the relative-error guarantee — every
    estimate within a factor gamma of the exact quantile; (c) negative
    and zero values route through the mirrored/zero stores."""
    import math

    from timely_spark.operators.rollup import (
        DD_GAMMA,
        ddsketch_partials,
        ddsketch_quantile,
        ddsketch_quantile_raw,
    )

    rows = []
    vals = {}
    for s, base in (("m1", 1.0), ("m2", 50.0)):
        vs = [base * (1 + (i * 7) % 100) / 10.0 for i in range(200)]
        vals[s] = sorted(vs)
        rows += [(s, 1000 * i, v) for i, v in enumerate(vs)]
    pts = spark.createDataFrame(rows, "metric string, ts long, value double")

    win = 3_600_000  # one window holds everything (200 pts * 1s)
    direct = {r["metric"]: r for r in ddsketch_quantile_raw(pts, win).collect()}
    for lvl in (60_000, 600_000):
        merged = {
            r["metric"]: r
            for r in ddsketch_quantile(
                ddsketch_partials(pts, lvl), lvl, win
            ).collect()
        }
        assert merged == direct  # exact merge identity, all columns

    for s in vals:
        assert direct[s]["n"] == 200
        for q, col in ((0.5, "p50"), (0.9, "p90"), (0.99, "p99")):
            exact = vals[s][math.floor(q * 199)]
            est = direct[s][col]
            assert est / exact <= DD_GAMMA + 1e-9
            assert exact / est <= DD_GAMMA + 1e-9

    signed = spark.createDataFrame(
        [("m", 0, -10.0), ("m", 1, -1.0), ("m", 2, 0.0), ("m", 3, 0.0),
         ("m", 4, 2.0)],
        "metric string, ts long, value double",
    )
    r = ddsketch_quantile_raw(signed, 1000_000, qs=(0.0, 0.5, 1.0)).collect()[0]
    assert r["n"] == 5
    assert -10.0 * DD_GAMMA <= r["p00"] <= -10.0 / DD_GAMMA
    assert r["p50"] == 0.0  # zero store holds the median
    assert 2.0 / DD_GAMMA <= r["p100"] <= 2.0 * DD_GAMMA


def test_refresh_rollup_sketch_kinds(spark, tmp_path):
    """Incremental refresh is kind-generic: DDSketch (count addition)
    and HLL (register-max union) partials fold late batches exactly —
    refresh(base)+refresh(late) equals the full rebuild for both."""
    from timely_spark.operators.rollup import (
        ddsketch_partials,
        hll_partials,
        refresh_rollup,
        write_rollup,
    )

    day = 86_400_000
    base = [("m", day * (i % 3) + 60_000 * i, float(1 + i % 40)) for i in range(150)]
    late = [("m", day + 60_000 * i + 3, float(500 + i)) for i in range(25)]
    pb = spark.createDataFrame(base, "metric string, ts long, value double")
    pl = spark.createDataFrame(late, "metric string, ts long, value double")
    both = pb.unionByName(pl)

    dd_path = str(tmp_path / "dd_1m")
    write_rollup(ddsketch_partials(pb, 60_000), dd_path)
    assert refresh_rollup(spark, dd_path, pl, 60_000, kind="ddsketch") == 1
    got = sorted(map(tuple,
        spark.read.parquet(dd_path)
        .select("metric", "bucket_ts", "dd_sign", "dd_idx", "cnt").collect()))
    want = sorted(map(tuple,
        ddsketch_partials(both, 60_000)
        .select("metric", "bucket_ts", "dd_sign", "dd_idx", "cnt").collect()))
    assert got == want

    # HLL needs an int/string distinct column
    ub = pb.withColumn("uid", (F.col("value") * 10).cast("long"))
    ul = pl.withColumn("uid", (F.col("value") * 10).cast("long"))
    hll_path = str(tmp_path / "hll_1m")
    write_rollup(hll_partials(ub, 60_000, "uid"), hll_path)
    assert refresh_rollup(spark, hll_path, ul, 60_000,
                          kind="hll", distinct_col="uid") == 1
    # sketches are binary blobs; compare the derived estimates
    est = lambda df: sorted(map(tuple, df.selectExpr(
        "metric", "bucket_ts",
        "hll_sketch_estimate(hll) AS est").collect()))
    got = est(spark.read.parquet(hll_path))
    want = est(hll_partials(ub.unionByName(ul), 60_000, "uid"))
    assert got == want


def test_lm_perplexity_empty_reference_is_loud(spark):
    """A reference with no scoring positions (all docs < 2 tokens) fails
    with a clear error instead of emitting infinite scores."""
    from timely_spark.operators.perplexity import lm_log_ppl

    docs = spark.createDataFrame([(1, "some words here")],
                                 "doc_id long, text string")
    ref = spark.createDataFrame([(9, "one"), (10, "")],
                                "doc_id long, text string")
    with pytest.raises(ValueError, match="no scoring positions"):
        lm_log_ppl(docs, ref).collect()


def test_event_transitions(spark):
    """Transition matrix: consecutive same-user events pair in event-time
    order (event-id tiebreak), counts and outgoing probabilities match
    the hand model; cross-user pairs never form."""
    from timely_spark.operators.flows import event_transitions

    rows = [
        # user 1: view -> click -> view -> purchase
        (1, 0, "view", 1), (1, 1000, "click", 2),
        (1, 2000, "view", 3), (1, 3000, "purchase", 4),
        # user 2: view -> view  (its last event never pairs forward)
        (2, 0, "view", 5), (2, 1000, "view", 6),
        # user 3: a single event: no transitions at all
        (3, 0, "click", 7),
        # same-ts tiebreak: event_id orders click(8) before view(9)
        (4, 0, "click", 8), (4, 0, "view", 9),
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, ts long, event_type string, event_id long"
    )
    got = {
        (r["from_type"], r["to_type"]): (r["n"], r["p"])
        for r in event_transitions(ev).collect()
    }
    # from 'view': click (u1), view (u2), purchase (u1) -> 1/3 each
    # from 'click': view (u1 and u4's tiebroken pair) -> 1.0
    assert got == {
        ("view", "click"): (1, 0.333333),
        ("view", "view"): (1, 0.333333),
        ("view", "purchase"): (1, 0.333333),
        ("click", "view"): (2, 1.0),
    }
    # no tiebreak column: falls back to type-name ordering, still
    # deterministic (u4's same-ts pair orders click -> view)
    got2 = {
        (r["from_type"], r["to_type"]): r["n"]
        for r in event_transitions(ev.drop("event_id")).collect()
    }
    assert got2[("click", "view")] == 2


def test_cms_merge_identity_and_lower_bound(spark):
    """Count-Min sketch contracts: (1) sketches built over ANY split of
    the occurrences merge by counter addition into EXACTLY the
    whole-data sketch (bit-identical rows — the mergeability that lets
    per-shard sketches at 100 TB combine without a raw re-scan); (2)
    est >= true count for EVERY item even at a deliberately colliding
    width (the one-sided CMS error: collisions only ever ADD); (3) at a
    collision-free width the heavy-hitter estimates are exact."""
    from pyspark.sql import functions as F

    from timely_spark.operators.rollup import (
        cms_estimate,
        cms_merge,
        cms_partials,
    )

    # zipf-ish: token t{k} appears ~600/k times, plus a long tail
    rows = [(f"t{k}",) for k in range(1, 13) for _ in range(600 // k)]
    rows += [(f"tail{i}",) for i in range(300)]
    occ = spark.createDataFrame(rows, "token string").withColumn(
        "par", F.monotonically_increasing_id() % 2
    )

    # (1) merge identity, deliberately tiny width to force collisions
    whole = cms_partials(occ, "token", depth=2, width=16)
    a = cms_partials(occ.filter("par = 0"), "token", depth=2, width=16)
    b = cms_partials(occ.filter("par = 1"), "token", depth=2, width=16)
    key = lambda df: sorted(map(tuple, df.collect()))  # noqa: E731
    assert key(cms_merge(a, b)) == key(whole)

    # (2) one-sided error at the colliding width, over EVERY item
    truth = occ.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
    est = cms_estimate(whole, truth, "token", depth=2, width=16)
    bad = est.filter(F.col("cms_est") < F.col("n")).count()
    assert bad == 0, "CMS under-estimated — impossible by construction"
    # collisions are real at width 16 (otherwise (2) tested nothing)
    assert est.filter(F.col("cms_est") > F.col("n")).count() > 0

    # (3) exactness at a collision-free width for the planted heavies
    wide = cms_partials(occ, "token", depth=4, width=4096)
    heavy = truth.filter(F.col("n") >= 50)
    exact = cms_estimate(wide, heavy, "token", depth=4, width=4096)
    off = exact.filter(F.col("cms_est") != F.col("n")).count()
    assert off == 0, "collision-free sketch must be exact"

    # NULL items are dropped, not hashed
    with_null = occ.unionByName(
        spark.createDataFrame([(None, 0)], "token string, par long")
    )
    assert key(cms_partials(with_null, "token", depth=2, width=16)) == key(
        whole
    )


def test_mg_summary_bounds_under_any_partitioning(spark):
    """Misra-Gries guarantees, exercised under three deliberately
    different layouts (1 partition, 7 partitions, items pre-sorted so
    heavy tokens cluster): est <= true for every emitted item,
    (b+1)*(true - est) <= N for every TRUE item (emitted or not, est=0
    when absent), and every item with (b+1)*true > N is present. Also:
    a batch where every count ties at the (b+1)-th largest emits
    nothing (all subtract to zero) rather than crashing."""
    from pyspark.sql import functions as F

    from timely_spark.operators.rollup import mg_summary

    b = 8
    # 3 heavies far above N/(b+1), a band of mid items, a long tail
    rows = (
        [("hot1",)] * 400 + [("hot2",)] * 300 + [("hot3",)] * 200
        + [(f"mid{i}",) for i in range(10) for _ in range(30)]
        + [(f"tail{i}",) for i in range(250)]
    )
    n = len(rows)
    truth = {}
    for (t,) in rows:
        truth[t] = truth.get(t, 0) + 1

    base = spark.createDataFrame(rows, "token string")
    layouts = [
        base.repartition(1),
        base.repartition(7),
        base.orderBy("token"),
    ]
    for df in layouts:
        got = {
            r["item"]: r["est"]
            for r in mg_summary(df, "token", b=b).collect()
        }
        for item, est in got.items():
            assert est <= truth[item], (item, est, truth[item])
        for item, true_n in truth.items():
            est = got.get(item, 0)
            assert (b + 1) * (true_n - est) <= n, (item, est, true_n)
            if (b + 1) * true_n > n:
                assert item in got, f"guaranteed heavy {item} missing"

    # all-tied batch: every count equals the (b+1)-th largest -> empty
    tied = spark.createDataFrame(
        [(f"t{i}",) for i in range(b + 5) for _ in range(3)],
        "token string",
    ).repartition(1)
    out = mg_summary(tied, "token", b=b).collect()
    assert out == [], f"all-tied batch must subtract to empty, got {out}"

    # NULLs dropped, not counted
    with_null = base.unionByName(
        spark.createDataFrame([(None,)], "token string")
    )
    got_n = {
        r["item"]: r["est"]
        for r in mg_summary(with_null.repartition(1), "token", b=b).collect()
    }
    assert None not in got_n


def test_kmv_sketch_exact_when_unsaturated(spark):
    """A group with fewer than k distinct items IS its sketch: every
    estimate equals the exact value, including pairwise set ops."""
    from timely_spark.operators.rollup import kmv_set_ops

    rows = (
        [("A", i) for i in range(40)]          # A = {0..39}
        + [("B", i) for i in range(20, 70)]    # B = {20..69}, |A∩B|=20
        + [("A", i) for i in range(10)]        # duplicates: distinct only
    )
    df = spark.createDataFrame(rows, "grp string, item long")
    out = kmv_set_ops(df, "grp", "item", k=256).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["group_a"], r["group_b"]) == ("A", "B")
    assert (r["n_a"], r["n_b"], r["inter_exact"]) == (40, 50, 20)
    assert (r["est_a"], r["est_b"]) == (40.0, 50.0)
    assert r["est_union"] == 70.0 and r["est_inter"] == 20.0
    assert r["union_ok"] and r["inter_ok"]


def test_kmv_saturated_estimates_within_band(spark):
    """Saturated sketches (distinct >> k): estimates land within the
    band for asymmetric sets with partial overlap, and the union
    estimate is consistent with inclusion-exclusion to sketch error."""
    from timely_spark.operators.rollup import kmv_set_ops

    rows = (
        [("A", i) for i in range(3000)]            # A = {0..2999}
        + [("B", i) for i in range(2000, 6000)]    # B = {2000..5999}
    )
    df = spark.createDataFrame(rows, "grp string, item long")
    r = kmv_set_ops(df, "grp", "item", k=256).collect()[0]
    assert (r["n_a"], r["n_b"], r["inter_exact"]) == (3000, 4000, 1000)
    assert abs(r["est_a"] - 3000) <= 0.25 * 3000
    assert abs(r["est_b"] - 4000) <= 0.25 * 4000
    assert r["union_ok"] and r["inter_ok"]


def test_kmv_sql_twin_value_exact(spark):
    """The DuckDB twin rebuilds the identical md5-64 sketches — every
    column (estimates included) compares value-exactly, across both the
    exact and saturated regimes in one frame."""
    import duckdb
    import pandas as pd

    from timely_spark.operators.rollup import kmv_set_ops, kmv_set_ops_sql

    rows = (
        [("small", i) for i in range(100)]        # unsaturated
        + [("big1", i) for i in range(50, 1000)]  # saturated
        + [("big2", i) for i in range(500, 1500)] # saturated
    )
    df = spark.createDataFrame(rows, "grp string, item long")
    got = sorted(map(tuple, kmv_set_ops(df, "grp", "item").collect()))
    con = duckdb.connect()
    con.register("events_in", pd.DataFrame(rows, columns=["grp", "item"]))
    con.execute("CREATE VIEW events AS SELECT * FROM events_in")
    want = sorted(
        map(
            tuple,
            con.execute(
                kmv_set_ops_sql("grp", "item", "events")
            ).fetchall(),
        )
    )
    assert got == want
    assert len(got) == 3  # all three pairs emitted, incl. zero-overlap
