"""Meta catalog + suggest/lookup tests (DataStore.java:528-624,
MetaCache semantics)."""

from pyspark.sql import functions as F

from timely_spark.operators.meta import build_meta, metrics_dump, search_lookup, suggest


def _meta(spark):
    rows = [
        ("sys.cpu.user", 1000, 1.0, {"host": "h001", "rack": "r1"}, None),
        ("sys.cpu.user", 2000, 1.0, {"host": "h002", "rack": "r1"}, None),
        ("sys.cpu.idle", 3000, 1.0, {"host": "h001"}, None),
        ("app.req.count", 4000, 1.0, {"instance": "i-0"}, None),
    ]
    df = spark.createDataFrame(
        rows, "metric string, ts long, value double, tags map<string,string>, viz string"
    )
    return build_meta(df)


def test_build_meta(spark):
    m = _meta(spark)
    rows = {(r["metric"], r["tag_key"], r["tag_value"]): r["last_seen"] for r in m.collect()}
    assert rows[("sys.cpu.user", "host", "h001")] == 1000
    assert rows[("sys.cpu.user", "rack", "r1")] == 2000  # max ts across points
    assert ("app.req.count", "instance", "i-0") in rows


def test_suggest_metrics_sorted_capped(spark):
    m = _meta(spark)
    got = [r["suggestion"] for r in suggest(m, "sys.cpu", "metrics", 10).collect()]
    assert got == ["sys.cpu.idle", "sys.cpu.user"]
    got = [r["suggestion"] for r in suggest(m, "sys.cpu", "metrics", 1).collect()]
    assert got == ["sys.cpu.idle"]


def test_suggest_tagk_tagv_reference_semantics(spark):
    """DataStore.java:544-573: tagk suggestions are the tag KEYS of the
    metric EQUAL to m (not a tag-key substring match); tagv requires
    metric == m AND tag_key == t. The Grafana suggest_tagk/suggest_tagv
    template queries depend on exactly this."""
    m = _meta(spark)
    got = [r["suggestion"] for r in suggest(m, "sys.cpu.user", "tagk", 10).collect()]
    assert got == ["host", "rack"]
    assert suggest(m, "sys.cpu.idle", "tagk", 10).count() == 1  # host only
    # no metric => empty (metricOpt.isPresent() gate)
    assert suggest(m, "", "tagk", 10).count() == 0
    got = [
        r["suggestion"]
        for r in suggest(m, "sys.cpu.user", "tagv", 10, tag="host").collect()
    ]
    assert got == ["h001", "h002"]
    assert suggest(m, "sys.cpu.user", "tagv", 10, tag="nope").count() == 0
    assert suggest(m, "sys.cpu.user", "tagv", 10).count() == 0  # t required


def test_time_bucket_expressions(spark):
    """functions.time: epoch-aligned vs query-start-aligned bucketing
    (Downsample.java:31-42 — buckets align to the QUERY start; epoch
    alignment is the start=0 special case)."""
    from timely_spark.functions.time import query_aligned_bucket_sql, time_bucket_ms

    df = spark.createDataFrame([(1_000_017,), (1_059_999,), (1_080_000,)], "ts long")
    assert [r[0] for r in df.select(time_bucket_ms("ts", 60_000)).collect()] == [
        960_000,
        1_020_000,
        1_080_000,
    ]
    # start=1_000_017: every bucket is start + k*period
    got = [
        r[0]
        for r in df.select(
            F.expr(query_aligned_bucket_sql("ts", 1_000_017, 60_000))
        ).collect()
    ]
    assert got == [1_000_017, 1_000_017, 1_060_017]


def test_suggest_unknown_type_answers_empty(spark):
    """DataStore.suggest (DataStore.java:528-580) silently returns an
    empty suggestion list (200) for unrecognized types — not an error."""
    m = _meta(spark)
    out = suggest(m, "sys.cpu", "bogus-type", 10)
    assert out.collect() == []
    assert out.columns == ["suggestion"]


def test_search_lookup_regex_and_total(spark):
    m = _meta(spark)
    ordered, total = search_lookup(m, tag_key="host", tag_value_pattern="^h0.*", limit=1)
    assert total.collect()[0]["total_results"] == 3
    rows = ordered.collect()
    assert len(rows) == 1  # capped while total counts all (SearchLookupRequest.java:30-33)


def test_metrics_dump(spark):
    m = _meta(spark)
    d = {r["metric"]: r["tags"] for r in metrics_dump(m).collect()}
    assert d["sys.cpu.user"] == ["host=h001", "host=h002", "rack=r1"]
    d2 = {r["metric"]: r["tags"] for r in metrics_dump(m, ignored_tags=["rack"]).collect()}
    assert "rack=r1" not in d2["sys.cpu.user"]
    # a metric whose tags are ALL ignored still appears with tags=[]
    # (MetricsResponse.generateJson keeps the metric, omits the tags)
    d3 = {
        r["metric"]: r["tags"]
        for r in metrics_dump(m, ignored_tags=["instance"]).collect()
    }
    assert d3["app.req.count"] == []
    assert set(d3) == set(d)  # no metric disappears
