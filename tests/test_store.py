"""Store layout, retention, and ingest tests."""

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from timely_spark.operators.retention import ageoff_filter, ttl_for_metric
from timely_spark.sources.lineprotocol import parse_lines_df
from timely_spark.sources.store import PointStore, read_points, write_points

DAY = 86_400_000


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("store") / "metrics")
    b = 1_447_767_913_000
    lines = [
        f"put sys.cpu.user {b + i * 3_600_000} {float(i)} host=h1" for i in range(48)
    ] + [f"put app.req.count {b + i * 3_600_000} {float(i)} host=h2" for i in range(48)]
    pts = parse_lines_df(spark.createDataFrame([(l,) for l in lines], ["value"]))
    write_points(pts, path, mode="overwrite")
    return b, path


def test_roundtrip_and_partition_layout(spark, store):
    b, path = store
    back = read_points(spark, path)
    assert back.count() == 96
    # dt rides along for partition pruning (builder drops it from output)
    assert set(back.columns) == {"metric", "ts", "value", "tags", "viz", "dt"}
    # layout: metric=<m>/dt=<day> directories exist
    metrics = sorted(d for d in os.listdir(path) if d.startswith("metric="))
    assert metrics == ["metric=app.req.count", "metric=sys.cpu.user"]
    days = [d for d in os.listdir(os.path.join(path, metrics[0])) if d.startswith("dt=")]
    assert len(days) >= 2  # 48h spans >= 2 day partitions


def test_partition_pruning_in_plan(spark, store):
    b, path = store
    df = spark.read.parquet(path).filter(F.col("metric") == "sys.cpu.user")
    plan = df._jdf.queryExecution().executedPlan().toString()
    # metric is a partition column: the filter must prune, not scan+filter
    assert "PartitionFilters" in plan and "metric" in plan.split("PartitionFilters")[1][:200]


def test_ageoff_filter_per_metric_ttl(spark, store):
    b, path = store
    pts = read_points(spark, path)
    now = b + 47 * 3_600_000
    kept = ageoff_filter(
        pts, now_ms=now, ttls={"sys.": DAY}, default_ttl_ms=3 * DAY
    )
    per_metric = {
        r["metric"]: r["n"]
        for r in kept.groupBy("metric").agg(F.count("*").alias("n")).collect()
    }
    assert per_metric["app.req.count"] == 48  # default 3d keeps all 48h
    assert per_metric["sys.cpu.user"] == 25  # 1d TTL keeps trailing 24h+1


def test_ttl_longest_prefix(spark):
    df = spark.createDataFrame(
        [("sys.cpu.user",), ("sys.mem",), ("app.x",)], ["metric"]
    )
    ttl = ttl_for_metric("metric", {"sys.": 10, "sys.cpu.": 20}, 99)
    got = {r["metric"]: r["t"] for r in df.select("metric", ttl.alias("t")).collect()}
    assert got == {"sys.cpu.user": 20, "sys.mem": 10, "app.x": 99}


def test_retention_delete_plan(spark, store):
    b, path = store
    now = b + 47 * 3_600_000
    doomed = PointStore(spark, path).expired_partitions(
        now_ms=now, ttls={"sys.": DAY}, default_ttl_ms=30 * DAY
    )
    assert all("metric=sys.cpu.user" in p for p in doomed)
    assert all(p.startswith(path) for p in doomed)


def test_compaction_merges_small_files(spark, tmp_path):
    """Small-file compaction (MetricCompactionStrategy analogue): N append
    deltas collapse to one file per partition, data byte-identical."""
    from timely_spark.sources.store import compact_partitions

    path = str(tmp_path / "m")
    b = 1_447_767_913_000
    for batch in range(5):  # five appends -> five files per partition
        lines = [f"put m {b + batch * 1000 + i} {float(batch)} host=h1" for i in range(10)]
        pts = parse_lines_df(spark.createDataFrame([(l,) for l in lines], ["value"]))
        write_points(pts, path)

    def parquet_files():
        return [
            os.path.join(r, f)
            for r, _, fs in os.walk(path)
            for f in fs
            if f.endswith(".parquet")
        ]

    before = read_points(spark, path).orderBy("ts").collect()
    assert len(parquet_files()) >= 5
    compact_partitions(spark, path)
    assert len(parquet_files()) == 1  # one partition dir -> one file
    after = read_points(spark, path).orderBy("ts").collect()
    assert after == before


def test_compact_meta_folds_deltas(spark, tmp_path):
    from timely_spark.operators.meta import build_meta
    from timely_spark.sources.catalog import MetaCatalog

    meta_path = str(tmp_path / "meta")
    b = 1_447_767_913_000
    for batch in range(3):
        lines = [f"put m {b + batch * 1000} 1.0 host=h1"]
        pts = parse_lines_df(spark.createDataFrame([(l,) for l in lines], ["value"]))
        build_meta(pts).write.mode("append").parquet(meta_path)
    assert spark.read.parquet(meta_path).count() == 3
    folded = MetaCatalog(spark, meta_path, str(tmp_path / "viz")).meta().collect()
    assert len(folded) == 1
    assert folded[0]["last_seen"] == b + 2000  # max last_seen survives


def test_corrupt_lines_side_output(spark):
    lines = spark.createDataFrame(
        [("put m 1447767913000 1.0 a=b",), ("garbage",), ("put m xx 1.0",)], ["value"]
    )
    good, bad = parse_lines_df(lines, keep_corrupt=True)
    assert good.count() == 1
    assert sorted(r["line"] for r in bad.collect()) == ["garbage", "put m xx 1.0"]


def test_bucketed_write_survives_stale_warehouse_dir(spark, tmp_path):
    """VERDICT r5 item #1: a fresh Derby metastore makes DROP TABLE a
    no-op while the old spark-warehouse/<table> directory survives, so
    saveAsTable used to die with LOCATION_ALREADY_EXISTS. The writer now
    clears an orphaned location (dir exists, catalog says table doesn't)
    before writing — a pre-polluted warehouse must not fail the write."""
    import os
    from urllib.parse import urlparse

    from timely_spark.sources.store import write_points_bucketed

    table = "ts_stale_warehouse_test"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    stale = os.path.join(wh, table)
    os.makedirs(stale, exist_ok=True)
    with open(os.path.join(stale, "part-stale.parquet"), "wb") as f:
        f.write(b"\x00not a real parquet file")  # simulate prior session debris
    b = 1_447_767_913_000
    pts = parse_lines_df(
        spark.createDataFrame(
            [(f"put m {b + i * 1000} {float(i)} host=h1",) for i in range(5)],
            ["value"],
        )
    )
    try:
        write_points_bucketed(pts, table, n_buckets=2)
        assert spark.table(table).count() == 5
        # append into the now-owned table still works (guard is a no-op)
        write_points_bucketed(pts, table, n_buckets=2, mode="append")
        assert spark.table(table).count() == 10
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_bucketed_store_shuffle_free_rate(spark, tmp_path):
    """Series-bucketed layout: the rate window's distribution is satisfied
    by the bucketed scan — zero Exchange in the physical plan, and values
    match the plain (shuffled) rate operator exactly."""
    from timely_spark.operators.rate import RateOptions, rate
    from timely_spark.sources.store import write_points_bucketed

    b = 1_447_767_913_000
    lines = [
        f"put m {b + i * 1000} {float(i * (1 + i % 3))} host=h{i % 5}"
        for i in range(200)
    ]
    pts = parse_lines_df(spark.createDataFrame([(l,) for l in lines], ["value"]))
    write_points_bucketed(pts, "metrics_bucketed_test", n_buckets=4)
    try:
        t = spark.table("metrics_bucketed_test")
        r = rate(t, RateOptions(interval_ms=1000), series_col="series_key")
        plan = r._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan  # bucket layout replaces the shuffle

        got = {(x["series_key"], x["ts"]): x["value"] for x in r.collect()}
        plain = rate(pts, RateOptions(interval_ms=1000))
        from timely_spark.model import series_id

        want = {
            (x["__s"], x["ts"]): x["value"]
            for x in plain.withColumn("__s", series_id()).collect()
        }
        assert got == want and len(got) == 195  # 5 series x (40-1) points

        # FIR and per-series downsample get the same zero-Exchange plan
        from timely_spark.operators.downsample import downsample
        from timely_spark.operators.fir import fir_filter

        f = fir_filter(t, [0.5, 0.5], series_col="series_key")
        assert "Exchange" not in f._jdf.queryExecution().executedPlan().toString()
        d = downsample(t, "10s-avg", series_col="series_key")
        assert "Exchange" not in d._jdf.queryExecution().executedPlan().toString()
        # downsample values match the expression-keyed operator
        dd = {
            (x["metric"], str(sorted((x["tags"] or {}).items())), x["bucket_ts"]): x["value"]
            for x in d.collect()
        }
        pd_ = {
            (x["metric"], str(sorted((x["tags"] or {}).items())), x["bucket_ts"]): x["value"]
            for x in downsample(pts, "10s-avg").collect()
        }
        assert dd == pd_
    finally:
        spark.sql("DROP TABLE IF EXISTS metrics_bucketed_test")


def test_promoted_tag_pushdown(spark, tmp_path_factory):
    """Hot-tag promotion: tag_<k> predicate reaches PushedFilters, and the
    end-to-end query result equals the unpromoted (map-filter) store."""
    from timely_spark.api import TimelyEngine

    b = 1_447_767_913_000
    lines = [
        f"put m {b + i * 1000} {float(i)} host=h{i % 4} rack=r{i % 2}"
        for i in range(200)
    ]
    root = tmp_path_factory.mktemp("promoted")
    plain = TimelyEngine(spark, store_path=str(root / "plain"))
    promo = TimelyEngine(spark, store_path=str(root / "promo"), promote_tags=["host"])
    plain.put_lines(lines)
    promo.put_lines(lines)

    back = read_points(spark, str(root / "promo"))
    assert "tag_host" in back.columns

    # the plan: host predicate lands in the scan's PushedFilters
    df = back.filter(F.col("tag_host") == "h1")
    plan = df._jdf.queryExecution().executedPlan().toString()
    pushed = plan.split("PushedFilters")[1][:200]
    assert "tag_host" in pushed

    req = {
        "start": b,
        "end": b + 300_000,
        "msResolution": True,
        "queries": [
            {
                "aggregator": "sum",
                "metric": "m",
                "downsample": "10s-avg",
                "tags": {"host": "h1"},
            }
        ],
    }
    got = promo.query(req)
    want = plain.query(req)
    assert got == want and len(got) == 1 and got[0]["tags"] == {"host": "h1"}


def test_promoted_store_with_hot_cache(spark, tmp_path_factory):
    """Promotion x hot tier: tag_<k> columns ride through the cached
    union seam; hybrid query equals the cold-store query."""
    from timely_spark.api import TimelyEngine

    b = 1_447_767_913_000
    lines = [
        f"put m {b + i * 1000} {float(i)} host=h{i % 3}" for i in range(90)
    ]
    root = tmp_path_factory.mktemp("promo_hot")
    eng = TimelyEngine(spark, store_path=str(root / "m"), promote_tags=["host"])
    eng.put_lines(lines[:45])
    eng.enable_hot_cache(window_ms=30_000)
    eng.put_lines(lines[45:])

    req = {
        "start": b,
        "end": b + 120_000,
        "msResolution": True,
        "queries": [
            {"aggregator": "sum", "metric": "m", "downsample": "10s-avg",
             "tags": {"host": "h1"}}
        ],
    }
    hybrid = eng.query(req)

    cold = TimelyEngine(spark, store_path=str(root / "m"), promote_tags=["host"])
    assert hybrid == cold.query(req)


def test_driver_bucketed_rate_plan(spark):
    """The ts_rate_bucketed driver query (VERDICT r2 item #5): rate stage
    exch=0 over the bucketed table; whole query carries only the final
    rollup Exchange; values equal the expression-keyed ts_rate."""
    import __spark_entry__ as entrymod
    from timely_spark.operators.rate import rate

    sf = "/root/testdata/sf0.001"
    table = entrymod._bucketed_points_table(spark, sf)
    try:
        r = rate(spark.table(table), series_col="series_key")
        assert "Exchange" not in r._jdf.queryExecution().executedPlan().toString()

        full = entrymod.queries()["ts_rate_bucketed"](spark, sf)
        plan = full._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange") <= 1  # the 15m rollup only

        want = {
            (x["metric"], x["bucket_ts"]): (x["avg_rate"], x["n"])
            for x in entrymod.queries()["ts_rate"](spark, sf).collect()
        }
        got = {
            (x["metric"], x["bucket_ts"]): (x["avg_rate"], x["n"])
            for x in full.collect()
        }
        assert got == want and len(got) > 0
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_metric_bucketed_layout_prunes_and_matches(spark, tmp_path_factory):
    """bucket_metrics layout (>100k-metric deployments, SCALE.md §1):
    the layout sidecar lets the query builder reconstruct a metric's
    directory bucket, so the predicate folds to a constant and lands in
    PartitionFilters; results equal the unbucketed store exactly."""
    from timely_spark.api import TimelyEngine

    b = 1_447_767_913_000
    lines = [
        f"put m{m} {b + i * 1000} {float(m * 100 + i)} host=h{i % 3}"
        for m in range(6)
        for i in range(20)
    ]
    root = tmp_path_factory.mktemp("bucketed")
    plain = TimelyEngine(spark, store_path=str(root / "plain"))
    bucketed = TimelyEngine(
        spark, store_path=str(root / "bucketed"), bucket_metrics=4
    )
    plain.put_lines(list(lines))
    bucketed.put_lines(list(lines))

    assert PointStore(spark, str(root / "bucketed")).layout == {"bucket_metrics": 4}
    # rediscovery from the sidecar (fresh engine, no explicit param)
    rediscovered = TimelyEngine(spark, store_path=str(root / "bucketed"))
    assert rediscovered.store.bucket_metrics == 4

    req = {
        "start": b,
        "end": b + 60_000,
        "msResolution": True,
        "queries": [
            {"aggregator": "sum", "metric": "m3", "downsample": "5s-avg",
             "tags": {"host": "h1"}}
        ],
    }
    assert bucketed.query(req) == plain.query(req)
    assert rediscovered.query(req) == plain.query(req)

    # the pruning predicate reaches the scan's partition filters
    from timely_spark.api import TimelyEngine
    from timely_spark.plans.builder import build_subquery
    from timely_spark.plans.request import SubQuery

    df = build_subquery(
        bucketed.points(),
        SubQuery(metric="m3", aggregator="sum"),
        b,
        b + 60_000,
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "metric_bucket" in plan.split("PartitionFilters")[1][:200], plan


def test_retention_drops_bucketed_partitions(spark, tmp_path_factory):
    """TTL partition drop under the metric_bucket layout: day dirs older
    than the MAX configured TTL drop (a bucket dir mixes metrics, so the
    conservative cutoff applies); newer days survive."""
    import os

    from timely_spark.sources.lineprotocol import parse_lines_df
    from timely_spark.sources.store import write_points

    day_ms = 86_400_000
    base = 19_000  # epoch day (~2022) so ts stays in the ms regime
    now = (base + 200) * day_ms
    lines = [
        f"put m{m} {(base + day) * day_ms + 1000} 1.0 h=h1"
        for m in range(4)
        for day in (10, 100, 199)  # ancient / old / fresh
    ]
    store = str(tmp_path_factory.mktemp("bttl") / "m")
    write_points(
        parse_lines_df(spark.createDataFrame([(l,) for l in lines], ["value"])),
        store,
        bucket_metrics=2,
    )
    doomed = PointStore(spark, store).expired_partitions(
        now_ms=now, ttls={"m0": 5 * day_ms}, default_ttl_ms=50 * day_ms
    )
    # max TTL = 50 days -> cutoff day base+150: days 10 and 100 drop
    assert doomed and all(f"dt={base + 199}" not in p for p in doomed)
    dropped_days = {p.rsplit("dt=", 1)[1] for p in doomed}
    assert dropped_days == {str(base + 10), str(base + 100)}
    for p in doomed:
        assert os.path.isdir(p) and "metric_bucket=" in p


def test_compaction_preserves_bucketed_layout(spark, tmp_path_factory):
    """Compaction rewrites the store directory; the layout sidecar (and
    with it bucket pruning + engine modulus discovery) must survive."""
    from timely_spark.api import TimelyEngine

    b = 1_447_767_913_000
    store = str(tmp_path_factory.mktemp("compact_bucketed") / "m")
    eng = TimelyEngine(spark, store_path=store, bucket_metrics=2)
    eng.put_lines([f"put m{m} {b + i * 1000} {float(i)} h=h1" for m in range(3) for i in range(10)])
    before = eng.query(
        {"start": b, "end": b + 60_000, "msResolution": True,
         "queries": [{"aggregator": "sum", "metric": "m1", "downsample": "5s-avg", "tags": {}}]}
    )
    eng.compact()
    assert PointStore(spark, store).layout == {"bucket_metrics": 2}
    fresh = TimelyEngine(spark, store_path=store)
    assert fresh.store.bucket_metrics == 2
    assert fresh.query(
        {"start": b, "end": b + 60_000, "msResolution": True,
         "queries": [{"aggregator": "sum", "metric": "m1", "downsample": "5s-avg", "tags": {}}]}
    ) == before


def test_engine_query_over_series_table(spark, tmp_path):
    """VERDICT r3 item #4: the series-bucketed store exercised through the
    FULL engine path. An engine constructed with series_table= appends
    into the bucketed catalog table, engine.query() reads it, and the
    rate stage runs with zero Exchange inside the request pipeline
    (builder passes the materialized series_key to rate()). Results are
    byte-identical to the partitioned-Parquet engine."""
    from timely_spark.api import TimelyEngine
    from timely_spark.plans.builder import build_subquery
    from timely_spark.plans.request import SubQuery

    b = 1_447_765_200_000
    lines = [
        f"put m {b + i * 1000} {float(i * i % 17)} host=h{i % 3}"
        for i in range(60)
    ]
    table = "ts_engine_series_test"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    try:
        eng = TimelyEngine(
            spark, store_path=str(tmp_path / "unused"), series_table=table
        )
        eng.put_lines(lines[:30])
        eng.put_lines(lines[30:])  # second append into the bucketed table

        # rate stage through the request pipeline: zero Exchange
        sub = SubQuery(metric="m", aggregator="none", rate=True)
        plan_df = build_subquery(eng.points(), sub, b, b + 120_000)
        plan = plan_df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan

        req = {
            "start": b,
            "end": b + 120_000,
            "msResolution": True,
            "queries": [
                {"aggregator": "sum", "metric": "m", "downsample": "10s-avg",
                 "rate": True, "tags": {"host": "h1"}}
            ],
        }
        got = eng.query(req)

        flat = TimelyEngine(spark, store_path=str(tmp_path / "flat"))
        flat.put_lines(lines)
        assert got == flat.query(req) and got[0]["dps"]

        # two-stage path (downsample agg != combine agg): the per-series
        # stage groups on series_key — 1 Exchange total (combine only)
        req2 = {
            "start": b,
            "end": b + 120_000,
            "msResolution": True,
            "queries": [
                {"aggregator": "sum", "metric": "m", "downsample": "10s-avg"}
            ],
        }
        sub2 = SubQuery(metric="m", aggregator="sum",
                        downsample="10s-avg")
        plan2 = (
            build_subquery(eng.points(), sub2, b, b + 120_000)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert plan2.count("Exchange") == 1
        # fold order differs (materialized vs computed grouping key), so
        # compare dps with float tolerance, not byte equality
        got2, want2 = eng.query(req2), flat.query(req2)
        assert len(got2) == len(want2) == 1
        assert got2[0]["dps"].keys() == want2[0]["dps"].keys()
        for k, v in want2[0]["dps"].items():
            assert got2[0]["dps"][k] == pytest.approx(v, rel=1e-12)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_series_table_engine_with_hot_cache(spark, tmp_path):
    """The hot tier over a series_table engine refreshes from the catalog
    table (not the unused store path) and the hybrid read stays
    consistent across an ingest that lands entirely in the hot window."""
    from timely_spark.api import TimelyEngine

    b = 1_447_765_200_000
    table = "ts_engine_series_hot_test"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    try:
        eng = TimelyEngine(
            spark, store_path=str(tmp_path / "unused"), series_table=table
        )
        eng.put_lines([f"put m {b + i * 1000} {float(i)} host=h1" for i in range(20)])
        eng.enable_hot_cache(window_ms=10_000)
        eng.put_lines(
            [f"put m {b + i * 1000} {float(i)} host=h1" for i in range(20, 30)]
        )
        req = {
            "start": b,
            "end": b + 120_000,
            "msResolution": True,
            "queries": [{"aggregator": "none", "metric": "m"}],
        }
        got = {
            int(k): v for s in eng.query(req) for k, v in s["dps"].items()
        }
        assert got == {b + i * 1000: float(i) for i in range(30)}
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_series_table_retention_and_compaction(spark, tmp_path):
    """F6 retention and S6 compaction on the series-bucketed tier: both
    are table rewrites. Retention drops expired rows; compaction folds
    the per-append file sets back to one sorted file set while values
    and the zero-Exchange window property survive."""
    from timely_spark.api import TimelyEngine
    from timely_spark.operators.rate import rate

    day = 86_400_000
    now = 1_447_765_200_000 + 40 * day
    table = "ts_engine_series_maint_test"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    try:
        eng = TimelyEngine(
            spark,
            store_path=str(tmp_path / "unused"),
            series_table=table,
            default_ttl_ms=30 * day,
        )
        old = [f"put m {now - 35 * day + i} {float(i)} host=h1" for i in range(5)]
        live = [f"put m {now - i * 1000} {float(i)} host=h1" for i in range(5)]
        eng.put_lines(old)
        eng.put_lines(live)  # second append: two file sets per bucket
        assert spark.table(table).count() == 10

        doomed = eng.run_retention(now_ms=now)
        assert doomed == [f"table:{table} rewrite"]
        left = spark.table(table)
        assert left.count() == 5  # expired rows physically gone
        assert left.agg({"ts": "min"}).collect()[0][0] >= now - 30 * day

        eng.compact()
        t = spark.table(table)
        assert t.count() == 5
        # bucketed-scan window property survives the rewrites
        r = rate(t, series_col="series_key")
        assert "Exchange" not in r._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_read_jsonl_documents(spark, tmp_path):
    import json

    from timely_spark.sources.corpus import read_jsonl_documents

    p = tmp_path / "shard.jsonl"
    p.write_text(
        "\n".join(
            json.dumps(r)
            for r in [
                {"text": "hello world", "src": "web"},
                {"text": "second doc", "src": "books"},
                {"text": None},
            ]
        )
    )
    df = read_jsonl_documents(spark, str(p), source_field="src")
    rows = sorted(df.collect(), key=lambda r: r["text"])
    assert [r["text"] for r in rows] == ["", "hello world", "second doc"]
    assert rows[1]["source"] == "web" and rows[2]["source"] == "books"
    assert rows[0]["source"] == "jsonl"  # null src -> default
    assert rows[1]["n_chars"] == 11
    # layout-stable ids: re-read gives identical ids
    again = {r["doc_id"] for r in read_jsonl_documents(spark, str(p), source_field="src").collect()}
    assert again == {r["doc_id"] for r in rows}


def test_read_jsonl_documents_missing_text_field(spark, tmp_path):
    """A shard where NO row carries the text field (spark.read.json
    infers no such column) must yield empty-text rows, not an
    unresolved-column AnalysisException."""
    import json

    from timely_spark.sources.corpus import read_jsonl_documents

    p = tmp_path / "notext.jsonl"
    p.write_text(
        "\n".join(json.dumps(r) for r in [{"src": "web"}, {"src": "books"}])
    )
    rows = read_jsonl_documents(spark, str(p), source_field="src").collect()
    assert len(rows) == 2
    assert all(r["text"] == "" and r["n_chars"] == 0 for r in rows)
    assert {r["source"] for r in rows} == {"web", "books"}


def test_read_warc_documents(spark, tmp_path):
    """Plain and gzip-member WARC files parse to the documents shape;
    request records are skipped; HTML strips to text."""
    from timely_spark.sources.corpus import (
        make_warc,
        parse_warc_records,
        read_warc_documents,
    )

    records = [
        ("https://example.com/a", b"<html><body>Alpha <b>beta</b> gamma</body></html>"),
        ("https://other.org/b", b"<p>Second   document</p>"),
    ]
    plain = make_warc(records)
    gz = make_warc(records, gzip_members=True)
    (tmp_path / "w").mkdir()
    (tmp_path / "w" / "a.warc").write_bytes(plain)
    (tmp_path / "w" / "b.warc.gz").write_bytes(gz)

    # stdlib parser sees both layouts identically
    assert len(list(parse_warc_records(plain))) == 2
    assert len(list(parse_warc_records(gz))) == 2

    df = read_warc_documents(spark, str(tmp_path / "w"))
    rows = df.collect()
    assert len(rows) == 4  # 2 records x 2 files
    # re-shipped duplicate segments still get UNIQUE doc_ids (file
    # identity is in the hash) — downstream joins key on doc_id
    assert len({r["doc_id"] for r in rows}) == 4
    texts = {r["text"] for r in rows}
    assert texts == {"Alpha beta gamma", "Second document"}
    assert {r["source"] for r in rows} == {"example.com", "other.org"}
    # non-response records skipped
    noise = (
        b"WARC/1.0\r\nWARC-Type: request\r\nContent-Length: 2\r\n\r\nhi\r\n\r\n"
    )
    assert list(parse_warc_records(noise))[0][0]["warc-type"] == "request"


def test_warc_parser_corruption_tolerance():
    """Truncated, desynchronized, and garbage inputs terminate cleanly
    (no hang, no exception) — crawls contain all three."""
    from timely_spark.sources.corpus import make_warc, parse_warc_records

    good = make_warc([("https://a/x", b"<p>body one</p>")])
    # truncated mid-body: complete-records-only contract — the partial
    # record is DROPPED (a half body must never land in the corpus as a
    # silently shortened document), no hang or exception
    assert list(parse_warc_records(good[: len(good) - 10])) == []
    # garbage prefix -> desynchronized: stops, yields nothing
    assert list(parse_warc_records(b"NOT-A-WARC\r\n" + good)) == []
    # garbage suffix after a full record: first record survives
    recs = list(parse_warc_records(good + b"\xde\xad\xbe\xef"))
    assert len(recs) == 1 and recs[0][0]["warc-type"] == "response"
    # bad content-length header: stops without raising
    bad = good.replace(b"Content-Length: ", b"Content-Length: x")
    assert list(parse_warc_records(bad)) == []
    # empty and tiny inputs
    assert list(parse_warc_records(b"")) == []
    assert list(parse_warc_records(b"\x1f\x8b")) == []
    # bit-flipped gzip member: zlib.error must NOT escape; prior intact
    # members survive
    from timely_spark.sources.corpus import make_warc as _mk

    gz2 = _mk([("https://a/1", b"one"), ("https://a/2", b"two")], gzip_members=True)
    corrupt = bytearray(gz2)
    corrupt[len(gz2) // 2 + 20] ^= 0xFF  # inside the second member
    got = list(parse_warc_records(bytes(corrupt)))
    assert 0 <= len(got) <= 2  # terminates cleanly, no exception


def test_read_wet_documents(spark, tmp_path):
    """WET (conversion-record) files parse to the documents shape: plain
    text passes through with only whitespace normalization — no HTTP
    header strip, no tag-strip (literal angle brackets survive) — and
    mixed WARC+WET directories read both record kinds."""
    from timely_spark.sources.corpus import make_warc, read_warc_documents

    wet = make_warc(
        [
            ("https://example.com/a", b"Alpha beta\n\ngamma  delta"),
            ("https://other.org/b", b"value < 10 and <tag> stays"),
        ],
        record_type="conversion",
    )
    warc = make_warc(
        [("https://example.com/c", b"<p>Real <b>html</b> here</p>")]
    )
    (tmp_path / "w").mkdir()
    (tmp_path / "w" / "a.warc.wet").write_bytes(wet)
    (tmp_path / "w" / "c.warc").write_bytes(warc)

    rows = read_warc_documents(spark, str(tmp_path / "w")).collect()
    assert len(rows) == 3
    texts = {r["text"] for r in rows}
    assert texts == {
        "Alpha beta gamma delta",
        "value < 10 and <tag> stays",  # conversion: markup NOT stripped
        "Real html here",              # response: markup stripped
    }
    # main_content extraction applies only to the HTML record; WET text
    # still passes through
    rows2 = read_warc_documents(
        spark, str(tmp_path / "w"), main_content=True
    ).collect()
    assert "value < 10 and <tag> stays" in {r["text"] for r in rows2}


def test_put_write_is_sized_to_its_batch(spark, tmp_path):
    """TimelyEngine._store counts the batch's (metric, dt) groups in its
    stats job and writes with at most that many tasks, not one per
    shuffle partition; the stored rows and the one file per (metric, dt)
    directory are unchanged."""
    from timely_spark.api import TimelyEngine

    b = 1_447_767_913_000
    lines = [f"put m{k} {b + d * DAY + i} {float(i)} host=h{i}" for k in range(2) for d in range(2) for i in range(5)]
    eng = TimelyEngine(spark, store_path=str(tmp_path / "s"))
    sc = spark.sparkContext
    before = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    sc.setJobGroup("sized-put", "sized-put")
    try:
        assert eng.put_lines(lines) == 20
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.conf.set("spark.sql.shuffle.partitions", before)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    tasks = [
        tracker.getStageInfo(s).numTasks
        for j in tracker.getJobIdsForGroup("sized-put")
        for s in tracker.getJobInfo(j).stageIds
        if tracker.getStageInfo(s) is not None
    ]
    assert tasks and 32 not in tasks
    got = sorted((r["metric"], r["ts"], r["value"]) for r in read_points(spark, str(tmp_path / "s")).collect())
    assert got == sorted((f"m{k}", b + d * DAY + i, float(i)) for k in range(2) for d in range(2) for i in range(5))
    dirs = [d for d, _, names in os.walk(tmp_path / "s") if os.path.basename(d).startswith("dt=")]
    assert len(dirs) == 4
    for d in dirs:
        assert len([n for n in os.listdir(d) if n.endswith(".parquet")]) == 1


def _job_count(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_all_digit_metric_round_trips_through_query(spark, tmp_path):
    """The store is read with the schema its writer produces, so a metric
    directory named ``metric=00`` stays the string "00" (partition-type
    inference would read it as the integer 0)."""
    from timely_spark.api import ALL_AUTHS, TimelyEngine

    b = 1_447_767_913_000
    eng = TimelyEngine(spark, store_path=str(tmp_path / "s"))
    eng.put_lines([f"put 00 {b + i * 1000} {float(i)} host=h1" for i in range(5)])
    req = {"start": b, "end": b + 60_000, "msResolution": True,
           "queries": [{"aggregator": "sum", "metric": "00", "tags": {}}]}
    got = eng.query(req, auths=ALL_AUTHS)
    assert [s["metric"] for s in got] == ["00"]
    assert got[0]["dps"] == {str(b + i * 1000): float(i) for i in range(5)}
    assert eng.suggest("0") == ["00"]


def test_store_read_runs_no_spark_job(spark, tmp_path):
    from timely_spark.api import TimelyEngine

    b = 1_447_767_913_000
    eng = TimelyEngine(spark, store_path=str(tmp_path / "s"), promote_tags=["host"])
    for k in range(6):
        eng.put_lines([f"put m{k} {b + k * DAY + i} 1.0 host=h{i}" for i in range(3)])
    df, jobs = _job_count(spark, "store-read", eng.store.read)
    assert jobs == 0
    assert df.columns == ["metric", "ts", "value", "tags", "viz", "dt", "tag_host"]
    assert df.count() == 18


def test_bucketed_store_under_a_file_uri(spark, tmp_path):
    """Every store filesystem operation goes through the Hadoop
    FileSystem: a bucketed store named by a ``file://`` URI records its
    layout, takes puts (with their meta side-writes), answers queries,
    drops expired partitions, ages off the catalog and compacts."""
    import time

    from timely_spark.api import ALL_AUTHS, TimelyEngine

    now = int(time.time() * 1000)  # queries age off against the wall clock
    root = tmp_path / "uri"
    uri = f"file://{root}"
    eng = TimelyEngine(spark, store_path=uri, bucket_metrics=2, default_ttl_ms=10 * DAY)
    eng.put_lines([f"put old.m {now - 30 * DAY + i} 1.0 host=h1" for i in range(3)])
    for half in range(2):  # two appends: two files per live partition
        eng.put_lines([f"put m{k} {now - (2 * i + half) * 1000} {float(i)} host=h{i % 2}"
                       for k in range(3) for i in range(10)])
    assert PointStore(spark, str(root)).layout == {"bucket_metrics": 2}
    assert eng.suggest("old") == ["old.m"]
    req = {"start": now - 60_000, "end": now, "msResolution": True,
           "queries": [{"aggregator": "sum", "metric": "m1", "downsample": "5s-avg",
                        "tags": {"host": "h1"}}]}
    before = eng.query(req, auths=ALL_AUTHS)
    assert before and before[0]["dps"]

    doomed = eng.run_retention(now_ms=now)
    assert doomed and all(p.startswith(uri) and "/dt=" in p for p in doomed)
    assert not any(os.path.exists(p[len("file://"):]) for p in doomed)
    assert eng.suggest("old") == []  # the catalog aged off too

    def files_per_partition():
        return sorted(
            len([n for n in names if n.endswith(".parquet")])
            for d, _, names in os.walk(root)
            if os.path.basename(d).startswith("dt=")
        )

    assert max(files_per_partition()) == 2
    eng.compact()
    assert set(files_per_partition()) == {1}
    assert eng.query(req, auths=ALL_AUTHS) == before
    assert TimelyEngine(spark, store_path=uri).store.bucket_metrics == 2


def test_store_survives_a_failed_swap(spark, tmp_path, monkeypatch):
    """Compaction swaps its rewrite in through ``fsutil.replace_dir``: if
    moving the rewrite into place fails, the previous contents are back
    at the store's path and nothing is left parked."""
    import timely_spark.sources.store as st
    from timely_spark.fsutil import replace_dir, sidecar_delete

    path = str(tmp_path / "s")
    b = 1_447_767_913_000
    for batch in range(2):
        write_points(parse_lines_df(spark.createDataFrame(
            [(f"put m {b + batch * 1000 + i} 1.0 host=h1",) for i in range(5)], ["value"]
        )), path, bucket_metrics=2)
    before = sorted(read_points(spark, path).collect())

    def failing_swap(spark_, tmp, target):
        sidecar_delete(spark_, tmp)  # the rewrite is gone: tmp -> target fails
        replace_dir(spark_, tmp, target)

    monkeypatch.setattr(st, "replace_dir", failing_swap)
    with pytest.raises(Exception):
        PointStore(spark, path).compact()
    assert sorted(read_points(spark, path).collect()) == before
    assert PointStore(spark, path).layout == {"bucket_metrics": 2}
    assert not os.path.exists(path + "__old")
