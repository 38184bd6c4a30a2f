"""The driver-resident meta catalog (sources/catalog.py).

``TimelyEngine.suggest``, ``metrics``, ``lookup`` and the visibility
lookups read the catalog; ``operators.meta.suggest`` and ``metrics_dump``
over ``TimelyEngine.meta()`` (and, for lookup, a Spark ``rlike`` over it)
are the Spark references they must equal with no tolerance. Also pinned:
the job counts (no job without new files or after this engine's own put,
one job for files another engine wrote, one per lookup),
freshness across two engines on one store, a put racing the meta
age-off, and concurrent puts and suggests over HTTP against a serial
replay.
"""

import json
import os
import sys
import threading
import urllib.parse
import urllib.request

import pytest

from timely_spark.api import TimelyEngine
from timely_spark.fsutil import data_file_lister
from timely_spark.http_facade import TimelyHttpServer
from timely_spark.operators.meta import metrics_dump, suggest
from timely_spark.sources.catalog import MetaCatalog

B = 1_447_767_913_000

# upper/lower case and non-ASCII names: Spark orders strings by UTF-8
# bytes, Python by code point, and the two orders agree
LINES = [
    f"put sys.cpu.user {B} 1.0 host=web01 rack=r1",
    f"put sys.cpu.user {B + 1000} 2.0 host=Web02 rack=r1",
    f"put sys.cpu.idle {B} 3.0 host=web01 Rack=R2",
    f"put Sys.CPU.user {B} 4.0 host=db01",
    f"put mé.trïc {B} 5.0 hôst=é rack=ß",
    f"put mé.trïc {B + 2000} 6.0 hôst=z rack=Ω",
    f"put 日本.load {B} 7.0 host=東京 host2=ａ",
    f"put bare {B} 8.0",
    f"put bare {B + 3000} 9.0",
]


def _jobs(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory):
    eng = TimelyEngine(spark, store_path=str(tmp_path_factory.mktemp("catalog") / "m"))
    # two puts: the fold spans more than one _meta file
    eng.put_lines(LINES[:4])
    eng.put_lines(LINES[4:])
    # a quote and a backslash, which the line protocol would unescape
    eng.put_json([{"metric": "sys.cpu.idle", "timestamp": B, "value": 3.5, "tags": {"host": "a'b\\c"}}])
    return eng


def test_suggest_parity_with_the_spark_operator(engine):
    meta = engine.meta().cache()
    metrics = ["sys.cpu.user", "Sys.CPU.user", "mé.trïc", "日本.load", "bare"]
    cases = [("metrics", q, None) for q in ("", "sys", "cpu", "CPU", "é", ".", "nope")]
    cases += [("tagk", q, None) for q in ("", *metrics, "nope")]
    cases += [
        ("tagv", m, t)
        for m in ("", *metrics)
        for t in (None, "host", "hôst", "rack", "Rack", "nope")
    ]
    cases += [("bogus", "sys", None), ("TAGK", "bare", None)]
    try:
        for kind, q, tag in cases:
            for max_results in (-1, 0, 1, 25):
                want = [
                    r["suggestion"]
                    for r in suggest(meta, q, kind, max_results, tag=tag).collect()
                ]
                got = engine.suggest(q, kind, max_results, tag=tag)
                assert got == want, (kind, q, tag, max_results)
    finally:
        meta.unpersist()
    # the cases above reach past the trivial answers
    assert engine.suggest("", "metrics", -1) == [
        "Sys.CPU.user", "bare", "mé.trïc", "sys.cpu.idle", "sys.cpu.user", "日本.load",
    ]
    assert engine.suggest("mé.trïc", "tagv", -1, tag="rack") == ["ß", "Ω"]
    assert engine.suggest("日本.load", "tagk", -1) == ["host", "host2"]


def test_fold_equals_the_spark_fold(engine):
    """The folded (metric, tag_key, tag_value) -> last_seen map is the
    groupBy/max that ``meta()`` computes."""
    want = {
        (r["metric"], r["tag_key"], r["tag_value"]): r["last_seen"]
        for r in engine.meta().collect()
    }
    assert engine.catalog.last_seen() == want
    assert want[("mé.trïc", "rack", "Ω")] == B + 2000


def test_metrics_match_the_spark_operator(engine):
    """``/api/metrics`` from the fold lists each metric's (key, value)
    pairs in the order ``metrics_dump`` gives their ``key=value``
    strings; a tagless metric has none."""
    for ignored in (None, ["rack"], ["host", "host2", "hôst", "rack", "Rack"]):
        got = [
            (m["metric"], [f"{t['key']}={t['value']}" for t in m["tags"]])
            for m in engine.metrics(ignored)
        ]
        want = [(r["metric"], r["tags"]) for r in metrics_dump(engine.meta(), ignored).collect()]
        assert got == want, ignored
    assert engine.metrics()[0] == {"metric": "Sys.CPU.user", "tags": [{"key": "host", "value": "db01"}]}
    assert {"metric": "bare", "tags": []} in engine.metrics()


def test_tagk_on_a_tagless_metric_is_empty(engine):
    """build_meta keeps a tagless metric as a (metric, null, null) row;
    neither path may suggest the null."""
    assert engine.suggest("bare", "tagk") == []
    assert [r[0] for r in suggest(engine.meta(), "bare", "tagk").collect()] == []
    assert engine.suggest("bare", "metrics") == ["bare"]


def test_lookup_runs_no_job_and_matches_a_spark_reference(spark, engine):
    """``TimelyEngine.lookup`` over a folded catalog runs NO Spark job,
    and its entries and total are, with no tolerance, the distinct
    ``(tag_key, tag_value)`` rows of ``meta()`` that Spark's ``rlike``
    (Java regex, anchored) and ``orderBy`` select: an OR across the
    requested keys, every entry (a tagless metric's null one too) when
    no tag is given."""
    from pyspark.sql import functions as F

    engine.catalog.last_seen()  # fold every _meta file first

    cases = [
        ("sys.cpu.user", {"host": ".*"}),
        ("sys.cpu.user", {"host": "[wW]eb\\d+", "rack": "r1"}),
        ("sys.cpu.idle", {"Rack": "R2|nope", "host": "web"}),
        ("sys.cpu.idle", {"host": "a'b\\\\c|w.*"}),
        ("mé.trïc", {"rack": "\\p{L}", "hôst": "é"}),
        ("日本.load", {}),
        ("bare", {}),
        ("bare", {"host": ".*"}),
        ("nope", {"host": ".*"}),
    ]
    for i, (metric, tags) in enumerate(cases):
        m = engine.meta().filter(F.col("metric") == metric)
        if tags:
            pred = None
            for k, v in tags.items():
                clause = (F.col("tag_key") == k) & F.col("tag_value").rlike(f"^(?:{v})$")
                pred = clause if pred is None else (pred | clause)
            m = m.filter(pred)
        want = [
            {"tags": {r["tag_key"]: r["tag_value"]}}
            for r in m.select("tag_key", "tag_value").distinct().orderBy("tag_key", "tag_value").collect()
        ]
        for limit in (0, 1, 25):
            res, jobs = _jobs(spark, f"lookup-{i}-{limit}", lambda: engine.lookup(metric, tags, limit))
            assert jobs == 0, (metric, tags)
            assert (res["totalResults"], res["results"]) == (len(want), want[:limit]), (metric, tags)
    assert engine.lookup("bare")["results"] == [{"tags": {None: None}}]
    assert engine.lookup("mé.trïc", {"rack": "\\p{L}"})["results"] == [
        {"tags": {"rack": "ß"}}, {"tags": {"rack": "Ω"}},
    ]
    assert engine.lookup("sys.cpu.idle", {"host": "a'b\\\\c"})["results"] == [{"tags": {"host": "a'b\\c"}}]
    # a negative limit is refused (a slice would silently drop the tail)
    with pytest.raises(ValueError):
        engine.lookup("sys.cpu.user", {}, -1)


def test_reads_run_a_job_only_for_new_files(spark, tmp_path):
    eng = TimelyEngine(spark, store_path=str(tmp_path / "m"))
    assert eng.suggest("", "metrics") == []  # no _meta yet: no job, no error
    eng.put_lines([f"put a.b {B} 1.0 host=h1 viz=X"])
    out, jobs = _jobs(spark, "catalog-first", lambda: eng.suggest("a", "metrics"))
    assert (out, jobs) == (["a.b"], 1)
    out, jobs = _jobs(spark, "catalog-warm", lambda: eng.suggest("a.b", "tagv", tag="host"))
    assert (out, jobs) == (["h1"], 0)
    eng.put_lines([f"put a.b {B + 1000} 1.0 host=h2"])
    # the put handed its own _meta file to the catalog
    out, jobs = _jobs(spark, "catalog-own", lambda: eng.suggest("a.b", "tagv", tag="host"))
    assert (out, jobs) == (["h1", "h2"], 0)
    # a file another engine wrote is new to this catalog
    TimelyEngine(spark, store_path=str(tmp_path / "m")).put_lines([f"put a.b {B + 2000} 1.0 host=h3"])
    out, jobs = _jobs(spark, "catalog-new", lambda: eng.suggest("a.b", "tagv", tag="host"))
    assert (out, jobs) == (["h1", "h2", "h3"], 1)
    # the second put's side-write already folded the X file
    assert _jobs(spark, "catalog-viz", eng.catalog.viz) == ({"X"}, 0)


@pytest.mark.parametrize("hot", [False, True], ids=["tier_off", "tier_on"])
def test_first_suggest_after_a_put_runs_no_job(spark, tmp_path, hot):
    """A put writes its _meta rows as one file it names and folds the
    same rows into the catalog, so suggest reads nothing back; the file
    it published is the one the catalog lists as folded."""
    eng = TimelyEngine(spark, store_path=str(tmp_path / "m"))
    if hot:
        eng.enable_hot_cache(window_ms=60_000)
    eng.put_lines([f"put p.q {B} 1.0 host=h0"])
    assert eng.suggest("p", "metrics") == ["p.q"]
    for i in range(1, 3):
        eng.put_json([
            {"metric": "p.q", "timestamp": B + i, "value": 1.0, "tags": {"host": f"h{i}"}},
            {"metric": f"bare{i}", "timestamp": B + i, "value": 1.0},
        ])
        out, jobs = _jobs(spark, f"first-suggest-{hot}-{i}", lambda: (
            eng.suggest("p.q", "tagv", -1, tag="host"), eng.suggest("bare", "metrics", -1)))
        assert out == ([f"h{j}" for j in range(i + 1)], [f"bare{j}" for j in range(1, i + 1)])
        assert jobs == 0
    files = data_file_lister(spark, eng.meta_path)()
    assert eng.catalog._meta._state[0] == files and len(files) == 3
    assert [f for f in os.listdir(eng.meta_path) if f.startswith("_")] == []
    assert eng.catalog.last_seen() == {
        (r["metric"], r["tag_key"], r["tag_value"]): r["last_seen"] for r in eng.meta().collect()
    }


def test_lister_skips_hidden_files_and_missing_dirs(spark, tmp_path):
    d = tmp_path / "dir"
    assert data_file_lister(spark, str(d))() is None
    d.mkdir()
    for name in ("part-0.parquet", "_SUCCESS", ".part-0.parquet.crc", "a,b c.parquet"):
        (d / name).write_bytes(b"")
    (d / "_temporary").mkdir()
    listed = data_file_lister(spark, str(d))()
    assert sorted(p.rsplit("/", 1)[-1] for p in listed) == ["a,b c.parquet", "part-0.parquet"]


def test_rewritten_directory_folds_from_scratch(spark, tmp_path):
    """A folded file that disappears (retention/compaction rewrote the
    directory) drops what only it held."""
    meta, viz = str(tmp_path / "meta"), str(tmp_path / "viz")
    cat = MetaCatalog(spark, meta, viz)
    spark.createDataFrame([("m", "k", "old", 1)], "metric string, tag_key string, tag_value string, last_seen long").write.parquet(meta)
    assert cat.suggest("m", "tagv", tag="k") == ["old"]
    assert cat.viz() is None  # no _viz directory: unknown, not empty
    spark.createDataFrame([("m", "k", "new", 2)], "metric string, tag_key string, tag_value string, last_seen long").write.mode("overwrite").parquet(meta)
    assert cat.suggest("m", "tagv", tag="k") == ["new"]
    spark.createDataFrame([], "viz string").coalesce(1).write.parquet(viz)
    assert cat.viz() == frozenset()


def test_second_engine_writes_are_seen(spark, tmp_path):
    """Engine B adds a metric under a new visibility label; engine A,
    whose catalog is already warm, sees both in suggest and query."""
    store = str(tmp_path / "m")
    a = TimelyEngine(spark, store_path=store)
    a.put_lines([f"put old.m {B} 1.0 host=h1 viz=OPS"])
    q = {
        "start": B - 1000,
        "end": B + 60_000,
        "msResolution": True,
        "queries": [{"aggregator": "sum", "metric": "new.m", "tags": {}}],
    }
    assert a.suggest("", "metrics") == ["old.m"]
    assert a.query(q, auths={"OPS", "SEC"}) == []  # warms the viz catalog
    b = TimelyEngine(spark, store_path=store)
    b.put_lines([f"put new.m {B + 1000} 5.0 host=h2 viz=SEC"])
    assert a.suggest("", "metrics") == ["new.m", "old.m"]
    out = a.query(q, auths={"OPS", "SEC"})
    assert [s["dps"] for s in out] == [{str(B + 1000): 5.0}]
    assert out == TimelyEngine(spark, store_path=store).query(q, auths={"OPS", "SEC"})


def test_a_put_during_the_meta_age_off_keeps_its_metric(spark, tmp_path, monkeypatch):
    """A put that runs while ``run_retention`` is between the age-off's
    read and its swap waits for the swap, so the swap cannot drop the
    put's ``_meta`` file: the metric stays in suggest on this engine and
    on a fresh one."""
    import timely_spark.api as api
    from timely_spark.sources import catalog

    store = str(tmp_path / "m")
    eng = TimelyEngine(spark, store_path=store)
    eng.put_lines([f"put old.m {B} 1.0 host=h1"])
    assert eng.suggest("", "metrics") == ["old.m"]
    stored = threading.Event()
    write_points, swap = api.write_points, catalog.replace_dir

    def write_then_signal(*a, **k):
        write_points(*a, **k)
        stored.set()

    putter = threading.Thread(target=eng.put_lines, args=([f"put new.m {B + 1000} 2.0 host=h2"],))

    def put_then_swap(*a):
        putter.start()
        assert stored.wait(120)
        # room for an unguarded side-write to land before the swap; with
        # turns, the put waits for the swap instead
        putter.join(timeout=5)
        swap(*a)

    monkeypatch.setattr(api, "write_points", write_then_signal)
    monkeypatch.setattr(catalog, "replace_dir", put_then_swap)
    eng.run_retention(now_ms=B + 2000)
    putter.join(timeout=120)
    assert not putter.is_alive()
    assert eng.suggest("", "metrics") == ["new.m", "old.m"]
    assert TimelyEngine(spark, store_path=store).suggest("", "metrics") == ["new.m", "old.m"]
    assert eng.store.read().count() == 2


def _get(base: str, params: dict) -> list:
    url = f"{base}/api/suggest?{urllib.parse.urlencode(params)}"
    with urllib.request.urlopen(url, timeout=120) as r:
        return json.loads(r.read())


def _put(base: str, body: list) -> None:
    req = urllib.request.Request(
        f"{base}/api/put", data=json.dumps(body).encode(),
        headers={"Content-Type": "application/json"}, method="POST",
    )
    with urllib.request.urlopen(req, timeout=120) as r:
        assert r.status == 200


def test_concurrent_puts_and_suggests_match_a_serial_replay(spark, tmp_path):
    """One client puts while three others suggest over HTTP. Every
    answer must be the serial replay's answer after some number of puts,
    that number never goes back within one client, and the putter reads
    its own writes."""
    n_puts = 4

    def body(j):
        return [
            {"metric": f"c.m{j}", "timestamp": B + j, "value": 1.0, "tags": {"host": f"h{j}"}},
            {"metric": "c.shared", "timestamp": B + j, "value": 1.0, "tags": {"host": f"s{j}"}},
        ]

    asks = [
        {"type": "metrics", "m": "c.", "max": "-1"},
        {"type": "tagv", "m": "c.shared", "t": "host", "max": "-1"},
        {"type": "tagk", "m": f"c.m{n_puts}", "max": "-1"},
    ]
    replay = TimelyEngine(spark, store_path=str(tmp_path / "replay"))
    want = []  # want[j][a]: answer to asks[a] after puts 0..j
    for j in range(n_puts + 1):
        replay.put_json(body(j))
        want.append([
            [r[0] for r in suggest(replay.meta(), a["m"], a["type"], -1, tag=a.get("t")).collect()]
            for a in asks
        ])
    assert want[0] != want[-1]

    eng = TimelyEngine(spark, store_path=str(tmp_path / "live"))
    eng.put_json(body(0))
    srv = TimelyHttpServer(eng).start()
    base = srv.base_url
    done = threading.Event()
    errors: list = []

    def putter():
        try:
            for j in range(1, n_puts + 1):
                _put(base, body(j))
                got = [_get(base, a) for a in asks]
                assert got == want[j], (j, got)
        except Exception as e:  # reported by the main thread
            errors.append(e)
        finally:
            done.set()

    def suggester(k):
        try:
            seen = [0] * len(asks)
            while True:
                last = done.is_set()
                for a, ask in enumerate(asks):
                    got = _get(base, ask)
                    states = [j for j in range(n_puts + 1) if want[j][a] == got]
                    assert states, (k, ask, got)
                    assert max(states) >= seen[a], (k, ask, got, seen[a])
                    seen[a] = min(j for j in states if j >= seen[a])
                if last:
                    assert [_get(base, a) for a in asks] == want[-1]
                    return
        except Exception as e:
            errors.append(e)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=putter)]
        threads += [threading.Thread(target=suggester, args=(k,)) for k in range(3)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=600)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(interval)
        srv.stop()
    assert not errors, errors
    assert eng.suggest("c.", "metrics", -1) == want[-1][0]
