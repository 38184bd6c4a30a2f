"""The hot tier maintained by appends (sources/hot_cache.py).

A put hands its checkpointed batch to ``HotCache.append``; the window is
the union of pinned segments filtered at the cut. Pinned here:

- no-tolerance parity: an engine with the tier on answers every request
  byte-identically to a tier-off engine that took the same puts, over
  the four store layouts, late rows, expiry, merges, admission
  (regex and tag-set budget), default visibility, blocklist and tag
  strips;
- the window's schema is the store read's, metadata included; a put
  calls ``read_points`` 0 times; a put whose store write raises leaves
  the window as it was; a put that fails after its store write still
  answers as the tier-off engine does;
- a put releases its batch pin (tier off) or hands it to a segment that
  releases it on retirement (tier on);
- leases: a frame built before a merging put still collects after it;
  concurrent HTTP putters and a querier match a serial replay.
"""

import json
import threading
import urllib.request

import pytest

import timely_spark.api as api
from timely_spark.api import TimelyEngine
from timely_spark.http_facade import TimelyHttpServer

B = 1_447_767_913_000
MIN = 60_000
WINDOW = 10 * MIN

LAYOUTS = {
    "flat": {},
    "promoted": {"promote_tags": ["host"]},
    "bucketed": {"bucket_metrics": 3},
    "series": {"series_table": "hot_append_series"},
}
# ingest rules both engines apply before the store write
INGEST = {
    "default_visibility": "PUB",
    "metric_blocklist": ["blocked"],
    "tag_strips": {"cpu": ["junk"]},
}
ADMISSION = {"non_cached_metrics": ("^rej",), "max_unique_tag_sets": 6}


def _minute(m: int) -> list[dict]:
    """One minute of points at :30 s. ``cpu``: 4 hosts, h0 labelled OPS,
    the rest take the default visibility, a ``junk`` tag to strip;
    ``rej.x``: regex-rejected under ADMISSION; ``noisy``: 3 tag sets
    before minute 20, then a new one each minute (evicted by the
    6-tag-set budget once the window holds 7); ``blocked``: dropped."""
    ts = B + m * MIN + 30_000
    pts = []
    for h in range(4):
        tags = {"host": f"h{h}", "junk": "x"}
        if h == 0:
            tags["viz"] = "OPS"
        pts.append({"metric": "cpu", "timestamp": ts, "value": ((m * 7 + h * 3) % 64) / 8, "tags": tags})
    pts.append({"metric": "rej.x", "timestamp": ts, "value": float(m % 5), "tags": {"host": "h0"}})
    noisy = f"n{m % 3}" if m < 20 else f"n{m}"
    pts.append({"metric": "noisy", "timestamp": ts, "value": float(m % 3), "tags": {"host": noisy}})
    pts.append({"metric": "blocked", "timestamp": ts, "value": 1.0, "tags": {"host": "h0"}})
    return pts


# (minutes put, minute the requests end at): a backlog (the tier-on
# engine finds no window and rebuilds it), appends that merge, late
# rows older than the cut, a wholly late batch, a jump that expires
# every segment, merges
STEPS = [
    (range(0, 20), 19),
    ([20], 20),
    ([21], 21),
    ([22], 22),
    ([23, 3, 4], 23),  # minutes 3 and 4 are below the cut (13.5)
    ([24], 24),
    ([5, 6], 24),  # wholly below the cut (14.5): no segment
    ([40], 40),  # cut 30.5: every earlier segment expires
    ([41], 41),
    ([42], 42),
]


def _requests(m: int) -> list[tuple[dict, set]]:
    recent = {
        "start": B + (m - 5) * MIN, "end": B + (m + 1) * MIN, "msResolution": True,
        "queries": [
            {"metric": "cpu", "aggregator": "sum", "downsample": "1m-sum", "tags": {"host": "*"}},
            {"metric": "noisy", "aggregator": "count", "downsample": "1m-count", "tags": {}},
        ],
    }
    span = {
        "start": B, "end": B + (m + 1) * MIN, "msResolution": True,
        "queries": [
            {"metric": "cpu", "aggregator": "avg", "downsample": "5m-avg", "tags": {}},
            {"metric": "rej.x", "aggregator": "sum", "downsample": "1m-sum", "tags": {"host": "*"}},
            {"metric": "noisy", "aggregator": "max", "downsample": "2m-max", "tags": {"host": "*"}},
            {"metric": "blocked", "aggregator": "sum", "tags": {}},
        ],
    }
    return [(recent, {"OPS", "PUB"}), (span, {"PUB"})]


def _window_rows(hot) -> list[str]:
    return sorted(map(repr, hot._window.frame.collect()))


def _persisted(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


@pytest.mark.parametrize("layout", list(LAYOUTS))
def test_appends_match_a_tier_off_engine(spark, tmp_path, monkeypatch, layout):
    opts = LAYOUTS[layout]
    tables = []

    def engine(name, **hot):
        kw = dict(opts)
        if "series_table" in kw:
            kw["series_table"] = f"{kw['series_table']}_{name}"
            tables.append(kw["series_table"])
            spark.sql(f"DROP TABLE IF EXISTS {kw['series_table']}")
        eng = TimelyEngine(spark, store_path=str(tmp_path / name), **INGEST, **kw)
        if name != "off":
            eng.enable_hot_cache(window_ms=WINDOW, **hot)
        return eng

    off = engine("off")
    hots = {"plain": engine("plain")}
    if layout == "flat":
        hots["admission"] = engine("admission", **ADMISSION)
    reads = []
    real_read, real_write = api.read_points, api.write_points

    def counted(*a, **k):
        reads.append(a)
        return real_read(*a, **k)

    # the other layouts differ only in the read shape: the backlog, a
    # first append, a merge, late rows and expiry cover it
    steps = STEPS if layout == "flat" else [STEPS[k] for k in (0, 1, 2, 4, 7)]
    try:
        for i, (minutes, now) in enumerate(steps):
            batch = [p for m in minutes for p in _minute(m)]
            off.put_json(batch)
            for name, eng in hots.items():
                if i == 0:
                    eng.put_json(batch)  # no window yet: the full rebuild
                    continue
                hot = eng._hot
                held = hot._window.segments
                monkeypatch.setattr(api, "read_points", counted)
                eng.put_json(batch)
                monkeypatch.setattr(api, "read_points", real_read)
                assert reads == [], (name, i)
                if max(minutes) * MIN + WINDOW < now * MIN:  # wholly late
                    assert hot._window.segments == held, (name, i)
                assert hot._window.frame.schema == eng.store.read().schema, (name, i)
                assert len(hot._window.segments) <= 4, (name, i)
            for req, auths in _requests(now):
                want = json.dumps(off.query(req, auths=auths))
                assert json.loads(want), (i, req)
                for name, eng in hots.items():
                    assert json.dumps(eng.query(req, auths=auths)) == want, (name, i, req)
            if now == 22:
                # a put whose store write raises leaves the window as it was
                # and releases its batch
                def boom(*a, **k):
                    raise RuntimeError("store write failed")

                for eng in hots.values():
                    hot = eng._hot
                    before = (_window_rows(hot), hot._window.cut, hot.newest_ts, hot._evicted)
                    pinned = _persisted(spark)
                    monkeypatch.setattr(api, "write_points", boom)
                    with pytest.raises(RuntimeError, match="store write failed"):
                        eng.put_json(_minute(30))
                    monkeypatch.setattr(api, "write_points", real_write)
                    assert (_window_rows(hot), hot._window.cut, hot.newest_ts, hot._evicted) == before
                    assert _persisted(spark) == pinned
            if now == 40:
                for eng in hots.values():  # only the new batch is left
                    assert len(eng._hot._window.segments) == 1
        if "admission" in hots:
            assert hots["admission"]._hot._evicted == ["noisy"]
    finally:
        for eng in hots.values():
            eng._hot.close()
        for t in tables:
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_a_put_failing_after_its_store_write_keeps_parity(spark, tmp_path, monkeypatch):
    """Once the batch is in the store, the window must show it too, or
    queries past the cut miss its rows. A put that raises after its store
    write (a side write, the append) drops the window, and the next put
    rebuilds it from the store."""
    from timely_spark.sources.catalog import MetaCatalog
    from timely_spark.sources.hot_cache import HotCache

    off = TimelyEngine(spark, store_path=str(tmp_path / "off"))
    on = TimelyEngine(spark, store_path=str(tmp_path / "on"))
    backlog = [p for m in range(10) for p in _minute(m)]
    off.put_json(backlog)
    on.put_json(backlog)
    on.enable_hot_cache(window_ms=WINDOW)

    def boom(*a, **k):
        raise RuntimeError("injected")

    def same(now):
        for req, auths in _requests(now):
            assert json.dumps(on.query(req, auths=auths)) == json.dumps(off.query(req, auths=auths)), (now, req)

    try:
        m = 10
        for target, name in ((MetaCatalog, "record"), (HotCache, "append")):
            for eng in (off, on):
                eng.put_json(_minute(m))  # appends to the rebuilt window
            assert on._hot._window.frame is not None
            monkeypatch.setattr(target, name, boom)
            for eng in (off, on) if name == "record" else (on,):
                with pytest.raises(RuntimeError, match="injected"):
                    eng.put_json(_minute(m + 1))
            monkeypatch.undo()
            if name == "append":
                off.put_json(_minute(m + 1))
            same(m + 1)
            assert on._hot._window.frame is None, name
            for eng in (off, on):  # no window: this put rebuilds it
                eng.put_json(_minute(m + 2))
            assert on._hot._window.frame is not None
            same(m + 2)
            m += 3
    finally:
        on._hot.close()


@pytest.mark.parametrize("hot", [False, True], ids=["tier_off", "tier_on"])
def test_puts_do_not_leak_batch_pins(spark, tmp_path, hot):
    """Each put pins its batch. With the tier off the put releases it;
    with the tier on the pin lives as long as its segment. Puts 5
    minutes apart under a 1-minute window expire every older segment,
    so the window holds one segment after each put."""
    eng = TimelyEngine(spark, store_path=str(tmp_path / "m"))
    eng.put_json(_minute(0))
    if hot:
        eng.enable_hot_cache(window_ms=MIN)
    try:
        eng.put_json(_minute(5))
        after_one = _persisted(spark)
        for i in range(2, 21):
            eng.put_json(_minute(5 * i))
        assert _persisted(spark) == after_one
        if hot:
            assert len(eng._hot._window.segments) == 1
    finally:
        if hot:
            eng._hot.close()


def test_a_frame_outlives_the_merge_that_retires_its_segments(spark, tmp_path):
    """A frame built under a lease still collects, unchanged, after a put
    merges away a segment it reads; that segment's pin is released when
    the lease ends. A frame handed out without a lease also still
    collects: its pins are left to Spark's ContextCleaner."""
    eng = TimelyEngine(spark, store_path=str(tmp_path / "m"))
    eng.put_json([p for m in range(10) for p in _minute(m)])
    eng.enable_hot_cache(window_ms=WINDOW)
    hot = eng._hot
    request = {  # past the cut: the window alone
        "start": B + 5 * MIN, "end": B + 20 * MIN, "msResolution": True,
        "queries": [{"metric": "cpu", "aggregator": "sum", "downsample": "1m-sum", "tags": {"host": "*"}}],
    }

    def rows(frame):
        return sorted(map(repr, frame.collect()))

    try:
        eng.put_json(_minute(10))  # the rebuilt window, then one batch segment
        with hot.lease():
            frame = eng.query_frames(request, auths={"OPS", "PUB"})[0]
            before = rows(frame)
            seg, pinned = hot._window.segments[-1], _persisted(spark)
            eng.put_json(_minute(11))  # equal batch sizes: 10 and 11 merge
            assert seg not in hot._window.segments
            # the merged pin is new; the retired batch 10 is still held
            assert _persisted(spark) == pinned + 1
            assert rows(frame) == before
        assert _persisted(spark) == pinned
        frame = eng.query_frames(request, auths={"OPS", "PUB"})[0]
        before = rows(frame)
        eng.put_json(_minute(12))
        eng.put_json(_minute(13))  # 12 and 13 merge, then the pair with 10-11
        assert len(hot._window.segments) == 2
        assert rows(frame) == before
    finally:
        hot.close()


def _http(base: str, path: str, body) -> list:
    req = urllib.request.Request(
        base + path, data=json.dumps(body).encode(),
        headers={"Content-Type": "application/json"}, method="POST",
    )
    with urllib.request.urlopen(req, timeout=120) as r:
        return json.loads(r.read() or b"null")


def test_concurrent_putters_and_a_querier_match_a_serial_replay(spark, tmp_path):
    """Three HTTP putters on disjoint minutes and one querier share one
    engine with the tier on. Each putter writes its own series, so any
    answer must show every putter's series as the serial replay shows
    it after some prefix of that putter's puts, a prefix that never
    shrinks for the querier; the final answers are the replay's."""
    n_putters, n_puts = 3, 4

    def body(p, j):
        ts = B + (20 + j * n_putters + p) * MIN + 30_000
        return [{"metric": "c.all", "timestamp": ts, "value": float(k + j),
                 "tags": {"host": f"p{p}", "k": f"k{k}"}} for k in range(3)]

    def series(resp) -> dict:
        return {s["tags"]["host"]: s["dps"] for s in resp}

    request = {
        "start": B, "end": B + 60 * MIN, "msResolution": True,
        "queries": [{"metric": "c.all", "aggregator": "sum", "downsample": "1m-sum", "tags": {"host": "*"}}],
    }
    backlog = [{"metric": "c.all", "timestamp": B + m * MIN, "value": 1.0, "tags": {"host": f"p{p}", "k": "k0"}}
               for m in range(20) for p in range(n_putters)]
    replay = TimelyEngine(spark, store_path=str(tmp_path / "replay"))
    replay.put_json(backlog)
    want = {f"p{p}": [series(replay.query(request))[f"p{p}"]] for p in range(n_putters)}
    for p in range(n_putters):
        for j in range(n_puts):
            replay.put_json(body(p, j))
            want[f"p{p}"].append(series(replay.query(request))[f"p{p}"])
    final = replay.query(request)

    eng = TimelyEngine(spark, store_path=str(tmp_path / "live"))
    eng.put_json(backlog)
    pinned = _persisted(spark)
    eng.enable_hot_cache(window_ms=60 * MIN)
    srv = TimelyHttpServer(eng).start()
    done = threading.Event()
    errors: list = []

    def putter(p):
        try:
            for j in range(n_puts):
                _http(srv.base_url, "/api/put", body(p, j))
        except Exception as e:  # reported by the main thread
            errors.append(e)

    def querier():
        try:
            seen = dict.fromkeys(want, 0)
            while True:
                last = done.is_set()
                got = series(_http(srv.base_url, "/api/query", request))
                assert sorted(got) == sorted(want), got
                for host, dps in got.items():
                    states = [j for j, w in enumerate(want[host]) if w == dps and j >= seen[host]]
                    assert states, (host, dps, seen[host])
                    seen[host] = states[0]
                if last:
                    return
        except Exception as e:
            errors.append(e)

    try:
        threads = [threading.Thread(target=putter, args=(p,)) for p in range(n_putters)]
        q = threading.Thread(target=querier)
        q.start()
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=600)
        done.set()
        q.join(timeout=600)
        assert not any(t.is_alive() for t in (*threads, q))
        assert not errors, errors
        assert _http(srv.base_url, "/api/query", request) == final
        # every live segment holds one pin; retired ones were released
        assert _persisted(spark) - pinned == len(eng._hot._window.segments)
    finally:
        srv.stop()
        eng._hot.close()
