#!/usr/bin/env python3
"""Serving benchmark: one closed-loop client drives an in-process
``TimelyHttpServer`` over a ``TimelyEngine``, the way Grafana panels and
a collector fleet use the OpenTSDB API.

    python3 perfbench/run.py --workload dashboard_recent --seed 1 --seconds 8 --trace 0

Run from the repository root. Each run is a fresh process with its own
working directory (store, ``_meta``, ``_viz``, warehouse, Spark and
temp files) under ``.perfbench_work/``, removed on exit. The last
stdout line is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` (end-to-end metrics with ``--trace 0``, per-layer
metrics with ``--trace 1``). ``perfbench/README.md`` describes the
workloads, the metrics and which layer moves which end-to-end figure.
"""

from __future__ import annotations

import argparse
import gzip
import http.client
import itertools
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import time
import urllib.parse
from decimal import Decimal

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_CPUS = "3"  # local[3] plus the client thread fill a 4-CPU host
# untimed units before measuring: the JIT, codegen, heap growth and first
# hot-tier fills (after one unit, latencies still fell by up to 30%)
WARMUP_UNITS = 2
# measured units at least, however slow the host, so every run takes its
# medians over the same mix of calls: 4 panels and 6 suggests, or 2 puts,
# 2 queries and 12 suggests
MIN_TIMED_UNITS = 2
MB = 1 << 20
OPS = ("query", "suggest", "put")


def process_start_s() -> float:
    """Wall-clock start of this process, so setup_s counts interpreter start."""
    try:
        with open("/proc/self/stat") as f:
            ticks = int(f.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as f:
            uptime = float(f.read().split()[0])
        return time.time() - uptime + ticks / os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError, IndexError):
        return time.time()


T_START = process_start_s()


def isolate(work: str) -> None:
    """Point every scratch location of Spark, the JVM and Python at the
    run's own directory, before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = SPARK_CPUS
    # PerfDisableSharedMem keeps the JVM's perf counters out of
    # /tmp/hsperfdata_*; the console progress bar is a terminal nicety
    # that polls the scheduler from its own thread, and a server has no
    # terminal
    java_opts = shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:+PerfDisableSharedMem")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options {java_opts} "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )


class Client:
    """A keep-alive HTTP/1.1 client; every call is timed end to end."""

    def __init__(self, host: str, port: int):
        self.conn = http.client.HTTPConnection(host, port, timeout=170)

    def call(self, method: str, path: str, body=None) -> dict:
        data = None if body is None else json.dumps(body).encode()
        headers = {"Accept-Encoding": "gzip", "Content-Type": "application/json"}
        t0 = time.perf_counter()
        self.conn.request(method, path, body=data, headers=headers)
        resp = self.conn.getresponse()
        raw = resp.read()
        t1 = time.perf_counter()
        if resp.getheader("Content-Encoding") == "gzip":
            raw = gzip.decompress(raw)
        return {"status": resp.status, "raw": raw, "t0": t0, "t1": t1, "ms": 1e3 * (t1 - t0)}


class Run:
    """One benchmark process: set-up, warm-up, measured loop, checks."""

    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.spark = self.server = self.tracer = None

    def setup(self) -> None:
        from fleet import BACKLOG_MINUTES, HELD_AUTH, HOT_WINDOW_MS, Fleet
        from timely_spark.api import TimelyEngine
        from timely_spark.http_facade import TimelyHttpServer
        from timely_spark.session import get_spark

        args, work = self.args, self.work
        self.fleet = Fleet(args.seed)
        self.samples: list[dict] = []  # every HTTP call, tagged with its phase
        self.acked: list[int] = []  # minutes the engine acknowledged
        self.cal: list[tuple[float, float]] = []
        self.spark = get_spark("perfbench", warehouse_dir=os.path.join(work, "warehouse"))
        self.t_spark = time.time()
        if args.trace:
            from tracer import Tracer

            self.tracer = Tracer(self.spark)
            self.tracer.install()
        self.store = os.path.join(work, "store")
        self.engine = TimelyEngine(self.spark, store_path=self.store)
        self.engine.enable_hot_cache(HOT_WINDOW_MS)
        # the backlog enters through the TCP flush path, so the meta and
        # viz catalogs are the engine's own
        lines = [self.fleet.line(p) for p in self.fleet.points(0, BACKLOG_MINUTES)]
        t0 = time.perf_counter()
        stored = self.engine.put_lines(lines)
        t1 = time.perf_counter()
        if stored != len(lines):
            raise RuntimeError(f"backlog: stored {stored} of {len(lines)} lines")
        self.acked.extend(range(BACKLOG_MINUTES))
        op = {"op": "put_lines", "points": stored}
        self.samples.append({"op": op, "phase": "backlog", "status": 200, "t0": t0, "t1": t1, "ms": 1e3 * (t1 - t0)})
        self.t_backlog = time.time()
        self.server = TimelyHttpServer(self.engine, auths={HELD_AUTH}).start()
        self.client = Client(self.server.host, self.server.port)

    # ---------------------------------------------------------- calls

    def execute(self, op: dict, phase: str) -> dict:
        if op["op"] == "query":
            s = self.client.call("POST", "/api/query", op["body"])
        elif op["op"] == "suggest":
            s = self.client.call("GET", "/api/suggest?" + urllib.parse.urlencode(op["params"]))
        else:
            s = self.client.call("POST", "/api/put", self.fleet.put_body(op["minute"]))
            if s["status"] == 200:
                self.acked.append(op["minute"])
        s.update(op=op, phase=phase)
        self.samples.append(s)
        return s

    def calibrate(self, phase: str) -> None:
        """Fixed host probe with no engine code: a narrow Spark job and a
        Python loop. Reported as host.* only, never used to correct."""
        t0 = time.perf_counter()
        self.spark.range(0, 4_000_000, 1, 1).selectExpr("sum(id * 7 % 13)").collect()
        t1 = time.perf_counter()
        sum(i * i % 7 for i in range(400_000))
        if phase == "timed":
            self.cal.append((t1 - t0, time.perf_counter() - t1))

    def units(self):
        """The workload's endless stream of units: a dashboard load
        (panels, then template-variable suggests) or an ingest cycle
        (put, query, suggest)."""
        from fleet import dashboard_loads, ingest_cycle

        if self.args.workload == "dashboard_recent":
            return dashboard_loads(self.fleet)
        return (ingest_cycle(k) for k in itertools.count())

    def measure(self) -> None:
        """Run the warm-up units, then whole measured units until
        ``--seconds`` have passed and at least ``MIN_TIMED_UNITS`` are
        done, so every run has the same mix of calls. A calibration probe
        follows every unit, warm-up included, so the measured phase keeps
        the warm-up's rhythm."""
        warm = WARMUP_UNITS
        queries = 0
        for n, ops in enumerate(self.units()):
            if n == warm:
                self.t_ready = time.time()
                self.stat0 = _cpu_times()
                t_end = time.perf_counter() + self.args.seconds
            phase = "timed" if n >= warm else "warmup"
            for op in ops:
                # the traced run leaves every other measured query
                # untraced, so trace.overhead_frac compares like with like
                traced = self.tracer is None or op["op"] != "query" or phase == "warmup" or queries % 2 == 0
                queries += op["op"] == "query" and phase == "timed"
                if self.tracer is not None:
                    (self.tracer.install if traced else self.tracer.uninstall)()
                self.execute(op, phase)["traced"] = traced
            self.calibrate(phase)
            if n + 1 - warm >= MIN_TIMED_UNITS and time.perf_counter() >= t_end:
                break
        if self.tracer is not None:
            self.tracer.uninstall()
        self.stat1 = _cpu_times()

    # ---------------------------------------------------------- checks

    def verify(self) -> int:
        """Check every response; return how many calls failed."""
        from oracle import Oracle

        oracle = Oracle(self.fleet, [p for m in sorted(self.acked) for p in self.fleet.minute(m)])
        failed = 0
        for s in self.samples:
            op = s["op"]
            if s["status"] != 200:
                err = f"HTTP {s['status']} {s['raw'][:200]!r}"
            elif op["op"] == "query":
                err = oracle.check_query(op["body"], json.loads(s["raw"]))
            elif op["op"] == "suggest":
                err = oracle.check_suggest(op["params"], json.loads(s["raw"]))
            else:
                err = None
            if err:
                failed += 1
                print(f"perfbench: {op['op']} failed: {err}", file=sys.stderr)
        return failed

    def durability(self) -> bool:
        """A fresh engine on the same paths reads back exactly the
        acknowledged points: per-metric count and exact decimal sum."""
        from pyspark.sql import functions as F

        from timely_spark.api import TimelyEngine

        fresh = TimelyEngine(self.spark, store_path=self.store)
        rows = (
            fresh.points()
            .groupBy("metric")
            .agg(F.count("*").alias("n"), F.sum(F.col("value").cast("decimal(38,4)")).alias("s"))
            .collect()
        )
        got = {r["metric"]: (r["n"], Decimal(r["s"])) for r in rows}
        want: dict[str, tuple[int, Decimal]] = {}
        for m in self.acked:
            for metric, _, v, _ in self.fleet.minute(m):
                n, total = want.get(metric, (0, Decimal(0)))
                want[metric] = (n + 1, total + Decimal(v))
        if got != want:
            print(f"perfbench: durability: read back {got}, acknowledged {want}", file=sys.stderr)
        return got == want

    # --------------------------------------------------------- figures

    def disk(self) -> dict:
        """Bytes and Parquet files under the store, _meta and _viz."""
        out = {"bytes": 0}
        for key, root in (("store", self.store), ("meta", self.engine.meta_path), ("viz", self.engine._viz_path)):
            out[key] = 0
            for d, _, names in os.walk(root):
                for name in names:
                    out["bytes"] += os.path.getsize(os.path.join(d, name))
                    out[key] += name.endswith(".parquet")
        return out

    def points_stored(self) -> int:
        return sum(len(self.fleet.minute(m)) for m in self.acked)

    def _lat(self, op: str, **match) -> list[float]:
        return [
            s["ms"] for s in self.samples
            if s["op"]["op"] == op and all(s.get(k) == v for k, v in match.items())
        ]

    def _puts(self) -> list[dict]:
        """The write samples: the timed HTTP puts, or for a read-only
        workload its backlog batch through the TCP flush path."""
        timed = [s for s in self.samples if s["op"]["op"] == "put" and s["phase"] == "timed"]
        return timed or [s for s in self.samples if s["phase"] == "backlog"]

    def end_to_end(self, ok_frac: float) -> dict:
        queries = self._lat("query", phase="timed")
        timed = [s["ms"] for s in self.samples if s["phase"] == "timed"]
        puts = self._puts()
        put_points = sum(s["op"].get("points") or len(self.fleet.minute(s["op"]["minute"])) for s in puts)
        return {
            "setup_s": (self.t_ready - T_START, "s"),
            "query_p50_ms": (statistics.median(queries), "ms"),
            "query_p90_ms": (_p90(queries), "ms"),
            "query_per_s": (len(queries) / (sum(timed) / 1e3), "1/s"),
            "suggest_p50_ms": (statistics.median(self._lat("suggest", phase="timed")), "ms"),
            "put_p50_ms": (statistics.median(s["ms"] for s in puts), "ms"),
            "points_per_s": (put_points / (sum(s["ms"] for s in puts) / 1e3), "1/s"),
            "store_bytes_per_point": (self.disk()["bytes"] / self.points_stored(), "B"),
            "ok_frac": (ok_frac, "1"),
        }

    def per_layer(self) -> dict:
        recs = self.tracer.requests()
        # attribute each traced request to the client call that carried it
        for r in recs:
            s = next((s for s in self.samples if s["t0"] <= r["t0"] and r["t1"] <= s["t1"]), None)
            r["phase"] = s["phase"] if s else "setup"
            r["client_ms"] = s["ms"] if s else r["ms"]
        name = f"{self.args.workload}-seed{self.args.seed}.json"
        self.tracer.write(os.path.join(os.getcwd(), ".perfbench_traces", name), recs)
        q = [r for r in recs if r["op"] == "api.query" and r["phase"] == "timed"]
        g = [r for r in recs if r["op"] == "api.suggest" and r["phase"] == "timed"]
        http_puts = [r for r in recs if r["op"] == "api.put" and r["phase"] == "timed"]
        bulk = next(r for r in recs if r["op"] == "api.put_lines")
        p = http_puts or [bulk]  # the same write samples as put_p50_ms

        def med(rs, key, scale=1.0):
            return _median([r.get(key, 0) * scale for r in rs])

        for r in q:
            r["shape_ms"] = r.get("response_ms", 0) - r.get("spark.collect_ms", 0)
            r["driver_ms"] = r.get("spark.collect_ms", 0) - r["stage_wall_ms"]
        # one unit's wall, from the per-class medians of the timed calls
        first_unit = next(self.units())
        cycle_ms = sum(_median(self._lat(op["op"], phase="timed")) for op in first_unit)
        traced = _median(self._lat("query", phase="timed", traced=True))
        untraced = _median(self._lat("query", phase="timed", traced=False))
        disk = self.disk()
        jvm = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        storage = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        busy = [b - a for a, b in zip(self.stat0, self.stat1)]
        return {
            "http_facade.overhead_ms": (_median([r["client_ms"] - r["ms"] for r in q + g + http_puts]), "ms"),
            "api.query_ms": (med(q, "ms"), "ms"),
            "api.put_ms": (med(p, "ms"), "ms"),
            "api.suggest_ms": (med(g, "ms"), "ms"),
            "request.parse_ms": (med(q, "request.parse_ms"), "ms"),
            "builder.build_ms": (med(q, "builder.build_ms"), "ms"),
            "builder.py4j_calls": (med(q, "builder.build_py4j"), "count"),
            "response.ms": (med(q, "response_ms"), "ms"),
            "response.collect_ms": (med(q, "spark.collect_ms"), "ms"),
            "response.shape_ms": (med(q, "shape_ms"), "ms"),
            "response.rows": (med(q, "spark.collect_n"), "count"),
            "response.series": (med(q, "response_n"), "count"),
            "spark.jobs": (med(q, "jobs"), "count"),
            "spark.stages": (med(q, "stages"), "count"),
            "spark.tasks": (med(q, "tasks"), "count"),
            "spark.stage_wall_ms": (med(q, "stage_wall_ms"), "ms"),
            "spark.driver_ms": (med(q, "driver_ms"), "ms"),
            "spark.run_ms": (med(q, "run_ms"), "ms"),
            "spark.cpu_ms": (med(q, "cpu_ms"), "ms"),
            "spark.input_mb": (med(q, "input_bytes", 1 / MB), "MB"),
            "spark.input_records": (med(q, "input_records"), "count"),
            "spark.shuffle_mb": (med(q, "shuffle_bytes", 1 / MB), "MB"),
            "spark.spill_mb": (med(q, "spill_bytes", 1 / MB), "MB"),
            "store.list_ms": (med(q, "store.read_ms"), "ms"),
            "store.files": (disk["store"], "count"),
            "store.write_ms": (med(p, "store.write_ms"), "ms"),
            "setup.write_ms": (bulk.get("store.write_ms", 0), "ms"),
            "hot_cache.refresh_ms": (med(p, "hot_cache.refresh_ms"), "ms"),
            "hot_cache.cold_records": (med(q, "cold_rows"), "count"),
            "hot_cache.hot_records": (med(q, "hot_rows"), "count"),
            "hot_cache.cached_mb": (sum(i.memSize() for i in storage) / MB, "MB"),
            "meta.files": (disk["meta"], "count"),
            "cycle_ms": (cycle_ms, "ms"),
            "python.rss_peak_mb": (_vm_hwm_kb("self") / 1024, "MB"),
            "jvm.rss_peak_mb": (_vm_hwm_kb(jvm) / 1024, "MB"),
            "host.cal_ms": (_median([1e3 * (a + b) for a, b in self.cal]), "ms"),
            "host.steal_frac": (busy[7] / sum(busy[:8]), "1"),
            "trace.overhead_frac": (traced / untraced - 1 if untraced else 0.0, "1"),
        }

    def close(self) -> None:
        from pyspark import SparkContext

        if self.server is not None:
            self.client.conn.close()
            self.server.stop()
        gateway = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
            proc = gateway.proc
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def _median(xs) -> float:
    """Median of a per-layer series; 0 when the run produced no sample."""
    return statistics.median(xs) if xs else 0.0


def _p90(xs) -> float:
    return statistics.quantiles(xs, n=10, method="inclusive")[8] if len(xs) > 1 else xs[0]


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _vm_hwm_kb(pid) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def main(argv=None) -> int:
    from fleet import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    parent = os.path.join(os.getcwd(), ".perfbench_work")
    work = os.path.join(parent, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    run = None
    try:
        isolate(work)
        sys.path.insert(0, REPO)
        try:
            import duckdb  # noqa: F401

            import timely_spark.http_facade  # noqa: F401
        except ImportError as e:
            print(f"perfbench: the engine is not importable from {REPO}: {e}", file=sys.stderr)
            return 2
        run = Run(args, work)
        run.setup()
        run.measure()
        failed = run.verify()
        attempted = len(run.samples)
        if args.workload == "ingest_mixed":  # the durability check counts as one more call
            attempted += 1
            failed += not run.durability()
        if args.trace:
            metrics = run.per_layer()
        else:
            metrics = run.end_to_end(1 - failed / attempted)
    finally:
        if run is not None:
            run.close()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(parent)
        except OSError:
            pass
    timed = {op: [round(ms) for ms in run._lat(op, phase="timed")] for op in OPS}
    cal = [round(1e3 * (a + b)) for a, b in run.cal]
    phases = [round(t - T_START, 1) for t in (run.t_spark, run.t_backlog, run.t_ready)]
    print(f"perfbench {args.workload} seed={args.seed}: set-up s (spark, backlog, warm-up) {phases}, timed ms {timed}, calibration ms {cal}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
