"""Layer spans for the traced run (``--trace 1``).

The engine is not instrumented; the tracer wraps the public functions of
each module where their caller looks the name up (``api.py`` imports
``run_query``, ``to_query_response``, ``read_points`` and
``write_points`` by name, so those are patched on ``timely_spark.api``).
Wrappers exist only while installed: the untraced run never installs
them, and the traced run leaves every other measured query untraced so
the cost of tracing can be read off its own figures.

Spans live in memory and are summarised after the measured phase, when
the tracer also walks each query's executed plan (hot vs cold rows) and
reads each request's Spark job group back from the status store, which
keeps its per-stage metrics with the UI off.
"""

from __future__ import annotations

import itertools
import json
import os
import threading
import time

import py4j.java_gateway
import py4j.protocol
from pyspark.sql.classic.dataframe import DataFrame

import timely_spark.api as api
from timely_spark.plans.request import QueryRequest
from timely_spark.sources.hot_cache import HotCache

ROOTS = {"query": "api.query", "put_json": "api.put", "suggest": "api.suggest", "put_lines": "api.put_lines"}


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.plans: list[tuple[str, object]] = []  # (request id, Java Dataset) per query collect
        self.py4j_calls = 0
        self._local = threading.local()
        self._ids = itertools.count()
        self._patches = []
        for attr, name in ROOTS.items():
            self._patch(api.TimelyEngine, attr, name, root=True)
        self._patch(api, "run_query", "builder.build", count_py4j=True)
        self._patch(api, "to_query_response", "response", sized=True)
        self._patch(api, "read_points", "store.read")
        self._patch(api, "write_points", "store.write")
        self._patch(HotCache, "refresh", "hot_cache.refresh")
        self._patch(DataFrame, "collect", "spark.collect", sized=True, keep_plan=True)
        self._patch_classmethod(QueryRequest, "from_dict", "request.parse")
        original = py4j.java_gateway.JavaMember.__call__

        def counted(member, *args):
            self.py4j_calls += 1
            return original(member, *args)

        self._patches.append((py4j.java_gateway.JavaMember, "__call__", original, counted))

    # ---------------------------------------------------------- patching

    def _patch(self, owner, attr, name, **kw):
        original = getattr(owner, attr)
        self._patches.append((owner, attr, original, self._wrap(original, name, **kw)))

    def _patch_classmethod(self, owner, attr, name):
        raw = owner.__dict__[attr]
        wrapped = self._wrap(getattr(owner, attr), name)
        self._patches.append((owner, attr, raw, staticmethod(wrapped)))

    def install(self) -> None:
        for owner, attr, _, wrapper in self._patches:
            setattr(owner, attr, wrapper)

    def uninstall(self) -> None:
        for owner, attr, original, _ in self._patches:
            setattr(owner, attr, original)

    def _wrap(self, fn, name, root=False, count_py4j=False, sized=False, keep_plan=False):
        tracer = self

        def traced(*args, **kwargs):
            stack = tracer._stack()
            if not root and not stack:
                return fn(*args, **kwargs)  # outside any request: not attributed
            span = {"name": name, "id": next(tracer._ids)}
            span["req"] = stack[0]["id"] if stack else span["id"]
            span["parent"] = stack[-1]["id"] if stack else None
            if root:
                tracer.sc.setJobGroup(f"req-{span['id']}", name)
            stack.append(span)
            calls0 = tracer.py4j_calls
            span["t0"] = time.perf_counter()
            try:
                out = fn(*args, **kwargs)
            finally:
                span["t1"] = time.perf_counter()
                stack.pop()
                if root:
                    tracer.sc.setLocalProperty("spark.jobGroup.id", None)
                tracer.spans.append(span)
            if count_py4j:
                span["py4j"] = tracer.py4j_calls - calls0
            if sized:
                span["n"] = len(out)
            if keep_plan and stack[0]["name"] == "api.query":
                tracer.plans.append((span["req"], args[0]._jdf))
            return out

        return traced

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    # ------------------------------------------------------- harvesting

    def requests(self) -> list[dict]:
        """One record per traced request: its root span plus the summed
        time and counts of its child layers and Spark jobs."""
        try:
            self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        except py4j.protocol.Py4JError:
            time.sleep(1.0)
        by_req: dict[int, dict] = {}
        for s in self.spans:
            if s["parent"] is None:
                by_req[s["id"]] = {"op": s["name"], "t0": s["t0"], "t1": s["t1"], "ms": 1e3 * (s["t1"] - s["t0"])}
        for s in self.spans:
            rec = by_req.get(s["req"])
            if rec is None or s["parent"] is None:
                continue
            rec[s["name"] + "_ms"] = rec.get(s["name"] + "_ms", 0.0) + 1e3 * (s["t1"] - s["t0"])
            for key in ("py4j", "n"):
                if key in s:
                    rec[f"{s['name']}_{key}"] = rec.get(f"{s['name']}_{key}", 0) + s[key]
        for req, jdf in self.plans:
            rows = _scan_rows(jdf.queryExecution().executedPlan())
            rec = by_req[req]
            rec["cold_rows"] = rec.get("cold_rows", 0) + rows["cold"]
            rec["hot_rows"] = rec.get("hot_rows", 0) + rows["hot"]
        for req, rec in by_req.items():
            rec.update(self._spark_metrics(f"req-{req}"))
        return list(by_req.values())

    def write(self, path: str, requests: list[dict]) -> None:
        """Write the raw spans and the per-request records as one JSON file."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "requests": requests}, f)

    def _spark_metrics(self, group: str) -> dict:
        store = self.sc._jsc.sc().statusStore()
        out = dict.fromkeys(
            ("jobs", "stages", "tasks", "run_ms", "cpu_ms", "input_bytes", "input_records",
             "shuffle_bytes", "spill_bytes"), 0)
        spans, seen = [], set()
        for job in self.sc.statusTracker().getJobIdsForGroup(group):
            out["jobs"] += 1
            ids = store.job(job).stageIds()
            for i in range(ids.size()):
                if ids.apply(i) in seen:
                    continue
                seen.add(ids.apply(i))
                attempts = store.stageData(ids.apply(i), False, None, False, None)
                for a in range(attempts.size()):
                    st = attempts.apply(a)
                    if st.status().toString() != "COMPLETE":
                        continue  # skipped: its output came from an earlier stage
                    out["stages"] += 1
                    out["tasks"] += st.numTasks()
                    out["run_ms"] += st.executorRunTime()
                    out["cpu_ms"] += st.executorCpuTime() / 1e6
                    out["input_bytes"] += st.inputBytes()
                    out["input_records"] += st.inputRecords()
                    out["shuffle_bytes"] += st.shuffleReadBytes()
                    out["spill_bytes"] += st.diskBytesSpilled()
                    spans.append((st.submissionTime().get().getTime(), st.completionTime().get().getTime()))
        out["stage_wall_ms"] = _union_ms(spans)
        return out


def _union_ms(intervals) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def _scan_rows(plan) -> dict:
    """Rows the executed plan read from Parquet files (cold) and from the
    cached hot window, from the scan nodes' own SQL metrics."""
    rows = {"cold": 0, "hot": 0}

    def walk(node):
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            return walk(node.finalPhysicalPlan())
        if "QueryStage" in name:
            return walk(node.plan())
        kind = "cold" if name.startswith("Scan parquet") else "hot" if name == "InMemoryTableScan" else None
        if kind:
            rows[kind] += node.metrics().apply("numOutputRows").value()
        children = node.children()
        for i in range(children.size()):
            walk(children.apply(i))

    walk(plan)
    return rows
