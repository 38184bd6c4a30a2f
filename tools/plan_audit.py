#!/usr/bin/env python3
"""Physical-plan audit: for every driver query, count the plan features
that matter at 100 TB (shuffles, broadcasts, scans, Python stages)
and write PLAN_AUDIT.md. Run after changing any query or operator:

    python tools/plan_audit.py [sf_dir]
    python tools/plan_audit.py --engine [sf_dir] [--dump plans/r14 after]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def audit_plan(df) -> dict:
    plan = df._jdf.queryExecution().executedPlan().toString()
    # AQE leaves the initial plan; fall back to explain string for counts
    simple = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    ) if hasattr(df._sc._jvm, "PythonSQLUtils") else plan
    text = simple or plan
    # count numbered detail headers only — formatted output prints every
    # operator twice (tree + detail block)
    return {
        "exchanges": len(re.findall(r"\(\d+\) Exchange\b", text)),
        "broadcasts": len(re.findall(r"\(\d+\) BroadcastExchange", text)),
        "scans": len(re.findall(r"\(\d+\) Scan parquet", text)),
        "python": len(re.findall(r"\(\d+\) (?:MapInPandas|ArrowEvalPython|FlatMapGroupsInPandas)", text)),
    }


def engine_plans(spark, sf_dir: str) -> dict:
    """The engine-path registry rows' requests as the ONE fused plan
    ``TimelyEngine.query`` / ``query_rollup`` collect (plans/response.fuse
    over the request's SubQuery frames), against a store built once.
    The registry rows collect OpenTSDB JSON and re-parallelize it, so
    the registry loop sees only the trivial createDataFrame."""
    from __spark_entry__ import _engine
    from timely_spark.api import ALL_AUTHS
    from timely_spark.plans.response import fuse
    from timely_spark.sources.hot_cache import HotCache

    with _engine(spark, sf_dir) as eng:
        store = eng.store.path

        def _req(metrics, ds, tags, rate=False, **extra):
            return {
                "start": 1,
                "msResolution": True,
                **extra,
                "queries": [
                    {"aggregator": "sum", "metric": m, "downsample": ds, "rate": rate, "tags": tags}
                    for m in metrics
                ],
            }

        out = {}

        def take(name, frames):
            # audit while the row's hot tier is still pinned
            df = fuse(frames)
            text = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
            out[name] = (audit_plan(df), text.replace(store, "<store>"))

        take("ts_engine_query", eng.query_frames(
            _req(["click"], "15m-avg", {"user": "1\\d"}, rate=True), auths=ALL_AUTHS
        ))
        rollup = _req(["click"], "1h-sum", {"user": ".*"}, end=4_000_000_199_999)
        rollup["queries"][0]["aggregator"] = "max"
        take("ts_engine_rollup", eng.query_rollup_frames(
            rollup, eng.build_rollup(level_ms=300_000), level_ms=300_000, auths=ALL_AUTHS
        ))
        eng.enable_hot_cache(window_ms=7 * 86_400_000)
        take("ts_hybrid_cache", eng.query_frames(
            _req(["view"], "1h-avg", {"user": "2\\d"}), auths=ALL_AUTHS
        ))
        # the same request over the last 3 days: inside the pinned window,
        # so the read is the window alone (no store scan)
        recent = _req(["view"], "1h-avg", {"user": "2\\d"})
        recent["start"] = eng._hot.newest_ts - 3 * 86_400_000
        take("ts_hybrid_cache_recent", eng.query_frames(recent, auths=ALL_AUTHS))
        eng._hot.close()
        eng.enable_hot_cache(
            window_ms=7 * 86_400_000, non_cached_metrics=("^view$",), max_unique_tag_sets=200
        )
        take("ts_cache_admission", eng.query_frames(
            _req(["view", "click"], "1h-avg", {"user": "3\\d"}), auths=ALL_AUTHS
        ))
        arch = store + "_cachearchive"
        eng._hot.archive(arch)
        restored = HotCache(spark)
        restored.restore(arch)
        eng.attach_hot_cache(restored)
        take("ts_cache_archive", eng.query_frames(
            _req(["error"], "1h-avg", {"user": "4\\d"}), auths=ALL_AUTHS
        ))
        eng._hot.close()
        return out


ENGINE_HEADER = [
    "engine-path plans (store built once; each row is the ONE fused plan",
    "`TimelyEngine.query` / `query_rollup` collects for the registry row's",
    "request — the registry rows above re-parallelize collected JSON, so",
    "their all-zero rows are the response shaping, not the engine plan):",
    "",
    "| engine plan | exch | bcast | scans | python |",
    "|---|---|---|---|---|",
]


def _row(name: str, a: dict) -> str:
    return f"| {name} | {a['exchanges']} | {a['broadcasts']} | {a['scans']} | {a['python']} |"


def main() -> int:
    """``plan_audit.py [sf_dir]`` regenerates the whole table;
    ``plan_audit.py --engine [sf_dir] [--dump DIR SUFFIX]`` refreshes only
    the engine-path rows (and writes each fused plan, formatted, to
    ``DIR/<row>_<SUFFIX>.txt``)."""
    args = sys.argv[1:]
    dump = None
    if "--dump" in args:
        i = args.index("--dump")
        dump, args = (args[i + 1], args[i + 2]), args[:i] + args[i + 3:]
    engine_only = "--engine" in args
    args = [a for a in args if a != "--engine"]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"

    from timely_spark.session import get_spark

    spark = get_spark("plan-audit")
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLAN_AUDIT.md")
    old = open(out).read() if os.path.exists(out) else ""

    try:
        engine = engine_plans(spark, sf_dir)
        engine_lines = ENGINE_HEADER + [_row(n, a) for n, (a, _) in engine.items()]
    except Exception as e:
        engine, engine_lines = {}, ENGINE_HEADER + [
            f"| engine-path audit error: {type(e).__name__}: {e} | | | | |"
        ]
    if dump:
        os.makedirs(dump[0], exist_ok=True)
        for name, (_, text) in engine.items():
            with open(os.path.join(dump[0], f"{name}_{dump[1]}.txt"), "w") as f:
                f.write(text)

    if engine_only:
        # splice the engine section into the existing file
        head = old[: old.index("engine-path plans")]
        tail = old[old.index("\n## "):]
        with open(out, "w") as f:
            f.write(head + "\n".join(engine_lines) + "\n" + tail)
        print(f"wrote engine rows of {out}")
        spark.stop()
        return 0

    import __spark_entry__ as entrymod

    lines = [
        "# PLAN_AUDIT — physical-plan features per driver query",
        "",
        f"Generated by `tools/plan_audit.py` on `{sf_dir}`. Columns:",
        "shuffle exchanges / broadcast exchanges / parquet scans / Python (Arrow) stages.",
        "",
        "| query | exch | bcast | scans | python |",
        "|---|---|---|---|---|",
    ]
    for name, fn in entrymod.queries().items():
        try:
            lines.append(_row(name, audit_plan(fn(spark, sf_dir))))
        except Exception as e:
            lines.append(f"| {name} | plan error: {type(e).__name__} | | | |")
    lines += [""] + engine_lines

    # regenerate the table but keep the hand-written notes sections
    # (everything from the first "## " heading on)
    i = old.find("\n## ")
    tail = old[i:] if i != -1 else ""
    with open(out, "w") as f:
        f.write("\n".join(lines) + "\n" + tail)
    print(f"wrote {out}")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
