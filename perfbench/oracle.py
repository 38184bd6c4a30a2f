"""Reference answers for the benchmark's correctness gate.

Query responses are recomputed in DuckDB from the generated points, with
the semantics the registry oracle (``__spark_entry__.oracle_sql``) uses
for the engine rows: filter by time, metric, tags and visibility first;
then the per-series counter rate over consecutive points; then the
start-aligned downsample per series; then the cross-series combine on
the queried tag keys (one aggregation when both aggregators agree).
Aggregators render through ``ORACLE_AGG_SQL``, the engine's own DuckDB
renderings.
"""

from __future__ import annotations

import math
import re

import duckdb
import pyarrow as pa

from timely_spark.operators.aggregators import ORACLE_AGG_SQL

from fleet import HELD_AUTH, HOSTS, METRICS, host_name, rack_name

_UNIT_MS = {"s": 1000, "m": 60_000, "h": 3_600_000, "d": 86_400_000}
TAG_COLS = ("host", "rack")


def _period_ms(downsample: str) -> tuple[int, str]:
    m = re.fullmatch(r"(\d+)([smhd])-(\w+)", downsample)
    if m is None:
        raise ValueError(f"unsupported downsample {downsample!r}")
    return int(m.group(1)) * _UNIT_MS[m.group(2)], m.group(3)


def _lit(v: str) -> str:
    return "'" + v.replace("'", "''") + "'"


class Oracle:
    def __init__(self, fleet, points):
        """``points``: the acknowledged (metric, ts, value text, host) rows."""
        self.con = duckdb.connect()
        self.con.register(
            "pts",
            pa.table(
                {
                    "metric": [p[0] for p in points],
                    "ts": pa.array([p[1] for p in points], pa.int64()),
                    "value": [float(p[2]) for p in points],
                    "host": [host_name(p[3]) for p in points],
                    "rack": [rack_name(p[3]) for p in points],
                    "viz": [fleet.viz.get(p[3]) for p in points],
                }
            ),
        )

    def subquery_sql(self, sq: dict, start: int, end: int) -> tuple[str, list[str]]:
        period, ds_agg = _period_ms(sq["downsample"])
        start -= start % period
        where = [
            f"metric = {_lit(sq['metric'])}",
            f"ts BETWEEN {start} AND {end}",
            f"(viz IS NULL OR viz = {_lit(HELD_AUTH)})",
        ]
        for k, v in sq.get("tags", {}).items():
            if k not in TAG_COLS:
                raise ValueError(f"unknown tag key {k!r}")
            if v in ("*", ".*"):
                where.append(f"{k} IS NOT NULL")
            elif re.fullmatch(r"\w+", v) is None:
                where.append(f"regexp_full_match({k}, {_lit(v)})")
            else:
                where.append(f"{k} = {_lit(v)}")
        series = ", ".join(TAG_COLS)
        src = f"SELECT {series}, ts, value FROM pts WHERE {' AND '.join(where)}"
        if sq.get("rate"):
            opts = sq.get("rateOptions", {})
            dv = "value - lag(value) OVER w"
            if opts.get("counter"):
                wrap = float(opts["counterMax"]) if opts.get("counterMax") else "lag(value) OVER w"
                dv = f"CASE WHEN {dv} < 0 THEN {dv} + {wrap} ELSE {dv} END"
            src = (
                f"SELECT * FROM (SELECT {series}, ts, "
                f"({dv}) / (ts - lag(ts) OVER w) * {float(period)} AS value "
                f"FROM ({src}) WINDOW w AS (PARTITION BY {series} ORDER BY ts)) "
                "WHERE value IS NOT NULL"
            )
        keys = sorted(sq.get("tags", {}))
        bucket = f"ts - ts % {period}"
        agg = sq["aggregator"]
        if ds_agg == agg:
            sql = (
                f"SELECT {', '.join(keys + [bucket])} AS b, "
                f"{ORACLE_AGG_SQL[agg].format(c='value')} AS v FROM ({src}) "
                f"GROUP BY ALL"
            )
        else:
            sql = (
                f"SELECT {', '.join(keys + ['b'])}, {ORACLE_AGG_SQL[agg].format(c='v')} AS v "
                f"FROM (SELECT {series}, {bucket} AS b, "
                f"{ORACLE_AGG_SQL[ds_agg].format(c='value')} AS v FROM ({src}) "
                f"GROUP BY ALL) GROUP BY ALL"
            )
        return sql, keys

    def expected(self, body: dict) -> list[dict[tuple, dict[int, float]]]:
        """Per SubQuery: {projected tag values: {bucket ms: value}}."""
        out = []
        for sq in body["queries"]:
            sql, keys = self.subquery_sql(sq, body["start"], body["end"])
            series: dict[tuple, dict[int, float]] = {}
            for row in self.con.execute(sql).fetchall():
                series.setdefault(tuple(row[: len(keys)]), {})[row[-2]] = row[-1]
            out.append(series)
        return out

    def check_query(self, body: dict, response: list[dict]) -> str | None:
        """None when ``response`` matches, else a one-line reason."""
        want: dict[tuple, dict[int, float]] = {}
        for sq, series in zip(body["queries"], self.expected(body)):
            for key, dps in series.items():
                want[(sq["metric"], key)] = dps
        got: dict[tuple, dict[int, float]] = {}
        for s in response:
            sq = next((q for q in body["queries"] if q["metric"] == s["metric"]), None)
            if sq is None:
                return f"unexpected metric {s['metric']!r}"
            key = (s["metric"], tuple(s["tags"].get(k) for k in sorted(sq.get("tags", {}))))
            if key in got:
                return f"duplicate series {key}"
            got[key] = {int(t): v for t, v in s["dps"].items()}
        if got.keys() != want.keys():
            return f"series differ: got {sorted(got)[:4]}, want {sorted(want)[:4]}"
        for key, dps in want.items():
            if got[key].keys() != dps.keys():
                return f"buckets differ for {key}"
            for t, v in dps.items():
                if not math.isclose(got[key][t], v, rel_tol=1e-9, abs_tol=1e-9):
                    return f"value differs for {key} at {t}: {got[key][t]} != {v}"
        return None

    @staticmethod
    def check_suggest(params: dict, response: list[str]) -> str | None:
        """Suggest ignores visibility, so every name the fleet writes shows."""
        kind = params["type"]
        if kind == "metrics":
            want = sorted(m for m, _ in METRICS)
        elif kind == "tagk":
            want = sorted(TAG_COLS)
        else:
            want = sorted(host_name(h) for h in range(HOSTS))
        want = want[: int(params["max"])]
        return None if response == want else f"suggest {kind} got {response[:4]}, want {want[:4]}"
