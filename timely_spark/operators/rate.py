"""Rate (first derivative) with counter semantics.

Reference: server/.../sample/iterators/RateIterator.java:23-108 — per
series, over consecutive point pairs:

    rate = (v2 - v1) / (t2 - t1) * interval_ms

- default ``interval`` = the downsample period, else 1000 ms
  (DataStore.java:713-721);
- counter mode: when v2 < v1 the counter wrapped — add ``counterMax``
  (or, when counterMax unset, the previous value v1) to the delta;
- if the resulting rate exceeds ``resetValue`` (>0), emit 0.

Spark shape: ``lag`` over ``PARTITION BY series ORDER BY ts`` —
one shuffle on series id; with the store partitioned by (metric, day)
and sorted within partitions by (series, ts), AQE turns this into a
mostly local sort at scale. The first point of each series produces no
output row (no previous pair), matching the iterator.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..model import series_id_sql


@dataclass
class RateOptions:
    counter: bool = False
    counter_max: int | None = None
    reset_value: int = 0
    # None = "not set": defaults to the downsample period when one exists,
    # else 1000 ms (DataStore.java:713-721)
    interval_ms: int | None = None

    @classmethod
    def from_dict(cls, d: dict | None) -> "RateOptions":
        d = d or {}
        interval = d.get("interval")
        interval_ms: int | None
        if isinstance(interval, str):
            import re

            from ..parse import _UNIT_MS

            m = re.match(r"^(\d+)(ms|s|m|h|d)$", interval)
            interval_ms = int(m.group(1)) * _UNIT_MS[m.group(2)] if m else None
        else:
            interval_ms = int(interval) if interval else None
        return cls(
            counter=bool(d.get("counter", False)),
            counter_max=d.get("counterMax"),
            reset_value=int(d.get("resetValue", 0) or 0),
            interval_ms=interval_ms,
        )


def _double(x: float) -> str:
    """A double literal in SQL text (bare decimals parse as DECIMAL)."""
    return f"CAST('{float(x)!r}' AS DOUBLE)"


def rate(
    df: DataFrame,
    options: RateOptions | None = None,
    ts_col: str = "ts",
    value_col: str = "value",
    series_col: str | None = None,
) -> DataFrame:
    """Replace ``value`` with its per-series rate; drops each series' first point.

    ``series_col``: name of a MATERIALIZED series-key column to window on
    instead of the computed ``series_id()`` expression. When the input is
    a series-bucketed table (store.write_points_bucketed), windowing on
    the stored column lets the bucketed scan satisfy the window's
    distribution — the Exchange disappears from the plan entirely.

    The stage is rendered as SQL text, so building it costs two py4j
    calls whatever the options.
    """
    opt = options or RateOptions()
    key = series_col or series_id_sql()
    w = f"OVER (PARTITION BY {key} ORDER BY {ts_col})"
    dt = f"CAST({ts_col} - lag({ts_col}) {w} AS DOUBLE)"
    dv = f"({value_col} - lag({value_col}) {w})"

    if opt.counter:
        # RateIterator.java:60-82: on decrease, add counterMax (or prev
        # value). The unset test is maxCounter > 0 (RateIterator.java:79),
        # NOT presence: the Grafana backend always marshals counterMax
        # (int32 zero-value, grafana/timely-datasource/backend/types.go:59),
        # so 0 must mean "no max" here too.
        wrap_add = (
            _double(opt.counter_max)
            if opt.counter_max is not None and opt.counter_max > 0
            else f"lag({value_col}) {w}"
        )
        dv = f"CASE WHEN {dv} < 0 THEN {dv} + {wrap_add} ELSE {dv} END"

    interval = _double(opt.interval_ms if opt.interval_ms is not None else 1000)
    # RateIterator.java:93-95: equal-timestamp pairs emit 0.0, not a dropped
    # row (and the explicit branch is ANSI-safe — no divide-by-zero NULL).
    # A missing prev (series' first point) keeps dt NULL -> NULL -> dropped.
    r = f"CASE WHEN {dt} = 0 THEN {_double(0)} ELSE {dv} / {dt} * {interval} END"

    if opt.counter and opt.reset_value > 0:
        # RateIterator.java:101-104: only a rate EXCEEDING resetValue clamps
        # to 0 — signed compare; a large negative post-wrap rate passes through
        r = f"CASE WHEN {r} > {_double(opt.reset_value)} THEN {_double(0)} ELSE {r} END"
    return df.withColumn(value_col, F.expr(r)).filter(f"{value_col} IS NOT NULL")
