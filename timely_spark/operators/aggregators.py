"""The aggregator registry — Timely's six aggregators as SQL expressions.

Reference: server/.../sample/Aggregator.java:9-59 and
server/.../sample/aggregators/{Avg,Sum,Min,Max,Count,Dev}.java; the
advertised set is ["avg","dev","max","min","sum","count","none"]
(AggregatorsResponse.java:53-62).

All are built-in Catalyst expressions — partial/final merge, spill and
codegen come for free, replacing the reference's hand-written
``Aggregation.merge`` partial-combine (Aggregation.java:85-96).

``dev`` quirk (Dev.java:8-19): Timely returns ``sqrt(Σx² / (n-1))`` with
NO mean subtraction — an RMS-like quantity, deliberately NOT
``stddev_samp``. We reproduce it exactly.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Spark SQL text per aggregator, ``{c}`` the input column. The engine
# renders its aggregation stages as SQL text (one parse per expression
# instead of a Column-builder py4j exchange per node).
AGGREGATORS: dict[str, str] = {
    "avg": "avg({c})",
    "sum": "sum({c})",
    "min": "min({c})",
    "max": "max({c})",
    "count": "count({c})",
    # Dev.java:8-19 — sqrt(sum(x^2) / (count-1)); count==1 -> division by
    # zero in Java yields Infinity; we emit NULL instead and document it.
    "dev": "CASE WHEN count({c}) > 1 THEN sqrt(sum({c} * {c}) / (count({c}) - 1)) ELSE NULL END",
}

# The same aggregators over rollup partials, ``{c}`` a
# ``struct<n, vsum, vmin, vmax>`` column: the partial merge of
# Aggregation.java:85-96 (re-accumulate raw sums and counts), read from
# storage instead of computed. ``vsum`` is decimal, so sum and avg are
# exact whatever the merge order; the keys are the aggregators a rollup
# can answer.
MERGE_AGGREGATORS: dict[str, str] = {
    "avg": "CAST(sum({c}.vsum) / sum({c}.n) AS DOUBLE)",
    "sum": "CAST(sum({c}.vsum) AS DOUBLE)",
    "min": "min({c}.vmin)",
    "max": "max({c}.vmax)",
    "count": "CAST(sum({c}.n) AS DOUBLE)",
}

ADVERTISED = ["avg", "dev", "max", "min", "sum", "count", "none"]  # AggregatorsResponse.java:53-62


def agg_sql(name: str, col: str = "value", table: dict[str, str] = AGGREGATORS) -> str:
    """SQL text of aggregator ``name`` over column ``col``, from
    ``table`` (:data:`AGGREGATORS` over points, :data:`MERGE_AGGREGATORS`
    over rollup partials)."""
    try:
        template = table[name.lower()]
    except KeyError:
        raise ValueError(f"unknown aggregator {name!r}; known: {ADVERTISED}") from None
    return template.format(c=col)


def agg_expr(name: str, col: str = "value") -> Column:
    return F.expr(agg_sql(name, col))


# DuckDB-SQL renderings of the same aggregators, for oracle generation.
ORACLE_AGG_SQL: dict[str, str] = {
    "avg": "avg({c})",
    "sum": "sum({c})",
    "min": "min({c})",
    "max": "max({c})",
    "count": "count({c})",
    "dev": "CASE WHEN count({c}) > 1 THEN sqrt(sum({c}*{c})/(count({c})-1)) END",
}
