"""The point data model and adapters onto the driver testdata.

Timely's fundamental record is a *Metric*: name + tags + (timestamp-ms,
double value), with an optional ``viz`` visibility expression carried as a
reserved tag (reference: common/src/main/java/timely/model/Metric.java:25-36,
Value.java:15-20, accumulo/MetricAdapter.java:44).

Spark mapping (SURVEY.md §1.4): one DataFrame

    metric: string, ts: long (epoch ms), value: double,
    tags: map<string,string>, viz: string (nullable)

Series identity = (metric, exact tag set) — reproduced with
``groupBy("metric", "tags")`` on the map column, or the canonical
``series_id`` column for window functions (map columns can't be
partition keys of a window spec).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

VISIBILITY_TAG = "viz"  # MetricAdapter.java:44

METRIC_SCHEMA = T.StructType(
    [
        T.StructField("metric", T.StringType(), False),
        T.StructField("ts", T.LongType(), False),  # epoch milliseconds (Value.java:40-46)
        T.StructField("value", T.DoubleType(), False),
        T.StructField("tags", T.MapType(T.StringType(), T.StringType()), False),
        T.StructField("viz", T.StringType(), True),
    ]
)

META_SCHEMA = T.StructType(
    [
        T.StructField("metric", T.StringType(), False),
        T.StructField("tag_key", T.StringType(), False),
        T.StructField("tag_value", T.StringType(), False),
        T.StructField("last_seen", T.LongType(), False),  # epoch ms
    ]
)


def sql_literal(s: str) -> str:
    """``s`` as a Spark SQL string literal. Spark unescapes backslash
    sequences inside literals (``'\\d'`` reads as ``d``), so backslashes
    are doubled before quotes are escaped: every value, regex or key
    reaches the plan exactly as given."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def series_id_sql(metric: str = "metric", tags: str = "tags") -> str:
    """SQL text of :func:`series_id` over the named columns (or SQL
    expressions), for callers that render whole stages as SQL."""
    return (
        f"concat_ws(',', array({metric}), "
        f"transform(array_sort(map_keys({tags})), "
        f"__k -> concat(__k, '=', element_at({tags}, __k))))"
    )


def series_id(metric: Column | str = "metric", tags: Column | str = "tags") -> Column:
    """Canonical series key: metric + sorted ``k=v`` tag pairs.

    Replaces the reference's ``Set<Tag>`` keying of per-series state
    (DownsampleIterator.java:96-105). Sorting makes the id independent of
    map insertion order.

    r13: the common string-column path renders as ONE SQL expression —
    the Column/HOF-lambda construction cost ~70 py4j round trips per
    call, a measurable slice of the engine's per-request driver latency
    (the r12 wide-plan-builder finding; values identical, full-column
    compare pinned in tests). Column arguments keep the builder form.
    """
    if isinstance(metric, str) and isinstance(tags, str):
        return F.expr(series_id_sql(metric, tags))
    m = F.col(metric) if isinstance(metric, str) else metric
    t = F.col(tags) if isinstance(tags, str) else tags
    pairs = F.transform(
        F.array_sort(F.map_keys(t)), lambda k: F.concat(k, F.lit("="), F.element_at(t, k))
    )
    return F.concat_ws(",", F.array(m), pairs)


def projected_tags_sql(group_tag_keys: list[str], tags: str = "tags") -> str:
    """SQL text of the queried tag projection: ``tags`` filtered to the
    named keys (DataStore.java:752-762), one ``map_filter`` so the
    per-request driver cost is one parse instead of a lambda-builder
    py4j exchange. Keys are SQL-escaped (:func:`sql_literal`)."""
    if not group_tag_keys:
        # no queried keys -> empty projection (array() would not type)
        return f"map_filter({tags}, (__k, __v) -> false)"
    lits = ", ".join(sql_literal(k) for k in group_tag_keys)
    return f"map_filter({tags}, (__k, __v) -> array_contains(array({lits}), __k))"


#: uniform pre-round nudge for cross-engine float parity: DuckDB's
#: float-multiply round() differs from Spark's exact BigDecimal round by
#: up to ~1e-10 near decimal boundaries, expression-tree association and
#: libm-vs-JVM exp() drift ~1 ULP, and fold sums drift <=4e-14 — 1e-9
#: dominates all of them while staying >=3 orders below every rounding
#: quantum used in the registry (1e-4 / 1e-6). ONE constant so the next
#: knife-edge fix cannot fork the epsilon between engines.
ROUND_NUDGE = 1e-9


def stable_round(c: Column, scale: int) -> Column:
    """``round(c + ROUND_NUDGE, scale)`` — the Spark side of the
    cross-engine stable round; oracle SQL mirrors it with
    ``round((expr) + 1e-9, scale)``."""
    return F.round(c + F.lit(ROUND_NUDGE), scale)


def sorted_tag_line(tags: Column | str = "tags", sep: str = " ") -> Column:
    """Key-sorted ``k=v`` pairs joined by ``sep`` — the TreeMap-style tag
    rendering shared by exclusion line matching
    (Exclusions.buildMetricLine:118-123) and the collectd ingest-parity
    rollup; ONE definition so a rendering change (e.g. escaping) cannot
    silently diverge between them."""
    t = F.col(tags) if isinstance(tags, str) else tags
    pairs = F.transform(
        F.array_sort(F.map_keys(t)),
        lambda k: F.concat(k, F.lit("="), F.element_at(t, k)),
    )
    return F.array_join(pairs, sep)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def ts_epoch_ms(df: DataFrame, col: str = "ts") -> Column:
    """Epoch-ms BIGINT from whichever physical type the lake stores.

    The driver testdata has shipped ``events.ts`` as TIMESTAMP(NANOS)
    (surfaced as int64 nanoseconds under ``nanosAsLong``) and as
    TIMESTAMP(MICROS) (surfaced as TIMESTAMP_NTZ). The session timezone is
    pinned to UTC (session.py), so the NTZ->TIMESTAMP cast is the identity
    and matches DuckDB's naive-as-UTC ``epoch_ns`` reading of the same file.
    """
    dt = dict(df.dtypes)[col]
    if dt in ("bigint", "long"):
        # FLOOR division in exact integer math (`x div y` truncates toward
        # zero, diverging from unix_millis and DuckDB's `//` for pre-1970
        # sub-ms timestamps; `floor(x / 1e6)` would round through double
        # and lose precision above 2^53 ns)
        return F.expr(f"({col} - pmod({col}, 1000000)) div 1000000")
    if dt == "timestamp_ntz":
        return F.unix_millis(F.col(col).cast("timestamp"))
    if dt == "timestamp":
        return F.unix_millis(F.col(col))
    raise TypeError(f"unsupported timestamp physical type for {col!r}: {dt}")


def events_as_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adapt the driver's ``events`` table to the point model (FIXTURES.md T4).

    metric = event_type, ts = epoch ms (from the int64-nanos raw ts),
    value = value, tags = {user: user_id, k: props.k}.
    Purely narrow (no shuffle); Catalyst pushes metric/tag predicates into
    the Parquet scan of event_type/user_id.
    """
    from .session import configure

    # ts_epoch_ms's NTZ branch needs session.timeZone=UTC for the
    # NTZ->TIMESTAMP cast to be identity; a driver-supplied non-UTC
    # session would otherwise silently shift every epoch-ms value
    configure(spark)
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        F.col("event_type").alias("metric"),
        ts_epoch_ms(ev).alias("ts"),  # raw nanos/timestamp -> epoch ms
        F.col("value").alias("value"),
        F.create_map(
            F.lit("user"),
            F.col("user_id").cast("string"),
            F.lit("k"),
            F.get_json_object(F.col("props"), "$.k"),
        ).alias("tags"),
        F.lit(None).cast("string").alias("viz"),
    )


# DuckDB-side equivalent of events_as_metrics, used to build oracle SQL.
# Kept adjacent to the Spark adapter so the two stay in lock-step.
EVENTS_AS_METRICS_SQL = """
SELECT event_type AS metric,
       epoch_ns(ts) // 1000000 AS ts,
       value,
       CAST(user_id AS VARCHAR) AS tag_user,
       json_extract_string(props, '$.k') AS tag_k
FROM events
"""
