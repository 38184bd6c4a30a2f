"""Hypertable-style hierarchical rollups (continuous aggregates).

The TimescaleDB/Druid pattern the brief names as a custom-operator
example: maintain per-level PARTIAL aggregates (sum/count/min/max per
fine bucket) and answer coarse downsample queries by MERGING partials
instead of rescanning raw points — a 6 h avg over 1 m partials touches
60x fewer rows than raw, 360x at a 1 h level; avg is computable
because partials carry (sum, count), never a pre-divided mean.

Spark-first: a partial table is one groupBy (map-side combinable);
re-aggregation is another. Partials are merge-associative, so the same
frame serves any coarser window whose length the level divides —
``answer_from_rollup`` enforces that divisibility instead of silently
interpolating. Persist partials with ``sources.store.write_points``-
style partitioning for pruning; here they stay lazy frames so the
oracle can verify merge correctness end-to-end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def rollup_partials(
    points: DataFrame,
    level_ms: int,
    key_cols: tuple[str, ...] = ("metric",),
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """(keys..., bucket_ts, n, vsum, vmin, vmax) at ``level_ms``
    resolution. vsum is decimal-exact so downstream merges and the
    final avg are accumulation-order-independent."""
    bucket = (F.col(ts_col) - F.col(ts_col) % F.lit(level_ms)).alias("bucket_ts")
    return points.groupBy(*key_cols, bucket).agg(
        F.count(value_col).alias("n"),
        F.sum(F.col(value_col).cast("decimal(38,10)")).alias("vsum"),
        F.min(value_col).alias("vmin"),
        F.max(value_col).alias("vmax"),
    )


def merge_rollup(
    partials: DataFrame,
    level_ms: int,
    coarser_ms: int,
    key_cols: tuple[str, ...] = ("metric",),
) -> DataFrame:
    """Re-aggregate partials to a coarser level (the continuous-
    aggregate refresh step). ``coarser_ms`` must be a multiple of the
    partials' level."""
    if coarser_ms % level_ms != 0:
        raise ValueError(
            f"coarser level {coarser_ms} not a multiple of {level_ms}"
        )
    bucket = (
        F.col("bucket_ts") - F.col("bucket_ts") % F.lit(coarser_ms)
    ).alias("bucket_ts")
    return partials.groupBy(*key_cols, bucket).agg(
        F.sum("n").alias("n"),
        F.sum("vsum").alias("vsum"),
        F.min("vmin").alias("vmin"),
        F.max("vmax").alias("vmax"),
    )


def hll_partials(
    points: DataFrame,
    level_ms: int,
    distinct_col: str,
    key_cols: tuple[str, ...] = ("metric",),
    ts_col: str = "ts",
    lg_k: int = 12,
) -> DataFrame:
    """(keys..., bucket_ts, hll) — Datasketches HLL sketch of
    ``distinct_col`` per fine bucket (Spark's ``hll_sketch_agg``).
    The sketch is the MERGEABLE form of count-distinct: unlike a
    count, partials union losslessly to any coarser window, so
    distinct-user rollups get the same 60x scan reduction as the
    sum/min/max partials."""
    bucket = (F.col(ts_col) - F.col(ts_col) % F.lit(level_ms)).alias("bucket_ts")
    return points.groupBy(*key_cols, bucket).agg(
        F.hll_sketch_agg(distinct_col, F.lit(lg_k)).alias("hll")
    )


def hll_merge(
    partials: DataFrame,
    level_ms: int,
    coarser_ms: int,
    key_cols: tuple[str, ...] = ("metric",),
) -> DataFrame:
    """Union HLL partials to a coarser level and estimate. HLL union
    takes per-slot register maxima, so the merged estimate is
    IDENTICAL to a direct sketch over the raw rows (pinned by test) —
    not merely approximately equal."""
    if coarser_ms % level_ms != 0:
        raise ValueError(
            f"coarser level {coarser_ms} not a multiple of {level_ms}"
        )
    bucket = (
        F.col("bucket_ts") - F.col("bucket_ts") % F.lit(coarser_ms)
    ).alias("bucket_ts")
    return partials.groupBy(*key_cols, bucket).agg(
        F.hll_sketch_estimate(F.hll_union_agg("hll")).alias("approx_distinct")
    )


def answer_from_rollup(
    partials: DataFrame,
    level_ms: int,
    window_ms: int,
    key_cols: tuple[str, ...] = ("metric",),
) -> DataFrame:
    """Answer a ``window_ms`` downsample query (n/avg/min/max per
    bucket) from partials — no raw-point scan. avg = merged sum /
    merged count, rounded AFTER the exact-decimal division."""
    merged = merge_rollup(partials, level_ms, window_ms, key_cols)
    return merged.select(
        *key_cols,
        "bucket_ts",
        "n",
        F.round(F.col("vsum") / F.col("n"), 4).cast("double").alias("avg_value"),
        F.col("vmin").alias("min_value"),
        F.col("vmax").alias("max_value"),
    )


_DAY_MS = 86_400_000


def write_rollup(
    partials: DataFrame,
    path: str,
    mode: str = "overwrite",
) -> None:
    """Persist partials day-partitioned (dt = bucket_ts DIV 1d), the
    same pruning layout as the point store — coarse queries prune whole
    day directories before touching a row group."""
    (
        partials.withColumn("dt", F.expr(f"bucket_ts DIV {_DAY_MS}"))
        .write.mode(mode)
        .partitionBy("dt")
        .parquet(path)
    )


# Every persisted partial kind is (extra grouping cols, merge aggs):
# merging two partial frames for the same fine bucket is ONE groupBy
# with these aggregations — associativity is what makes incremental
# refresh == full rebuild for all of them (classic sums/extrema, HLL
# register-max union, DDSketch count addition).
def _partial_specs(distinct_col: str | None = None):
    return {
        "classic": (
            rollup_partials,
            (),
            [
                F.sum("n").alias("n"),
                F.sum("vsum").alias("vsum"),
                F.min("vmin").alias("vmin"),
                F.max("vmax").alias("vmax"),
            ],
        ),
        "ddsketch": (
            lambda pts, level_ms, key_cols, ts_col, value_col: ddsketch_partials(
                pts, level_ms, DD_GAMMA, key_cols, ts_col, value_col
            ),
            ("dd_sign", "dd_idx"),
            [F.sum("cnt").alias("cnt")],
        ),
        "hll": (
            lambda pts, level_ms, key_cols, ts_col, value_col: hll_partials(
                pts, level_ms, distinct_col or value_col, key_cols, ts_col
            ),
            (),
            [F.hll_union_agg("hll").alias("hll")],
        ),
    }


def refresh_rollup(
    spark,
    path: str,
    new_points: DataFrame,
    level_ms: int,
    key_cols: tuple[str, ...] = ("metric",),
    ts_col: str = "ts",
    value_col: str = "value",
    kind: str = "classic",
    distinct_col: str | None = None,
) -> int:
    """Incremental continuous-aggregate refresh: fold a batch of new
    (possibly LATE) points into a persisted rollup, rewriting ONLY the
    day partitions the batch touches (dynamic partition overwrite).

    Merge is associative for every partial ``kind`` — classic
    (sum/sum/min/max), ``ddsketch`` (integer count addition per
    log-bucket), ``hll`` (per-slot register max) — so refresh(base) +
    refresh(late) == rollup over the union, pinned by test for each
    kind. For ``hll``, ``distinct_col`` names the column being
    distinct-counted (defaults to ``value_col`` — but an HLL rollup is
    usually over an id column, so pass it explicitly). The touched-day
    set is a tiny driver seam; untouched partitions are neither read
    nor rewritten, so refresh cost scales with the batch's time
    spread, not the table's history.

    Returns the number of day partitions rewritten.
    """
    build, extra_group, merge_aggs = _partial_specs(distinct_col or value_col)[kind]
    newp = build(new_points, level_ms, key_cols, ts_col, value_col)
    # materialize ONCE: the days-collect below and the final write would
    # otherwise each re-run the batch aggregation from scratch
    newp = newp.withColumn(
        "dt", F.expr(f"bucket_ts DIV {_DAY_MS}")
    ).localCheckpoint(eager=True)
    days = [r["dt"] for r in newp.select("dt").distinct().collect()]
    if not days:
        return 0
    from pyspark.errors import AnalysisException

    # existence probe goes through SPARK, not os.path — a local-FS
    # probe is ALWAYS false for hdfs://, s3a://, ... paths, and a false
    # "first write" here silently overwrites touched day partitions
    # with only the batch (r10 review; same bug class curate's
    # embeddings probe fixed in r8). Only a missing path or an empty
    # schemaless directory means first write; anything else (executor
    # loss, corrupt footer, FS errors) propagates.
    existing = None
    try:
        # localCheckpoint BEFORE the overwrite: the merged plan must
        # not lazily read files the commit is about to replace
        existing = (
            spark.read.parquet(path)
            .filter(F.col("dt").isin(days))
            .localCheckpoint(eager=True)
        )
    except AnalysisException as e:
        # match the structured error condition first (stable across
        # Spark versions), falling back to message text only for builds
        # that don't populate it (ADVICE r10 #3 — coupling correctness
        # to error prose is brittle; an unmatched benign first write
        # raises, fail-safe, rather than overwriting)
        from ..session import error_condition

        first_write_classes = ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA")
        msg = str(e)
        if not (
            error_condition(e).startswith(first_write_classes)
            or "PATH_NOT_FOUND" in msg
            or "Path does not exist" in msg
            or "UNABLE_TO_INFER_SCHEMA" in msg
        ):
            raise
        existing = None
    merged = newp if existing is None else (
        existing.select(*newp.columns).unionByName(newp)
        .groupBy(*key_cols, "bucket_ts", *extra_group, "dt")
        .agg(*merge_aggs)
        .select(*newp.columns)
    )
    # the writer option, not the session conf: a shared session's other
    # writes keep their overwrite mode
    merged.write.mode("overwrite").option("partitionOverwriteMode", "dynamic").partitionBy(
        "dt"
    ).parquet(path)
    return len(days)


# ------------------------- DDSketch quantile rollups ---------------------

# DDSketch (Masson, Rim & Lee, VLDB 2019): log-bucketed histogram with a
# RELATIVE-error guarantee — every quantile estimate is within a factor
# gamma of the true value. The sketch is a plain (sign, idx) -> count
# vector, so partials merge by integer ADDITION: the quantile analogue of
# the (sum, count, min, max) partials above, giving percentile queries
# the same never-rescan-raw rollup economics. gamma = 1.02 => 2% relative
# accuracy at ~580 buckets across 8 decades of positive value range.

DD_GAMMA = 1.02


def _dd_bucket(value_col: str, gamma: float):
    """(sign, idx) log-bucket of a value: sign in {-1, 0, 1}; for
    nonzero x, idx = ceil(ln(|x|)/ln(gamma)) — the paper's bucket
    mapping, mirrored for negatives (idx 0 for the zero bucket)."""
    import math

    x = F.col(value_col)
    sign = F.when(x > 0, F.lit(1)).when(x < 0, F.lit(-1)).otherwise(F.lit(0))
    lg = F.lit(float(math.log(gamma)))
    idx = F.when(
        x != 0, F.ceil(F.log(F.abs(x)) / lg).cast("int")
    ).otherwise(F.lit(0))
    return sign.alias("dd_sign"), idx.alias("dd_idx")


def ddsketch_partials(
    points: DataFrame,
    level_ms: int,
    gamma: float = DD_GAMMA,
    key_cols: tuple[str, ...] = ("metric",),
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """(keys..., bucket_ts, dd_sign, dd_idx, cnt) at ``level_ms``
    resolution — one row per occupied log-bucket per fine window. One
    map-side-combinable groupBy; per (series, window) the row count is
    bounded by the value range's bucket span (~hundreds), independent
    of the point count, so the partial table is tiny next to raw."""
    bucket = (F.col(ts_col) - F.col(ts_col) % F.lit(level_ms)).alias("bucket_ts")
    sign, idx = _dd_bucket(value_col, gamma)
    return (
        points.filter(F.col(value_col).isNotNull())
        .groupBy(*key_cols, bucket, sign, idx)
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def ddsketch_quantile(
    partials: DataFrame,
    level_ms: int,
    window_ms: int,
    qs: tuple[float, ...] = (0.5, 0.9, 0.99),
    gamma: float = DD_GAMMA,
    key_cols: tuple[str, ...] = ("metric",),
) -> DataFrame:
    """Quantile estimates per ``window_ms`` bucket from DDSketch
    partials — no raw rescan. Merge = integer count addition to the
    coarser window (exact, associative: merged sketch == direct sketch
    over raw, pinned by test), then per (series, window) a cumulative
    walk over buckets in value order picks, for each q, the bucket
    holding the rank-floor(q*(n-1))+1 value; the estimate is the
    bucket's log-midpoint representative sign * 2*gamma^idx/(gamma+1).

    Scale: the walk's window frames are per-(series, window) bucket
    vectors — bounded by the log-bucket span, NOT the point count — so
    the sort inside each frame is a few hundred rows at any data scale.
    """
    if window_ms % level_ms != 0:
        raise ValueError(f"window {window_ms} not a multiple of {level_ms}")
    from pyspark.sql import Window

    bucket = (
        F.col("bucket_ts") - F.col("bucket_ts") % F.lit(window_ms)
    ).alias("bucket_ts")
    merged = partials.groupBy(*key_cols, bucket, "dd_sign", "dd_idx").agg(
        F.sum("cnt").alias("cnt")
    )
    # value order across the three stores: negatives (idx descending),
    # zero, positives (idx ascending) == ordering by sign*idx within
    # sign, i.e. by (dd_sign, dd_sign*dd_idx)
    okey = (F.col("dd_sign") * F.col("dd_idx")).alias("okey")
    w = Window.partitionBy(*key_cols, "bucket_ts").orderBy("dd_sign", "okey")
    wall = Window.partitionBy(*key_cols, "bucket_ts")
    rep = F.when(
        F.col("dd_sign") == 0, F.lit(0.0)
    ).otherwise(
        F.col("dd_sign")
        * (2.0 * F.pow(F.lit(float(gamma)), F.col("dd_idx")) / (gamma + 1.0))
    )
    cum = (
        merged.select(*key_cols, "bucket_ts", "dd_sign", "dd_idx", "cnt", okey)
        .withColumn("cum", F.sum("cnt").over(w))
        .withColumn("n", F.sum("cnt").over(wall))
        .withColumn("rep", rep)
    )
    names = [f"p{int(round(q * 100)):02d}" for q in qs]
    if len(set(names)) != len(names):
        raise ValueError(
            f"quantile labels collide for qs={qs}: {names} — "
            "pick qs that map to distinct integer percents"
        )
    aggs = [F.max("n").alias("n")]
    for q, name in zip(qs, names):
        # 1-based target rank of the q-quantile (floor(q*(n-1)) zero-based)
        target = F.floor(F.lit(float(q)) * (F.col("n") - 1)) + 1
        aggs.append(
            F.round(
                F.min(F.when(F.col("cum") >= target, F.col("rep"))) + F.lit(0.0),
                4,
            ).alias(name)
        )
    return cum.groupBy(*key_cols, "bucket_ts").agg(*aggs)


def ddsketch_quantile_raw(
    points: DataFrame,
    window_ms: int,
    qs: tuple[float, ...] = (0.5, 0.9, 0.99),
    gamma: float = DD_GAMMA,
    key_cols: tuple[str, ...] = ("metric",),
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Direct sketch over raw points (no intermediate level) — the
    merge-identity reference: ddsketch_quantile(partials(level), ...,
    window) must equal this for any level dividing the window."""
    p = ddsketch_partials(points, window_ms, gamma, key_cols, ts_col, value_col)
    return ddsketch_quantile(p, window_ms, window_ms, qs, gamma, key_cols)


# -------------------------------------------------------- count-min sketch

# Count-Min Sketch (Cormode & Muthukrishnan, J. Algorithms 2005): the
# mergeable point-frequency sketch completing this module's family
# (sum/count partials, HLL for distincts, DDSketch for quantiles, CMS
# for heavy hitters). Reference anchor: the reference's analytics tier
# exposes only exact top-k scans (MetricConsumer summarization,
# analytics/.../MetricHistogram); at 100 TB an exact token-frequency
# pass shuffles one row per distinct token — CMS caps the shuffled
# state at depth x width counters per partition regardless of corpus
# vocabulary, and partial sketches from any split of the data merge by
# pure integer addition into exactly the whole-corpus sketch.

CMS_DEPTH = 4
CMS_WIDTH = 1024


def _cms_bucket(item, d: int, width: int):
    """Row-d bucket for an item: md5 32-bit-prefix of ``item#d`` mod
    width — the repo's engine-exact dual-hash idiom (similarity.
    _hashed_sums / DuckDB from_hex twin), so a DuckDB oracle rebuilds
    the identical sketch and the ESTIMATES hash-match, not merely a
    pinned bound. ``#`` is outside the token charset [a-z0-9'] so the
    salt can never collide with item content."""
    h = F.conv(
        F.substring(F.md5(F.concat(item, F.lit(f"#{d}"))), 1, 8), 16, 10
    ).cast("long")
    return F.pmod(h, F.lit(width)).cast("int")


def cms_partials(
    items: DataFrame,
    item_col: str,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """(d, bucket, cnt): sparse CMS counters over item OCCURRENCES
    (pass an exploded frame; each input row increments one counter per
    hash row). Scale shape: the explode-to-depth is pure codegen and
    the groupBy has at most depth*width distinct keys, so partial
    (map-side) aggregation reduces every partition to <= depth*width
    rows before the shuffle — the shuffle volume is O(partitions *
    depth * width) ints, INDEPENDENT of corpus size or vocabulary.
    NULL items are dropped (md5(NULL) would null the bucket)."""
    pairs = F.array(
        *[
            F.struct(
                F.lit(d).alias("d"),
                _cms_bucket(F.col(item_col), d, width).alias("bucket"),
            )
            for d in range(depth)
        ]
    )
    ex = items.filter(F.col(item_col).isNotNull()).select(
        F.explode(pairs).alias("p")
    )
    return ex.groupBy(
        F.col("p.d").alias("d"), F.col("p.bucket").alias("bucket")
    ).agg(F.count(F.lit(1)).alias("cnt"))


def cms_merge(*sketches: DataFrame) -> DataFrame:
    """Merge partial sketches by counter addition. Integer addition is
    associative and commutative, so a merge of sketches built over ANY
    partition of the data is bit-identical to the sketch built over
    the union — the mergeability contract (pinned by test), same as
    hll_merge's register-max and ddsketch's bucket-count addition."""
    if not sketches:
        raise ValueError("cms_merge needs at least one sketch")
    u = sketches[0]
    for s in sketches[1:]:
        u = u.unionByName(s)
    return u.groupBy("d", "bucket").agg(F.sum("cnt").alias("cnt"))


def cms_estimate(
    sketch: DataFrame,
    queries: DataFrame,
    item_col: str,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """Point-frequency estimates: queries + a ``cms_est`` column =
    min over hash rows of the item's counter (0 if a bucket is absent
    from the sparse sketch — only possible for items the sketch never
    saw). CMS guarantees cms_est >= true count always (every
    occurrence of the item incremented every probed counter) and
    overshoots only by colliding mass. The sketch side is <=
    depth*width rows by construction — broadcast, so estimation adds
    no shuffle to the query side beyond its own explode."""
    probes = queries.withColumn(
        "__p",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("d"),
                        _cms_bucket(F.col(item_col), d, width).alias(
                            "bucket"
                        ),
                    )
                    for d in range(depth)
                ]
            )
        ),
    )
    joined = probes.join(
        F.broadcast(sketch),
        (F.col("__p.d") == F.col("d"))
        & (F.col("__p.bucket") == F.col("bucket")),
        "left",
    )
    others = [c for c in queries.columns]
    return joined.groupBy(*others).agg(
        F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("cms_est")
    )


def mg_summary(
    items: DataFrame,
    item_col: str,
    b: int = 64,
) -> DataFrame:
    """Misra-Gries heavy-hitter summary (the candidate-free complement
    of the CMS: CMS estimates counts for KNOWN candidates, MG FINDS the
    candidates): (item, est) lower-bound counts such that, with N total
    occurrences,

        est <= true                            (never overestimates)
        (b+1) * (true - est) <= N              (bounded undercount)

    hence every item with (b+1)*true > N is guaranteed present — both
    bounds are integer-exact and hold under ANY partitioning/batching.

    Spark shape: one Arrow pass applies the MG reduction per batch
    (exact pandas value_counts, then subtract the (b+1)-th largest
    count and drop non-positives — each batch emits <= b rows... <= b
    only after truncation; untruncated small batches emit their exact
    counts), then one groupBy(item) SUM merges batch summaries. The MG
    merge theorem (Agarwal et al., PODS 2012) gives the additive
    bound: each truncating batch subtracts sub_b <= N_batch/(b+1) from
    every item, so the total undercount is <= N/(b+1). The merged
    summary's size is bounded by the surviving distinct items (<= b
    per truncated batch), NOT by corpus cardinality — the whole-vocab
    shuffle exact counting needs never happens. NULL items dropped."""
    import pandas as pd  # noqa: F401 (Arrow path)

    from pyspark.sql.types import (
        LongType,
        StructField,
        StructType,
    )

    src_field = items.schema[item_col]

    out_schema = StructType(
        [
            StructField("item", src_field.dataType),
            StructField("cnt", LongType()),
        ]
    )

    def reduce_batches(batches):
        for pdf in batches:
            col = pdf[item_col].dropna()
            if col.empty:
                continue
            counts = col.value_counts()  # exact, descending
            if len(counts) > b:
                sub = int(counts.iloc[b])  # the (b+1)-th largest
                counts = counts - sub
                counts = counts[counts > 0]
            out = counts.rename_axis("item").reset_index(name="cnt")
            out["cnt"] = out["cnt"].astype("int64")
            yield out

    partials = items.select(item_col).mapInPandas(
        reduce_batches, out_schema
    )
    return partials.groupBy("item").agg(F.sum("cnt").alias("est"))


# ------------------------------------------------------------------ KMV theta

KMV_K = 256


def _md5_64(col):
    """Deterministic 64-bit item hash shared with DuckDB: the repo's
    dual-engine md5-prefix idiom widened to 16 hex chars. Spark's conv
    returns the unsigned value as a string; decimal(20,0) holds all of
    [0, 2^64) exactly and orders like DuckDB's UBIGINT."""
    return F.conv(
        F.substring(F.md5(col.cast("string")), 1, 16), 16, 10
    ).cast("decimal(20,0)")


def _kmv_distinct(df: DataFrame, group_col: str, item_col: str) -> DataFrame:
    """The (group, item-hash) distinct frame both the sketch build and
    the exact-intersection pass consume — factored so kmv_set_ops
    issues it ONCE (Catalyst reuses the dedup exchange between the two
    aggregations instead of re-scanning the corpus)."""
    return df.select(
        F.col(group_col).alias("group"),
        _md5_64(F.col(item_col)).alias("__h"),
    ).distinct()


def kmv_sketches(
    df: DataFrame,
    group_col: str,
    item_col: str,
    k: int = KMV_K,
    u: DataFrame | None = None,
) -> DataFrame:
    """Per-group KMV (k-minimum-values / theta) sketch: the k smallest
    md5-64 hashes of the group's DISTINCT items, as a sorted array —
    (group, sketch, n_exact).

    The KMV sketch is the mergeable-summary answer to the set-OPERATION
    questions HLL registers cannot answer losslessly: because every
    group keeps actual hash VALUES below its theta, sketches compose
    under union (merge + re-truncate) AND intersection (matching values
    under the union theta) — Beyer et al. 2007 / the DataSketches theta
    family. HLL (hll_partials above) stays the cheaper choice for pure
    distinct counts; KMV buys cross-group overlap analytics for k
    values per group.

    Plan: one partial-aggregated distinct over (group, item-hash) —
    ints after the hash projection — then a per-group bottom-k via
    window row_number (the only per-group state downstream of the
    distinct is k rows). ``n_exact`` (exact distinct, same aggregation
    pass shape) rides along for the bound columns in
    :func:`kmv_set_ops`. Deterministic for fixed input: the sketch is
    a pure function of the item set, so a DuckDB twin rebuilds it
    byte-identically (the CMS oracle pattern)."""
    from pyspark.sql.window import Window

    if u is None:
        u = _kmv_distinct(df, group_col, item_col)
    w = Window.partitionBy("group").orderBy("__h")
    sk = (
        u.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .groupBy("group")
        .agg(F.array_sort(F.collect_list("__h")).alias("sketch"))
    )
    n = u.groupBy("group").agg(F.count(F.lit(1)).alias("n_exact"))
    return sk.join(n, "group")


def kmv_set_ops(
    df: DataFrame,
    group_col: str,
    item_col: str,
    k: int = KMV_K,
    sigmas: float = 3.0,
) -> DataFrame:
    """Pairwise set-operation estimates between every two groups:
    (group_a, group_b, n_a, n_b, inter_exact, est_a, est_b, est_union,
    est_inter, union_ok, inter_ok) with group_a < group_b.

    Estimators (Beyer et al. 2007): an UNSATURATED sketch (fewer than k
    values) IS its set — estimates are exact. Saturated:
    est = (k - 1) / theta_k with theta_k the k-th smallest normalized
    hash; for the union the merged sketch is re-truncated to its m =
    min(k, |merged|) smallest and uses (m - 1) / theta_m; the
    intersection counts matching values under the union's theta and
    scales by the same theta. ``inter_exact`` (and n_a/n_b) are
    computed exactly in the same job — the *_ok booleans assert the
    estimate sits within ``sigmas`` standard deviations of its
    estimator: std(union) ~ union/sqrt(k-1) and std(inter) ~
    sqrt(inter * union / (k-1)) (the matching count is ~Binomial(inter,
    theta) with 1/theta ~ union/(k-1)), both derived from the EXACT
    columns so the bound needs no extra state; unsaturated pairs are
    exact and the bands hold trivially. Everything after the sketches
    is |groups|^2 arithmetic on k-length arrays — driver-free,
    broadcast-sized.

    Float contract: estimates are exact-integer-derived doubles (one
    division of exact decimals), rounded to 4 dp with the +1e-9 nudge
    on both engine sides; the DuckDB twin rebuilds identical sketches,
    so the oracle compare is value-exact, not bound-pinned."""
    u = _kmv_distinct(df, group_col, item_col)
    sks = kmv_sketches(df, group_col, item_col, k, u=u)
    a = sks.select(
        F.col("group").alias("group_a"),
        F.col("sketch").alias("sk_a"),
        F.col("n_exact").alias("n_a"),
    )
    b = sks.select(
        F.col("group").alias("group_b"),
        F.col("sketch").alias("sk_b"),
        F.col("n_exact").alias("n_b"),
    )
    pairs = a.crossJoin(b).filter(F.col("group_a") < F.col("group_b"))

    two64 = float(2**64)

    def est_solo(sk):
        sat = F.size(sk) >= k
        theta = F.element_at(sk, k).cast("double") / F.lit(two64)
        return F.when(
            sat, F.lit(float(k - 1)) / theta
        ).otherwise(F.size(sk).cast("double"))

    merged = F.array_sort(F.array_union(F.col("sk_a"), F.col("sk_b")))
    m = F.least(F.lit(k), F.size(merged))
    # saturated iff EITHER input sketch is saturated: then the merged
    # k smallest are a sample, not the union itself
    u_sat = (F.size("sk_a") >= k) | (F.size("sk_b") >= k)
    theta_u = F.element_at(merged, m).cast("double") / F.lit(two64)
    est_union = F.when(
        u_sat, (m.cast("double") - F.lit(1.0)) / theta_u
    ).otherwise(F.size(merged).cast("double"))
    common = F.array_intersect(F.col("sk_a"), F.col("sk_b"))
    # matching values under the union theta (only those are inside the
    # jointly-sampled region)
    k_int = F.size(
        F.filter(common, lambda x: x <= F.element_at(merged, m))
    )
    est_inter = F.when(
        u_sat, k_int.cast("double") / theta_u
    ).otherwise(F.size(common).cast("double"))

    # exact pairwise intersections from per-item group sets (the
    # source_overlap_matrix shape: streamed two-level pair emission,
    # no self-join and no single-row C(|groups|,2) array — an item in
    # EVERY group would otherwise build the whole pair set as one
    # value; see corpus_compare.pair_emit)
    from .corpus_compare import pair_emit

    per_item = (
        u.groupBy("__h")
        .agg(F.array_sort(F.collect_set("group")).alias("gs"))
        .filter(F.size("gs") >= 2)
    )
    inter_exact = (
        pair_emit(per_item, "gs", "group_a", "group_b")
        .groupBy("group_a", "group_b")
        .agg(F.count(F.lit(1)).alias("inter_exact"))
    )
    out = pairs.join(
        F.broadcast(inter_exact), ["group_a", "group_b"], "left"
    ).withColumn("inter_exact", F.coalesce("inter_exact", F.lit(0)))
    eu = F.round(est_union + F.lit(1e-9), 4)
    ei = F.round(est_inter + F.lit(1e-9), 4)
    union_exact = F.col("n_a") + F.col("n_b") - F.col("inter_exact")
    return out.select(
        "group_a",
        "group_b",
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.col("inter_exact").cast("long").alias("inter_exact"),
        F.round(est_solo(F.col("sk_a")) + F.lit(1e-9), 4).alias("est_a"),
        F.round(est_solo(F.col("sk_b")) + F.lit(1e-9), 4).alias("est_b"),
        eu.alias("est_union"),
        ei.alias("est_inter"),
        (
            F.abs(eu - union_exact)
            <= F.lit(sigmas)
            * F.greatest(union_exact, F.lit(k)).cast("double")
            / F.lit(float((k - 1) ** 0.5))
        ).alias("union_ok"),
        (
            F.abs(ei - F.col("inter_exact"))
            <= F.lit(sigmas)
            * F.sqrt(
                F.greatest(F.col("inter_exact"), F.lit(1)).cast("double")
                * union_exact.cast("double")
                / F.lit(float(k - 1))
            )
            + F.lit(1.0)
        ).alias("inter_ok"),
    )


def kmv_set_ops_sql(
    group_col: str,
    item_col: str,
    table: str,
    k: int = KMV_K,
    sigmas: float = 3.0,
) -> str:
    """DuckDB twin of :func:`kmv_set_ops` — rebuilds the IDENTICAL
    md5-64 sketches (UBIGINT orders like Spark's decimal(20,0)), so
    the estimate columns compare value-exactly."""
    two64 = "18446744073709551616.0"
    h = (
        f"CAST(from_hex(substr(md5(CAST({item_col} AS VARCHAR)), 1, 16)) "
        f"AS BIT)::UBIGINT"
    )
    return f"""
WITH u AS (SELECT DISTINCT {group_col} AS grp, {h} AS h FROM {table}),
ranked AS (SELECT grp, h,
                  row_number() OVER (PARTITION BY grp ORDER BY h) AS rn
           FROM u),
sk AS (SELECT grp, list_sort(list(h)) AS sk FROM ranked
       WHERE rn <= {k} GROUP BY 1),
n AS (SELECT grp, count(*) AS n_exact FROM u GROUP BY 1),
s AS (SELECT sk.grp, sk.sk, n.n_exact FROM sk JOIN n USING (grp)),
pairs AS (SELECT a.grp AS group_a, a.sk AS ska, a.n_exact AS na,
                 b.grp AS group_b, b.sk AS skb, b.n_exact AS nb
          FROM s a JOIN s b ON a.grp < b.grp),
ie AS (SELECT a.grp AS group_a, b.grp AS group_b,
              count(*) AS inter_exact
       FROM u a JOIN u b ON a.h = b.h AND a.grp < b.grp
       GROUP BY 1, 2),
calc AS (SELECT pairs.*,
                coalesce(ie.inter_exact, 0) AS inter_exact,
                list_sort(list_distinct(list_concat(ska, skb))) AS merged
         FROM pairs LEFT JOIN ie USING (group_a, group_b)),
calc2 AS (SELECT *,
                 least({k}, len(merged)) AS m,
                 len(ska) >= {k} OR len(skb) >= {k} AS u_sat
          FROM calc),
calc3 AS (SELECT *,
    CASE WHEN len(ska) >= {k}
         THEN CAST({k - 1} AS DOUBLE) / (ska[{k}]::DOUBLE / {two64})
         ELSE len(ska)::DOUBLE END AS raw_est_a,
    CASE WHEN len(skb) >= {k}
         THEN CAST({k - 1} AS DOUBLE) / (skb[{k}]::DOUBLE / {two64})
         ELSE len(skb)::DOUBLE END AS raw_est_b,
    CASE WHEN u_sat
         THEN (m::DOUBLE - 1.0) / (merged[m]::DOUBLE / {two64})
         ELSE len(merged)::DOUBLE END AS raw_est_union,
    CASE WHEN u_sat
         THEN len(list_filter(list_intersect(ska, skb),
                              x -> x <= merged[m]))::DOUBLE
              / (merged[m]::DOUBLE / {two64})
         ELSE len(list_intersect(ska, skb))::DOUBLE END AS raw_est_inter
  FROM calc2)
SELECT group_a, group_b,
       CAST(na AS BIGINT) AS n_a,
       CAST(nb AS BIGINT) AS n_b,
       CAST(inter_exact AS BIGINT) AS inter_exact,
       round(raw_est_a + 1e-9, 4) AS est_a,
       round(raw_est_b + 1e-9, 4) AS est_b,
       round(raw_est_union + 1e-9, 4) AS est_union,
       round(raw_est_inter + 1e-9, 4) AS est_inter,
       abs(round(raw_est_union + 1e-9, 4) - (na + nb - inter_exact))
         <= {sigmas} * CAST(greatest(na + nb - inter_exact, {k}) AS DOUBLE)
            / {float((k - 1) ** 0.5)!r} AS union_ok,
       abs(round(raw_est_inter + 1e-9, 4) - inter_exact)
         <= {sigmas} * sqrt(CAST(greatest(inter_exact, 1) AS DOUBLE)
                            * (na + nb - inter_exact) / {float(k - 1)!r})
            + 1.0 AS inter_ok
FROM calc3"""
