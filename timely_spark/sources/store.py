"""The Parquet point store: partition layout, writers, compaction.

Replaces the reference's Accumulo metrics-table layout (hour-rounded row
keys + per-tag cell duplication, MetricAdapter.toMutation,
common/.../accumulo/MetricAdapter.java:87-110). In a columnar store the
N-cells-per-tag write amplification disappears entirely — one row per
point, filter on ``tags[k]`` directly (SURVEY.md §1.4).

Layout: ``partitionBy(metric, dt)`` where dt = epoch day, with
``sortWithinPartitions(ts)`` so Parquet gets sorted column chunks (row
groups then carry tight ts min/max stats -> range predicates prune at the
row-group level, the columnar analogue of Accumulo's hour-range seek).

Scale notes (100 TB / 1000 executors):
- day-level directories keep the partition count ~O(metrics x days); a
  deployment whose metric count pushes that past ~5k directories should
  bucket the metric dimension (``metric_bucket = hash(metric) % N``) —
  provided via ``bucket_metrics``.
- **metric_bucket sizing rule (MEASURED, r10 x100 store probe —
  SCALE.md round-10 table):** bucket when ``metrics x retention_days``
  exceeds ~5 000 directories, and pick
  ``bucket_metrics ~ daily_ingest_bytes / 512 MB`` (the compaction file
  target), clamped to [16, 4096]. Measured at a 100x metric fan-out on
  the sf0.1 backlog: the flat layout's 15 000 dirs cost 2.7x on ingest
  and 4.4-4.7x on engine queries (listing + footer reads dominate);
  ``bucket_metrics=64`` (1 920 dirs) restored both to within noise of
  the small-metric-set store, because ``_layout.json`` lets the query
  side prune ``metric_bucket = hash(metric) % N`` + dt exactly like
  metric-directory pruning. The SERIES dimension needs no knob: 100x
  rows per partition left both query tiers flat (sortWithinPartitions
  keeps row-group ts stats tight — the seek reads the same row groups
  it read at x1).
- compaction (the TieredCompactionStrategy analogue,
  server/.../store/compaction/TieredCompactionStrategy.java:25-156) is a
  per-partition rewrite targeting ~512 MB files.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DAY_MS = 86_400_000


def with_promoted_tags(points: DataFrame, promote_tags: list[str]) -> DataFrame:
    """Hot-tag column promotion (SURVEY §4): materialize ``tags[k]`` as a
    top-level ``tag_<k>`` column at write time for the deployment's
    high-selectivity tag keys (host, rack, instance...).

    Why: a map access ``tags['host'] = 'h1'`` is evaluated row-by-row
    after the scan — Parquet can push neither the predicate nor stats
    for it. A promoted plain string column gets dictionary encoding,
    row-group min/max stats, and PushedFilters, so at 100 TB a
    one-host query skips row groups instead of decoding every tags map.
    The query builder (plans/builder.py) transparently prefers the
    promoted column when present; the ``tags`` map stays authoritative
    for projection, so promotion is purely a layout optimization.
    """
    import re

    for k in promote_tags:
        if not re.fullmatch(r"\w+", k):
            raise ValueError(f"cannot promote non-identifier tag key {k!r}")
        points = points.withColumn(f"tag_{k}", F.col("tags").getItem(k))
    return points


def with_partition_cols(points: DataFrame, bucket_metrics: int | None = None) -> DataFrame:
    df = points.withColumn("dt", (F.col("ts") / F.lit(DAY_MS)).cast("long"))
    if bucket_metrics:
        df = df.withColumn(
            "metric_bucket", F.pmod(F.xxhash64("metric"), F.lit(bucket_metrics))
        )
    return df


def write_points(
    points: DataFrame,
    path: str,
    mode: str = "append",
    bucket_metrics: int | None = None,
    promote_tags: list[str] | None = None,
    n_groups: int | None = None,
) -> None:
    """Durable write (the BatchWriter-sink analogue, DataStore.java:385-510).

    ``promote_tags``: also write each listed tag key as a pushdown-able
    top-level column (see ``with_promoted_tags``). Use the same list for
    every append — a mixed store still reads (missing values null) but
    unpromoted files lose the pushdown.

    ``n_groups``: the batch's (metric, dt) group count when the caller
    already knows it (``TimelyEngine._store`` counts it in its stats
    job); the write then runs at most that many tasks instead of leaving
    shuffle-partition tasks with nothing to write.
    """
    if promote_tags:
        points = with_promoted_tags(points, promote_tags)
    df = with_partition_cols(points, bucket_metrics)
    part_cols = (["metric_bucket"] if bucket_metrics else ["metric"]) + ["dt"]
    # r13 (guide §6/§2.4, measured): two changes to the write plan, same
    # store layout byte-for-byte (one file per (metric, dt) dir, ts-
    # sorted row groups):
    # - EXPLICIT shuffle-partition count. A keyed repartition without a
    #   count is AQE-coalesced to byte-right-sized partitions — correct
    #   for shuffles, wrong for a dynamic-partition WRITE, whose cost
    #   driver is files-per-task (each task opens/closes/commits its
    #   directories sequentially). At sf0.1 AQE coalesced 150 dirs into
    #   2 tasks and the write ran near-serial: 6.3 s vs 2.5 s with the
    #   session's configured parallelism (A/B, best-of-3). The count is
    #   the session's shuffle.partitions — cluster-sized, not a local
    #   constant; each (metric, dt) group still lands whole in one task,
    #   so the one-file-per-directory layout is unchanged.
    # - Partition-col-PREFIXED sort. sortWithinPartitions(metric, ts)
    #   did not satisfy the writer's required ordering (the partition
    #   columns), so V1Writes added its own sort by (metric, dt) above
    #   it — and EliminateSorts then REMOVED ours as redundant: the old
    #   executed plan's only sort was [metric, dt] (committed evidence,
    #   plans/r13/write_points_writeplan_before.txt), i.e. the tight-
    #   ts-row-group contract held only through local-mode fetch-order
    #   luck, not by construction. Prefixing the partition cols makes
    #   our sort satisfy the writer's requirement, so it SURVIVES as
    #   the plan's one sort and within-file ts order is guaranteed —
    #   dt = floor(ts/day) is monotone in ts within a metric, so the
    #   row order equals the intended (metric, ts) order. A/B: parity
    #   (2.51 vs 2.71 s, within noise).
    sort_cols = part_cols + [c for c in ("metric", "ts") if c not in part_cols]
    n_write = int(points.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    if n_groups:
        n_write = min(n_write, n_groups)
    (
        df.repartition(n_write, *[F.col(c) for c in part_cols])
        .sortWithinPartitions(*sort_cols)
        .write.mode(mode)
        .partitionBy(*part_cols)
        .parquet(path)
    )
    if bucket_metrics:
        # layout sidecar: queries need the modulus to reconstruct a
        # metric's bucket for directory pruning (underscore files are
        # invisible to Spark's parquet reader)
        import json
        import os

        with open(os.path.join(path, "_layout.json"), "w") as f:
            json.dump({"bucket_metrics": bucket_metrics}, f)


def read_layout(path: str) -> dict:
    """The store's layout sidecar ({} for unbucketed stores)."""
    import json
    import os

    p = os.path.join(path, "_layout.json")
    if os.path.exists(p):
        with open(p) as f:
            return json.load(f)
    return {}


def read_points(spark: SparkSession, path: str) -> DataFrame:
    """Read the store back in point-model shape. The ``dt`` partition
    column rides along so the query builder can emit directory-level
    pruning predicates (the analogue of Accumulo hour-range planning,
    DataStore.getQueryRanges:997-1039); it is dropped from query output
    by the projection stages."""
    df = spark.read.parquet(path)
    cols = [
        c
        for c in ["metric", "ts", "value", "tags", "viz", "dt", "metric_bucket"]
        if c in df.columns
    ]
    # promoted tag columns ride along like dt: the builder filters on them
    # (scan pushdown) and drops them before projection
    cols += [c for c in df.columns if c.startswith("tag_") and c not in cols]
    return df.select(*cols)


def _clear_stale_table_location(spark: SparkSession, table: str) -> None:
    """Remove a leftover warehouse directory for ``table`` when the table
    is NOT in the catalog.

    Each session gets a fresh Derby metastore, so ``DROP TABLE IF
    EXISTS`` is a no-op while the git-ignored ``spark-warehouse/<table>``
    directory from a prior session survives; the next ``saveAsTable``
    then fails with LOCATION_ALREADY_EXISTS. Deleting the orphaned
    location (catalog says the table does not exist, so the directory is
    unowned) makes every bucketed-table writer safe in a long-lived
    workspace. Only local ``file:`` warehouses are touched.
    """
    import shutil
    from urllib.parse import urlparse

    if spark.catalog.tableExists(table):
        return
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir"))
    if wh.scheme not in ("", "file"):
        return
    parts = table.lower().split(".")
    name = parts[-1]
    db = parts[-2] if len(parts) > 1 else spark.catalog.currentDatabase()
    rel = name if db == "default" else f"{db}.db/{name}"
    loc = os.path.join(wh.path, rel)
    if os.path.isdir(loc):
        shutil.rmtree(loc, ignore_errors=True)


def write_points_bucketed(
    points: DataFrame,
    table: str,
    n_buckets: int = 32,
    mode: str = "overwrite",
) -> None:
    """Series-bucketed store variant: co-locates every series in one
    bucket file, sorted by (series_key, ts).

    Per-series operators (rate W1, FIR W2, per-series downsample) window
    on the materialized ``series_key`` column, and the bucketed scan's
    HashPartitioning satisfies the window's required distribution — NO
    Exchange in the plan (verified in tests). At 100 TB this removes the
    one shuffle per-series analytics would otherwise pay; the trade is
    writing through a saveAsTable catalog entry and fixing n_buckets up
    front (size so a bucket's hot window fits one task: ~total series /
    n_buckets per task).

    The analogue of the reference's per-series keying of iterator state
    (DownsampleIterator.java:96-105) done at the storage layout level.
    """
    from ..model import series_id

    _clear_stale_table_location(points.sparkSession, table)
    df = points.withColumn("series_key", series_id())
    (
        df.write.bucketBy(n_buckets, "series_key")
        .sortBy("series_key", "ts")
        .mode(mode)
        .format("parquet")
        .saveAsTable(table)
    )


def write_points_stream(
    points: DataFrame,
    path: str,
    checkpoint: str,
    meta_path: str | None = None,
    trigger_seconds: int = 5,
):
    """Streaming ingest sink: partitioned Parquet + per-batch meta upsert.

    The 5 s trigger mirrors the reference's BatchWriter max-latency
    (WriteProperties.java:11); exactly-once comes from the checkpoint
    rather than BatchWriter recreate-on-reject retry (DataStore.java:462-505).
    """
    from ..operators.meta import build_meta

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        write_points(batch_df, path)
        if meta_path is not None:
            # meta side-write (DataStore.java:415-433): tiny upsert per batch
            build_meta(batch_df).write.mode("append").parquet(meta_path)

    return (
        points.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .trigger(processingTime=f"{trigger_seconds} seconds")
        .start()
    )


def compact_meta(spark: SparkSession, meta_path: str) -> DataFrame:
    """Fold appended meta deltas to one row per (metric, tag_key, tag_value)."""
    m = spark.read.parquet(meta_path)
    return m.groupBy("metric", "tag_key", "tag_value").agg(
        F.max("last_seen").alias("last_seen")
    )


def compact_meta_with_cutoff(
    spark: SparkSession,
    meta_path: str,
    now_ms: int,
    ttls: dict[str, int] | None = None,
    default_ttl_ms: int = 7 * 86_400_000,
) -> None:
    """Meta age-off (MetaAgeOffIterator.java:26-115): fold the appended
    catalog deltas AND drop entries whose last_seen is beyond the metric's
    TTL, so stale tag values stop appearing in suggest/lookup. A full
    rewrite is fine at any data scale — the catalog is O(distinct tag
    values), not O(points). Run from the retention maintenance job.
    """
    import os
    import shutil

    if not os.path.isdir(meta_path):
        return
    from ..operators.retention import ttl_for_metric

    ttl = ttl_for_metric("metric", ttls or {}, default_ttl_ms)
    kept = compact_meta(spark, meta_path).filter(
        F.col("last_seen") >= F.lit(now_ms) - ttl
    )
    tmp = meta_path.rstrip("/") + "__compacting"
    kept.coalesce(1).write.mode("overwrite").parquet(tmp)
    shutil.rmtree(meta_path)
    shutil.move(tmp, meta_path)


def compact_partitions(
    spark: SparkSession, path: str, target_file_mb: int = 512
) -> None:
    """Small-file compaction: rewrite each partition into ~target-size files.

    Metadata-level analogue of MetricCompactionStrategy.java:1-187; run as a
    maintenance job, never inline with queries.
    """
    df = spark.read.parquet(path)
    part_cols = [c for c in ("metric", "metric_bucket", "dt") if c in df.columns]
    tmp = path.rstrip("/") + "__compacting"
    # same write-plan shape as write_points (r13): explicit parallelism
    # (files-per-task is the cost driver, not bytes-per-task) and a
    # partition-col-prefixed sort so the writer adds no second sort
    n_write = int(spark.conf.get("spark.sql.shuffle.partitions"))
    (
        df.repartition(n_write, *[F.col(c) for c in part_cols])
        .sortWithinPartitions(*part_cols, "ts")
        .write.mode("overwrite")
        .partitionBy(*part_cols)
        .option("maxRecordsPerFile", 4_000_000)
        .parquet(tmp)
    )
    import os
    import shutil

    # the layout sidecar must survive the rewrite (bucketed-store
    # pruning and engine modulus discovery read it)
    sidecar = os.path.join(path, "_layout.json")
    if os.path.exists(sidecar):
        shutil.copy(sidecar, os.path.join(tmp, "_layout.json"))
    shutil.rmtree(path)
    shutil.move(tmp, path)
