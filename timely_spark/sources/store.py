"""The durable point tier: ``PointStore`` owns its layout.

Replaces the reference's Accumulo metrics-table layout (hour-rounded row
keys + per-tag cell duplication, MetricAdapter.toMutation,
common/.../accumulo/MetricAdapter.java:87-110), behind one class as the
reference's is behind ``DataStore`` (store() :385-510, range planning
:997-1039, age-off :370-383). One row per point: the N-cells-per-tag
write amplification disappears (SURVEY.md §1.4).

This module is the only code that knows which of three layouts a store
uses: partitioned Parquet ``metric=<m>/dt=<day>`` (dt = epoch day, rows
sorted by ts within each file so row-group ts stats prune like
Accumulo's hour-range seek); metric-bucketed Parquet
``metric_bucket=<b>/dt=<day>`` (``bucket_metrics``; :func:`bucket_sql`
is the one hash the writer and the pruning predicate share); or the
series-bucketed catalog table (``series_table``,
:func:`write_points_bucketed`). Parquet stores may also promote tag keys
to ``tag_<k>`` columns (:func:`with_promoted_tags`). A layout is explicit
when a store is created, else read from its ``_layout.json`` sidecar,
and a bucketing that differs from the one on disk is refused (a mixed
layout breaks partition discovery for every read). Reads pass the
writer's schema (no inference job; an all-digit metric stays a string);
:func:`scan_predicates` renders a (metric, start, end) as the predicates
that prune the layout's directories. All filesystem work goes through
the Hadoop FileSystem (``fsutil``): ``file://``, ``hdfs://``, ``s3a://``.
The catalog tier beside the store is not this module's: it belongs to
``sources/catalog.MetaCatalog``.

Scale notes (100 TB / 1000 executors):
- day-level directories keep the partition count ~O(metrics x days); a
  deployment whose metric count pushes that past ~5k directories should
  bucket the metric dimension (``bucket_metrics``).
- **metric_bucket sizing rule (MEASURED, r10 x100 store probe —
  SCALE.md round-10 table):** bucket when ``metrics x retention_days``
  exceeds ~5 000 directories, and pick
  ``bucket_metrics ~ daily_ingest_bytes / 512 MB`` (the compaction file
  target), clamped to [16, 4096]. Measured at a 100x metric fan-out on
  the sf0.1 backlog: the flat layout's 15 000 dirs cost 2.7x on ingest
  and 4.4-4.7x on engine queries (listing + footer reads dominate);
  ``bucket_metrics=64`` (1 920 dirs) restored both to within noise of
  the small-metric-set store, because the bucket predicate prunes
  ``metric_bucket`` + dt exactly like metric-directory pruning. The
  SERIES dimension needs no knob: 100x rows per partition left both
  query tiers flat (sortWithinPartitions keeps row-group ts stats
  tight — the seek reads the same row groups it read at x1).
- compaction (the TieredCompactionStrategy analogue,
  server/.../store/compaction/TieredCompactionStrategy.java:25-156) is a
  per-partition rewrite targeting ~512 MB files.
"""

from __future__ import annotations

import os
import re
from urllib.parse import unquote

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..fsutil import (
    data_file_lister,
    replace_dir,
    sidecar_delete,
    sidecar_read_json,
    sidecar_write_json,
    write_lock,
)
from ..model import METRIC_SCHEMA, series_id_sql, sql_literal
from ..operators.retention import ageoff_filter

DAY_MS = 86_400_000


def bucket_sql(metric: str, n: int) -> str:
    """The metric-bucket hash over SQL expression ``metric`` (a column
    name or a quoted literal): the writer's partition value and the
    constant the pruning predicate compares it with."""
    return f"pmod(xxhash64({metric}), {n})"


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
    for k in promote_tags:
        if not re.fullmatch(r"\w+", k):
            raise ValueError(f"cannot promote non-identifier tag key {k!r}")
        points = points.withColumn(f"tag_{k}", F.col("tags").getItem(k))
    return points


def write_group_count() -> Column:
    """Aggregate column: the approximate number of (metric, day) groups
    in a batch, the ``n_groups`` an append may be given. An undercount
    only puts two groups in one write task."""
    return F.approx_count_distinct(
        F.struct("metric", (F.col("ts") / F.lit(DAY_MS)).cast("long"))
    )


def scan_predicates(
    schema: T.StructType, metric: str | None, start_ms: int, end_ms: int
) -> list[str]:
    """SQL predicates selecting ``metric`` (skipped when None) over
    ``[start_ms, end_ms]`` from a frame :meth:`PointStore.read` returned
    (or one derived from it, such as the hot tier), with the partition
    predicates its layout prunes directories on — the analogue of
    DataStore.getQueryRanges:997-1039. The bucket id is a pure function
    of the metric literal, so its predicate folds to a constant and
    lands in PartitionFilters."""
    names = schema.names
    preds = []
    if metric is not None:
        preds.append(f"metric = {sql_literal(metric)}")
        # the modulus rides on the metric_bucket column (PointStore.read)
        n = schema["metric_bucket"].metadata.get("bucket_metrics") if "metric_bucket" in names else None
        if n:
            preds.append(f"metric_bucket = {bucket_sql(sql_literal(metric), n)}")
    preds.append(f"ts >= {start_ms} AND ts <= {end_ms}")
    if "dt" in names:
        preds.append(f"dt >= {start_ms // DAY_MS} AND dt <= {end_ms // DAY_MS}")
    return preds


class PointStore:
    """One durable tier: read, append, expire, compact and rewrite, for
    whichever layout backs it.

    ``bucket_metrics`` / ``promote_tags``: the Parquet layout of a new
    store; ``None`` adopts what the store's sidecar records. Either one
    that differs from the layout on disk raises: older files would read
    a newly promoted ``tag_<k>`` as null.
    ``series_table``: keep the points in that series-bucketed catalog
    table instead of under ``path``."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        bucket_metrics: int | None = None,
        promote_tags: list[str] | None = None,
        series_table: str | None = None,
    ):
        self.spark = spark
        self.path = path
        self.series_table = series_table
        self._sidecar = path.rstrip("/") + "/_layout.json"
        self._recorded = {} if series_table else sidecar_read_json(spark, self._sidecar) or {}
        asked = {"bucket_metrics": bucket_metrics, "promote_tags": list(promote_tags or [])}
        # a store with data has a layout: its sidecar's, or flat when only
        # unbucketed partition dirs are there
        if any(asked.values()) and (self._recorded or any(n.startswith("metric=") for n in _names(spark, path))):
            for key, want in asked.items():
                have = self._recorded.get(key)
                if want and have != want:
                    raise ValueError(
                        f"store {path!r} has layout {key}={have}; "
                        f"refusing to write a mixed layout with {key}={want}"
                    )
        self.bucket_metrics = bucket_metrics or self._recorded.get("bucket_metrics")
        self.promote_tags = list(promote_tags or self._recorded.get("promote_tags") or [])
        self._write_lock = write_lock(series_table or path.rstrip("/"))

    @property
    def layout(self) -> dict:
        """What the ``_layout.json`` sidecar records ({} for a flat
        unpromoted store)."""
        out: dict = {}
        if self.bucket_metrics:
            out["bucket_metrics"] = self.bucket_metrics
        if self.promote_tags:
            out["promote_tags"] = list(self.promote_tags)
        return out

    # -------------------------------------------------------------- read

    def schema(self) -> T.StructType:
        """The schema the Parquet writer produces: the point model, the
        promoted tag columns, and the partition columns with the types
        partition inference gives them (ints), except ``metric``, which
        stays a string."""
        fields = list(METRIC_SCHEMA.fields)
        fields += [T.StructField(f"tag_{k}", T.StringType()) for k in self.promote_tags]
        if self.bucket_metrics:
            fields.append(T.StructField("metric_bucket", T.IntegerType()))
        fields.append(T.StructField("dt", T.IntegerType()))
        return T.StructType(fields)

    def _read_fields(self) -> list[T.StructField]:
        """The fields of a Parquet layout's :meth:`read` frame, in order:
        the point model and ``dt``, then ``metric_bucket`` (carrying the
        modulus) and the promoted tag columns. A file scan reports every
        column nullable."""
        types = {f.name: f.dataType for f in self.schema().fields}
        names = ["metric", "ts", "value", "tags", "viz", "dt"]
        if self.bucket_metrics:
            names.append("metric_bucket")
        names += [f"tag_{k}" for k in self.promote_tags]
        return [
            T.StructField(
                n, types[n], True,
                {"bucket_metrics": self.bucket_metrics} if n == "metric_bucket" else {},
            )
            for n in names
        ]

    def read(self) -> DataFrame:
        """The store in point-model shape. The partition and promoted
        columns ride along for the query builder's predicates (which drop
        them before projection); ``metric_bucket`` carries the modulus
        that :func:`scan_predicates` needs."""
        if self.series_table is not None:
            return self.spark.table(self.series_table)
        df = self.spark.read.schema(self.schema()).parquet(self.path)
        return df.select(*[
            F.col(f.name).alias(f.name, metadata=f.metadata) if f.metadata else f.name
            for f in self._read_fields()
        ])

    def read_schema(self) -> T.StructType:
        """The schema of :meth:`read`'s frame, metadata included, without
        listing the store."""
        if self.series_table is not None:
            return self.spark.table(self.series_table).schema
        return T.StructType(self._read_fields())

    def like_read(self, points: DataFrame) -> DataFrame:
        """Point-model rows in exactly :meth:`read`'s columns, types,
        nullability and metadata, with the partition, promoted-tag and
        series-key columns derived per row as the writer derives them.
        Lazy: no Spark job and no listing. The hot tier appends a put's
        batch in this shape. Rendered as SQL text: built from Columns,
        the projection cost ~540 py4j round trips (~190 ms) per put."""
        derived = {
            "dt": f"CAST(ts / {DAY_MS} AS BIGINT)",
            **{f"tag_{k}": f"tags[{sql_literal(k)}]" for k in self.promote_tags},
        }
        if self.bucket_metrics:
            derived["metric_bucket"] = bucket_sql("metric", self.bucket_metrics)
        if self.series_table is not None:
            derived["series_key"] = series_id_sql()
        target = self.read_schema()
        df = points.selectExpr(*[
            f"CAST({derived.get(f.name, f.name)} AS {f.dataType.simpleString()}) AS {f.name}"
            for f in target.fields
        ])
        # a column the batch knows to be non-null: read() reports it nullable
        widen = [f.name for f, got in zip(target.fields, df.schema.fields) if f.nullable and not got.nullable]
        if widen:
            df = df.selectExpr(*[
                f"CASE WHEN {n} IS NOT NULL THEN {n} END AS {n}" if n in widen else n
                for n in target.names
            ])
        for f in target.fields:
            if f.metadata:
                df = df.withMetadata(f.name, f.metadata)
        return df

    # ------------------------------------------------------------- write

    def append(self, points: DataFrame, n_groups: int | None = None, mode: str = "append") -> None:
        """Durable write (the BatchWriter-sink analogue,
        DataStore.java:385-510).

        ``n_groups``: the batch's (metric, dt) group count when the
        caller already knows it (:func:`write_group_count`); the write
        then runs at most that many tasks instead of leaving
        shuffle-partition tasks with nothing to write. Writes to one store
        take turns (Spark's committer shares one staging directory per
        path)."""
        with self._write_lock:
            if self.series_table is not None:
                write_points_bucketed(points, self.series_table, mode=mode)
                return
            self._write(points, self.path, mode, n_groups)
            if self.layout and (mode != "append" or self._recorded != self.layout):
                sidecar_write_json(self.spark, self._sidecar, self.layout)
                self._recorded = self.layout

    def _write(self, points: DataFrame, path: str, mode: str,
               n_groups: int | None = None, max_records: int | None = None) -> None:
        df = with_promoted_tags(points, self.promote_tags).withColumn(
            "dt", (F.col("ts") / F.lit(DAY_MS)).cast("long")
        )
        part_cols = ["metric", "dt"]
        if self.bucket_metrics:
            df = df.withColumn("metric_bucket", F.expr(bucket_sql("metric", self.bucket_metrics)))
            part_cols[0] = "metric_bucket"
        # r13 (measured, plans/r13/write_points_writeplan_before.txt):
        # - an EXPLICIT partition count, the session's shuffle.partitions
        #   capped by n_groups: AQE would coalesce the keyed repartition
        #   by bytes, but a dynamic-partition write costs per file per
        #   task (sf0.1: 150 dirs in 2 tasks took 6.3 s, 2.5 s uncoalesced);
        #   each group still lands whole in one task, one file per dir.
        # - a partition-col-PREFIXED sort: it satisfies the writer's
        #   required ordering, so V1Writes adds no sort of its own and
        #   EliminateSorts cannot drop ours; within-file ts order is then
        #   guaranteed by construction (dt is monotone in ts).
        sort_cols = part_cols + [c for c in ("metric", "ts") if c not in part_cols]
        n_write = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
        if n_groups:
            n_write = min(n_write, n_groups)
        writer = (
            df.repartition(n_write, *[F.col(c) for c in part_cols])
            .sortWithinPartitions(*sort_cols)
            .write.mode(mode)
            .partitionBy(*part_cols)
        )
        if max_records:
            writer = writer.option("maxRecordsPerFile", max_records)
        writer.parquet(path)

    # ------------------------------------------------------- maintenance

    def rewrite(self, rows: DataFrame) -> None:
        """Replace the store's contents with ``rows``, which may derive
        from the store itself. Parquet layouts write a sibling directory
        and swap it in (``fsutil.replace_dir``); the series table pins
        ``rows`` (localCheckpoint) before the overwrite truncates its
        source."""
        with self._write_lock:
            if self.series_table is not None:
                pinned = rows.drop("series_key").localCheckpoint(eager=True)
                write_points_bucketed(pinned, self.series_table, mode="overwrite")
                return
            tmp = self.path.rstrip("/") + "__compacting"
            self._write(rows, tmp, "overwrite", max_records=4_000_000)
            if self.layout:
                sidecar_write_json(self.spark, tmp.rstrip("/") + "/_layout.json", self.layout)
            replace_dir(self.spark, tmp, self.path)

    def compact(self) -> None:
        """Small-file compaction (S6 maintenance, the metadata-level
        analogue of MetricCompactionStrategy.java:1-187): one sorted file
        set per partition, or per bucket of the series table. Run as a
        maintenance job, never inline with queries."""
        self.rewrite(self.read())

    def expired_partitions(self, now_ms: int, ttls: dict[str, int], default_ttl_ms: int) -> list[str]:
        """The partition directories wholly older than their TTL, as
        ``<path>/<partition>/dt=<day>``. Dropping them is metadata-only —
        no row-level rewrite at 100 TB. A ``metric_bucket`` directory
        mixes metrics, so it drops only past EVERY metric's TTL (the max
        over the configured TTLs); the query-time age-off guard hides
        shorter-TTL metrics in the meantime."""
        root = self.path.rstrip("/")
        doomed: list[str] = []
        for top in sorted(_names(self.spark, root)):
            key, _, value = top.partition("=")
            if key == "metric_bucket":
                ttl = max([default_ttl_ms, *ttls.values()])
            elif key == "metric":
                # longest matching prefix wins (MetricAgeOffIterator.java:78-120)
                metric = unquote(value)
                hits = [p for p in ttls if metric.startswith(p)]
                ttl = ttls[max(hits, key=len)] if hits else default_ttl_ms
            else:
                continue
            cutoff_day = (now_ms - ttl) // DAY_MS
            for day in sorted(_names(self.spark, f"{root}/{top}")):
                if day.startswith("dt=") and int(day[3:]) < cutoff_day:
                    doomed.append(f"{root}/{top}/{day}")
        return doomed

    def expire(self, now_ms: int, ttls: dict[str, int], default_ttl_ms: int) -> list[str]:
        """Retention (MetricAgeOffIterator): drop the expired partition
        directories and return them. The series table has no day
        partitions to drop, so its age-off is a filtered rewrite — the
        documented trade of that layout."""
        if self.series_table is not None:
            self.rewrite(ageoff_filter(self.read(), now_ms, ttls, default_ttl_ms))
            return [f"table:{self.series_table} rewrite"]
        with self._write_lock:
            doomed = self.expired_partitions(now_ms, ttls, default_ttl_ms)
            for p in doomed:
                sidecar_delete(self.spark, p)
        return doomed


def _names(spark: SparkSession, path: str) -> list[str]:
    """The entry names directly under ``path`` ([] when missing)."""
    return [p.rsplit("/", 1)[-1] for p in data_file_lister(spark, path)() or ()]


def write_points(
    points: DataFrame,
    path: str | PointStore,
    mode: str = "append",
    bucket_metrics: int | None = None,
    promote_tags: list[str] | None = None,
    n_groups: int | None = None,
) -> None:
    """Write ``points`` to the store at ``path`` (or to the given
    :class:`PointStore`, whose layout then governs). A path opens the
    store with ``bucket_metrics`` / ``promote_tags`` as its layout."""
    if not isinstance(path, PointStore):
        path = PointStore(points.sparkSession, path, bucket_metrics, promote_tags)
    path.append(points, n_groups=n_groups, mode=mode)


def read_points(spark: SparkSession, path: str | PointStore) -> DataFrame:
    """Read the store at ``path`` (or the given :class:`PointStore`) back
    in point-model shape (:meth:`PointStore.read`)."""
    if not isinstance(path, PointStore):
        path = PointStore(spark, path)
    return path.read()


def compact_partitions(spark: SparkSession, path: str) -> None:
    """Compact the Parquet store at ``path`` (:meth:`PointStore.compact`)."""
    PointStore(spark, path).compact()


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
