"""Recent-window hot tier — the Gorilla-cache analogue (S7/X3/F9/S10).

Reference: server/.../store/cache/DataStoreCache.java keeps the last N
hours of every (cacheable) series in per-series Gorilla compressors and
answers the recent part of a query from memory; a subquery spanning the
cache boundary is split at the cache's oldest timestamp and the partial
results merge per series (DataStore.java:655-690).

Tier selection happens when the plan is built, in one place
(:meth:`HotCache.read`): ``TimelyEngine.points`` passes the request's
earliest (period-floored) start. Past the cut with nothing rejected by
admission, the read is the pinned window alone — no store listing, no
Parquet scan; otherwise the hybrid seam below. Results never change:
the seam reads only ``ts <= cut`` (plus rejected metrics) from the
store, so admitted rows past the cut were only ever visible through
the window.

Spark shape: there is only ONE durable tier (partitioned Parquet), so the
hot tier is an *optimization*, not a semantic feature — a recent-window
DataFrame pinned with ``.cache()`` (Tungsten columnar, lineage-backed; no
per-series compressor needed — Parquet encodings already play Gorilla's
compression role at rest). The hybrid read unions cache + store with the
split at the cache's oldest ts, exactly the reference's seam, and because
both sides share schema the downstream aggregation is one plan —
Catalyst handles the per-series merge that DataStore.java:655-690 did by
hand.

Admission control (F9, DataStoreCache.java:607-633 + 355-372): metrics
matching any ``non_cached_metrics`` regex are never pinned, and metrics
whose recent window carries more than ``max_unique_tag_sets`` distinct
tag combinations are evicted from the hot tier (the reference's
uniqueTagSets guard — one runaway-cardinality metric would otherwise
evict everyone else's cache blocks). Because the durable store holds ALL
rows, admission only changes PLACEMENT: the hybrid read routes a
rejected metric's recent rows to the cold scan, and results are
byte-identical to a single-tier scan (the ts_cache_admission oracle row
pins exactly that).

Archive persistence (S10, GorillaStore.java:165-213): ``archive(path)``
persists the pinned window plus its boundary/eviction metadata through
the Spark writer (shared-filesystem safe — hdfs://, s3a://), and
``restore(path)`` re-pins it in a fresh session, so the hot tier
survives a restart without replaying ingest — the reference's HDFS
cache archive, re-expressed as Parquet + a metadata sidecar.

At scale: the cache covers `window_ms` of ingest (default 2 h ≈ the
reference's hourly-archived live compressors). Memory is bounded by
recent-window volume, not corpus size; executors evict blocks LRU under
pressure and lineage recomputes from Parquet — degradation, not failure.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _canonical_tags(col: str = "tags"):
    """Order-independent rendering of the tag map — the unique-tag-set
    KEY (the reference counts TreeMap-sorted tag strings; map_entries
    order is storage-dependent, so sort before joining)."""
    return F.array_join(
        F.transform(
            F.array_sort(F.map_entries(F.col(col))),
            lambda e: F.concat(e["key"], F.lit("="), e["value"]),
        ),
        ",",
    )


class HotCache:
    """Pin the trailing ``window_ms`` of the store in executor memory."""

    def __init__(
        self,
        spark: SparkSession,
        window_ms: int = 2 * 3_600_000,
        non_cached_metrics: tuple[str, ...] | list[str] = (),
        max_unique_tag_sets: int | None = None,
    ):
        self.spark = spark
        self.window_ms = window_ms
        self.non_cached_metrics = list(non_cached_metrics)
        self.max_unique_tag_sets = max_unique_tag_sets
        self._df: DataFrame | None = None
        self._cut: int | None = None  # window cutoff = hybrid split boundary
        self._newest: int | None = None
        self._evicted: list[str] = []  # metrics over the tag-set budget

    # --------------------------------------------------------- admission

    def _regex_rejected(self):
        """Column predicate: metric matches any non-cached pattern.

        Patterns are UNANCHORED regexes (``rlike`` substring semantics):
        ``non_cached_metrics=("view",)`` rejects ``pageview_total`` too.
        The reference's nonCachedMetrics is an exact-name set plus regex
        patterns (DataStoreCache.java:355-372); callers wanting exact
        names should anchor (``^view$``). Placement-only either way —
        results never change, only what is pinned hot."""
        rej = F.lit(False)
        for p in self.non_cached_metrics:
            rej = rej | F.col("metric").rlike(p)
        return rej

    def _rejected(self):
        """Full admission predicate at READ time: regex set + the
        tag-set-budget evictions computed by the last refresh."""
        rej = self._regex_rejected()
        if self._evicted:
            rej = rej | F.col("metric").isin(self._evicted)
        return rej

    # ------------------------------------------------------------ refresh

    def refresh(self, points: DataFrame, now_ms: int | None = None) -> None:
        """(Re)pin the recent window; called post-ingest or on a timer
        (the archive/age-off cycle, DataStoreCache.java:635-644).

        Job budget: ZERO Spark jobs when the caller supplies ``now_ms``
        (the ingest path already knows its batch max), ONE max(ts)
        aggregation otherwise, plus ONE window-bounded distinct-tag-set
        aggregation when ``max_unique_tag_sets`` is set (the F9 guard —
        its cost is recent-window-sized, never corpus-sized). The split
        boundary is the window CUTOFF (now - window), not the oldest
        cached row — every ADMITTED row above the cutoff is in the
        cache by construction. The pinned DataFrame materializes lazily
        on first query."""
        if now_ms is None:
            hi = points.agg(F.max("ts")).collect()[0][0]
            now_ms = hi if hi is not None else 0
        if self._newest is not None:
            now_ms = max(now_ms, self._newest)  # window never moves backward
        cut = now_ms - self.window_ms
        fresh = points.filter(F.col("ts") > cut).filter(
            ~self._regex_rejected()
        )
        if self.max_unique_tag_sets is not None:
            # F9 eviction: one agg over the (regex-admitted) window —
            # the driver collects a metric-name list, never rows
            over = (
                fresh.groupBy("metric")
                .agg(
                    F.countDistinct(_canonical_tags()).alias("__n_tagsets")
                )
                .filter(F.col("__n_tagsets") > self.max_unique_tag_sets)
                .collect()
            )
            self._evicted = sorted(r["metric"] for r in over)
            if self._evicted:
                fresh = fresh.filter(~F.col("metric").isin(self._evicted))
        else:
            self._evicted = []
        if self._df is not None:
            self._df.unpersist()
        self._df = fresh.cache()
        self._cut, self._newest = cut, now_ms

    # ------------------------------------------------------------- status

    @property
    def oldest_ts(self) -> int | None:
        """Cache boundary: queries older than this go to the store
        (getOldestTimestamp, DataStoreCache.java:911-922). This is the
        window cutoff; the oldest actual row is >= it."""
        return None if self._cut is None else self._cut + 1

    @property
    def newest_ts(self) -> int | None:
        return self._newest

    def status(self, max_metrics: int | None = 1000) -> dict:
        """One aggregation job over the (cached) window — min/max/names
        together; the reference likewise walks its live maps per status
        call (DataStoreCache.java:911-922).

        ``max_metrics`` bounds the returned name list so the driver-side
        payload stays status-sized at 100k+ metric deployments (the full
        distinct count is always reported in ``metricCount``); pass
        ``None`` for the unbounded list, ``0`` for count-only."""
        if self._df is None:
            return {
                "oldestTs": None,
                "newestTs": None,
                "metrics": [],
                "metricCount": 0,
                "nonCachedMetrics": list(self.non_cached_metrics),
                "evicted": list(self._evicted),
            }
        aggs = [
            F.min("ts").alias("lo"),
            F.max("ts").alias("hi"),
            F.countDistinct("metric").alias("n"),
        ]
        if max_metrics != 0:
            names_agg = F.sort_array(F.collect_set("metric"))
            if max_metrics is not None:
                names_agg = F.slice(names_agg, 1, max_metrics)
            aggs.append(names_agg.alias("names"))
        row = self._df.agg(*aggs).collect()[0]
        return {
            "oldestTs": row["lo"],
            "newestTs": row["hi"],
            "metrics": list(row["names"]) if max_metrics != 0 else [],
            "metricCount": row["n"],
            "nonCachedMetrics": list(self.non_cached_metrics),
            "evicted": list(self._evicted),
        }

    # -------------------------------------------------------------- reads

    def read(
        self, store_reader: Callable[[], DataFrame], since_ms: int | None = None
    ) -> DataFrame:
        """The points a reader from ``since_ms`` on can see, from the
        tier that holds them: the pinned window alone when the range
        starts past the cut and admission keeps no metric out (then
        ``store_reader`` is never called, so the store is neither listed
        nor scanned), else :meth:`hybrid` over ``store_reader()``."""
        if (
            self._df is not None
            and since_ms is not None
            and since_ms > self._cut
            and not self.non_cached_metrics
            and not self._evicted
        ):
            return self._df
        return self.hybrid(store_reader())

    def hybrid(self, store_points: DataFrame) -> DataFrame:
        """Union view: recent rows from the cached tier, older rows from
        the store, split at the cache's oldest ts (DataStore.java:655-690).
        A metric the admission policy keeps OUT of the hot tier reads
        its recent rows from the cold scan instead — placement changes,
        results never do.

        Returns a plain DataFrame — callers (the query builder) see one
        logical table; the cached side serves from memory, the store side
        keeps its partition pruning.
        """
        if self._df is None or self._cut is None:
            return store_points
        cold = store_points.filter(
            (F.col("ts") <= self._cut) | self._rejected()
        )
        hot = self._df
        cols = [c for c in store_points.columns if c in hot.columns]
        return cold.select(*cols).unionByName(hot.select(*cols))

    # ------------------------------------------------------------ archive

    def archive(self, path: str) -> None:
        """Persist the pinned window + boundary/eviction metadata (the
        S10 HDFS cache archive, GorillaStore.java:165-213) so a restart
        re-pins without replaying ingest. The window goes through the
        Spark writer; the metadata rides a JSON sidecar written via the
        Hadoop FS API — both land on the filesystem that owns the path
        (file://, hdfs://, s3a://), never on a driver-local disk (the
        store-existence-probe lesson, BASELINE.md; r12 moved the
        sidecar off the one-row-parquet Spark job, see ``fsutil``)."""
        if self._df is None or self._cut is None:
            raise ValueError("nothing to archive: refresh() first")
        from ..fsutil import sidecar_delete, sidecar_write_json

        self._df.write.mode("overwrite").parquet(path)
        sidecar_write_json(
            self.spark,
            path + "_meta.json",
            {
                "cut": int(self._cut),
                "newest": int(self._newest),
                "evicted": list(self._evicted),
                "non_cached": list(self.non_cached_metrics),
                "window_ms": int(self.window_ms),
                "max_unique_tag_sets": (
                    None
                    if self.max_unique_tag_sets is None
                    else int(self.max_unique_tag_sets)
                ),
            },
        )
        sidecar_delete(self.spark, path + "_meta")  # pre-r12 layout

    def restore(self, path: str) -> None:
        """Re-pin an archived window in this (possibly fresh) session:
        the restart path. The restored cache carries the archived
        boundary, eviction list and admission config, so hybrid() seams
        exactly as before the restart. The metadata sidecar is a
        driver-side JSON read (r12 zero-job sidecar, see ``fsutil``);
        pre-r12 one-row-parquet sidecars still restore via the
        fallback."""
        import json as _json

        from ..fsutil import sidecar_read_json

        meta = sidecar_read_json(self.spark, path + "_meta.json")
        if meta is None:  # pre-r12 layout
            row = self.spark.read.parquet(path + "_meta").collect()[0]
            meta = {
                "cut": row["cut"],
                "newest": row["newest"],
                "evicted": _json.loads(row["evicted"]),
                "non_cached": _json.loads(row["non_cached"]),
                "window_ms": row["window_ms"],
                "max_unique_tag_sets": (
                    row["max_unique_tag_sets"]
                    if "max_unique_tag_sets" in row.__fields__
                    else None
                ),
            }
        if self._df is not None:
            self._df.unpersist()
        self._df = self.spark.read.parquet(path).cache()
        self._cut = int(meta["cut"])
        self._newest = int(meta["newest"])
        self._evicted = list(meta["evicted"])
        self.non_cached_metrics = list(meta["non_cached"])
        self.window_ms = int(meta["window_ms"])
        # Carry the FULL admission config, not just its last outcome —
        # without this the first refresh() after a restart would take
        # the no-budget branch and silently re-admit runaway-cardinality
        # metrics (the F9 guard must survive the restart it exists for).
        # Sidecars written before this field default to "no budget".
        muts = meta.get("max_unique_tag_sets")
        self.max_unique_tag_sets = None if muts is None else int(muts)

    def close(self) -> None:
        if self._df is not None:
            self._df.unpersist()
            self._df = None
            self._cut = self._newest = None
            self._evicted = []
