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
DataFrame pinned in executor memory (checkpointed row blocks; no
per-series compressor needed — Parquet encodings already play Gorilla's
compression role at rest). The hybrid read unions window + store with
the split at the window's cut, exactly the reference's seam, and because
both sides share schema the downstream aggregation is one plan —
Catalyst handles the per-series merge that DataStore.java:655-690 did by
hand.

Every window is a tuple of pinned *segments*, and it changes two ways:

- **Full rebuild** (:meth:`refresh`: ``enable_hot_cache``, a put that
  finds no window, and :meth:`restore` from an archive). The window is
  the store read filtered at the cut, pinned as one segment.
- **Append** (:meth:`append`, every other put). The reference adds each
  write to its cache (DataStoreCache.store:635-644); here the put hands
  over the batch it already checkpointed, its admitted rows rendered in
  the store's read shape (``PointStore.like_read``), and the batch
  becomes a new segment without a Spark job. The window is the union of
  its segments filtered at the cut — Structured Streaming's way with
  state (fold each micro-batch in, never recompute from the source). A
  segment whose newest row is at or below the cut is dropped; while the
  newest segment holds at least as many rows as the one before it, the
  two are merged into one pin, so a window holds O(log(window/batch))
  segments and a put's work stays batch-sized.

A put reads the window's generation (:meth:`token`) BEFORE its store
write and hands it to :meth:`append`: a full rebuild published after
that read is taken to have listed the batch already, so the append is
dropped rather than counted twice.

Window updates hold one lock, which store writes do not take. A
segment retired by a merge or by expiry releases its pin only once no
:meth:`lease` holds it: ``TimelyEngine._run`` leases the window around
its collect. A frame handed out without a lease (``query_frames``,
``points()``, views) leaves the pins it reads to Spark's ContextCleaner.

Admission control (F9, DataStoreCache.java:607-633 + 355-372): metrics
matching any ``non_cached_metrics`` regex are never pinned, and metrics
whose recent window carries more than ``max_unique_tag_sets`` distinct
tag combinations are evicted from the hot tier (the reference's
uniqueTagSets guard — one runaway-cardinality metric would otherwise
evict everyone else's cache blocks). Because the durable store holds ALL
rows, admission only changes PLACEMENT: the hybrid read routes a
rejected metric's recent rows to the cold scan, and results are
byte-identical to a single-tier scan (the ts_cache_admission oracle row
pins exactly that). A full rebuild recounts the budget from scratch; an
append recounts it over the window plus the batch and only ever adds
evictions, so an evicted metric stays out of later segments until the
next full rebuild.

Archive persistence (S10, GorillaStore.java:165-213): ``archive(path)``
persists the pinned window plus its boundary/eviction metadata through
the Spark writer (shared-filesystem safe — hdfs://, s3a://), and
``restore(path)`` re-pins it in a fresh session, so the hot tier
survives a restart without replaying ingest — the reference's HDFS
cache archive, re-expressed as Parquet + a metadata sidecar.

At scale: the cache covers `window_ms` of ingest (default 2 h ≈ the
reference's hourly-archived live compressors). Memory is bounded by
recent-window volume, not corpus size: segment pins
(``localCheckpoint``, memory and disk) spill under pressure.
"""

from __future__ import annotations

import threading
from collections.abc import Callable
from contextlib import contextmanager
from functools import reduce
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import pins
from ..model import sql_literal


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


class _Segment:
    """Rows pinned in executor memory, ``frame`` in the store's read shape.
    ``rows`` bounds their count from above (a rebuild's count, a batch's
    size, the sum of the merged segments' bounds; expired rows are not
    subtracted), ``newest`` bounds their ts from above, ``release`` frees
    their pin."""

    __slots__ = ("frame", "rows", "newest", "release", "leases", "escaped", "retired")

    def __init__(self, frame: DataFrame, rows: int, newest: int, release: Callable[[], object]):
        self.frame, self.rows, self.newest, self.release = frame, rows, newest, release
        self.leases = 0
        self.escaped = self.retired = False


class _Window(NamedTuple):
    """One published state of the window; never mutated."""

    frame: DataFrame | None  # what readers see
    cut: int | None  # hybrid split boundary: the window holds ts > cut
    newest: int | None
    evicted: tuple = ()  # metrics over the tag-set budget
    segments: tuple = ()


_EMPTY = _Window(None, None, None)


class HotCache:
    """Hold the trailing ``window_ms`` of the store in executor memory."""

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
        self._window = _EMPTY
        self._generation = 0  # bumped by every full rebuild and close
        self._lock = threading.Lock()  # window updates
        self._lease_lock = threading.Lock()  # lease counts and releases
        self._local = threading.local()  # the window this thread leased

    @property
    def _evicted(self) -> list[str]:
        return list(self._window.evicted)

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

    def _rejected(self, evicted):
        """Full admission predicate at READ time: regex set + the
        tag-set-budget evictions of the window being read."""
        rej = self._regex_rejected()
        if evicted:
            rej = rej | F.col("metric").isin(list(evicted))
        return rej

    def _over_budget(self, window: DataFrame) -> list[str]:
        """F9 eviction: one agg over the (regex-admitted) window — the
        driver collects a metric-name list, never rows."""
        over = (
            window.groupBy("metric")
            .agg(F.countDistinct(_canonical_tags()).alias("__n_tagsets"))
            .filter(F.col("__n_tagsets") > self.max_unique_tag_sets)
            .collect()
        )
        return [r["metric"] for r in over]

    # ---------------------------------------------------- window updates

    def refresh(self, points: DataFrame, now_ms: int | None = None) -> None:
        """Full rebuild of the window from ``points`` (a store read):
        ``enable_hot_cache``, and a put that finds no window yet. Puts
        that find one call :meth:`append` instead.

        Job budget: the window's pin and its count, ONE max(ts)
        aggregation more when the caller gives no ``now_ms`` (the ingest
        path already knows its batch max), plus ONE window-bounded
        distinct-tag-set aggregation when ``max_unique_tag_sets`` is set
        (the F9 guard — its cost is recent-window-sized, never
        corpus-sized). The split boundary is the window CUTOFF (now -
        window), not the oldest cached row — every ADMITTED row above the
        cutoff is in the cache by construction."""
        if now_ms is None:
            hi = points.agg(F.max("ts")).collect()[0][0]
            now_ms = hi if hi is not None else 0
        newest = self._window.newest
        if newest is not None:
            now_ms = max(now_ms, newest)  # window never moves backward
        cut = now_ms - self.window_ms
        fresh = points.filter(F.col("ts") > cut).filter(
            ~self._regex_rejected()
        )
        evicted: list[str] = []
        if self.max_unique_tag_sets is not None:
            evicted = sorted(self._over_budget(fresh))
            if evicted:
                fresh = fresh.filter(~F.col("metric").isin(evicted))
        self._rebuild(fresh, cut, now_ms, evicted)

    def _rebuild(self, frame: DataFrame, cut: int, newest: int, evicted) -> None:
        """Pin ``frame`` and publish it as the whole window, one segment."""
        base = pins.pin(frame)
        seg = _Segment(base, base.count(), newest, lambda: pins.unpin(base))
        with self._lock:
            self._generation += 1
            self._publish(_Window(base, cut, newest, tuple(evicted), (seg,)))

    def token(self) -> int | None:
        """The window's generation, which :meth:`append` takes; ``None``
        when there is no window (the put then rebuilds it with
        :meth:`refresh`). A put reads it before its store write."""
        with self._lock:
            return None if self._window.frame is None else self._generation

    def append(self, batch: DataFrame, newest: int, rows: int, token: int) -> bool:
        """Add a put's batch (checkpointed, written to the store, and
        rendered in the store's read shape by ``PointStore.like_read``)
        to the window as one segment: its admitted rows, the ``newest``
        ts of the batch, ``rows`` its size. The cut moves to
        ``max(newest, window newest) - window``;
        expired segments drop and equal-sized tail segments merge. No
        Spark job beyond the merges' pins (and the tag-set recount when
        a budget is set).

        Returns True when the window took ownership of the pin the batch
        reads (it is released with its segment); False when the batch
        holds no row past the cut, or a full rebuild or :meth:`close`
        came after :meth:`token` was read (the window then already
        reflects the store)."""
        with self._lock:
            w = self._window
            if token != self._generation or w.frame is None:
                return False
            now = max(newest, w.newest)
            cut = now - self.window_ms
            if newest <= cut:
                return False
            evicted = w.evicted
            admitted = batch.filter(~self._rejected(evicted))
            seg = _Segment(admitted, rows, newest, lambda: pins.release_pins(batch))
            live = [s for s in w.segments if s.newest > cut] + [seg]
            made = [seg]  # merged away before publishing, they retire too
            if self.max_unique_tag_sets is not None:
                over = self._over_budget(self._union(live, cut, evicted))
                evicted = tuple(sorted({*evicted, *over}))
            # while the newest segment is at least as large as the one
            # before it the two merge; a cascade of such merges is one pin
            k, rows = len(live) - 1, seg.rows
            while k and rows >= live[k - 1].rows:
                k -= 1
                rows += live[k].rows
            if k < len(live) - 1:
                tail = live[k:]
                merged = pins.pin(
                    self._union(tail, cut, evicted).coalesce(self.spark.sparkContext.defaultParallelism)
                )
                live[k:] = [_Segment(merged, rows, max(s.newest for s in tail), lambda: pins.unpin(merged))]
                made.append(live[-1])
            self._publish(_Window(self._union(live, cut, evicted), cut, now, evicted, tuple(live)), made)
            return True

    @staticmethod
    def _union(segments, cut: int, evicted) -> DataFrame:
        """The rows of ``segments`` a reader of this window may see."""
        frame = reduce(DataFrame.union, [s.frame for s in segments]).filter(f"ts > {cut}")
        if evicted:
            frame = frame.filter(f"NOT metric IN ({', '.join(map(sql_literal, evicted))})")
        return frame

    def _publish(self, window: _Window, made=()) -> None:
        """Make ``window`` the one readers see and retire the segments
        it no longer holds, of the last window or ``made`` for this one
        (the caller holds the update lock)."""
        with self._lease_lock:
            old, self._window = self._window, window
            for s in (*old.segments, *made):
                if s not in window.segments:
                    s.retired = True
                    self._release_idle(s)

    @staticmethod
    def _release_idle(seg: _Segment) -> None:
        """Free a retired segment no lease holds. A pin a frame without a
        lease may read is left to Spark's ContextCleaner (the caller
        holds the lease lock)."""
        if seg.retired and not seg.leases and seg.release is not None:
            if not seg.escaped:
                seg.release()
            seg.release = None

    # -------------------------------------------------------------- leases

    @contextmanager
    def lease(self):
        """Hold the current window's segments for the duration: reads in
        this thread see this window, and no segment it holds releases its
        pin before the lease ends, whatever puts retire meanwhile."""
        with self._lease_lock:
            w = self._window
            for s in w.segments:
                s.leases += 1
        prev = getattr(self._local, "window", None)
        self._local.window = w
        try:
            yield w
        finally:
            self._local.window = prev
            with self._lease_lock:
                for s in w.segments:
                    s.leases -= 1
                    self._release_idle(s)

    def _current(self) -> _Window:
        """The window this thread leased, else the current one, whose
        segments are then marked as read without a lease."""
        w = getattr(self._local, "window", None)
        if w is not None:
            return w
        with self._lease_lock:
            w = self._window
            for s in w.segments:
                s.escaped = True
        return w

    # ------------------------------------------------------------- status

    @property
    def oldest_ts(self) -> int | None:
        """Cache boundary: queries older than this go to the store
        (getOldestTimestamp, DataStoreCache.java:911-922). This is the
        window cutoff; the oldest actual row is >= it."""
        cut = self._window.cut
        return None if cut is None else cut + 1

    @property
    def newest_ts(self) -> int | None:
        return self._window.newest

    def status(self, max_metrics: int | None = 1000) -> dict:
        """One aggregation job over the (pinned) window — min/max/names
        together; the reference likewise walks its live maps per status
        call (DataStoreCache.java:911-922).

        ``max_metrics`` bounds the returned name list so the driver-side
        payload stays status-sized at 100k+ metric deployments (the full
        distinct count is always reported in ``metricCount``); pass
        ``None`` for the unbounded list, ``0`` for count-only."""
        with self.lease() as w:
            if w.frame is None:
                return {
                    "oldestTs": None,
                    "newestTs": None,
                    "metrics": [],
                    "metricCount": 0,
                    "nonCachedMetrics": list(self.non_cached_metrics),
                    "evicted": list(w.evicted),
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
            row = w.frame.agg(*aggs).collect()[0]
        return {
            "oldestTs": row["lo"],
            "newestTs": row["hi"],
            "metrics": list(row["names"]) if max_metrics != 0 else [],
            "metricCount": row["n"],
            "nonCachedMetrics": list(self.non_cached_metrics),
            "evicted": list(w.evicted),
        }

    # -------------------------------------------------------------- reads

    def read(
        self, store_reader: Callable[[], DataFrame], since_ms: int | None = None
    ) -> DataFrame:
        """The points a reader from ``since_ms`` on can see, from the
        tier that holds them: the window alone when the range starts past
        the cut and admission keeps no metric out (then ``store_reader``
        is never called, so the store is neither listed nor scanned),
        else the seam over ``store_reader()``."""
        w = self._current()
        if (
            w.frame is not None
            and since_ms is not None
            and since_ms > w.cut
            and not self.non_cached_metrics
            and not w.evicted
        ):
            return w.frame
        return self._hybrid(w, store_reader())

    def _hybrid(self, w: _Window, store_points: DataFrame) -> DataFrame:
        """Union view: recent rows from the hot tier, older rows from the
        store, split at the cut (DataStore.java:655-690). A metric the
        admission policy keeps OUT of the hot tier reads its recent rows
        from the cold scan instead — placement changes, results never
        do. The store side keeps its partition pruning."""
        if w.frame is None:
            return store_points
        cold = store_points.filter(
            (F.col("ts") <= w.cut) | self._rejected(w.evicted)
        )
        hot = w.frame
        cols = [c for c in store_points.columns if c in hot.columns]
        return cold.select(*cols).unionByName(hot.select(*cols))

    # ------------------------------------------------------------ archive

    def archive(self, path: str) -> None:
        """Persist the window + boundary/eviction metadata (the S10 HDFS
        cache archive, GorillaStore.java:165-213) so a restart re-pins
        without replaying ingest. The window goes through the Spark
        writer; the metadata rides a JSON sidecar written via the Hadoop
        FS API — both land on the filesystem that owns the path (file://,
        hdfs://, s3a://), never on a driver-local disk (the
        store-existence-probe lesson, BASELINE.md; r12 moved the sidecar
        off the one-row-parquet Spark job, see ``fsutil``)."""
        from ..fsutil import sidecar_write_json

        with self.lease() as w:
            if w.frame is None:
                raise ValueError("nothing to archive: refresh() first")
            w.frame.write.mode("overwrite").parquet(path)
        sidecar_write_json(
            self.spark,
            path + "_meta.json",
            {
                "cut": int(w.cut),
                "newest": int(w.newest),
                "evicted": list(w.evicted),
                "non_cached": list(self.non_cached_metrics),
                "window_ms": int(self.window_ms),
                "max_unique_tag_sets": (
                    None
                    if self.max_unique_tag_sets is None
                    else int(self.max_unique_tag_sets)
                ),
            },
        )

    def restore(self, path: str) -> None:
        """Re-pin an archived window in this (possibly fresh) session:
        the restart path, a full rebuild like :meth:`refresh`. The
        restored cache carries the archived boundary, eviction list and
        admission config, so the seam splits exactly as before the
        restart. The archive is read by schema inference, which keeps the
        store's read schema, ``metric_bucket``'s modulus included: Spark
        stores field metadata in the Parquet footer, so appended segments
        match the restored rows. The metadata sidecar is a
        driver-side JSON read (r12 zero-job sidecar, see ``fsutil``)."""
        from ..fsutil import sidecar_read_json

        meta = sidecar_read_json(self.spark, path + "_meta.json")
        if meta is None:
            raise FileNotFoundError(f"Path does not exist: {path}_meta.json")
        self.non_cached_metrics = list(meta["non_cached"])
        self.window_ms = int(meta["window_ms"])
        # Carry the FULL admission config, not just its last outcome —
        # without this the first refresh() after a restart would take
        # the no-budget branch and silently re-admit runaway-cardinality
        # metrics (the F9 guard must survive the restart it exists for).
        # Sidecars written before this field default to "no budget".
        muts = meta.get("max_unique_tag_sets")
        self.max_unique_tag_sets = None if muts is None else int(muts)
        self._rebuild(self.spark.read.parquet(path), int(meta["cut"]), int(meta["newest"]), meta["evicted"])

    def close(self) -> None:
        with self._lock:
            self._generation += 1
            self._publish(_EMPTY)
