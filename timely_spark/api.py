"""TimelyEngine — the user-facing facade.

Binds the whole engine together behind the reference's API surface so a
user of the reference can switch: ``put`` (ingest), ``query`` (the
OpenTSDB-style read, POST /api/query), ``suggest``, ``lookup``,
``metrics``, ``aggregators``, ``version``, ``cache_status``, plus the
maintenance entry points (retention, compaction) and subscriptions.

Reference endpoint inventory: SURVEY.md §2.8/§3; the annotated request
classes under common/src/main/java/timely/api/request/.
"""

from __future__ import annotations

import json
import time
from contextlib import nullcontext
from typing import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import pins
from .model import METRIC_SCHEMA
from .operators.aggregators import MERGE_AGGREGATORS
from .operators.exclusions import apply_exclusions
from .operators.retention import ageoff_filter
from .plans.builder import query_start, run_query
from .plans.request import QueryRequest
from .plans.response import to_query_response
from .sources.catalog import MetaCatalog
from .sources.lineprotocol import parse_lines_df
from .sources.store import PointStore, read_points, write_group_count, write_points

VERSION = "0.0.3"  # parity with VersionRequest.java


class _AllAuths:
    """Sentinel: explicitly bypass visibility enforcement (superuser scans,
    maintenance jobs). Distinct from ``None``/omitted, which fails CLOSED —
    the reference always applies the visibility filter, and an anonymous
    caller holds an empty auth set that can only read unlabeled data
    (AnonymousUserDetails / ConfigurableVisibilityFilter)."""

    def __repr__(self) -> str:  # pragma: no cover
        return "ALL_AUTHS"


ALL_AUTHS = _AllAuths()


class NoMatchingTagsError(ValueError):
    """A SubQuery matched zero series. The reference fails the whole
    request with HTTP 400 "No matching tags" (DataStore.java:939); the
    HTTP facade maps this exception onto that status. Library callers get
    the lenient empty-list behavior unless they pass ``strict=True``."""


class TimelyEngine:
    def __init__(
        self,
        spark: SparkSession,
        store_path: str,
        meta_path: str | None = None,
        default_visibility: str | None = None,
        metric_blocklist: list[str] | None = None,
        tag_strips: dict[str, list[str]] | None = None,
        ttls: dict[str, int] | None = None,
        default_ttl_ms: int | None = None,
        promote_tags: list[str] | None = None,
        bucket_metrics: int | None = None,
        series_table: str | None = None,
    ):
        self.spark = spark
        # the durable tier; its layout is the store's alone
        # (sources/store.PointStore)
        self.store = PointStore(
            spark,
            store_path,
            bucket_metrics=bucket_metrics,
            promote_tags=promote_tags,
            series_table=series_table,
        )
        self.meta_path = meta_path or store_path.rstrip("/") + "_meta"
        self.default_visibility = default_visibility
        self.metric_blocklist = metric_blocklist or []
        self.tag_strips = tag_strips or {}
        self.ttls = ttls or {}
        self.default_ttl_ms = default_ttl_ms
        self._hot = None  # optional recent-window tier (enable_hot_cache)
        # distinct viz-expression sidecar of the meta side-write: queries
        # evaluate visibility against it instead of a per-query distinct
        # scan over the point store
        self._viz_path = self.meta_path.rstrip("/") + "_viz"
        # the catalog tier: writes, reads and ages off both side-writes
        self.catalog = MetaCatalog(spark, self.meta_path, self._viz_path)

    # ------------------------------------------------------------- ingest

    def put_lines(self, lines: Iterable[str]) -> int:
        """Ingest line-protocol strings (TCP/UDP put analogue, S1/S2).

        Returns the number of points stored. Fire-and-forget semantics on
        malformed lines (dropped), like TcpPutHandler.
        """
        df = self.spark.createDataFrame([(l,) for l in lines], ["value"])
        pts = parse_lines_df(df)
        return self._store(pts)

    def put_json(self, payloads: Iterable[str | dict]) -> int:
        """HTTP POST /api/put analogue (S3): JSON Metric objects
        {"metric": ..., "timestamp": ms, "value": v, "tags": {...}}."""
        rows = []
        for p in payloads:
            d = json.loads(p) if isinstance(p, str) else p
            tags = dict(d.get("tags", {}))
            viz = tags.pop("viz", None)
            ts = int(d["timestamp"])
            if ts < 1_000_000_000_000:
                ts *= 1000
            rows.append((d["metric"], ts, float(d["value"]), tags, viz))
        pts = self.spark.createDataFrame(rows, METRIC_SCHEMA)
        return self._store(pts)

    def put_flatbuffers(self, frames: Iterable[bytes]) -> int:
        """FlatBuffers Metrics-batch ingest (S1 binary variant,
        MetricsBufferDecoder.java:21-60): one frame per TCP read."""
        from .sources.flatbuf import parse_flatbuffers_df

        df = self.spark.createDataFrame(
            [(bytearray(f),) for f in frames], "payload binary"
        )
        return self._store(parse_flatbuffers_df(df))

    def _store(self, pts: DataFrame) -> int:
        pts = apply_exclusions(pts, self.metric_blocklist, self.tag_strips)
        if self.default_visibility:
            # default-visibility injection (DataStore.java:402-407)
            pts = pts.withColumn(
                "viz", F.coalesce(F.col("viz"), F.lit(self.default_visibility))
            )
        # localCheckpoint, not cache(): the batch may DERIVE from this very
        # store (e.g. the summarization write-back loop), and the append
        # below auto-invalidates any cache reading the store path — a plain
        # cache would then re-evaluate the batch against its own output
        # (observed as a duplicate 'sample' tag). Truncating lineage pins
        # the batch contents; it stays distributed (executor blocks). The
        # pin is released at the end of the put, unless the hot tier keeps
        # the batch as a window segment (then it goes with the segment).
        pts = pins.pin(pts)
        hot = self._hot
        kept = False
        try:
            # one stats job covers the emptiness check, the hot tier's
            # window anchor, the batch's viz expressions and its write
            # groups; a global aggregate, so none of them adds an exchange
            stats = pts.agg(
                F.count(F.lit(1)).alias("n"),
                F.max("ts").alias("hi"),
                F.collect_set("viz").alias("viz"),
                write_group_count().alias("groups"),
            ).collect()[0]
            n = stats["n"]
            if n:
                # before the write, so that a rebuild published after it
                # counts as having read the batch
                token = hot.token() if hot is not None else None
                write_points(pts, self.store, n_groups=stats["groups"])
                try:
                    # before the append: a merge inside it can release
                    # the batch pin that the meta collect reads
                    self.catalog.record(pts, set(stats["viz"]))
                    if token is not None:
                        # cache append analogue (DataStoreCache.store:635-644)
                        kept = hot.append(self.store.like_read(pts), stats["hi"], n, token)
                    elif hot is not None:
                        # no window yet: build it from the store
                        hot.refresh(read_points(self.spark, self.store), now_ms=stats["hi"])
                except Exception:
                    if token is not None:
                        # the batch is stored but not in the window, which
                        # would hide its rows past the cut: drop the window,
                        # and the next put rebuilds it from the store
                        hot.close()
                    raise
        finally:
            if not kept:
                pins.unpin(pts)
        return n

    # ----------------------------------------------------------- hot tier

    def enable_hot_cache(
        self,
        window_ms: int = 2 * 3_600_000,
        non_cached_metrics: tuple[str, ...] | list[str] = (),
        max_unique_tag_sets: int | None = None,
    ) -> None:
        """Pin the trailing window in executor memory (the Gorilla-cache
        analogue, S7); queries transparently read cache+store hybrid
        (DataStore.java:655-690). ``non_cached_metrics`` /
        ``max_unique_tag_sets`` are the F9 admission controls
        (DataStoreCache.java:607-633, 355-372) — rejected metrics'
        recent rows route to the cold scan, results never change."""
        from .sources.hot_cache import HotCache

        self._hot = HotCache(
            self.spark,
            window_ms,
            non_cached_metrics=non_cached_metrics,
            max_unique_tag_sets=max_unique_tag_sets,
        )
        try:
            self._hot.refresh(read_points(self.spark, self.store))
        except Exception:
            pass  # empty store: first ingest will refresh

    def attach_hot_cache(self, cache) -> None:
        """Adopt an existing HotCache — the restart path: a cache
        restored from its S10 archive (HotCache.restore) serves this
        engine's hybrid reads without replaying ingest. An already
        attached/enabled cache is closed first so its pinned DataFrame
        does not linger in executor memory for the session lifetime."""
        if getattr(self, "_hot", None) is not None and self._hot is not cache:
            self._hot.close()
        self._hot = cache

    # -------------------------------------------------------------- reads

    def points(self, now_ms: int | None = None,
               dynamic_now: bool = False, since_ms: int | None = None) -> DataFrame:
        """Stored points with the query-time age-off guard applied
        (DataStoreCache.java:747-750). ``now_ms`` is injectable so tests
        and replays can pin the clock; defaults to wall time.
        ``dynamic_now`` binds the clock as ``current_timestamp()`` so a
        LONG-LIVED frame (a registered SQL view) ages rows off at query
        time instead of freezing the registration-time clock.
        ``since_ms``: the earliest timestamp the reader needs; with the
        hot tier on, a range wholly inside the pinned window reads the
        window alone (``HotCache.read``, plan-time tier selection)."""
        if self._hot is not None:
            df = self._hot.read(lambda: read_points(self.spark, self.store), since_ms)
        else:
            df = read_points(self.spark, self.store)
        if self.default_ttl_ms is not None:
            if dynamic_now:
                now = F.unix_millis(F.current_timestamp())
            else:
                now = now_ms if now_ms is not None else int(time.time() * 1000)
            df = ageoff_filter(
                df,
                now_ms=now,
                ttls=self.ttls,
                default_ttl_ms=self.default_ttl_ms,
            )
        return df

    def meta(self) -> DataFrame:
        """The meta catalog as a frame (``MetaCatalog.meta``)."""
        return self.catalog.meta()

    def register_views(self, prefix: str = "timely", auths=None) -> list[str]:
        """Expose the lake to plain ``spark.sql``: temp views
        ``<prefix>_points`` and ``<prefix>_meta``. SQL users get the
        same Catalyst pushdown AND the same enforcement the query path
        gets: visibility is applied under ``auths`` with the fail-closed
        default (omitted = anonymous = unlabeled rows only; pass
        ``ALL_AUTHS`` to bypass explicitly, exactly like query()), and
        the age-off clock binds to current_timestamp() so the view ages
        rows off at QUERY time, not registration time. Returns the view
        names."""
        from .functions.viz import viz_filter

        names = [f"{prefix}_points", f"{prefix}_meta"]
        pts = self.points(dynamic_now=True)
        if auths is not ALL_AUTHS:  # the explicit bypass, like query()
            known = self.catalog.viz()
            pts = viz_filter(
                pts,
                auths or set(),
                known_exprs=sorted(known) if known is not None else None,
            )
        pts.createOrReplaceTempView(names[0])
        self.meta().createOrReplaceTempView(names[1])
        return names

    def query(self, request: dict, auths=None, strict: bool = False) -> list[dict]:
        """POST /api/query: OpenTSDB JSON in, OpenTSDB JSON out.

        ``auths``: the caller's authorization set. Omitted/None = anonymous
        (empty auth set — only unlabeled data, fail closed). Pass
        ``timely_spark.api.ALL_AUTHS`` to bypass enforcement explicitly.
        ``strict``: raise :class:`NoMatchingTagsError` when a SubQuery
        matches zero series (the reference's HTTP behavior).
        """
        req = QueryRequest.from_dict(request)
        return self._run(req, auths, strict=strict)

    def query_get(self, params: dict, auths=None, strict: bool = False) -> list[dict]:
        """GET /api/query?start=..&m=agg:[rate:][ds:]metric{tags} — the
        OpenTSDB mini-language (QueryRequest.java:515-627). Same ``auths``
        semantics as :meth:`query`."""
        from .plans.request import parse_get_query

        return self._run(parse_get_query(params), auths, strict=strict)

    def build_rollup(self, level_ms: int, now_ms: int | None = None) -> DataFrame:
        """Continuous-aggregate partials of this store at ``level_ms``, in
        the points' shape: ``(metric, series_key, tags, ts, value)`` with
        ``ts`` the start of the level bucket and ``value`` a
        ``struct<n, vsum decimal(38,10), vmin, vmax>`` over the series'
        points in it — the hypertable tier (operators/rollup.py) at
        per-series grain, ready for :meth:`query_rollup`. Persist it
        (parquet, partitioned like the store) in a real deployment; the
        frame is also usable lazily for tests/oracles."""
        from .model import series_id

        return (
            self.points(now_ms=now_ms)
            .select(
                "metric", series_id().alias("series_key"), "tags",
                (F.col("ts") - F.col("ts") % F.lit(level_ms)).alias("ts"), "value",
            )
            .groupBy("metric", "series_key", "ts")
            .agg(
                F.expr("first(tags) AS tags"),
                F.count("value").alias("n"),
                F.expr("sum(CAST(value AS DECIMAL(38,10))) AS vsum"),
                F.min("value").alias("vmin"),
                F.max("value").alias("vmax"),
            )
            # the struct wraps the aggregate's flat outputs, so a query
            # that reads one field prunes the other partials' aggregates
            .select(
                "metric", "series_key", "tags", "ts",
                F.struct("n", "vsum", "vmin", "vmax").alias("value"),
            )
        )

    def query_rollup(
        self,
        request: dict,
        partials: DataFrame,
        level_ms: int,
        auths=None,
    ) -> list[dict]:
        """Answer an OpenTSDB query from a rollup tier instead of raw
        points — the hypertable promise on the REAL request path: a
        downsample query whose period the level divides touches
        period/level-x fewer rows and never rescans the store.

        Eligibility (ValueError otherwise — callers fall back to
        :meth:`query`): no rate, no tsuids, downsample aggregator and
        cross-series aggregator both in avg/sum/min/max/count, period a
        multiple of ``level_ms``. Visibility: partials pre-aggregate
        rows, so per-row viz enforcement is impossible here — requires
        ALL_AUTHS (or a store with no labeled rows, which is the
        caller's contract to know). Like :meth:`query`, the SubQueries
        compile through ``plans/builder.run_query`` and fuse into one
        plan and one collect."""
        req = QueryRequest.from_dict(request)
        return to_query_response(
            self._rollup_frames(req, partials, level_ms, auths),
            ms_resolution=req.ms_resolution,
        )

    def query_rollup_frames(
        self,
        request: dict,
        partials: DataFrame,
        level_ms: int,
        auths=None,
    ) -> list[DataFrame]:
        """One result DataFrame per SubQuery from the rollup tier,
        BEFORE response shaping — the Spark-native / plan-auditable
        entry (VERDICT r11 #3), with :meth:`query_rollup`'s exact
        eligibility rules and semantics."""
        return self._rollup_frames(
            QueryRequest.from_dict(request), partials, level_ms, auths
        )

    def _rollup_frames(
        self, req: QueryRequest, partials: DataFrame, level_ms: int, auths
    ) -> list[DataFrame]:
        if auths is not ALL_AUTHS:
            raise ValueError(
                "query_rollup bypasses per-row visibility; pass "
                "auths=ALL_AUTHS or use query()"
            )
        for q in req.queries:
            spec = q.downsample_spec()
            if (
                q.rate
                or q.tsuids
                or spec is None
                or spec.period_ms % level_ms != 0
                or spec.aggregator not in MERGE_AGGREGATORS
                or q.aggregator not in MERGE_AGGREGATORS
            ):
                raise ValueError(
                    f"SubQuery not rollup-eligible (metric={q.metric!r}); "
                    "use query()"
                )
            if (req.end + 1) % level_ms != 0:
                # partials cannot cut inside a level bucket: an unaligned
                # end would silently include points past it (query()
                # filters raw ts <= end exactly)
                raise ValueError(
                    f"SubQuery not rollup-eligible: end={req.end} does not "
                    f"align to the level boundary (end = k*{level_ms} - 1); "
                    "use query()"
                )
        return run_query(partials, req)

    def query_frames(self, request: dict, auths=None) -> list[DataFrame]:
        """One result DataFrame per SubQuery BEFORE response shaping —
        the Spark-native entry (same pipeline as :meth:`query`: request
        parse -> pruned hybrid scan -> tag predicates -> rate ->
        downsample -> combine). This is the frame a Spark-native caller
        composes further, and the frame the plan audit inspects
        (VERDICT r11 #3: the engine-path plans are the ones a user
        actually runs — auditing the response-shaped rows was a blind
        spot). Columns: (metric, tags, bucket_ts, value)."""
        return self._frames(QueryRequest.from_dict(request), auths)

    def _frames(self, req: QueryRequest, auths) -> list[DataFrame]:
        eff = None if auths is ALL_AUTHS else set(auths or ())
        known = self.catalog.viz() if eff else None
        viz_exprs = sorted(known) if known is not None else None
        # the tier is picked here, from the earliest row any SubQuery reads
        since = min((query_start(q, req.start) for q in req.queries), default=req.start)
        return run_query(self.points(since_ms=since), req, auths=eff, viz_exprs=viz_exprs)

    def _run(self, req: QueryRequest, auths, strict: bool = False) -> list[dict]:
        """One plan, one collect: the SubQuery frames fuse inside
        ``to_query_response``; the strict "No matching tags" check stays
        per SubQuery, on the ones that came back empty."""

        def no_rows(i: int) -> None:
            if strict and not self.catalog.has_tags(req.queries[i]):
                raise NoMatchingTagsError("No matching tags")

        # the lease keeps the window's pins alive until the collect is done
        with self._hot.lease() if self._hot is not None else nullcontext():
            return to_query_response(
                self._frames(req, auths), ms_resolution=req.ms_resolution, on_empty=no_rows
            )

    def suggest(self, q: str, kind: str = "metrics", max_results: int = 25,
                tag: str | None = None) -> list[str]:
        """/api/suggest from the driver-resident catalog
        (``MetaCatalog.suggest``): the answers of ``operators.meta.suggest``
        over :meth:`meta`, with no Spark job unless puts landed new
        ``_meta`` files since the last read, and then one job that reads
        only those files."""
        return self.catalog.suggest(q, kind, max_results, tag=tag)

    def lookup(self, metric: str, tags: dict[str, str] | None = None, limit: int = 25) -> dict:
        """/api/search/lookup: the SearchLookupResponse (field order per
        @JsonPropertyOrder) of the catalog entries of ``metric`` whose
        value matches the anchored pattern given for their key
        (``MetaCatalog.lookup``); ``time`` is this call's ms. A negative
        ``limit`` is a ValueError (HTTP 400)."""
        if limit < 0:
            raise ValueError(f"limit must be >= 0, got {limit}")
        t0 = time.time()
        tags = dict(tags or {})
        entries = self.catalog.lookup(metric, tags)
        return {
            "type": "LOOKUP",
            "metric": metric,
            "tags": tags,
            "limit": limit,
            "time": int((time.time() - t0) * 1000),
            "totalResults": len(entries),
            "startIndex": 0,
            "results": [{"tags": {k: v}} for k, v in entries[:limit]],
        }

    def metrics(self, ignored_tags: list[str] | None = None) -> list[dict]:
        """/api/metrics from the catalog (``MetaCatalog.metrics``): each
        metric with its ``{"key", "value"}`` tag pairs."""
        return self.catalog.metrics(ignored_tags)

    @staticmethod
    def aggregators() -> list[str]:
        from .operators.aggregators import ADVERTISED

        return list(ADVERTISED)

    @staticmethod
    def version() -> str:
        return VERSION

    def cache_status(self) -> dict:
        """/api/cache analogue (DataStoreCache.java:911-922): oldest/newest
        ts + metric names currently stored. With the hot tier enabled this
        reports the cached window, like the reference."""
        if self._hot is not None:
            return self._hot.status()
        agg = self.points().agg(
            F.min("ts").alias("oldest"), F.max("ts").alias("newest")
        ).collect()[0]
        names = [r["metric"] for r in self.points().select("metric").distinct().orderBy("metric").collect()]
        return {"oldestTs": agg["oldest"], "newestTs": agg["newest"], "metrics": names}

    # -------------------------------------------------------- maintenance

    def run_retention(self, now_ms: int) -> list[str]:
        """Drop wholly-expired points AND age off the meta catalog (F6/F7
        as one maintenance job — MetricAgeOffIterator +
        MetaAgeOffIterator); returns what the store dropped
        (``PointStore.expire``). The query-time ageoff_filter keeps
        results correct between maintenance runs."""
        ttl = self.default_ttl_ms or 7 * 86_400_000
        doomed = self.store.expire(now_ms, self.ttls, ttl)
        self.catalog.age_off(now_ms, self.ttls, ttl)
        return doomed

    def compact(self) -> None:
        """Fold small append files (S6 maintenance, ``PointStore.compact``)."""
        self.store.compact()
