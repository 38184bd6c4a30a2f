"""The meta catalog tier: the one module that knows its files.

The reference keeps its meta table behind ``DataStore``: every
``store()`` writes it (DataStore.java:415-433), ``MetaAgeOffIterator``
ages it off, suggest and lookup read it, and ``MetaCache``
(MetaCache.java:1-144) answers suggest from memory. Here two
append-only side-write directories beside the point store play the meta
table, and :class:`MetaCatalog` alone writes, reads, folds and swaps
them:

- ``_meta``: ``(metric, tag_key, tag_value, last_seen)`` rows, one file
  per put (more after an age-off), folded to ``max(last_seen)`` per key;
- ``_viz``: ``viz string`` rows, the distinct visibility expressions.

Writes. A put hands :meth:`MetaCatalog.record` its batch: the batch's
``build_meta`` rows become one ``_meta`` file and the viz expressions the
catalog does not hold yet one ``_viz`` file, each written from the
driver under a name chosen here (``fsutil.write_parquet_rows``) and
folded into memory at once, so the first read after the put runs no
Spark job.

Reads. Each read lists the directory through the Hadoop FileSystem API
(``fsutil.data_file_lister``: ``file:``, ``hdfs://``, ``s3a://``) and
reads, in one Spark job with the known schema, only the files it has
not folded yet: the pattern of Structured Streaming's file source. An
unchanged listing runs no job. A folded file that is gone from the
listing means the age-off rewrote the directory, so the fold starts
again from the files present. :meth:`MetaCatalog.meta` is the same rows
as a Spark frame. Lookup answers from the fold too, and leaves only its
regex matches to Spark's optimizer (no job); the strict tag probe reads
the files in one Spark job, on a single partition.

Age-off. :meth:`MetaCatalog.age_off` rewrites ``_meta`` with the entries
seen within their metric's TTL and swaps it in (``fsutil.replace_dir``).

Turns. Within one process, the side-writes, the age-off and every fold
that reads new files take turns per directory (``fsutil.write_lock``,
the registry ``PointStore`` writes use), so a put never lands a file
that a swap then drops, and a fold never lists a file that a swap moves
away. A read whose listing has not changed takes no lock: it returns the
published fold, which is never mutated.
"""

from __future__ import annotations

import json
import uuid
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..fsutil import data_file_lister, path_exists, replace_dir, write_lock, write_parquet_rows
from ..model import META_SCHEMA, sql_literal
from ..operators.meta import build_meta
from ..operators.retention import ttl_for_metric
from ..parse import is_tag_regex

# the columns of the side-write files; a tagless metric's meta row
# carries a null tag key and value
_META_COLUMNS = T.StructType([T.StructField(f.name, f.dataType) for f in META_SCHEMA.fields])
_VIZ_COLUMNS = T.StructType([T.StructField("viz", T.StringType())])


class _MetaIndex(NamedTuple):
    """The folded meta map plus the sorted lists suggest answers from.
    Python orders ``str`` by code point, which is the order of Spark's
    binary (UTF-8 byte) string comparison."""

    last_seen: dict  # (metric, tag_key, tag_value) -> epoch ms
    metrics: tuple  # sorted distinct metric names
    tag_keys: dict  # metric -> sorted distinct tag keys
    tag_values: dict  # (metric, tag_key) -> sorted distinct tag values

    @classmethod
    def build(cls, last_seen: dict) -> "_MetaIndex":
        keys: dict = {}
        values: dict = {}
        for m, k, v in last_seen:
            if k is not None:
                keys.setdefault(m, set()).add(k)
                if v is not None:
                    values.setdefault((m, k), set()).add(v)
        return cls(
            last_seen,
            tuple(sorted({m for m, _, _ in last_seen if m is not None})),
            {m: tuple(sorted(s)) for m, s in keys.items()},
            {mk: tuple(sorted(s)) for mk, s in values.items()},
        )


def _fold_meta(prev: _MetaIndex | None, rows) -> _MetaIndex:
    last_seen = dict(prev.last_seen) if prev is not None else {}
    for m, k, v, ts in rows:
        key = (m, k, v)
        if last_seen.get(key, ts) <= ts:
            last_seen[key] = ts
    return _MetaIndex.build(last_seen)


def _fold_viz(prev: frozenset | None, rows) -> frozenset:
    return (prev or frozenset()) | {r[0] for r in rows if r[0] is not None}


class _FoldedDir:
    """One side-write directory folded on the driver. ``fold(prev,
    rows)`` takes ``prev=None`` as the empty fold; ``lock`` is the
    directory's turn."""

    def __init__(self, spark: SparkSession, path: str, schema: T.StructType, fold):
        self.spark = spark
        self.path = path
        self.lock = write_lock(path.rstrip("/"))
        self._list = data_file_lister(spark, path)
        self._schema = schema
        self._fold = fold
        self._state: tuple = (None, None)  # (files folded, fold); files None before the first read

    def read(self):
        """The fold, brought up to the directory's listing; ``None``
        while the directory does not exist."""
        done, value = self._state
        if self._list() == done:
            return value
        with self.lock:
            # list again in turn: a swap or another reader may have
            # changed the directory or the fold meanwhile
            files = self._list()
            done, value = self._state
            if files is None:
                self._state = None, None
                return None
            if done is None or not done <= files:
                # first read, or a folded file is gone: fold from scratch
                done, value = frozenset(), None
            new = files - done
            rows = self.spark.read.schema(self._schema).parquet(*sorted(new)).collect() if new else []
            self._state = files, self._fold(value, rows)
            return self._state[1]

    def write(self, rows) -> None:
        """Write ``rows`` as one new file and fold them without reading
        the file back. Before the first read there is no fold to extend:
        that read lists and folds everything."""
        name = f"{self.path.rstrip('/')}/put-{uuid.uuid4().hex}.parquet"
        with self.lock:
            path = write_parquet_rows(self.spark, name, self._schema, rows)
            done, value = self._state
            if done is not None:
                self._state = done | {path}, self._fold(value, rows)


class MetaCatalog:
    """The engine's meta catalog tier: its ``_meta`` and ``_viz``
    side-write directories and their in-memory fold (see the module
    docstring)."""

    def __init__(self, spark: SparkSession, meta_path: str, viz_path: str):
        self.spark = spark
        self._meta = _FoldedDir(spark, meta_path, _META_COLUMNS, _fold_meta)
        self._viz = _FoldedDir(spark, viz_path, _VIZ_COLUMNS, _fold_viz)

    # ------------------------------------------------------------- writes

    def record(self, points: DataFrame, viz: set[str]) -> None:
        """A put's side-writes (DataStore.java:415-433): the batch's
        ``build_meta`` rows, collected once, as one ``_meta`` file, and
        the batch's viz expressions that the catalog does not hold yet
        as one ``_viz`` file (queries then never scan the store for
        them). Any engine on this store sees both files at its next
        read."""
        self._meta.write(build_meta(points).collect())
        with self._viz.lock:
            known = self._viz.read()
            new = viz - (known or set())
            if new or known is None:
                # the write also *establishes* the catalog on first
                # ingest, so an all-unlabeled store is "known empty",
                # not "unknown"
                self._viz.write([(e,) for e in sorted(new)])

    def age_off(self, now_ms: int, ttls: dict[str, int], default_ttl_ms: int) -> None:
        """Meta age-off (MetaAgeOffIterator.java:26-115): rewrite
        ``_meta`` as one row per key holding its max ``last_seen``, less
        the entries older than their metric's TTL, so stale tag values
        leave suggest and lookup. A full rewrite is fine at any data
        scale: the catalog is O(distinct tag values), not O(points)."""
        path = self._meta.path
        with self._meta.lock:
            if not path_exists(self.spark, path):
                return
            kept = self.meta().filter(
                F.col("last_seen") >= F.lit(now_ms) - ttl_for_metric("metric", ttls, default_ttl_ms)
            )
            tmp = path.rstrip("/") + "__compacting"
            kept.coalesce(1).write.mode("overwrite").parquet(tmp)
            replace_dir(self.spark, tmp, path)

    # -------------------------------------------------------------- reads

    def _rows(self) -> DataFrame:
        """The appended ``_meta`` rows, read with their known schema (no
        schema-inference job)."""
        return self.spark.read.schema(_META_COLUMNS).parquet(self._meta.path)

    def meta(self) -> DataFrame:
        """The catalog as a Spark frame: one row per ``(metric, tag_key,
        tag_value)`` with its ``max(last_seen)``."""
        return self._rows().groupBy("metric", "tag_key", "tag_value").agg(
            F.max("last_seen").alias("last_seen")
        )

    def suggest(
        self,
        q: str | None,
        kind: str = "metrics",
        max_results: int = 25,
        tag: str | None = None,
    ) -> list[str]:
        """Exactly ``operators.meta.suggest`` over the folded catalog:
        ``metrics`` names containing ``q`` (all when ``q`` is empty),
        ``tagk`` the keys of metric ``q``, ``tagv`` the values of key
        ``tag`` on metric ``q``; distinct, sorted, no nulls; a negative
        ``max_results`` means no limit and an unknown ``kind`` answers
        ``[]``."""
        index = self._meta.read() or _fold_meta(None, [])
        if kind == "metrics":
            out = [m for m in index.metrics if q in m] if q else index.metrics
        elif kind == "tagk":
            out = index.tag_keys.get(q, ()) if q else ()
        elif kind == "tagv":
            out = index.tag_values.get((q, tag), ()) if q and tag else ()
        else:
            out = ()
        return list(out if max_results < 0 else out[:max_results])

    def metrics(self, ignored_tags: list[str] | None = None) -> list[dict]:
        """/api/metrics (MetricsResponse) from the folded catalog: every
        metric in order, each with its ``{"key", "value"}`` tag pairs in
        the order of their ``key=value`` strings. Ignored tag keys leave
        the pairs but never drop the metric, and a tagless metric has no
        pairs. ``operators.meta.metrics_dump`` is the same as a frame of
        ``key=value`` strings."""
        ignored = set(ignored_tags or ())
        index = self._meta.read() or _fold_meta(None, [])
        out = []
        for m in index.metrics:
            pairs = [
                (k, v) for k in index.tag_keys.get(m, ()) if k not in ignored
                for v in index.tag_values.get((m, k), ())
            ]
            pairs.sort(key=lambda kv: f"{kv[0]}={kv[1]}")
            out.append({"metric": m, "tags": [{"key": k, "value": v} for k, v in pairs]})
        return out

    def last_seen(self) -> dict:
        """The folded ``(metric, tag_key, tag_value) -> last_seen`` map
        (never mutated after it is returned)."""
        return (self._meta.read() or _fold_meta(None, [])).last_seen

    def viz(self) -> frozenset | None:
        """The distinct visibility expressions, or ``None`` when the
        ``_viz`` directory does not exist (a store populated outside the
        engine: callers fall back to a distinct scan of the points)."""
        return self._viz.read()

    def lookup(self, metric: str, tags: dict[str, str]) -> list[tuple]:
        """The distinct ``(tag_key, tag_value)`` entries of ``metric``
        whose value matches the anchored pattern given for their key,
        sorted like the meta-table scan (DataStore.lookup:582-634:
        fetchColumnFamily per key, then ``matches`` ORs across the
        requested patterns with ``Matcher.matches()`` anchoring); every
        entry of the metric when ``tags`` is empty. Answered from the
        fold. Spark's ``RLIKE`` still decides each match, so patterns
        keep Java-regex semantics: each key's folded values enter one
        projection over a one-row inline table as a JSON array literal,
        and the optimizer evaluates it (``ConvertToLocalRelation``), so
        no job runs beyond the fold's read of new files."""
        index = self._meta.read() or _fold_meta(None, [])
        if not tags:
            found = [(k, v) for m, k, v in index.last_seen if m == metric]
        else:
            keys = [k for k in tags if (metric, k) in index.tag_values]
            found = []
            if keys:
                matched = self.spark.sql("SELECT " + ", ".join(
                    f"filter(from_json({sql_literal(json.dumps(index.tag_values[(metric, k)]))}, "
                    f"'array<string>'), v -> v RLIKE {sql_literal(f'^(?:{tags[k]})$')}) AS c{i}"
                    for i, k in enumerate(keys)
                ) + " FROM VALUES (1) AS t(one)").first()
                found = [(k, v) for k, values in zip(keys, matched) for v in values]
        # Spark's ascending order: a tagless metric's null entry first
        return sorted(found, key=lambda kv: [(x is not None, x or "") for x in kv])

    def has_tags(self, q) -> bool:
        """True iff the catalog holds a series matching the SubQuery's
        metric and tag predicates. The reference's "No matching tags"
        check consults the META table, not the query result
        (DataStore.java:938-941): a matching-tags query over an empty
        time window is a valid 200/empty response, never a 400. Runs only
        on the strict empty-result path, against the tiny catalog, as ONE
        Spark job: a global aggregate over the metric's rows with one
        ``bool_or`` per tag predicate, on a single partition (no
        exchange) and with the schema given (no inference job)."""
        if q.tsuids:
            return True  # tsuid SubQueries name series directly, no tag check
        checks = ["count(1) > 0"]  # the metric is known
        for k, v in {**q.tags, **q.filters}.items():
            cond = f"tag_key = {sql_literal(k)}"
            if v not in ("*", ".*"):
                if is_tag_regex(v):
                    cond += f" AND tag_value RLIKE {sql_literal(f'^(?:{v})$')}"
                else:
                    cond += f" AND tag_value = {sql_literal(v)}"
            checks.append(f"coalesce(bool_or({cond}), false)")
        row = (
            self._rows()
            .filter(f"metric = {sql_literal(q.metric)}")
            .coalesce(1)
            .selectExpr(" AND ".join(f"({c})" for c in checks))
            .collect()[0]
        )
        return bool(row[0])
