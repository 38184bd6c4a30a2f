"""Driver-resident meta catalog: the suggest and visibility lookups
served from memory, refreshed by listing instead of Spark jobs.

The reference answers ``/api/suggest`` from ``MetaCache``, an in-process
copy of the meta table (MetaCache.java:1-144). Here the engine's two
append-only side-write directories play the meta table:

- ``_meta``: ``(metric, tag_key, tag_value, last_seen)`` rows, one or
  more Parquet files per put, folded to ``max(last_seen)`` per key;
- ``_viz``: ``viz string`` rows, the distinct visibility expressions.

Each read lists the directory through the Hadoop FileSystem API
(``fsutil.data_file_lister``: ``file:``, ``hdfs://``, ``s3a://``) and
reads, in one Spark job with the known schema, only the files it has
not folded yet: the pattern of Structured Streaming's file source. An
unchanged listing runs no job. A folded file that is gone from the
listing means retention or compaction rewrote the directory, so the
fold starts again from the files present.

A put hands the catalog the rows of the ``_meta`` (and ``_viz``) file it
just wrote, under the name it gave that file (``add_meta``,
``add_viz``), so the first read after it lists the file as folded and
runs no job.

Folding holds one lock; readers take the current fold, which is never
mutated after it is published.
"""

from __future__ import annotations

import threading
from typing import NamedTuple

from pyspark.sql import SparkSession

from ..fsutil import data_file_lister
from ..model import META_SCHEMA


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
    rows)`` takes ``prev=None`` as the empty fold."""

    def __init__(self, spark: SparkSession, path: str, schema, fold, lock):
        self.spark = spark
        self._list = data_file_lister(spark, path)
        self._schema = schema
        self._fold = fold
        self._lock = lock
        self._state: tuple = (None, None)  # (files folded, fold); files None before the first read

    def read(self):
        """The fold, brought up to the directory's listing; ``None``
        while the directory does not exist."""
        files = self._list()
        if files is None:
            return None
        done, value = self._state
        if files == done:
            return value
        with self._lock:
            # list again under the lock: another reader may have folded a
            # newer listing meanwhile
            files = self._list()
            if files is None:
                return None
            done, value = self._state
            if done is None or not done <= files:
                # first read, or a folded file is gone: fold from scratch
                done, value = frozenset(), None
            new = files - done
            rows = self.spark.read.schema(self._schema).parquet(*sorted(new)).collect() if new else []
            self._state = files, self._fold(value, rows)
            return self._state[1]

    def add(self, path: str, rows) -> None:
        """Fold ``rows``, the contents of file ``path`` that this process
        just wrote, without reading the file back. Before the first read
        there is no fold to extend: that read lists and folds everything."""
        with self._lock:
            done, value = self._state
            if done is not None:
                self._state = done | {path}, self._fold(value, rows)


class MetaCatalog:
    """The engine's in-memory copy of its ``_meta`` and ``_viz``
    side-write directories (see the module docstring)."""

    def __init__(self, spark: SparkSession, meta_path: str, viz_path: str):
        lock = threading.Lock()
        self._meta = _FoldedDir(spark, meta_path, META_SCHEMA, _fold_meta, lock)
        self._viz = _FoldedDir(spark, viz_path, "viz string", _fold_viz, lock)

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

    def add_meta(self, path: str, rows) -> None:
        """Fold a put's ``_meta`` rows, which it wrote as file ``path``
        (qualified as the listing names it), so the next read runs no
        Spark job for that file."""
        self._meta.add(path, rows)

    def add_viz(self, path: str, rows) -> None:
        """:meth:`add_meta` for a ``_viz`` file of ``(viz,)`` rows."""
        self._viz.add(path, rows)

    def last_seen(self) -> dict:
        """The folded ``(metric, tag_key, tag_value) -> last_seen`` map
        (never mutated after it is returned)."""
        return (self._meta.read() or _fold_meta(None, [])).last_seen

    def viz(self) -> frozenset | None:
        """The distinct visibility expressions, or ``None`` when the
        ``_viz`` directory does not exist (a store populated outside the
        engine: callers fall back to a distinct scan of the points)."""
        return self._viz.read()
