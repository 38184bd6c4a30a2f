"""Driver-side sidecar I/O through the Hadoop FileSystem API.

r12 optimization (guide §5: the driver should do almost no data work —
and symmetrically, Spark should do no DRIVER-SIZED work): every
persistent-index model sidecar and cache-archive metadata record is ONE
row of parameters, yet writing it as a one-row parquet table costs a
full Spark job (plan + schedule + commit protocol) and reading it back
costs another. Measured on the shared host: 1.5-7 s per one-row write
depending on load — pure fixed overhead multiplied across every
index save/load AND every streaming micro-batch (the history-dedup loop
re-read its model sidecar per batch).

Writing the sidecar as a JSON FILE via the Hadoop FileSystem API keeps
the exact property the Spark writer was chosen for — the bytes land on
whatever filesystem owns the path (file://, hdfs://, s3a://) with that
FS's semantics — while costing zero Spark jobs on either side.
``json.dumps`` emits shortest-round-trip reprs, so doubles (codebooks,
centroids, thresholds) survive byte-exactly.

Writers to one path in this process take turns through
:func:`write_lock`; directory swaps go through :func:`replace_dir`.
"""

from __future__ import annotations

import json
import threading

from pyspark.sql import SparkSession


def _fs_path(spark: SparkSession, path: str):
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, p


def sidecar_write_json(spark: SparkSession, path: str, obj: dict) -> None:
    """Write ``obj`` as JSON at ``path`` (overwrite), via the Hadoop FS
    that owns the path. Zero Spark jobs."""
    fs, p = _fs_path(spark, path)
    out = fs.create(p, True)
    try:
        out.write(bytearray(json.dumps(obj).encode("utf-8")))
    finally:
        out.close()


def sidecar_read_json(spark: SparkSession, path: str) -> dict | None:
    """Read a JSON sidecar written by :func:`sidecar_write_json`;
    ``None`` when the file does not exist. Zero Spark jobs."""
    fs, p = _fs_path(spark, path)
    if not fs.exists(p):
        return None
    stream = fs.open(p)
    try:
        data = spark._jvm.org.apache.commons.io.IOUtils.toString(
            stream, "UTF-8"
        )
    finally:
        stream.close()
    return json.loads(data)


def data_file_lister(spark: SparkSession, path: str):
    """A function that lists the qualified paths of the entries (data
    files, partition directories) directly under directory ``path``,
    skipping ``_``/``.`` names the way Spark's file reader does
    (``_SUCCESS``, ``_temporary``, ``.crc``), or answers ``None`` while
    the directory does not exist.

    Zero Spark jobs. The FileSystem, the path and the JVM members are
    resolved once, here, and the names cross the gateway as one
    NUL-joined string, so a listing costs a fixed handful of py4j calls
    whatever the file count (``genericWrapArray`` takes the ``Path[]``
    as the erased ``Object`` that py4j can pass, where Java's
    ``Object[]`` joiners refuse it)."""
    fs, p = _fs_path(spark, path)
    stat2paths = spark._jvm.org.apache.hadoop.fs.FileUtil.stat2Paths
    wrap = spark._jvm.scala.Predef.genericWrapArray

    def listing() -> frozenset[str] | None:
        if not fs.exists(p):
            return None
        joined = wrap(stat2paths(fs.listStatus(p))).mkString("\0")
        return frozenset(
            f for f in joined.split("\0")
            if f and not f.rsplit("/", 1)[-1].startswith(("_", "."))
        )

    return listing


def write_parquet_rows(spark: SparkSession, path: str, schema, rows) -> str:
    """Write ``rows`` (tuples in the order of ``schema``, a StructType) as
    one Parquet file at ``path``, from the driver, through the Hadoop FS
    that owns the path: the bytes go to a ``_``-prefixed sibling that
    readers skip and one rename publishes them. Returns ``path`` as a
    listing of its directory names it (:func:`data_file_lister`).

    Zero Spark jobs: for a put's few hundred side-write rows, a Spark
    write job (plan, schedule, commit protocol) cost 400-700 ms on a
    4-CPU host; this costs a few ms."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow = to_arrow_schema(schema)
    table = pa.table([pa.array([r[i] for r in rows], f.type) for i, f in enumerate(arrow)], schema=arrow)
    buf = pa.BufferOutputStream()
    pq.write_table(table, buf)
    fs, dst = _fs_path(spark, path)
    head, _, name = path.rstrip("/").rpartition("/")
    tmp = spark._jvm.org.apache.hadoop.fs.Path(f"{head}/_{name}")
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(buf.getvalue().to_pybytes()))
    finally:
        out.close()
    if not fs.rename(tmp, dst):
        raise IOError(f"could not move {tmp} to {path}")
    return fs.getFileStatus(dst).getPath().toString()


def path_exists(spark: SparkSession, path: str) -> bool:
    fs, p = _fs_path(spark, path)
    return fs.exists(p)


def sidecar_delete(spark: SparkSession, path: str) -> None:
    """Recursively delete ``path`` (a stale sidecar, an expired store
    partition); a missing path is a no-op."""
    fs, p = _fs_path(spark, path)
    fs.delete(p, True)


# Spark's file committer keeps one ``_temporary`` directory per output
# path and a job's commit deletes it, so two appends to one store at once
# fail, and a swap must not drop a file written after its read: writes
# to one path (or table) from this process take turns
_WRITE_LOCKS: dict[str, threading.RLock] = {}
_WRITE_LOCKS_GUARD = threading.Lock()


def write_lock(key: str) -> threading.RLock:
    """The process-wide lock that writers to ``key`` (a path without its
    trailing ``/``, or a table name) hold while they write or swap."""
    with _WRITE_LOCKS_GUARD:
        return _WRITE_LOCKS.setdefault(key, threading.RLock())


def replace_dir(spark: SparkSession, tmp: str, path: str) -> None:
    """Make directory ``tmp`` the new ``path`` in a recoverable order:
    current -> ``<path>__old``, ``tmp`` -> current, delete ``__old``.

    A failed second rename moves the previous contents back before it
    raises, and a crash between the renames leaves them at ``__old``,
    which the next swap restores before it starts; deleting first, then
    moving, would lose the whole directory in that window."""
    fs, cur = _fs_path(spark, path)
    hpath = spark._jvm.org.apache.hadoop.fs.Path
    old, new = hpath(path.rstrip("/") + "__old"), hpath(tmp)
    if fs.exists(old):
        if fs.exists(cur):
            fs.delete(old, True)
        elif not fs.rename(old, cur):  # a crash left the data parked
            raise IOError(f"could not restore {old} to {path}")
    had = fs.exists(cur)
    if had and not fs.rename(cur, old):
        raise IOError(f"could not move {path} aside")
    ok = False
    try:
        ok = fs.rename(new, cur)
    finally:
        if not ok and had:
            fs.rename(old, cur)
    if not ok:
        raise IOError(f"could not move {tmp} to {path}; previous contents kept")
    fs.delete(old, True)
