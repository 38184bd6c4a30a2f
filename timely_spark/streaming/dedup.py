"""Streaming exact deduplication — the ingest-time "have I seen this
document before" pass of a training-data pipeline.

Structured Streaming's ``dropDuplicates`` keeps per-key state in the state
store, so duplicates are caught ACROSS micro-batches, not just within one.
The key is the md5 of the text (16 bytes of state per distinct doc), never
the text itself. ``dropDuplicatesWithinWatermark`` + an event-time
watermark bounds state for unbounded runs: two copies arriving within the
watermark window dedupe; state older than the watermark is evicted — the
standard correctness/state-size trade for infinite streams.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def streaming_exact_dedup(
    docs: DataFrame,
    text_col: str = "text",
    ts_col: str | None = None,
    watermark: str | None = None,
) -> DataFrame:
    """Drop exact-duplicate documents from a stream by content hash.

    ``watermark`` (e.g. ``"10 minutes"``) requires ``ts_col`` (epoch-ms
    long) and switches to bounded-state dedup via
    ``dropDuplicatesWithinWatermark``; without it, state grows with the
    number of distinct documents (fine for bounded backfills).
    """
    keyed = docs.withColumn("__content_hash", F.md5(F.col(text_col)))
    if watermark is not None:
        if ts_col is None:
            raise ValueError("watermark requires ts_col")
        keyed = keyed.withColumn(
            "__event_time", F.timestamp_millis(F.col(ts_col))
        ).withWatermark("__event_time", watermark)
        out = keyed.dropDuplicatesWithinWatermark(["__content_hash"])
        return out.drop("__event_time", "__content_hash")
    return keyed.dropDuplicates(["__content_hash"]).drop("__content_hash")


# ---------------------------------------------------- incremental near-dup


def register_screen_batch(
    batch_df: DataFrame,
    batch_id: int,
    *,
    index_path: str,
    out_path: str,
    threshold: float = 0.7,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """One micro-batch of the incremental NEAR-dup loop: screen the
    batch against the persisted history (``ann_index.MinHashIndex``
    tables), write the survivors, register them with the index.
    Module-level (not a closure) so tests can drive crash-replay
    directly.

    Exactly-once by construction, not by marker files: every table this
    function writes — the survivor output AND the bands/shingle
    increments — is PARTITIONED by the micro-batch id and written with
    dynamic partition overwrite, so a replayed batch (foreachBatch is
    at-least-once after a crash) REPLACES its own partition instead of
    appending twice. The screen reads the index WITHOUT the current
    batch's partitions (a partition-pruned filter), so a replay whose
    first attempt already appended still screens against exactly the
    pre-batch history — byte-identical survivors on every retry.

    The model sidecar is written once (first non-empty batch); on later
    batches the STORED parameters govern and a mismatching caller
    errors loudly (the curate --history-threshold rule: a quiet
    override would screen inconsistently with everything already
    admitted). Within-batch near-dups are NOT collapsed here — compose
    ``minhash_dedup`` upstream if the stream itself carries them; the
    contract is against HISTORY, matching curate's stage."""
    from ..fsutil import sidecar_write_json
    from ..operators.ann_index import MinHashIndex
    from ..operators.dedup import (
        _shingle_hashes,
        minhash_bands_from_shingles,
    )
    from ..pins import pin, unpin

    spark = batch_df.sparkSession
    if batch_df.isEmpty():
        return
    docs = pin(batch_df.select(id_col, text_col))
    # r13 (guide §2.4): ONE tokenize/shingle/sign pass per micro-batch.
    # This pinned (id, sh) relation feeds the screen's banding AND
    # verify sides and BOTH index-increment writes below — previously
    # each of those four consumers re-ran the pass over the batch.
    sh_docs = pin(
        docs.select(
            F.col(id_col), _shingle_hashes(text_col, shingle_n).alias("sh")
        )
    )
    # r12: the per-batch params check is a driver-side sidecar read
    # (was a one-row-parquet Spark job EVERY micro-batch)
    row = MinHashIndex._read_params(spark, index_path)
    if row is None:
        sidecar_write_json(
            spark,
            index_path + "/model.json",
            {
                "threshold": float(threshold),
                "num_hashes": int(num_hashes),
                "bands": int(bands),
                "shingle_n": int(shingle_n),
                "text_col": text_col,
                "id_col": id_col,
            },
        )
        survivors = docs
    else:
        got = (
            float(threshold), int(num_hashes), int(bands), int(shingle_n),
            text_col, id_col,
        )
        stored = (
            row["threshold"], row["num_hashes"], row["bands"],
            row["shingle_n"], row["text_col"], row["id_col"],
        )
        if got != stored:
            raise ValueError(
                f"stream params {got} != index params {stored} at "
                f"{index_path}; restart with the stored parameters or "
                "use a new index path"
            )
        hist = MinHashIndex(
            spark,
            spark.read.parquet(index_path + "/bands")
            .filter(F.col("__batch") != batch_id)
            .drop("__batch"),
            spark.read.parquet(index_path + "/shingles")
            .filter(F.col("__batch") != batch_id)
            .drop("__batch"),
            *stored,
        )
        hits = (
            hist.screen(docs, shingles=sh_docs)
            .select(F.col("id_b").alias(id_col))
            .distinct()
        )
        # pin the survivor set: THREE writes follow (output, bands,
        # shingles) and each would otherwise re-run the screen join
        survivors = pin(docs.join(hits, id_col, "left_anti"))

    def write_batch(df: DataFrame, path: str) -> None:
        # dynamic partition overwrite as a writer option: a replayed
        # batch rewrites only its own __batch partition, and the
        # session's conf is left alone
        df.withColumn("__batch", F.lit(int(batch_id))).write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("__batch").parquet(path)

    try:
        write_batch(survivors, out_path)
        # survivor shingles = the pinned batch pass restricted to the
        # surviving ids (an inner join of two pins — no re-sign)
        surv_sh = sh_docs.join(survivors.select(id_col), id_col)
        write_batch(
            minhash_bands_from_shingles(surv_sh, id_col, num_hashes, bands),
            index_path + "/bands",
        )
        write_batch(surv_sh, index_path + "/shingles")
    finally:
        # deterministic pin lifecycle (VERDICT r12 item 1): all pins are
        # fully consumed by the writes above; without this every
        # micro-batch leaked persisted RDDs for the session's life
        unpin(survivors)
        unpin(sh_docs)
        unpin(docs)


def streaming_history_dedup_query(
    docs: DataFrame,
    index_path: str,
    out_path: str,
    checkpoint_dir: str,
    threshold: float = 0.7,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    processing_time: str | None = None,
):
    """Ingest-time counterpart of ``curate --history-index``: a
    foreachBatch query that near-dedups each incoming micro-batch
    against every previously ACCEPTED document and registers the
    survivors — the persistent-index daily loop running continuously
    instead of per curation run. The resulting index dirs are the
    ``MinHashIndex`` layout plus a ``__batch`` partition column, so the
    batch-side tooling (``MinHashIndex.load`` / ``screen`` /
    ``compact``) reads the same index the stream maintains."""

    def _process(bdf: DataFrame, bid: int) -> None:
        register_screen_batch(
            bdf, bid, index_path=index_path, out_path=out_path,
            threshold=threshold, num_hashes=num_hashes, bands=bands,
            shingle_n=shingle_n, text_col=text_col, id_col=id_col,
        )

    w = (
        docs.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if processing_time is not None:
        w = w.trigger(processingTime=processing_time)
    else:
        w = w.trigger(availableNow=True)
    return w.start()


def _fold_committed_partitions(
    spark, table_path: str, rows_per_file: int
) -> None:
    """Fold every COMMITTED ``__batch`` partition of one index table
    into the ``__batch=-1`` archive partition, right-sized. The newest
    partition (max batch id) is left untouched: it is the only one a
    foreachBatch restart can replay (Spark commits batch N-1 before
    starting N), and a replay must find its own partition to overwrite
    — folding it would duplicate its rows. A prior ``-1`` archive is
    itself refolded. Maintenance job: run with the query STOPPED."""
    df = spark.read.parquet(table_path)
    batches = [r[0] for r in df.select("__batch").distinct().collect()]
    mx = max(batches)
    folds = [b for b in batches if b != mx]
    if not folds or folds == [-1]:
        return
    src = df.filter(F.col("__batch") != mx).drop("__batch")
    n = max(1, -(-src.count() // rows_per_file))
    tmp = table_path.rstrip("/") + "__folding"
    src.repartition(n).withColumn("__batch", F.lit(-1)).write.mode(
        "overwrite"
    ).partitionBy("__batch").parquet(tmp)
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path
    root = hpath(table_path)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    # recoverable order (the _compact_table rule): park the folded
    # sources before removing anything, adopt the new archive, then
    # drop the parked copies
    parked = []
    for b in folds:
        p = hpath(f"{table_path}/__batch={b}")
        park = hpath(f"{table_path}/__batch={b}__folded")
        if fs.exists(p) and fs.rename(p, park):
            parked.append(park)
    if not fs.rename(
        hpath(f"{tmp}/__batch=-1"), hpath(f"{table_path}/__batch=-1")
    ):
        raise IOError(
            f"fold: could not adopt archive partition for {table_path}; "
            "parked source partitions retain the data (*__folded)"
        )
    for park in parked:
        fs.delete(park, True)
    fs.delete(hpath(tmp), True)


def compact_history_index(
    spark,
    index_path: str,
    bands_rows_per_file: int = 8_000_000,
    shingle_rows_per_file: int = 1_000_000,
) -> None:
    """Small-file repair for a STREAMING-maintained history index: a
    long-lived query lands one file set per micro-batch per table, and
    ``MinHashIndex.compact`` must NOT be used here — its unpartitioned
    rewrite mixed with later ``__batch=``-partitioned batch writes is a
    conflicting directory layout Spark refuses to read. This fold keeps
    the partitioned layout (archive partition ``-1`` + the newest
    batch), so the stream resumes cleanly and replay idempotency is
    preserved. Run with the query stopped."""
    _fold_committed_partitions(
        spark, index_path + "/bands", bands_rows_per_file
    )
    _fold_committed_partitions(
        spark, index_path + "/shingles", shingle_rows_per_file
    )
