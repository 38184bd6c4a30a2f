#!/usr/bin/env python3
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line:

  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is timed to full materialization (collect). An ingest
benchmark (line-protocol parse -> partitioned Parquet store) rides along
under the ``ingest_lineprotocol`` key, mirroring the reference's load-test
tooling (server/.../application/testingest/TestIngestRunner.java).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# headline set: BASELINE.md §3 query set (Q1-Q8 analogues) + extension ops
BENCH_QUERIES = [
    "ts_downsample_avg",
    "ts_downsample_sum_tag",
    "ts_downsample_minmax",
    "ts_dev",
    "ts_agg_combine",
    "ts_rate",
    "ts_rate_bucketed",
    "ts_rate_counter",
    "ts_fir_ma5",
    "ts_fir_bucketed",
    "ts_hybrid_cache",
    "ts_cache_admission",
    "ts_cache_archive",
    "ts_tag_regex",
    "ts_viz",
    "ts_meta",
    "ts_suggest",
    "ts_lookup",
    "ts_summarize",
    "ts_multiquery",
    "ts_none_raw",
    "tpch_q1",
    "tpch_q6ish",
    "tpch_q10ish",
    "tpch_q3ish",
    "tpch_q5ish",
    "tpch_q18ish",
    "tpch_q4ish",
    "tpch_q12ish",
    "events_top_users",
    "events_sessionize",
    "events_sessionize_native",
    "events_funnel",
    "events_anomaly",
    "events_user_cardinality",
    "events_retention",
    "doc_exact_dedup",
    "doc_stratified_sample",
    "doc_fingerprint",
    "doc_token_count",
    "doc_bpe_tokens",
    "doc_lang_id",
    "doc_quality",
    "doc_gopher_rules",
    "doc_oov_rate",
    "doc_url_dedup",
    "doc_normalize",
    "doc_curation",
    "doc_classifier_score",
    "doc_chunk_dedup",
    "doc_seq_pack",
    "doc_global_shuffle",
    "doc_token_budget",
    "doc_domain_mixture",
    "doc_ngram_jaccard",
    "doc_decontaminate",
    "doc_pii_scrub",
    "doc_dedup_clusters",
    "doc_repetition",
    "doc_token_freq",
    "doc_ttr",
    "doc_tfidf_terms",
    "doc_bigram_novelty",
    "emb_semantic_dedup",
    "doc_incremental_dedup",
    "doc_hash_sample",
    "doc_domains",
    "doc_length_stats",
    "doc_minhash_pairs",
    "doc_simhash",
    "emb_knn",
    "emb_kmeans_assign",
    "emb_knn_lsh",
    "emb_pq_ann",
    "emb_ivfpq_ann",
    "emb_pca_project",
    "emb_knn_ivf",
    "emb_near_dup",
    "media_near_dup",
    # r5 additions (ts_streaming_summarize rides under the dedicated
    # streaming_summarize entry — same engine plan at approx-percentile)
    "events_streaming_sessionize",
    "doc_streaming_dedup",
    "doc_bloom_decontaminate",
    "doc_dsir_weights",
    "doc_perplexity",
    "doc_line_dedup",
    "ts_ddsketch_quantile",
    "ts_streaming_ddsketch",
    "emb_ivfpq_rerank",
    "doc_bpe_encode",
    "doc_boilerplate",
    "doc_chunk_rewrite",
    "ts_rollup_query",
    "events_hll_rollup",
    "ts_engine_rollup",
    "ts_streaming_rate",
    "doc_trained_classifier",
    "events_asof_join",
    "events_range_join",
    "media_video_near_dup",
    "doc_corpus_ingest",
    "media_caption_dedup",
    # r6: registry<->bench completeness (VERDICT r5 item #8) — every
    # registry query is benched unless exempted in BENCH_EXEMPT below
    "ts_ageoff",
    "ts_engine_query",
    "media_features",
    "media_text_alignment",
    "doc_substring_dedup",
    "doc_substring_rewrite",
    "ts_collectd_ingest",
    "doc_text_embedding",
    # r8: queue-message ingest round trip (WriteNSQPlugin consumer leg)
    "ts_queue_ingest",
    # r8: embedding-space (paraphrase) decontamination
    "doc_semantic_decontaminate",
    # r9: the large-benchmark cell-probe regime of the same screen
    "doc_semantic_decontaminate_blocked",
    # r9: Count-Min heavy hitters (mergeable-sketch family) + corpus
    # snapshot diff (data versioning) + the CMS streaming leg
    "doc_cms_heavy_hitters",
    "doc_snapshot_diff",
    "events_streaming_heavy_hitters",
    # r9: lexical retrieval primitive (BM25 probe-query scoring)
    "doc_bm25_scores",
    "doc_bm25_topk",
    "doc_hybrid_retrieval",
    "emb_cluster_capped",
    # r12: ANN index lifecycle (build+save+load+identity verdict; the
    # query-only cost is isolated by the ann_query_restored synthetic)
    "emb_ann_restored",
    # r12: frozen-model append + exact-refine recall over the grown index
    "emb_ann_appended",
    # r12: restored decontamination index screens the corpus
    "doc_decon_restored",
    # r12: persistent lexical MinHash index — build/save/load/append/
    # screen round trip per call (the lifecycle IS the contract)
    "doc_minhash_restored",
    # r9: integer-exact weight-proportional sampling
    "doc_weighted_sample",
    # r9: candidate-free heavy hitters (Misra-Gries summary)
    "doc_mg_heavy_hitters",
    # r9: CCNet-style corpus-level line dedup (cross-doc boilerplate)
    "doc_corpus_line_dedup",
    # r9: RAG-prep overlapping chunk extraction
    "doc_chunk_extract",
    # r10: corpus comparison & selection-integrity family
    "doc_source_overlap",
    "doc_source_drift",
    "doc_split_guarded",
    # r10: KMV theta-sketch set operations (union + intersection)
    "events_kmv_setops",
    # r10: vocabulary coverage curve (tokenizer budgeting)
    "doc_vocab_coverage",
]

# Synthetic rows main() emits beyond the registry entries — every name
# here must carry a BENCH_GATES.json gate (test-enforced via
# test_registry_bench_completeness, which READS this list: adding a new
# synthetic timing key without extending it fails the guard).
BENCH_SYNTHETIC = [
    "host_calibration",
    "ingest_lineprotocol",
    "store_query_pruned",
    "store_query_tag_pushdown",
    "store_query_bucketed",
    "streaming_summarize",
    # r12: query-time against a RESTORED ANN index — build+save run
    # UNTIMED, the clock covers load + ADC top-k only (VERDICT r11 #1:
    # the daily-loop cost a persisted index is supposed to buy)
    "ann_query_restored",
]

# FIXED stdout headline subset (VERDICT r12 item 2): the summary line's
# "queries" map used to be the top-10 worst gate ratios OF THAT RUN — a
# selection that rotates with host noise, so the external driver's
# round-over-round per-query comparison was built on two different
# windows (n_common=4 in PERF_r12). These keys are emitted EVERY run:
# the 10 keys of the r12 stdout map (continuity — never remove a key the
# driver has seen) plus 8 fixed heavy/representative entries. The FULL
# per-entry map still goes to the BENCH_LOCAL.json sidecar; the rotating
# worst-10 ratios stay available under "worst".
BENCH_HEADLINE = [
    # r12 stdout continuity set
    "host_calibration",
    "doc_incremental_dedup",
    "events_anomaly",
    "emb_semantic_dedup",
    "events_funnel",
    "doc_domain_mixture",
    "events_sessionize_native",
    "emb_knn_ivf",
    "events_retention",
    "emb_pca_project",
    # fixed heavy/representative adds (r13): the streaming drains, the
    # iterative CC row, the MLlib row, two index-lifecycle rows, ingest
    "doc_streaming_dedup",
    "ts_streaming_rate",
    "doc_dedup_clusters",
    "doc_trained_classifier",
    "emb_ann_restored",
    "doc_minhash_restored",
    "ingest_lineprotocol",
    "streaming_summarize",
]

# Registry queries NOT in BENCH_QUERIES, each with a reason. The pairing
# is test-enforced (tests/test_api.py::test_registry_bench_completeness).
BENCH_EXEMPT = {
    # benched under the dedicated `streaming_summarize` entry below —
    # same engine plan, timed through the real watermarked stream drain
    # (bench_streaming_summarize) rather than a batch collect
    "ts_streaming_summarize",
    # r12: the row is a 3-trigger foreachBatch FIXTURE whose wall is
    # ~30 s of scale-independent trigger/write machinery (measured
    # 34.9 s at sf0.01 vs 55.3 s at sf0.1, oracle included) — exactly
    # the host-noise class the r11 streaming re-baselines documented.
    # Its data-dependent costs are already gated: the index
    # sign/screen/append path under doc_minhash_restored, the
    # streaming drain under ts_streaming_rate / doc_streaming_dedup /
    # events_streaming_heavy_hitters. A gate here would be the suite's
    # largest and noisiest without measuring anything new.
    "doc_streaming_history_dedup",
}


def bench_ingest(spark, sf_dir: str) -> tuple[float, int]:
    """Line-protocol ingest: events -> put lines -> parse -> partitioned store."""
    from pyspark.sql import functions as F

    from timely_spark.sources.lineprotocol import parse_lines_df
    from timely_spark.sources.store import write_points

    from timely_spark.model import ts_epoch_ms

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    lines = ev.select(
        F.concat_ws(
            " ",
            F.lit("put"),
            F.col("event_type"),
            ts_epoch_ms(ev),
            F.col("value").cast("string"),
            F.concat(F.lit("user="), F.col("user_id").cast("string")),
        ).alias("value")
    )
    n = lines.count()
    out = tempfile.mkdtemp(prefix="timely_bench_store_")
    t0 = time.time()
    pts = parse_lines_df(lines)
    # promote the high-selectivity user tag -> pushdown column (SCALE.md §1)
    write_points(pts, out, mode="overwrite", promote_tags=["user"])
    dt = time.time() - t0
    return dt, n, out


def bench_store_query(spark, store_path: str) -> tuple[float, int]:
    """Engine query over the partitioned store just written: exercises
    dt/metric partition pruning + the single-shuffle downsample path
    through the full OpenTSDB request pipeline."""
    from pyspark.sql import functions as F

    from timely_spark.api import TimelyEngine

    eng = TimelyEngine(spark, store_path=store_path)
    bounds = eng.points().agg(
        F.min("ts").alias("lo"), F.max("ts").alias("hi")
    ).collect()[0]
    lo = bounds["lo"]
    t0 = time.time()
    out = eng.query(
        {
            "start": lo,
            "end": lo + 6 * 3_600_000,  # 6h slice of the backlog
            "msResolution": True,
            "queries": [
                {
                    "aggregator": "sum",
                    "metric": "click",
                    "downsample": "5m-avg",
                    "tags": {},
                }
            ],
        }
    )
    dt = time.time() - t0
    dps = sum(len(s["dps"]) for s in out)
    return dt, dps


def bench_store_query_tag(spark, store_path: str) -> tuple[float, int]:
    """Single-tag query over the promoted store: the tag_user predicate
    reaches PushedFilters (hot-tag promotion), so one user's series is
    row-group-skipped out of the full backlog."""
    from pyspark.sql import functions as F

    from timely_spark.api import TimelyEngine

    eng = TimelyEngine(spark, store_path=store_path)
    row = eng.points().select(F.col("tags")["user"].alias("u")).limit(1).collect()[0]
    uid = row["u"]
    bounds = eng.points().agg(
        F.min("ts").alias("lo"), F.max("ts").alias("hi")
    ).collect()[0]
    t0 = time.time()
    out = eng.query(
        {
            "start": bounds["lo"],
            "end": bounds["hi"],
            "msResolution": True,
            "queries": [
                {
                    "aggregator": "sum",
                    "metric": "click",
                    "downsample": "1h-avg",
                    "tags": {"user": str(uid)},
                }
            ],
        }
    )
    dt = time.time() - t0
    dps = sum(len(s["dps"]) for s in out)
    return dt, dps


def bench_store_query_bucketed(spark, sf_dir: str):
    """The series-bucketed layout through the FULL request pipeline:
    engine.query() over a series_table engine. The rate stage is
    plan-pinned at zero Exchange inside build_subquery (the 15m rollup
    keeps the query's only shuffle) — the SCALE.md §2 lever available to
    plain API callers, not just direct operator users."""
    import tempfile

    from pyspark.sql import functions as F

    import __spark_entry__ as entrymod
    from timely_spark.api import TimelyEngine
    from timely_spark.plans.builder import build_subquery
    from timely_spark.plans.request import SubQuery

    table = entrymod._bucketed_points_table(spark, sf_dir)
    eng = TimelyEngine(
        spark, store_path=tempfile.mkdtemp(), series_table=table
    )
    bounds = eng.points().agg(
        F.min("ts").alias("lo"), F.max("ts").alias("hi")
    ).collect()[0]
    sub = SubQuery(metric="click", aggregator="none", rate=True)
    plan = (
        build_subquery(eng.points(), sub, bounds["lo"], bounds["hi"])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan, "bucketed engine rate path gained a shuffle"
    t0 = time.time()
    out = eng.query(
        {
            "start": bounds["lo"],
            "end": bounds["hi"],
            "msResolution": True,
            "queries": [
                {
                    "aggregator": "sum",
                    "metric": "click",
                    "downsample": "15m-avg",
                    "rate": True,
                }
            ],
        }
    )
    dt = time.time() - t0
    return dt, sum(len(s["dps"]) for s in out)


def bench_ann_restored_query(spark, sf_dir: str, path: str) -> tuple[float, int]:
    """Query-time against a PERSISTED ANN index: load (one-row model
    collect + lazy codes scan) + ADC top-k. The build/save ran outside
    the clock — this row measures what a daily curation loop pays per
    probe batch once the index exists."""
    from pyspark.sql import functions as F

    from timely_spark.operators.ann_index import IvfPqIndex

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    t0 = time.time()
    idx = IvfPqIndex.load(spark, path)
    n = len(idx.topk(q, k=10, nprobe=16).collect())
    return time.time() - t0, n


def bench_streaming_summarize(spark, sf_dir: str):
    """A11 at volume: drain the full sf events backlog through the REAL
    streaming summarization plan (readStream -> watermark -> event-time
    windowed agg -> parquet sink) via availableNow — the batch-drain
    execution of the Flink job's shape (SummarizationJob.java:40-105).
    Also surfaces the state-store footprint (rows / bytes from stream
    progress) so the stateful cost is recorded alongside wall time:
    state is bounded by open (series, window) pairs, not input volume."""
    from pyspark.sql import functions as F

    from timely_spark.model import ts_epoch_ms
    from timely_spark.streaming.summarize import summarization_query

    srcdir = tempfile.mkdtemp(prefix="timely_bench_stream_src_")
    ck = tempfile.mkdtemp(prefix="timely_bench_stream_ck_")
    out = tempfile.mkdtemp(prefix="timely_bench_stream_out_")
    try:
        os.symlink(
            os.path.abspath(f"{sf_dir}/events.parquet"),
            os.path.join(srcdir, "events.parquet"),
        )
        ev_batch = spark.read.parquet(f"{sf_dir}/events.parquet")
        schema = ev_batch.schema
        n_backlog = ev_batch.count()  # outside the clock, like schema
        ev = spark.readStream.schema(schema).parquet(srcdir)
        pts = ev.select(
            F.col("event_type").alias("metric"),
            ts_epoch_ms(ev).alias("ts"),
            F.col("value"),
            F.create_map(F.lit("user"), F.col("user_id").cast("string")).alias(
                "tags"
            ),
        )
        t0 = time.time()
        q = summarization_query(
            pts,
            window_seconds=3600,
            checkpoint=ck,
            out_path=out,
            watermark_seconds=120,
            exact=False,  # percentile_approx: the 100 TB path
            available_now=True,
            # r13 stateful-shuffle sizing (streaming/state.py rule),
            # mirroring the registry row
            expected_keys=n_backlog,
        )
        q.awaitTermination()
        dt = time.time() - t0
        state_rows = state_bytes = 0
        for p in q.recentProgress:
            for so in p.get("stateOperators") or []:
                state_rows = max(state_rows, so.get("numRowsTotal") or 0)
                state_bytes = max(state_bytes, so.get("memoryUsedBytes") or 0)
        n_out = spark.read.parquet(out).count()
        return dt, n_out, state_rows, state_bytes
    finally:
        for d in (srcdir, ck, out):
            shutil.rmtree(d, ignore_errors=True)


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0

    from timely_spark.session import get_spark

    spark = get_spark("timely-bench")
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    # warm the session (codegen, parquet reader, Python workers) so the
    # first measured query isn't charged one-time init cost
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    spark.read.parquet(f"{sf_dir}/events.parquet").limit(1000).collect()
    times: dict[str, float] = {}
    # best-of-2 per entry: suite-context noise (accumulated shuffle state,
    # Python-worker churn, host contention) showed 2-3x run-to-run swings
    # on identical code (BENCH_r02 ingest 7.95 s vs 3.7 s isolated); the
    # min of two runs approximates the isolated number the 2x gate was
    # recorded against, without per-query GC games (tried: System.gc()
    # between queries made late entries WORSE — the async ContextCleaner
    # then competes with the timed query).
    BENCH_REPEATS = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "2"))
    # host calibration (VERDICT r6 #2): a FIXED synthetic workload whose
    # cost depends only on the host — seeded 10^8-row range, codegen hash
    # arithmetic, one 32->64 shuffle agg. Its ratio vs the recorded gate
    # measures shared-host drift DIRECTLY, so per-query gate drift can be
    # attributed (host vs plan) instead of argued from suite medians.
    from pyspark.sql import functions as F

    def run_cal() -> float:
        t0 = time.time()
        spark.range(0, 100_000_000, 1, 32).selectExpr(
            "id * 2654435761 % 1000003 AS k"
        ).groupBy((F.col("k") % 64).alias("b")).agg(
            F.sum("k").alias("s")
        ).collect()
        return time.time() - t0

    times["host_calibration"] = round(min(run_cal() for _ in range(BENCH_REPEATS)), 3)
    print(f"  host_calibration: {times['host_calibration']}s", file=sys.stderr)
    # r12: an IN-SUITE calibration series — the same fixed synthetic
    # sampled every CAL_EVERY entries DURING the passes. The start/end
    # brackets alone cannot attribute a mid-run host stall (r12 found a
    # full run whose entries read 1.4-2x vs same-window isolated probes
    # while BOTH brackets were clean); the series makes window quality
    # over the whole run part of the artifact. ~15 samples x ~0.5 s
    # adds <10 s to the suite and times nothing differently.
    cal_series: list[float] = []
    # SPACED repeats: full passes over the suite, min per entry — NOT
    # back-to-back per-entry repeats. A multi-second host stall covers
    # both back-to-back repeats of whichever entries it lands on (r11
    # round-close: five sub-second rows read 2.2-2.8x in-suite, all
    # 0.6-1.3x isolated the same hour); spacing the repeats a full
    # suite apart makes the two samples independent, so the min
    # approximates the isolated-warm number the gates were recorded
    # against. Pass 1 doubles as the warm-up for pass 2.
    failed: set[str] = set()
    CAL_EVERY = 25
    for _pass in range(BENCH_REPEATS):
        for _i, name in enumerate(BENCH_QUERIES):
            if _i % CAL_EVERY == 0:
                cal_series.append(round(run_cal(), 3))
            if name in failed:
                continue
            fn = qs[name]
            try:
                t0 = time.time()
                n = len(fn(spark, sf_dir).collect())
                dt = time.time() - t0
            except Exception as e:  # failing query -> sentinel, not a crash
                print(f"bench query {name} failed: {e}", file=sys.stderr)
                times[name] = -1.0
                failed.add(name)
                continue
            prev = times.get(name)
            times[name] = round(dt if prev is None else min(prev, dt), 3)
            if _pass == BENCH_REPEATS - 1:
                print(
                    f"  {name}: {times[name]}s ({n} rows)", file=sys.stderr
                )

    ingest_sec, ingest_rows, store_path = bench_ingest(spark, sf_dir)
    for _ in range(BENCH_REPEATS - 1):
        s2, _r2, p2 = bench_ingest(spark, sf_dir)
        if s2 < ingest_sec:
            ingest_sec, store_path, p2 = s2, p2, store_path
        shutil.rmtree(p2, ignore_errors=True)
    times["ingest_lineprotocol"] = round(ingest_sec, 3)
    print(
        f"  ingest_lineprotocol: {ingest_sec:.3f}s "
        f"({ingest_rows} pts, {ingest_rows / max(ingest_sec, 1e-9):.0f} pts/s)",
        file=sys.stderr,
    )
    try:
        sq_sec, sq_dps = bench_store_query(spark, store_path)
        times["store_query_pruned"] = round(sq_sec, 3)
        print(
            f"  store_query_pruned: {sq_sec:.3f}s ({sq_dps} dps)", file=sys.stderr
        )
        tg_sec, tg_dps = bench_store_query_tag(spark, store_path)
        times["store_query_tag_pushdown"] = round(tg_sec, 3)
        print(
            f"  store_query_tag_pushdown: {tg_sec:.3f}s ({tg_dps} dps)",
            file=sys.stderr,
        )
    finally:
        shutil.rmtree(store_path, ignore_errors=True)
    try:
        bq_sec, bq_dps = bench_store_query_bucketed(spark, sf_dir)
        times["store_query_bucketed"] = round(bq_sec, 3)
        print(
            f"  store_query_bucketed: {bq_sec:.3f}s ({bq_dps} dps)",
            file=sys.stderr,
        )
    except Exception as e:  # plan regression surfaces as a sentinel
        print(f"bench store_query_bucketed failed: {e}", file=sys.stderr)
        times["store_query_bucketed"] = -1.0
    try:
        from pyspark.sql import functions as _F

        from timely_spark.operators.ann_index import IvfPqIndex as _Idx

        idx_path = tempfile.mkdtemp(prefix="timely_bench_annidx_")
        _emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        # build + save OUTSIDE the clock — the row measures load+query
        _Idx.build(_emb, dim=64, m=16, ksub=256, ncells=32).save(idx_path)
        aq_sec, aq_n = None, 0
        for _ in range(BENCH_REPEATS):
            s, n = bench_ann_restored_query(spark, sf_dir, idx_path)
            if aq_sec is None or s < aq_sec:
                aq_sec, aq_n = s, n
        shutil.rmtree(idx_path, ignore_errors=True)
        times["ann_query_restored"] = round(aq_sec, 3)
        print(
            f"  ann_query_restored: {aq_sec:.3f}s ({aq_n} rows)",
            file=sys.stderr,
        )
    except Exception as e:
        print(f"bench ann_query_restored failed: {e}", file=sys.stderr)
        times["ann_query_restored"] = -1.0
    try:
        ss_sec, ss_rows, ss_state_rows, ss_state_bytes = None, 0, 0, 0
        for _ in range(BENCH_REPEATS):
            s, r, sr, sb = bench_streaming_summarize(spark, sf_dir)
            if ss_sec is None or s < ss_sec:
                ss_sec, ss_rows, ss_state_rows, ss_state_bytes = s, r, sr, sb
        times["streaming_summarize"] = round(ss_sec, 3)
        print(
            f"  streaming_summarize: {ss_sec:.3f}s ({ss_rows} rows, "
            f"state {ss_state_rows} rows / {ss_state_bytes} B)",
            file=sys.stderr,
        )
    except Exception as e:
        print(f"bench streaming_summarize failed: {e}", file=sys.stderr)
        times["streaming_summarize"] = -1.0
        ss_state_rows = ss_state_bytes = 0

    # per-entry gate ratios vs the committed first-green/re-baseline gate
    # table (BENCH_GATES.json) — so the headline total stops conflating
    # coverage growth with speed (VERDICT r4 item #9). Entries without a
    # gate yet are listed, not silently skipped.
    gates_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_GATES.json"
    )
    raw_gates = (
        json.load(open(gates_path)) if os.path.exists(gates_path) else {}
    )
    # Gates carry PROVENANCE (VERDICT r11 #2): each entry is
    # {sec, first_green_sec, round_set, host_cal_at_set[, note]} so a
    # re-baseline is a visible, attributable record instead of a silent
    # rebase of the 2x bar.
    gates = {k: v["sec"] for k, v in raw_gates.items()}
    # the ratchet: any gate sitting >1.5x its FIRST-green value is flagged
    # on the summary line every run — the driver artifact itself carries
    # the cumulative-raise record, not just the BASELINE.md narrative
    rebaselined = sorted(
        k
        for k, v in raw_gates.items()
        if v["sec"] > 1.5 * v.get("first_green_sec", v["sec"])
    )
    gate_ratios = {
        k: round(v / gates[k], 3)
        for k, v in times.items()
        if v > 0 and gates.get(k, 0) > 0
    }
    ratios = sorted(gate_ratios.values())
    total = round(sum(v for v in times.values() if v >= 0), 3)
    # The ~125-entry per-query map is ~3.5 KB — bigger than the driver's
    # 2000-char tail capture, so it overflowed the summary line two rounds
    # running (BENCH_r09/r10 parsed:null, host_calibration itself truncated
    # out). Split the artifact: the FULL map goes to a committed sidecar
    # file next to the gates; the stdout line (emitted LAST) carries only
    # summary scalars plus the top-10 worst gate ratios — provably small,
    # so host_calibration (the attribution row everything else depends on)
    # always survives the tail window.
    # second calibration AFTER the suite: the host swings 0.5 -> 2.1 s
    # on this fixed workload within minutes (r11 probes), so a single
    # start-of-run number can't attribute a late-suite degradation;
    # start/end bracket the run
    cal_end = min(run_cal() for _ in range(BENCH_REPEATS))
    worst = dict(sorted(gate_ratios.items(), key=lambda kv: -kv[1])[:10])
    ungated = sorted(k for k, v in times.items() if v > 0 and not gates.get(k))
    cal_gate = gates.get("host_calibration", 0)
    summary = {
        "metric": "total_headline_query_sec",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "n_queries": len(times),
        # scaling-contract observability (VERDICT r12 item 2): the
        # driver runs the bench at two core counts; these two fields
        # prove what parallelism a run ACTUALLY had, so an 8-vs-32-core
        # ratio near 1.0 is attributable (env not propagated vs shared
        # host under-delivering cores) instead of argued.
        "master": spark.sparkContext.master,
        "defaultParallelism": spark.sparkContext.defaultParallelism,
        "host_calibration": times.get("host_calibration"),
        "host_cal_end": round(cal_end, 3),
        # in-suite window quality: min/median/max of the calibration
        # series sampled every CAL_EVERY entries during the passes
        "host_cal_series": (
            {
                "n": len(cal_series),
                "min": min(cal_series),
                "med": sorted(cal_series)[len(cal_series) // 2],
                "max": max(cal_series),
            }
            if cal_series
            else None
        ),
        "host_cal_ratio": (
            round(times["host_calibration"] / cal_gate, 3)
            if cal_gate and times.get("host_calibration")
            else None
        ),
        "gate_ratio_max": ratios[-1] if ratios else None,
        "gate_ratio_median": ratios[len(ratios) // 2] if ratios else None,
        # top-10 worst gate ratios of THIS run (adjudication aid only —
        # rotates with noise, never used for round-over-round tracking)
        "worst": worst,
        # FIXED headline subset in seconds — same keys every run, so the
        # driver's per-query PERF comparison has a stable n_common
        "queries": {
            k: times[k] for k in BENCH_HEADLINE if times.get(k) is not None
        },
        "queries_file": "BENCH_LOCAL.json",
        "ungated": ungated,
        "rebaselined": rebaselined,
        "streaming_state_rows": ss_state_rows,
        "streaming_state_bytes": ss_state_bytes,
    }
    local = dict(summary)
    local["queries"] = times  # the full map lives in the committed sidecar
    local["host_cal_series_full"] = cal_series
    local_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_LOCAL.json"
    )
    with open(local_path, "w") as fh:
        json.dump(local, fh, indent=1, sort_keys=True)
        fh.write("\n")
    line = json.dumps(summary, separators=(",", ":"))
    if len(line) > 1600:  # belt-and-braces: never overflow the 2000-char tail
        # trim the rotating/diagnostic maps FIRST — the fixed "queries"
        # headline map is the driver's comparison key and goes last
        for trim in ("worst", "ungated", "rebaselined", "queries"):
            summary.pop(trim, None)
            line = json.dumps(summary, separators=(",", ":"))
            if len(line) <= 1600:
                break
    sys.stderr.flush()
    print(line, flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
