"""Benchmark harness: runs BENCH_QUERIES at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line: the total (``headline_queries_total``, the metric name
every ``BENCH_*.json`` record uses), each query's best and raw wall
seconds, and the ingest extras. It writes no file.

Each query executes fully via the noop sink (no driver collect, no
result materialization cost) — measuring the distributed plan, not
toPandas serialization.

Run: ``python bench.py``; ``SPARK_GRAFT_SF_DIR`` picks the scale-factor
directory.
"""

from __future__ import annotations

import json
import os
import sys
import time

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from blockchain_indexer_spark.plans import REGISTRY
from blockchain_indexer_spark.session import get_spark

BENCH_QUERIES = (
    "pricing_summary",
    "broadcast_join_agg",
    "multi_join_revenue",
    "union_activity_timeline",
    "latest_event_per_user",
    "topk_per_group",
    "gap_detection",
    "tumbling_window_stats",
    "event_sessionization",
    "asof_latest_purchase",
    "range_join_active_sessions",
    "doc_fingerprint_dedup",
    "ngram_jaccard_near_dups",
    "minhash_lsh_candidates",
    "doc_decontamination",
    "doc_repetition_stats",
    "corpus_mixture_report",
    "doc_quota_sample",
    "doc_length_quantiles",
    "doc_chunk_packing",
    "corpus_mixture_rebalance",
    "doc_pii_scrub",
    "doc_exact_decontamination",
    "corpus_prep_report",
    "embedding_knn_label_probe",
    "rollup_revenue_hierarchy",
    "profile_orders",
    "embedding_topk_mips",
    "embedding_lsh_topk",
    "embedding_pq_topk",
    "embedding_ivfpq_topk",
    "embedding_semantic_dedup",
    "embedding_pca_covariance",
    "doc_bpe_merges",
    "doc_bpe_token_stats",
    # heavy iterative / incremental / streaming-twin operators: in the
    # bench so regressions are visible (VERDICT r2 item 7)
    "doc_dedup_clusters",
    # production twin: xxhash64 index maintenance (the md5 gate's cost
    # is mostly oracle-portability md5 work the deployment never pays)
    "minhash_incremental",
    "stream_reassembly_join",
    # chain domain: the first query pays the one-time derive+classify+
    # extract materialization (the production ingest path), the rest
    # run the analytics views over the promoted tables
    "chain_crc_balances",
    "chain_current_trust",
    "chain_timeline_counts",
    "chain_capacity_graph",
    "chain_trust_reachability",
    # multimodal mapInPandas stages
    "mm_decode_stats",
    "mm_frame_sample",
    # round-4 additions (VERDICT r3 item 8): the remaining heavies
    "fuzzy_name_matches",
    "doc_bpe_vocab",
    "mm_real_frames",
    "snapshot_diff_orders",
    # real compressed decode: PNG inflate + defilter per blob
    "mm_real_png",
    # corpus-level text prep: line-df boilerplate scrub, BM25 retrieval
    "doc_boilerplate_scrub",
    "doc_bm25_topk",
    "doc_token_budget_sample",
    "mm_image_ahash",
    "graph_supplier_pagerank",
    # bigram-LM quality filter + count-min heavy hitters
    "doc_bigram_fluency",
    "corpus_cms_heavy_hitters",
    # real compressed decode #2: variable-width LZW + palette map
    "mm_real_gif",
    # real compressed decode #3: baseline JPEG entropy layer + IDCT
    "mm_real_jpeg",
    # color sibling: interleaved 4:4:4 YCbCr + JFIF color transform
    "mm_real_jpeg_color",
    # chroma-subsampled 4:2:0: 2x2-luma MCUs + pinned floor upsample
    "mm_real_jpeg_420",
    # round-5 additions: RAG sliding chunker (shuffle-free), per-doc
    # TF-IDF keywords, MinHash estimator-calibration monitor
    "doc_sliding_chunks",
    "doc_tfidf_keywords",
    "minhash_calibration",
    # distributed classifier training (2-epoch batch perceptron)
    "corpus_perceptron_weights",
    # shuffle-free within-doc repeated-paragraph dedup
    "doc_intra_dedup",
    # one-exchange deterministic training-order shuffle
    "doc_shard_plan",
    # mutual-kNN graph + degree-oriented triangle counting
    "embedding_knn_triangles",
    # cross-doc repeated-window detection (two uniform-key shuffles)
    "doc_cross_repeat_spans",
    # MOSS winnowing sketch (shuffle-free Arrow mapInPandas)
    "doc_winnowing",
    # asymmetric containment near-dups (capped postings + exact verify)
    "ngram_containment_near_dups",
    # corpus monitors: DSIR bucket-ratio weights, exact KS drift,
    # source-pair content Jaccard
    "doc_dsir_weights",
    "corpus_source_ks_drift",
    "corpus_source_pair_jaccard",
    # content-defined chunking + contrastive hard-negative mining
    "doc_cdc_chunks",
    "embedding_hard_negatives",
    # ordered-sequence event analytics + hybrid retrieval fusion
    "event_funnel_conversion",
    "event_cohort_retention",
    "doc_hybrid_rrf",
    # histogram-trick distributed split finding
    "corpus_quality_stump",
    # recency-decayed engagement + Markov transition matrix
    "event_decayed_engagement",
    "event_type_transitions",
    # semi-supervised label spread over the mutual-kNN graph
    "embedding_label_propagation",
    # per-source distinctive vocabulary (log-odds keyword core)
    "corpus_source_distinctive_terms",
    # time-bounded funnel (24 h per-step window)
    "event_funnel_windowed",
    # ANN index recall monitor (IVF vs exact scan)
    "embedding_ann_recall",
    # volume-trend OLS + CUSUM change-point monitors
    "event_volume_trend",
    "event_cusum_changepoint",
    # last-touch + linear multi-touch conversion attribution
    "event_conversion_attribution",
    # round-6 additions: progressive (SOF2) decode with spectral
    # selection + successive approximation, k-anonymity release gate,
    # classifier calibration tiles, PQ distortion monitor, trigram
    # stupid-backoff LM
    "mm_real_jpeg_progressive",
    "event_k_anonymity",
    "doc_perceptron_calibration",
    "embedding_pq_distortion",
    "doc_trigram_fluency",
    # perceptron-vs-stump Cohen's kappa (replays both trainings)
    "corpus_classifier_agreement",
    # round-7 additions: the promoted round-6-banked gates — density
    # clustering with noise over the exact eps-pair engine, hash-level
    # image dedup closure, BM25-pool MMR diversified rerank
    "embedding_dbscan",
    "mm_image_dedup_clusters",
    "doc_mmr_rerank",
    # exact-vs-IVF mutual-kNN + label-propagation agreement monitor
    "embedding_lp_ivf_agreement",
    # round-8 additions: the promoted round-7-banked gates — audio
    # fingerprint dedup closure, AVI shot-boundary detection,
    # suffix-doubling memorization ladder, split-leakage gate — plus
    # the lsh_topk fetch_join serving path under the shared oracle
    "mm_audio_dedup_clusters",
    "mm_video_shots",
    "doc_longest_repeat",
    "doc_split_leakage",
    "embedding_lsh_topk_fetch",
    # round-9 additions: the promoted round-8-banked gates — video
    # near-dup closure, cross-modal dedup union, IVF-PQ ADC agreement,
    # strided-window audio dedup, DBSCAN exact-vs-LSH certification
    "mm_video_dedup_clusters",
    "mm_cross_modal_dedup",
    "embedding_pq_adc_agreement",
    "mm_audio_windowed_dedup",
    "embedding_dbscan_lsh_agreement",
)

def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf") or "0.1")
    spark = get_spark("bench")
    # Warm the JVM + parquet footers once so per-query numbers measure
    # the plans, not first-touch JIT/IO.
    REGISTRY["pricing_summary"].build(spark, sf_dir).write.format("noop").mode("overwrite").save()
    # Warm the Python worker pool the same way: the ~3 s of 32 workers
    # importing pandas/numpy is once-per-session infra cost, not part
    # of any one Arrow-batched query.
    from pyspark.sql.functions import pandas_udf  # noqa: PLC0415

    @pandas_udf("long")
    def _warm(s: pd.Series) -> pd.Series:
        import numpy as np  # noqa: PLC0415

        return s + np.int64(0)

    spark.range(64, numPartitions=32).select(_warm("id")).write.format("noop").mode(
        "overwrite"
    ).save()
    # Warm the classifier's generated code at the smallest SF: codegen
    # compiles once per plan SHAPE (identical across scale factors), so
    # this moves the ~6 s compile+JIT of the ingest pipeline — the
    # noisiest fixed cost — into warmup, and the ingest measurement
    # below reports the data-proportional steady-state promote cost.
    # Skip when warm_dir IS the measured dir: the warm run would share
    # the per-sf_dir pipeline cache with the measured queries
    # (ADVICE.md round 1).
    warm_dir = os.environ.get("SPARK_GRAFT_WARM_SF_DIR", "/root/testdata/sf0.001")
    import gc  # noqa: PLC0415

    if os.path.isdir(warm_dir) and os.path.realpath(warm_dir) != os.path.realpath(sf_dir):
        from blockchain_indexer_spark.plans.chain import ingest_spine  # noqa: PLC0415

        ingest_spine(spark, warm_dir)
        # Shape-warm EVERY benched plan at the smallest SF (round 5,
        # VERDICT r4 item #5): codegen/JIT compiles once per plan
        # SHAPE, and the heavy iterative shapes (capped Jaccard,
        # clustering) measurably need 1-2 executions before C2
        # steady-state — min-of-2 on a cold shape reported the JIT,
        # not the plan (jaccard sf0.1: cold [6.5, 4.5], after a
        # sf0.001 shape-warm ≈3.9 steady). The warm pass costs ~75 s
        # once; the per-query numbers it stabilizes are the round-to-
        # round drift signal, which is worth more.
        for i, name in enumerate(BENCH_QUERIES):
            try:
                REGISTRY[name].build(spark, warm_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
            except Exception:  # warm pass must never fail the bench
                pass
            if (i + 1) % 8 == 0:
                gc.collect()
                spark.sparkContext._jvm.System.gc()
        # Release the warm pass's checkpoint blocks before measuring:
        # ContextCleaner only runs when Python refs die AND the JVM
        # GCs — without this the spine + 85 warm queries' blocks tax
        # every measured query's GC.
        spark.catalog.clearCache()
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        time.sleep(2)

    # Two timed runs per query, report the min (steady state): local
    # single-JVM runs have ±30% noise from JIT, GC, and page cache on
    # the first touch of each plan shape, and the steady-state number
    # is the one that reflects the distributed plan's cost. Both runs
    # rebuild the DataFrame, so driver-side plan construction +
    # analysis stays inside the measurement — only transient noise is
    # dropped.
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "2"))
    # Round 10 (VERDICT r9 #5): the multi-engine agreement monitors are
    # the bench's most variance-dominated entries (documented swings
    # 10.7 <-> 18.8 s between driver runs on identical code); min-of-3
    # instead of min-of-2 for JUST these five stabilizes the reported
    # number. Methodology is otherwise unchanged — every other query
    # keeps `runs`, and all raw runs are printed.
    heavy_runs = max(runs, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS_HEAVY", "3")))
    HEAVY_MONITORS = {
        "embedding_dbscan_lsh_agreement",
        "embedding_lp_ivf_agreement",
        "embedding_pq_adc_agreement",
        "mm_cross_modal_dedup",
        "corpus_classifier_agreement",
    }
    # Chain queries read the event tables of a sink the derived chain
    # is backfilled into once per process (plans/chain.py) — the same
    # serving shape as the reference, whose views query Postgres tables
    # populated once by ingest. The ingest cost itself is measured
    # separately below, into a fresh sink.
    timings: dict[str, float] = {}
    raw_runs: dict[str, list[float]] = {}

    for i, name in enumerate(BENCH_QUERIES):
        q = REGISTRY[name]
        best = float("inf")
        raw_runs[name] = []
        for _ in range(heavy_runs if name in HEAVY_MONITORS else runs):
            t0 = time.time()
            q.build(spark, sf_dir).write.format("noop").mode("overwrite").save()
            dt = time.time() - t0
            raw_runs[name].append(round(dt, 3))
            best = min(best, dt)
        timings[name] = round(best, 3)
        # Between queries (OUTSIDE the timed window): drop the Python
        # refs to this query's eagerly-checkpointed frames so the JVM
        # ContextCleaner can release their blocks — with 55 queries in
        # one JVM the accumulated blocks otherwise tax every later
        # query's GC (measured: ~14% drift on the shared-query total
        # when 10 queries were appended to the schedule). A full JVM
        # System.gc every 8 queries bounds the drift without adding a
        # per-query stop-the-world pause.
        del q
        gc.collect()
        if (i + 1) % 8 == 0:
            spark.sparkContext._jvm.System.gc()

    total = round(sum(timings.values()), 3)
    # Free the query runs' leftovers before the ingest measurement:
    # iterative queries (reachability, clustering) eagerly
    # localCheckpoint frames that stay pinned until BOTH the Python
    # refs die and the JVM ContextCleaner runs; 34 queries x 2 runs of
    # retained blocks otherwise turn the ingest measurement into a GC
    # benchmark (observed 7x on identical code).
    spark.catalog.clearCache()
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    time.sleep(2)
    # Ingest throughput of a backfill into a fresh sink through the
    # production IngestPipeline.process_batch (promote → classify →
    # extract → 9 appends → cache refresh). The reference's live-mode
    # budget is a 2000-tx micro-batch promoted in 10 s ≈ 200 tx/s
    # (BASELINE.md).
    extra: dict[str, float] = {}
    try:
        from blockchain_indexer_spark.plans.chain import ingest_spine  # noqa: PLC0415

        t0 = time.time()
        n_tx = ingest_spine(spark, sf_dir)
        ingest_sec = time.time() - t0
        extra = {
            "ingest_tx": n_tx,
            "ingest_sec": round(ingest_sec, 3),
            "ingest_tx_per_sec": round(n_tx / ingest_sec, 1),
        }
    except Exception:  # throughput is informational; never fail the bench
        pass
    # Live-mode micro-batch round (reference budget: 2000-tx batch
    # promoted + caches refreshed within the 10 s serial flush window,
    # Settings.cs:170,179-180): the smallest SF's chain (warm_dir) as
    # two batches into a scratch sink — the first builds the tables,
    # the SECOND is the steady-state round (promote + classify +
    # extract + append + T8 cache refresh).
    try:
        import shutil  # noqa: PLC0415
        import tempfile  # noqa: PLC0415

        from pyspark.sql import functions as F  # noqa: PLC0415

        from blockchain_indexer_spark.plans.chain import chain_feed  # noqa: PLC0415
        from blockchain_indexer_spark.streaming.runner import IngestPipeline  # noqa: PLC0415

        feed = chain_feed(spark, warm_dir).localCheckpoint(eager=True)
        scratch = tempfile.mkdtemp(prefix="bench_microbatch_")
        try:
            pipe = IngestPipeline(spark, scratch)
            pipe.process_batch(feed.filter(F.col("block_number") % 2 == 0), 0)
            batch2 = feed.filter(F.col("block_number") % 2 == 1)
            n2 = batch2.filter(F.col("hash").isNotNull()).count()
            t0 = time.time()
            pipe.process_batch(batch2, 1)
            extra["microbatch_tx"] = n2
            extra["microbatch_round_sec"] = round(time.time() - t0, 3)
        finally:
            shutil.rmtree(scratch, ignore_errors=True)
    except Exception:
        pass
    print(bench_line(timings, raw_runs, total, sf, runs, extra))


def bench_line(
    timings: dict[str, float],
    raw_runs: dict[str, list[float]],
    total: float,
    sf: float,
    runs: int,
    extra: dict,
) -> str:
    """The printed JSON line: the total, every query's best (``queries``)
    and raw (``runs``) seconds, and the ingest extras."""
    return json.dumps(
        {
            "metric": "headline_queries_total",
            "value": total,
            "unit": "sec",
            "queries": timings,
            "runs": raw_runs,
            "sf": sf,
            "runs_per_query": runs,
            "agg": "min",
            **extra,
        }
    )


if __name__ == "__main__":
    main()
