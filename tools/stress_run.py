"""Run the heavy operators at 20x bench scale (/tmp/stress) and print
wall times, to validate SCALE.md's linearity claims and flag any
superlinear blowup."""

import os, sys, time
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from blockchain_indexer_spark.session import get_spark
from blockchain_indexer_spark.sources.parquet import load_table
import pyspark.sql.functions as F

spark = get_spark("stress")
SF = "/tmp/stress"

def t(name, fn):
    t0 = time.time()
    n = fn()
    print(f"STRESS {name}: {round(time.time()-t0,1)}s rows={n}", flush=True)

docs = load_table(spark, SF, "documents")
emb = load_table(spark, SF, "embeddings")

from blockchain_indexer_spark.operators.dedup import (
    exact_dup_clusters, ngram_jaccard_pairs,
    minhash_lsh_candidates, decontaminate, distinct_shingles,
)
from blockchain_indexer_spark.operators.kmeans import kmeans_assign, semantic_dedup
from blockchain_indexer_spark.operators.similarity import ivf_pq_topk, lsh_near_dup_pairs

t("exact_dedup_100k", lambda: exact_dup_clusters(docs, "doc_id", "text").count())

sh = distinct_shingles(docs, "doc_id", "text", 3)
t("ngram_jaccard_100k", lambda: ngram_jaccard_pairs(
    docs, "doc_id", "text", k=3, threshold=0.5, max_doc_freq=200, shingles=sh).count())


t("minhash_lsh_100k", lambda: minhash_lsh_candidates(docs, "doc_id", "text", shingles=sh).count())

eval_df = docs.filter(F.col("doc_id") % 100 == 0).limit(1000)
t("decontaminate_100k", lambda: decontaminate(docs, eval_df).count())

t("kmeans_100k_k64", lambda: kmeans_assign(emb, k=64, iters=2).count())
t("semdedup_100k_k256", lambda: semantic_dedup(emb, k=256, iters=1, threshold=0.9).count())

q = emb.filter(F.col("vec_id") % 1000 == 0)
t("ivfpq_100k_q100", lambda: ivf_pq_topk(
    emb, q, k=5, n_cells=64, n_probe=8, m=16, n_codes=64, rerank=100).count())

t("lsh_neardup_100k_p64", lambda: lsh_near_dup_pairs(
    emb, dim=64, threshold=0.9, num_planes=64, bands=4).count())

from blockchain_indexer_spark.operators.dedup import decontaminate_exact, simhash_candidates

needles = (
    docs.filter((F.col("doc_id") % 100 == 0) & (F.length("text") >= 60))
    .select(F.substring("text", 11, 40).alias("needle"))
    .distinct()
    .limit(1000)
)
t("exact_decontam_100k_n1000", lambda: decontaminate_exact(docs, needles).count())

t("simhash_neardup_100k", lambda: simhash_candidates(
    docs, "doc_id", "text", max_hamming=3, bands=4).count())

from blockchain_indexer_spark.operators.similarity import knn_label_probe
t("knn_probe_100k_q100", lambda: knn_label_probe(
    emb, "vec_id", "embedding", "label", k=5, stride=1000).count())

from blockchain_indexer_spark.plans import REGISTRY
t("corpus_prep_100k", lambda: REGISTRY["corpus_prep_report"].build(spark, SF).count())

from blockchain_indexer_spark.operators.pca import covariance_pairs, pca_project
t("pca_covariance_100k", lambda: covariance_pairs(emb, "vec_id", "embedding").count())
t("pca_project_100k_k8", lambda: pca_project(emb, "vec_id", "embedding", k=8).count())

from blockchain_indexer_spark.operators.bpe import bpe_token_stats, bpe_train
bpe_merges = []
t("bpe_train_100k_m8", lambda: len(bpe_merges.extend(bpe_train(docs, "text", n_merges=8)) or bpe_merges))
t("bpe_tokenize_100k_m8", lambda: bpe_token_stats(docs, "doc_id", "text", bpe_merges).count())

from blockchain_indexer_spark.plans import chain
t("chain_spine_1M", lambda: len(chain._pipeline_tables(spark, SF)))
t("chain_views_1M", lambda: len(chain._derived_views(spark, SF)))
print("STRESS done", flush=True)

from blockchain_indexer_spark.operators.dedup import cosine_near_dup_pairs

t("exact_cosine_100k_t095", lambda: cosine_near_dup_pairs(
    emb, "vec_id", "embedding", threshold=0.95).count())

from blockchain_indexer_spark.functions.text import tokens
from blockchain_indexer_spark.operators.textprep import bm25_topk, strip_boilerplate

_toks = docs.select("doc_id", "source", F.coalesce(tokens("text"), F.array().cast("array<string>")).alias("toks"))
_win = F.when(
    F.size("toks") > 0,
    F.transform(F.sequence(F.lit(0), (F.ceil(F.size("toks") / F.lit(8.0)).cast("int")) - 1),
                lambda i: F.array_join(F.slice(F.col("toks"), i * 8 + 1, 8), " ")),
).otherwise(F.array().cast("array<string>"))
t("boilerplate_100k", lambda: strip_boilerplate(
    _toks.select("doc_id", "source", _win.alias("lines"))).count())

_q = (_toks.filter((F.col("doc_id") % 1000 == 0) & (F.size("toks") >= 4))
      .select(F.col("doc_id").alias("query_id"),
              F.explode(F.slice(F.array_sort(F.array_distinct("toks")), 1, 4)).alias("term")))
t("bm25_topk_100k_q100", lambda: bm25_topk(_toks, _q, k=5, tokens_col="toks").count())

from blockchain_indexer_spark.operators.lm import bigram_fluency
_lm_base = docs.select(
    "doc_id", F.coalesce(tokens("text"), F.array().cast("array<string>")).alias("toks")
)
# noop-write, not count(): Catalyst eliminates the final left join
# (unique-key right side, no referenced columns) under count()
t("bigram_fluency_100k", lambda: bigram_fluency(
    _lm_base, _lm_base.filter(F.col("doc_id") % 2 == 0)
).write.format("noop").mode("overwrite").save() or 100_000)

from blockchain_indexer_spark.operators.sketch import cms_heavy_hitters
_cms_tok = docs.select(F.explode(tokens("text")).alias("token"))
t("cms_heavy_hitters_100k", lambda: cms_heavy_hitters(
    _cms_tok, "token", k=20
).write.format("noop").mode("overwrite").save() or 20)

from blockchain_indexer_spark.operators.linear import hashed_features, perceptron_train
_pc_base = docs.select(
    "doc_id",
    F.when(F.col("lang") == "en", F.lit(1)).otherwise(F.lit(-1)).cast("long").alias("y"),
    F.coalesce(tokens("text"), F.array().cast("array<string>")).alias("toks"),
)
t("perceptron_train_100k_e2", lambda: perceptron_train(
    hashed_features(_pc_base, n_buckets=256), epochs=2, n_buckets=256
).write.format("noop").mode("overwrite").save() or 256)

# ---- round-4 additions: span/sketch/graph/placement operators -------
from blockchain_indexer_spark.operators.dedup import (
    cross_repeat_spans, winnow_fingerprints, ngram_containment_pairs,
)

t("cross_repeat_spans_100k", lambda: cross_repeat_spans(
    docs, "doc_id", "text", k=8
).write.format("noop").mode("overwrite").save() or 100_000)

t("winnow_fingerprints_100k", lambda: winnow_fingerprints(
    docs, "doc_id", "text"
).write.format("noop").mode("overwrite").save() or 100_000)

t("containment_100k", lambda: ngram_containment_pairs(
    docs, "doc_id", "text", k=3, threshold=0.5, max_doc_freq=200, shingles=sh
).count())

from blockchain_indexer_spark.operators.sampling import shard_plan
t("shard_plan_100k", lambda: shard_plan(
    docs.select("doc_id"), "doc_id", n_shards=64
).write.format("noop").mode("overwrite").save() or 100_000)

# graph ops over the MinHash candidate edge set (the realistic input:
# a similarity graph, not an all-pairs one)
from blockchain_indexer_spark.operators.cluster import (
    cluster_representatives, triangle_counts,
)
_cand = minhash_lsh_candidates(docs, "doc_id", "text", shingles=sh).select(
    "doc_a", "doc_b"
).localCheckpoint(eager=True)
t("triangles_minhash_graph_100k", lambda: triangle_counts(
    _cand, "doc_a", "doc_b"
).count())
t("cluster_best_100k", lambda: cluster_representatives(
    docs.select("doc_id", F.length("text").alias("quality")),
    _cand, "doc_id", "quality",
).count())

from blockchain_indexer_spark.operators.drift import (
    group_pair_jaccard, importance_weights, ks_drift,
)
tgt = docs.filter(F.col("lang") == "en")
t("dsir_weights_100k_b1024", lambda: importance_weights(docs, tgt).count())
t("ks_drift_100k", lambda: ks_drift(docs, "source", "n_chars").count())
t("pair_jaccard_100k", lambda: group_pair_jaccard(docs, "source", "text", k=3).count())

from blockchain_indexer_spark.operators.packing import cdc_chunks
t("cdc_chunks_100k", lambda: cdc_chunks(docs).count())

from blockchain_indexer_spark.operators.funnel import cohort_retention, funnel_conversion
ev = load_table(spark, SF, "events")
t("funnel_1M", lambda: funnel_conversion(ev, ["view", "click", "purchase"]).count())
t("cohort_1M", lambda: cohort_retention(ev).count())

from blockchain_indexer_spark.operators.funnel import time_decayed_scores, transition_counts
t("decayed_1M", lambda: time_decayed_scores(ev).count())
t("transitions_1M", lambda: transition_counts(ev).count())

from blockchain_indexer_spark.operators.drift import distinctive_terms
t("distinctive_terms_100k", lambda: distinctive_terms(docs, "source", "text").count())
from blockchain_indexer_spark.operators.funnel import conversion_attribution
t("attribution_1M", lambda: conversion_attribution(ev).count())
from blockchain_indexer_spark.operators.trend import cusum_changepoint, group_trend
t("volume_trend_1M", lambda: group_trend(ev).count())
t("cusum_1M", lambda: cusum_changepoint(ev).count())
t("funnel_windowed_1M", lambda: funnel_conversion(
    ev, ["view", "click", "purchase"], max_step_gap_us=86_400_000_000).count())
from blockchain_indexer_spark.operators.cluster import label_propagation
from blockchain_indexer_spark.operators.similarity import mutual_knn_graph
def _lp():
    g = mutual_knn_graph(emb, "vec_id", "embedding", k=5)
    seeds = emb.filter(F.col("vec_id") % 5 == 0).select("vec_id", "label")
    return label_propagation(g, seeds, id_col="vec_id", label_col="label", iters=2).count()
t("label_prop_100k_mutual5nn", _lp)

# ---- round-6 operators ----
from blockchain_indexer_spark.operators.governance import k_anonymity_report
t("k_anonymity_1M", lambda: k_anonymity_report(
    ev, [F.col("event_type"),
         (F.unix_micros(F.col("ts")) / F.lit(86_400_000_000)).cast("long"),
         ((F.col("value").cast("decimal(18,2)") * 100).cast("long") / F.lit(500)).cast("long")],
    k=5).count())

from blockchain_indexer_spark.functions.text import tokens as _tok
from blockchain_indexer_spark.operators.lm import trigram_fluency_backoff
_base = docs.select("doc_id", F.coalesce(_tok("text"), F.array().cast("array<string>")).alias("toks"))
# sum over the score column, NOT count(): the output is a left join
# against a unique-key agg, which Catalyst join-eliminates under a
# bare count — the sum forces the full scoring pipeline
t("trigram_backoff_100k", lambda: trigram_fluency_backoff(
    _base, _base.filter(F.col("doc_id") % 2 == 0))
    .agg(F.sum("fluency_nano")).collect() and 100000)

from blockchain_indexer_spark.operators.similarity import pq_distortion
t("pq_distortion_100k", lambda: pq_distortion(
    emb, "vec_id", "embedding", m=16, n_codes=32).count())

from blockchain_indexer_spark.operators.linear import (
    hashed_features, margin_calibration, perceptron_score, perceptron_train,
)
_pbase = docs.select(
    "doc_id",
    F.when(F.col("lang") == "en", F.lit(1)).otherwise(F.lit(-1)).cast("long").alias("y"),
    F.coalesce(_tok("text"), F.array().cast("array<string>")).alias("toks"),
)
def _calib():
    feats = hashed_features(_pbase, n_buckets=256).localCheckpoint(eager=True)
    w = perceptron_train(feats, epochs=2, n_buckets=256)
    return margin_calibration(perceptron_score(feats, w), n_buckets=10).count()
t("perceptron_calibration_100k", _calib)

# ---- round-6 banked, round-7 promoted operators ----------------------
from blockchain_indexer_spark.operators.cluster import dbscan_clusters
from blockchain_indexer_spark.operators.multimodal import attach_png_blob, image_dedup_clusters
from blockchain_indexer_spark.operators.textprep import mmr_rerank

t("dbscan_exact_100k_t095", lambda: dbscan_clusters(
    emb, "vec_id", "embedding", eps=0.95, min_pts=4).count())
# threshold 0.9 is the documented output-bound worst case (the LSH pair
# enumeration emits 34.5M true pairs on this corpus); dedup-grade eps
# is tighter in production
t("dbscan_lsh_100k_t09", lambda: dbscan_clusters(
    emb, "vec_id", "embedding", min_pts=4,
    pairs=lsh_near_dup_pairs(emb, dim=64, threshold=0.9, num_planes=64, bands=4)).count())

t("image_dedup_100k", lambda: image_dedup_clusters(
    attach_png_blob(docs), grid=6, bands=4, max_hamming=3).count())

_mq = (_toks.filter((F.col("doc_id") % 1000 == 0) & (F.size("toks") >= 4))
       .select(F.col("doc_id").alias("query_id"),
               F.explode(F.slice(F.array_sort(F.array_distinct("toks")), 1, 4)).alias("term")))
t("mmr_rerank_100k_q100", lambda: mmr_rerank(_toks, _mq, k=5, pool=10).count())

# ---- round-7 operators -----------------------------------------------
# lp-ivf agreement at 20x: the registered gate pins n_cells=16 for the
# 500-row driver table; at 100k vectors the cell count scales with
# sqrt(n)-ish corpus size (256 data-seeded cells here -> ~390-vector
# cells, probe join ~3x10^8 candidate scorings) — the documented
# ivf_topk posture. Exact graph remains the blocked-matmul baseline.
def _lp_ivf_agree_100k():
    from blockchain_indexer_spark.operators.cluster import label_propagation

    ex = mutual_knn_graph(emb, "vec_id", "embedding", k=5).localCheckpoint(eager=True)
    iv = mutual_knn_graph(
        emb, "vec_id", "embedding", k=5, index="ivf",
        n_cells=256, n_probe=8, iters=0,
    ).localCheckpoint(eager=True)
    seeds = emb.filter(F.col("vec_id") % 5 == 0).select("vec_id", "label")
    pe = (label_propagation(ex, seeds, id_col="vec_id", label_col="label", iters=2)
          .filter(~F.col("is_seed")).select("vec_id", F.col("label").alias("_le")))
    pi = (label_propagation(iv, seeds, id_col="vec_id", label_col="label", iters=2)
          .filter(~F.col("is_seed")).select("vec_id", F.col("label").alias("_li")))
    r = (pe.join(pi, "vec_id")
         .agg(F.count("*").alias("both"),
              F.sum(F.when(F.col("_le") == F.col("_li"), 1).otherwise(0)).alias("agree"))
         .collect()[0])
    ex_n = ex.count(); iv_n = iv.count()
    common = ex.join(iv, ["src", "dst"], "leftsemi").count()
    print(f"  lp_ivf_agree detail: edges exact={ex_n} ivf={iv_n} common={common} "
          f"recall={common/max(ex_n,1):.3f} label_agree={r['agree']}/{r['both']}",
          flush=True)
    return r["both"]
t("lp_ivf_agreement_100k", _lp_ivf_agree_100k)

# ---- round-7 banked (round-8 promotion) operators ---------------------
from blockchain_indexer_spark.operators.multimodal import (
    attach_avi_blob, attach_wav_blob, audio_dedup_clusters,
    sample_frames_real, shot_boundaries,
)
from blockchain_indexer_spark.operators.dedup import longest_repeat_ladder

t("audio_dedup_100k", lambda: audio_dedup_clusters(
    attach_wav_blob(docs), bits=16, bands=4, max_hamming=2).count())

t("video_shots_100k", lambda: shot_boundaries(
    sample_frames_real(attach_avi_blob(docs), every=1), threshold=128).count())

t("longest_repeat_ladder_100k", lambda: longest_repeat_ladder(
    docs, "doc_id", "text", base=4, levels=5).count())

from blockchain_indexer_spark.operators.similarity import lsh_topk
_lq = emb.filter(F.col("vec_id") % 100 == 0)
# huge-fan-out serving shape: 1000 probes x 4 bands x ~6k-row buckets;
# fetch_join dedups 24-byte id pairs instead of shuffling 2x64-int
# vector payloads through the distinct (53.7 s ride-along -> 27.4 s)
t("lsh_topk_100k_q1000_fetch", lambda: lsh_topk(
    emb, _lq, "vec_id", "embedding", dim=64, k=5, fetch_join=True).count())

from blockchain_indexer_spark.operators.dedup import split_leakage
from blockchain_indexer_spark.operators.sampling import hash_split
t("split_leakage_100k", lambda: split_leakage(
    hash_split(docs, "doc_id"), "doc_id", "text", "split", k=8).count())

# ---- round-8 banked (round-9 promotion) operators ---------------------
from blockchain_indexer_spark.operators.multimodal import (
    attach_png_blob, image_dedup_clusters, video_dedup_clusters,
)
from blockchain_indexer_spark.operators.cluster import cross_modal_dedup_clusters
from blockchain_indexer_spark.operators.similarity import brute_force_topk, ivf_pq_topk as _ivfpq

t("video_dedup_100k", lambda: video_dedup_clusters(
    sample_frames_real(attach_avi_blob(docs), every=1),
    bits=16, bands=4, max_hamming=2).count())

# union of three modality engines + one star-contraction closure: the
# cost is ~the sum of the engines (each runs once; star edges are
# O(docs) per modality so the union closure adds only uniform-key work)
def _cross_modal_100k():
    img = image_dedup_clusters(attach_png_blob(docs), grid=6, bands=4, max_hamming=3)
    vid = video_dedup_clusters(
        sample_frames_real(attach_avi_blob(docs), every=1),
        bits=16, bands=4, max_hamming=2)
    txt = ngram_jaccard_pairs(
        docs, "doc_id", "text", k=3, threshold=0.5, max_doc_freq=200, shingles=sh
    ).select("doc_a", "doc_b")
    return cross_modal_dedup_clusters(docs, [txt, img, vid]).count()
t("cross_modal_dedup_100k", _cross_modal_100k)

# exact-vs-ADC agreement at 20x (the stress ivfpq config): the monitor
# pays the exact 100k x 100-query scan PLUS the index path, like the
# lp_ivf agreement row — only the monitor pays the baseline cost
def _pq_adc_agree_100k():
    _q = emb.filter(F.col("vec_id") % 1000 == 0)
    ex = brute_force_topk(emb, _q, k=5, metric="quantized_neg_l2").localCheckpoint(eager=True)
    pq = _ivfpq(emb, _q, k=5, n_cells=64, n_probe=8, m=16, n_codes=64,
                rerank=100).localCheckpoint(eager=True)
    common = ex.join(pq, ["query_id", "neighbor_id"], "leftsemi").count()
    ex_n = ex.count(); pq_n = pq.count()
    print(f"  pq_adc_agree detail: exact={ex_n} adc={pq_n} common={common} "
          f"recall={common/max(ex_n,1):.3f}", flush=True)
    return common
t("pq_adc_agreement_100k", _pq_adc_agree_100k)

# IVF blocked-engine skew guard: max_cell=256 forces every ~390-member
# data-seeded cell to sub-split ~2-way — measures the replication
# overhead the guard costs when it fires (it is free when cells fit)
from blockchain_indexer_spark.operators.similarity import ivf_topk as _ivft
_sq = emb.filter(F.col("vec_id") % 1000 == 0)
t("ivf_blocked_guard_100k_mc256", lambda: _ivft(
    emb, _sq, k=5, n_cells=256, n_probe=8, iters=0, broadcast_queries=False,
    metric="cosine", engine="blocked", max_cell=256).count())
t("ivf_blocked_guard_100k_default", lambda: _ivft(
    emb, _sq, k=5, n_cells=256, n_probe=8, iters=0, broadcast_queries=False,
    metric="cosine", engine="blocked").count())

# strided-window audio fingerprint (4 windows, hop 16) through the
# full dedup stack — ~4x the WHT matmul work of the single-window gate
def _audio_windowed_100k():
    from blockchain_indexer_spark.operators.cluster import connected_components_star
    from blockchain_indexer_spark.operators.dedup import hamming_band_pairs
    from blockchain_indexer_spark.operators.multimodal import audio_whash
    h = (audio_whash(attach_wav_blob(docs), bits=16, n_windows=4, hop=16)
         .select("doc_id", "whash").localCheckpoint(eager=True))
    hv = h.select(F.col("whash").alias("_hv")).distinct()
    hp = hamming_band_pairs(hv, "_hv", "_hv", 16, bands=4, max_hamming=2)
    comp = connected_components_star(hp, "id_a", "id_b", local_threshold=200_000)
    hlab = hv.join(comp, hv["_hv"] == comp["id"], "left").select(
        "_hv", F.coalesce("cluster", "_hv").alias("_hc"))
    dlab = h.join(hlab, h["whash"] == hlab["_hv"]).select("doc_id", "_hc")
    cmin = dlab.groupBy("_hc").agg(F.min("doc_id").alias("cluster"))
    return dlab.join(cmin, "_hc").count()
t("audio_windowed_dedup_100k", _audio_windowed_100k)

# DBSCAN scale-path swap at 20x — the HIGH-similarity regime (eps=0.9
# semantic-dedup, the seam's documented 100 TB use) on a 20k uniform
# SAMPLE: an exact eps-threshold graph materializes O(sum family^2)
# pairs, so at index scale the agreement monitor certifies the swap on
# a sample (the full corpus only ever sees the subquadratic LSH
# engine) — the first 100k attempt OOMed the exact side, which is the
# measurement that forced this posture. LSH at 64 planes / 4
# sixteen-bit bands (the lsh_neardup_100k_p64 config) keeps buckets
# selective; partial boundary agreement is the measurement, like the
# pq_adc 0.640 recall row.
def _dbscan_lsh_agree_20k():
    from blockchain_indexer_spark.operators.cluster import dbscan_clusters
    from blockchain_indexer_spark.operators.dedup import cosine_near_dup_pairs
    samp = emb.filter(F.col("vec_id") % 5 == 0).localCheckpoint(eager=True)
    exp = (cosine_near_dup_pairs(samp, "vec_id", "embedding", threshold=0.9)
           .select("vec_a", "vec_b").localCheckpoint(eager=True))
    lsp = (lsh_near_dup_pairs(samp, "vec_id", "embedding", dim=64, threshold=0.9,
                              num_planes=64, bands=4)
           .select("vec_a", "vec_b").localCheckpoint(eager=True))
    ex = dbscan_clusters(samp, "vec_id", "embedding", eps=0.9, min_pts=4,
                         pairs=exp).localCheckpoint(eager=True)
    ap = dbscan_clusters(samp, "vec_id", "embedding", eps=0.9, min_pts=4,
                         pairs=lsp).localCheckpoint(eager=True)
    agree = (ex.alias("e").join(ap.alias("l"), "id")
             .filter((F.col("e.role") == F.col("l.role"))
                     & (F.col("e.cluster") == F.col("l.cluster"))).count())
    pe, pl = exp.count(), lsp.count()
    print(f"  dbscan_lsh_agree detail: pairs exact={pe} lsh={pl} "
          f"recall={pl/max(pe,1):.3f} verdict_agree={agree}", flush=True)
    return agree
t("dbscan_lsh_agreement_20k_sample", _dbscan_lsh_agree_20k)
