"""Corpus-distribution monitors: DSIR importance weights, two-sample
KS drift, and group-pair content Jaccard.

Training-data pipelines need to answer "is this slice of the corpus
distributed like the data I want?" three different ways:

- **importance_weights** — per-DOCUMENT: how much more likely is this
  document under the target distribution than under the raw corpus
  (DSIR, Xie et al. 2023, "Data Selection for Language Models via
  Importance Resampling" — hashed-unigram bag-of-buckets likelihood
  ratio). The weights drive resampling toward the target.
- **ks_drift** — per-GROUP, one numeric column: exact two-sample
  Kolmogorov-Smirnov statistic of each group against the rest of the
  corpus — the drift alarm for "source X started sending truncated
  documents".
- **group_pair_jaccard** — per GROUP PAIR, content overlap: exact
  Jaccard of the groups' distinct shingle sets — the corpus-level
  twin of the per-document near-dup detectors (dedup.py), answering
  "are these two sources mirrors of each other?".

Determinism (the registry's cross-engine contract): every score is an
integer-quantized single IEEE operation — exact BIGINT counts cast to
DOUBLE, one multiply/divide tree evaluated in the identical order in
Spark and the DuckDB oracle, floor()ed into a BIGINT BEFORE any sum.
No libm transcendentals on the gated paths. Pattern shared with
operators.lm (bigram fluency) and the BM25 gate.

Scale shapes (100 TB posture):
- importance_weights: two corpus token passes (target ⊆ corpus means
  target is usually much smaller), each a map-side-combinable
  (bucket) groupBy to exactly ``n_buckets`` rows; the ratio table is
  O(n_buckets) and broadcast; per-doc scoring is one (doc, bucket)
  groupBy plus a broadcast join — no corpus-sized shuffle wider than
  the (id, bucket, count) projection.
- ks_drift: one (group, value) count agg (output is bounded by
  |groups| x |distinct values|, NOT corpus rows), then window
  cumsums over the value grid per group — all post-aggregation small.
- group_pair_jaccard: one distinct-(group, shingle-hash) pass, then a
  per-shingle group-set agg; pair fanout is |groups per shingle|^2,
  never corpus^2. With thousands of groups the same banding used by
  MinHash applies (dedup.py), but the group count in corpus curation
  (sources, dumps, domains-after-bucketing) is small by construction.

Reference scope note: the reference engine (CirclesUBI/blockchain-
indexer) has no corpus-monitoring surface; these extend the LLM-data-
pipeline side of SURVEY.md SS2 alongside operators/dedup.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from blockchain_indexer_spark.functions.hex import md5_prefix_bigint
from blockchain_indexer_spark.functions.text import tokens
from blockchain_indexer_spark.sources.parquet import spread

#: floor(1e9 * ratio) quantization for likelihood ratios / KS stats.
_NANO = 1_000_000_000.0


def _bucket(col: Column, n_buckets: int) -> Column:
    """Engine-portable token -> bucket hash (md5 prefix mod B)."""
    return md5_prefix_bigint(col, 15) % F.lit(n_buckets)


def _bucket_counts(
    df: DataFrame, text_col: str, n_buckets: int
) -> DataFrame:
    """(bucket, cnt) token-occurrence histogram of a corpus — one
    tokenize pass, map-side combinable groupBy to <= n_buckets rows."""
    return (
        spread(df.select(text_col))
        .select(F.explode(tokens(text_col)).alias("_tok"))
        .select(_bucket(F.col("_tok"), n_buckets).alias("_b"))
        .groupBy("_b")
        .agg(F.count("*").cast("long").alias("_cnt"))
    )


def importance_ratios(
    corpus: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    n_buckets: int = 1024,
) -> DataFrame:
    """The DSIR bucket-ratio table: (_b, ratio_nano) for every hash
    bucket, where ratio_nano = floor(1e9 * p_target(b) / p_corpus(b))
    with add-one smoothing:

        p_t(b) = (c_t(b)+1) / (n_t+B),  p_c(b) = (c_c(b)+1) / (n_c+B)

    computed as ONE double expression over exact integer counts:
    (c_t+1)*(n_c+B) / ((c_c+1)*(n_t+B)) — two IEEE multiplies and one
    divide, identical association in the SQL oracle, so the floor is
    bit-reproducible. With target a subset of the corpus the ratio is
    bounded by (n_c+B)/(n_t+B) (since c_t <= c_c), keeping
    cnt*ratio_nano sums far inside int64.

    All B buckets are emitted (a bucket unseen in BOTH corpora still
    has a smoothed ratio) via a range frame — so per-doc scoring never
    drops a token on a null join.
    """
    spark = corpus.sparkSession
    ct = _bucket_counts(target, text_col, n_buckets)
    cc = _bucket_counts(corpus, text_col, n_buckets)
    nt = target.select(F.explode(tokens(text_col)).alias("t")).count()
    nc = corpus.select(F.explode(tokens(text_col)).alias("t")).count()
    grid = spark.range(n_buckets).select(F.col("id").alias("_b"))
    joined = (
        grid.join(ct.withColumnRenamed("_cnt", "_ct"), "_b", "left")
        .join(cc.withColumnRenamed("_cnt", "_cc"), "_b", "left")
        .select(
            "_b",
            F.coalesce(F.col("_ct"), F.lit(0)).alias("_ct"),
            F.coalesce(F.col("_cc"), F.lit(0)).alias("_cc"),
        )
    )
    return joined.select(
        "_b",
        F.floor(
            F.lit(_NANO)
            * (
                (
                    (F.col("_ct") + F.lit(1)).cast("double")
                    * F.lit(float(nc + n_buckets))
                )
                / (
                    (F.col("_cc") + F.lit(1)).cast("double")
                    * F.lit(float(nt + n_buckets))
                )
            )
        )
        .cast("long")
        .alias("ratio_nano"),
    )


def importance_weights(
    corpus: DataFrame,
    target: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 1024,
) -> DataFrame:
    """DSIR-style per-document importance weights of ``corpus``
    toward ``target``'s hashed-unigram distribution.

    Returns (id_col, n_tokens, weight_nano) for EVERY corpus document:
    weight_nano = sum over the document's token occurrences of its
    bucket's ratio_nano, integer-divided by n_tokens — i.e. the mean
    target/corpus likelihood ratio of the document's tokens, in
    nano units. NULL/empty text scores (0, 0). > 1e9 means "more
    target-like than the corpus average"; resampling keeps documents
    proportionally to the weight.

    The canonical DSIR weight is the log-ratio sum; the mean plain
    ratio gated here ranks identically per-bucket and stays inside
    the integer-deterministic contract.
    """
    ratios = importance_ratios(corpus, target, text_col, n_buckets)
    per_doc_bucket = (
        spread(corpus.select(id_col, text_col), id_col)
        .select(id_col, F.explode(tokens(text_col)).alias("_tok"))
        .select(id_col, _bucket(F.col("_tok"), n_buckets).alias("_b"))
        .groupBy(id_col, "_b")
        .agg(F.count("*").cast("long").alias("_cnt"))
    )
    agg = (
        per_doc_bucket.join(F.broadcast(ratios), "_b")
        .groupBy(id_col)
        .agg(
            F.sum("_cnt").cast("long").alias("n_tokens"),
            F.sum(F.col("_cnt") * F.col("ratio_nano")).cast("long").alias("_wsum"),
        )
    )
    return (
        corpus.select(id_col)
        .join(agg, [id_col], "left")
        .select(
            id_col,
            F.coalesce(F.col("n_tokens"), F.lit(0)).cast("long").alias("n_tokens"),
            F.when(F.col("n_tokens") > 0, F.expr("_wsum div n_tokens"))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("weight_nano"),
        )
    )


def ks_drift(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov statistic of each group's
    ``value_col`` distribution against the REST of the corpus.

    Returns one row per group:
    (group_col, n_group, n_rest, ks_num, ks_nano) where

        ks_num  = max over observed values x of
                  |cnt_group_le(x) * n_rest - cnt_rest_le(x) * n_group|
        ks_nano = floor(1e9 * ks_num / (n_group * n_rest))

    ks_num is the KS distance as an EXACT integer over the common
    denominator n_group*n_rest, so the max is decided in integer
    arithmetic (no float CDF subtraction); ks_nano is one IEEE divide
    of exact-in-double integers, floor-quantized. Both empirical CDFs
    are step functions jumping only at observed values, and the grid
    contains every observed value, so the max over the grid is the
    exact supremum. NULL values are ignored (present in neither CDF).

    Scale: the (group, value) count agg bounds everything downstream
    by |groups| x |distinct values| — corpus-size independent. Groups
    with n_group == 0 after NULL filtering are absent (KS undefined).
    """
    counts = (
        df.select(group_col, value_col)
        .filter(F.col(value_col).isNotNull() & F.col(group_col).isNotNull())
        .groupBy(group_col, value_col)
        .agg(F.count("*").cast("long").alias("_c"))
    )
    totals = counts.groupBy(group_col).agg(F.sum("_c").cast("long").alias("_ng"))
    n_all = counts.agg(F.sum("_c").cast("long").alias("_n")).collect()[0]["_n"]
    # dense grid: every group needs a cumulative count at EVERY
    # observed value (its CDF is flat there, but the other side jumps)
    grid = counts.select(value_col).distinct()
    groups = totals.select(group_col)
    dense = (
        groups.crossJoin(grid)
        .join(counts, [group_col, value_col], "left")
        .select(
            group_col,
            value_col,
            F.coalesce(F.col("_c"), F.lit(0)).alias("_c"),
        )
    )
    all_counts = (
        counts.groupBy(value_col).agg(F.sum("_c").cast("long").alias("_call"))
    )
    w_g = Window.partitionBy(group_col).orderBy(value_col)
    w_all = Window.orderBy(value_col)
    cum = (
        dense.withColumn("_cum_g", F.sum("_c").over(w_g).cast("long"))
        .join(
            all_counts.withColumn(
                "_cum_all", F.sum("_call").over(w_all).cast("long")
            ).select(value_col, "_cum_all"),
            value_col,
        )
        .join(totals, group_col)
    )
    per_point = cum.select(
        group_col,
        F.col("_ng"),
        (F.lit(n_all) - F.col("_ng")).alias("_nr"),
        F.abs(
            F.col("_cum_g") * (F.lit(n_all) - F.col("_ng"))
            - (F.col("_cum_all") - F.col("_cum_g")) * F.col("_ng")
        ).alias("_d"),
    )
    return (
        per_point.groupBy(group_col)
        .agg(
            F.first("_ng").alias("n_group"),
            F.first("_nr").alias("n_rest"),
            F.max("_d").cast("long").alias("ks_num"),
        )
        .select(
            group_col,
            "n_group",
            "n_rest",
            "ks_num",
            F.floor(
                F.lit(_NANO)
                * (
                    F.col("ks_num").cast("double")
                    / (F.col("n_group") * F.col("n_rest")).cast("double")
                )
            )
            .cast("long")
            .alias("ks_nano"),
        )
    )


def group_pair_jaccard(
    df: DataFrame,
    group_col: str,
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """Exact content Jaccard between every pair of groups, over each
    group's DISTINCT set of k-token shingles (md5-hashed, the
    engine-portable contract of dedup.md5_bigint60).

    Returns (group_a, group_b, n_a, n_b, n_common, jaccard_nano) for
    pairs with n_common >= 1, group_a < group_b;
    jaccard_nano = floor(1e9 * common / (n_a + n_b - common)) — one
    IEEE divide over exact integers.

    Plan: one distinct-(group, shingle) pass; per-shingle sorted
    group-set agg; pair fan-out per shingle is |groups-on-shingle|
    choose 2 — bounded by the (small) group count, never by corpus
    rows. The per-document twin of this question is
    dedup.jaccard_near_dups; this is the corpus-curation rollup
    ("are two sources mirrors?").
    """
    sh = (
        spread(df.select(group_col, text_col))
        .select(group_col, tokens(text_col).alias("_toks"))
        .filter(F.size("_toks") >= k)
        .select(
            group_col,
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size("_toks") - F.lit(k)),
                    lambda i: F.concat_ws(
                        " ", F.slice(F.col("_toks"), i + 1, k)
                    ),
                )
            ).alias("_sh"),
        )
        .select(group_col, md5_prefix_bigint(F.col("_sh"), 15).alias("_h"))
        .distinct()
    )
    sizes = sh.groupBy(group_col).agg(F.count("*").cast("long").alias("_n"))
    pair_src = (
        sh.groupBy("_h")
        .agg(F.sort_array(F.collect_set(group_col)).alias("_gs"))
        .filter(F.size("_gs") >= 2)
    )
    pairs = (
        pair_src.select(
            F.explode("_gs").alias("group_a"), F.col("_gs")
        )
        .select(
            "group_a",
            F.explode(
                F.filter(F.col("_gs"), lambda g: g > F.col("group_a"))
            ).alias("group_b"),
        )
        .groupBy("group_a", "group_b")
        .agg(F.count("*").cast("long").alias("n_common"))
    )
    sa = sizes.select(F.col(group_col).alias("group_a"), F.col("_n").alias("n_a"))
    sb = sizes.select(F.col(group_col).alias("group_b"), F.col("_n").alias("n_b"))
    return (
        pairs.join(F.broadcast(sa), "group_a")
        .join(F.broadcast(sb), "group_b")
        .select(
            "group_a",
            "group_b",
            "n_a",
            "n_b",
            "n_common",
            F.floor(
                F.lit(_NANO)
                * (
                    F.col("n_common").cast("double")
                    / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast(
                        "double"
                    )
                )
            )
            .cast("long")
            .alias("jaccard_nano"),
        )
    )


def distinctive_terms(
    df: DataFrame,
    group_col: str,
    text_col: str = "text",
    k: int = 5,
    min_count: int = 3,
) -> DataFrame:
    """Per-group distinctive vocabulary: the k terms most
    over-represented in each group relative to the whole corpus, by
    the add-one-smoothed frequency ratio

        r(term, g) = p_g(term) / p_corpus(term)
                   = ((c_g+1)/(n_g+V)) / ((c_c+1)/(n_c+V))

    — the per-TERM twin of importance_ratios' per-bucket score, and
    the monotone core of log-odds keyword extraction ("what does
    source X talk about that the corpus doesn't"). Computed as one
    double multiply/divide tree over exact BIGINT counts,
    floor(1e9*r) BEFORE the ranking window, ties (ratio desc, term
    asc) — engine-reproducible. Terms below ``min_count`` occurrences
    in the group are dropped (hapax noise).

    Returns (group_col, term, n_group, n_corpus, ratio_nano, rank),
    rank <= k per group.

    Scale: one tokenize pass into a (group, term) count agg
    (map-side combinable); the corpus term table joins on the
    uniform term key; the ranking window partitions by group over
    group-vocabulary-sized frames.
    """
    tok = (
        spread(df.select(group_col, text_col))
        .filter(F.col(group_col).isNotNull())
        .select(group_col, F.explode(tokens(text_col)).alias("_term"))
    )
    # ONE tokenize pass: corpus term counts and per-group totals both
    # roll up from the (group, term) agg instead of re-scanning tok
    cg = tok.groupBy(group_col, "_term").agg(
        F.count("*").cast("long").alias("_cg")
    ).localCheckpoint(eager=True)
    cc = cg.groupBy("_term").agg(F.sum("_cg").cast("long").alias("_cc"))
    ng = cg.groupBy(group_col).agg(F.sum("_cg").cast("long").alias("_ng"))
    totals = cc.agg(
        F.sum("_cc").cast("long").alias("_nc"),
        F.count("*").cast("long").alias("_v"),
    ).collect()[0]
    nc, v = int(totals["_nc"]), int(totals["_v"])
    scored = (
        cg.filter(F.col("_cg") >= min_count)
        .join(cc, "_term")
        .join(F.broadcast(ng), group_col)
        .select(
            group_col,
            F.col("_term").alias("term"),
            F.col("_cg").alias("n_group"),
            F.col("_cc").alias("n_corpus"),
            F.floor(
                F.lit(_NANO)
                * (
                    (
                        (F.col("_cg") + F.lit(1)).cast("double")
                        * F.lit(float(nc + v))
                    )
                    / (
                        (F.col("_cc") + F.lit(1)).cast("double")
                        * (F.col("_ng") + F.lit(v)).cast("double")
                    )
                )
            )
            .cast("long")
            .alias("ratio_nano"),
        )
    )
    w = Window.partitionBy(group_col).orderBy(F.desc("ratio_nano"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
    )
