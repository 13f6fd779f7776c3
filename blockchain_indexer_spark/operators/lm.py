"""Bigram language-model fluency scoring — the CCNet-style "score
every document against a reference LM" quality filter, as pure
DataFrame plans.

A large-scale corpus pipeline ranks documents by how *fluent* they are
under a language model trained on a trusted reference corpus (CCNet
filters Common Crawl by Wikipedia-LM perplexity; Gopher/Dolma keep the
same shape). This module implements that shape distributed:

- ``bigram_counts``: train the LM — adjacent-pair counts c2(w1,w2),
  left-context counts c1(w1) and vocabulary size V over a reference
  slice of the corpus. One explode + two aggregations, all keyed on
  token shuffles.
- ``bigram_fluency``: score EVERY document by its mean add-one-smoothed
  conditional probability, integer-deterministic (see below) — the
  oracle-gated path.

Integer determinism (the repo's BM25 pattern): per bigram the smoothed
probability p = (c2+1)/(c1+V) is ONE correctly-rounded IEEE division of
exact-in-double integers, scaled by floor(1e12 * p) into a BIGINT
*before* any SUM — so document scores are exact integer sums, immune
to float summation order, and a DuckDB oracle reproduces them
hash-exactly. p ≤ 1 keeps 1e12·p exactly representable; docs are
≤ ~1e3 bigrams so the per-doc sum stays far below 2^63.

Scale shape: the exploded bigram frame is the corpus-sized object; the
two count tables are aggregations OVER it (map-side combined, token-
keyed shuffles). The scoring joins are keyed on tokens — Zipf-skewed
by nature — but both count tables are post-aggregation (one row per
distinct bigram/unigram), so AQE broadcasts them at moderate scale and
splits skewed partitions beyond that. V rides a broadcast one-row
cross join; nothing collects to the driver.

Reference surface parity: the reference engine has no LM scoring —
this is part of the training-data-pipeline extension (SURVEY.md
LLM-text family, next to quality_score/doc_lang_id).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: floor(1e12 * p) scale — matches the BM25 gate's nano-scaling idea
#: with three extra digits (bigram probabilities are small).
_P_SCALE = 1e12


def _bigram_frame(docs: DataFrame, id_col: str, tokens_col: str) -> DataFrame:
    """(id, w1, w2) per adjacent token pair, position-level (repeats
    kept — LM counts are occurrence counts). Docs with < 2 tokens
    contribute no rows. All JVM expressions: sequence + transform +
    element_at, then one explode."""
    n = F.size(F.col(tokens_col))
    idx = F.when(n >= 2, F.sequence(F.lit(1), n - 1)).otherwise(
        F.array().cast("array<int>")
    )
    pairs = F.transform(
        idx,
        lambda i: F.struct(
            F.element_at(F.col(tokens_col), i).alias("w1"),
            F.element_at(F.col(tokens_col), i + 1).alias("w2"),
        ),
    )
    return docs.select(id_col, F.explode(pairs).alias("_b")).select(
        id_col, F.col("_b.w1").alias("w1"), F.col("_b.w2").alias("w2")
    )


def bigram_counts(
    train: DataFrame, id_col: str = "doc_id", tokens_col: str = "toks"
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Train the bigram LM over ``train`` (id, tokens array).

    Returns (c2, c1, v): adjacent-pair counts (w1, w2, c2), left-
    context counts (w1, c1) and a ONE-ROW frame (_V) holding the
    distinct-token vocabulary size — kept as a frame (not a collected
    scalar) so scoring stays a pure plan; it broadcasts."""
    bg = _bigram_frame(train, id_col, tokens_col)
    c2 = bg.groupBy("w1", "w2").agg(F.count("*").alias("c2"))
    c1 = bg.groupBy("w1").agg(F.count("*").alias("c1"))
    v = (
        train.select(F.explode(tokens_col).alias("_t"))
        .agg(F.count_distinct("_t").alias("_V"))
    )
    return c2, c1, v


def bigram_fluency(
    docs: DataFrame,
    train: DataFrame,
    id_col: str = "doc_id",
    tokens_col: str = "toks",
) -> DataFrame:
    """Score every document in ``docs`` against the bigram LM trained
    on ``train`` (both: id + tokens-array columns).

    Returns (id, n_bigrams, n_oov, fluency_nano):
    - n_bigrams — adjacent pairs in the doc (0 for < 2 tokens);
    - n_oov — pairs never seen in training (the unseen-mass signal);
    - fluency_nano — mean over the doc's bigrams of
      floor(1e12 · (c2+1)/(c1+V)), integer-divided by n_bigrams
      (0 when the doc has no bigrams). Higher = more fluent under the
      reference LM; a CCNet-style filter keeps the top band.
    """
    c2, c1, v = bigram_counts(train, id_col, tokens_col)
    bg = _bigram_frame(docs, id_col, tokens_col)
    scored = (
        bg.join(c2, ["w1", "w2"], "left")
        .join(c1, ["w1"], "left")
        .crossJoin(F.broadcast(v))
        .select(
            id_col,
            F.floor(
                F.lit(_P_SCALE)
                * (
                    (F.coalesce(F.col("c2"), F.lit(0)) + F.lit(1)).cast("double")
                    / (F.coalesce(F.col("c1"), F.lit(0)) + F.col("_V")).cast("double")
                )
            )
            .cast("long")
            .alias("_p_nano"),
            F.col("c2").isNull().cast("long").alias("_oov"),
        )
    )
    agg = scored.groupBy(id_col).agg(
        F.count("*").alias("n_bigrams"),
        F.sum("_oov").alias("n_oov"),
        F.sum("_p_nano").alias("_p_sum"),
    )
    # every input doc appears in the output — zero-token and one-token
    # docs (including NULL text upstream) score (0, 0, 0)
    return (
        docs.select(id_col)
        .join(agg, [id_col], "left")
        .select(
            id_col,
            F.coalesce(F.col("n_bigrams"), F.lit(0)).cast("long").alias("n_bigrams"),
            F.coalesce(F.col("n_oov"), F.lit(0)).cast("long").alias("n_oov"),
            F.when(
                F.col("n_bigrams") > 0, F.expr("_p_sum div n_bigrams")
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("fluency_nano"),
        )
    )


def _trigram_frame(docs: DataFrame, id_col: str, tokens_col: str) -> DataFrame:
    """(id, w1, w2, w3) per adjacent token triple, position-level.
    Docs with < 3 tokens contribute no rows; same JVM-only shape as
    ``_bigram_frame``."""
    n = F.size(F.col(tokens_col))
    idx = F.when(n >= 3, F.sequence(F.lit(1), n - 2)).otherwise(
        F.array().cast("array<int>")
    )
    triples = F.transform(
        idx,
        lambda i: F.struct(
            F.element_at(F.col(tokens_col), i).alias("w1"),
            F.element_at(F.col(tokens_col), i + 1).alias("w2"),
            F.element_at(F.col(tokens_col), i + 2).alias("w3"),
        ),
    )
    return docs.select(id_col, F.explode(triples).alias("_t")).select(
        id_col,
        F.col("_t.w1").alias("w1"),
        F.col("_t.w2").alias("w2"),
        F.col("_t.w3").alias("w3"),
    )


def trigram_fluency_backoff(
    docs: DataFrame,
    train: DataFrame,
    id_col: str = "doc_id",
    tokens_col: str = "toks",
) -> DataFrame:
    """Trigram LM with STUPID BACKOFF (Brants et al., "Large Language
    Models in Machine Translation", EMNLP 2007) — the score large
    web-scale LMs actually used before smoothing stopped mattering:

        S(w3 | w1 w2) = c3/c2ctx            if the trigram was seen
                      = 0.4 · c2(w2 w3)/c1(w2)   else if the bigram was
                      = 0.4² · c1(w3)/N          else (0 for OOV w3)

    Integer-deterministic by the bigram gate's recipe, with the
    backoff factor kept RATIONAL: 0.4 = 2/5 and 0.16 = 4/25, so every
    level is ONE correctly-rounded IEEE division of exact-in-double
    integers (2·c2 / 5·c1, 4·c1 / 25·N) scaled by floor(1e12·s) into
    a BIGINT before any SUM — document scores are exact integer sums
    and hash-match the SQL oracle.

    Returns (id, n_trigrams, n_backoff_bigram, n_backoff_unigram,
    fluency_nano): trigram positions, positions that backed off one /
    two levels (the unseen-mass split — a doc scoring high with heavy
    backoff is fluent only word-by-word), and the integer-mean score
    (0 for docs with < 3 tokens). Counts come from the ``train``
    frame: c3 and its contexts from the trigram frame (so the
    conditional sums to ≤ 1), bigram counts from the bigram frame,
    unigram occurrence counts and total N from the token stream.

    Scale shape: counts are map-side-combined aggs over the exploded
    n-gram frames; all scoring joins are token-keyed against
    post-aggregation tables (AQE broadcasts them at moderate scale,
    skew-splits beyond); N rides a broadcast one-row cross join.
    """
    tg_train = _trigram_frame(train, id_col, tokens_col)
    bg_train = _bigram_frame(train, id_col, tokens_col)
    c3 = tg_train.groupBy("w1", "w2", "w3").agg(F.count("*").alias("c3"))
    # context counts roll up from the (much smaller) trigram count
    # table instead of re-exploding the corpus: sum over w3 of
    # c3(w1,w2,w3) IS the trigram-context count
    c2ctx = c3.groupBy("w1", "w2").agg(F.sum("c3").alias("c2ctx"))
    c2p = (
        bg_train.select(F.col("w1").alias("w2"), F.col("w2").alias("w3"))
        .groupBy("w2", "w3")
        .agg(F.count("*").alias("c2p"))
    )
    uni = (
        train.select(F.explode(tokens_col).alias("_w"))
        .groupBy("_w")
        .agg(F.count("*").alias("c1"))
    )
    # total N is the sum of the unigram table — no third corpus pass
    nn = uni.agg(F.sum("c1").alias("_N"))

    tg = _trigram_frame(docs, id_col, tokens_col)
    dbl = lambda c: c.cast("double")  # noqa: E731
    t_ratio = dbl(F.col("c3")) / dbl(F.col("c2ctx"))
    b_ratio = dbl(F.col("c2p") * 2) / dbl(F.col("c1_w2") * 5)
    u_ratio = dbl(F.coalesce(F.col("c1_w3"), F.lit(0)) * 4) / dbl(F.col("_N") * 25)
    score = (
        F.when(F.col("c3").isNotNull(), t_ratio)
        .when(F.col("c2p").isNotNull(), b_ratio)
        .otherwise(u_ratio)
    )
    scored = (
        tg.join(c3, ["w1", "w2", "w3"], "left")
        .join(c2ctx, ["w1", "w2"], "left")
        .join(c2p, ["w2", "w3"], "left")
        .join(uni.select(F.col("_w").alias("w2"), F.col("c1").alias("c1_w2")), ["w2"], "left")
        .join(uni.select(F.col("_w").alias("w3"), F.col("c1").alias("c1_w3")), ["w3"], "left")
        .crossJoin(F.broadcast(nn))
        .select(
            id_col,
            F.floor(F.lit(_P_SCALE) * score).cast("long").alias("_s_nano"),
            (F.col("c3").isNull() & F.col("c2p").isNotNull()).cast("long").alias("_bo1"),
            (F.col("c3").isNull() & F.col("c2p").isNull()).cast("long").alias("_bo2"),
        )
    )
    agg = scored.groupBy(id_col).agg(
        F.count("*").alias("n_trigrams"),
        F.sum("_bo1").alias("n_backoff_bigram"),
        F.sum("_bo2").alias("n_backoff_unigram"),
        F.sum("_s_nano").alias("_s_sum"),
    )
    return (
        docs.select(id_col)
        .join(agg, [id_col], "left")
        .select(
            id_col,
            F.coalesce(F.col("n_trigrams"), F.lit(0)).cast("long").alias("n_trigrams"),
            F.coalesce(F.col("n_backoff_bigram"), F.lit(0))
            .cast("long")
            .alias("n_backoff_bigram"),
            F.coalesce(F.col("n_backoff_unigram"), F.lit(0))
            .cast("long")
            .alias("n_backoff_unigram"),
            F.when(F.col("n_trigrams") > 0, F.expr("_s_sum div n_trigrams"))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("fluency_nano"),
        )
    )
