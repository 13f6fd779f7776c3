"""Training-data pipeline queries: dedup, similarity search, text
analysis over the documents/embeddings tables, with DuckDB oracles
wherever the semantics are SQL-expressible deterministically.

Cross-engine exactness notes:
- Jaccard / ratios are divisions of exact integers — identical doubles
  on both engines.
- Embedding similarity is ranked by quantized integer dot product
  (functions.vectors): exact in IEEE double, so scores and ranks are
  bit-identical across engines. Cosine variants exist as rows-only
  checks (operators.similarity).
- MinHash/SimHash production paths use Spark's xxhash64 — no DuckDB
  equivalent, so those register without oracles (rows-only check). The
  `*_md5` twins run the SAME algorithms on an engine-portable 60-bit
  md5 hash and ARE oracle-checked — signatures cell-for-cell, LSH
  candidate sets exactly, simhash pairs against a brute-force oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from blockchain_indexer_spark.functions.text import (
    EN_STOPWORDS,
    bpe_token_count,
    digit_count,
    fingerprint_md5,
    punct_count,
    rolling_fingerprint,
    stopword_count,
    token_count,
)
from blockchain_indexer_spark.operators.dedup import (
    cosine_near_dup_pairs,
    exact_dup_clusters,
    minhash_lsh_candidates,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash64,
    simhash_candidates,
)
from blockchain_indexer_spark.operators.similarity import (
    brute_force_topk,
    ivf_topk,
    lsh_topk,
)
from blockchain_indexer_spark.plans.registry import register
from blockchain_indexer_spark.sources.parquet import load_table, spread

_SW = ", ".join(f"'{w}'" for w in EN_STOPWORDS)


# NOTE on shingle sharing: dedup operators accept a pre-materialized
# distinct_shingles frame (``shingles=``) so a pipeline running several
# strategies shingles the corpus once. The GATE queries deliberately do
# NOT share one: measured at sf0.1, the shingle pass is ~1 s of a ~4 s
# query (the inverted-index self-join dominates) and holding the
# checkpointed frame for the whole session costs more than recomputing
# the codegen'd scan per query. Use shingles= when chaining strategies
# over a corpus where the scan dominates (the 100 TB case).


@register(
    "doc_token_stats",
    oracle=r"""
    SELECT doc_id,
           CAST(len(list_filter(string_split_regex(trim(lower(text)), '[ \t\n\x0b\f\r]+'), x -> x <> '')) AS BIGINT) AS n_tokens,
           CAST(len(regexp_extract_all(text, '\p{L}+|\p{N}+|[^ \t\n\x0b\f\r\p{L}\p{N}]')) AS BIGINT)
             AS n_bpe_tokens,
           CAST(length(text) AS BIGINT) AS n_chars_actual,
           CASE WHEN len(list_filter(string_split_regex(trim(lower(text)), '[ \t\n\x0b\f\r]+'), x -> x <> '')) = 0
                THEN NULL
                ELSE CAST(length(text) AS DOUBLE)
                  / len(list_filter(string_split_regex(trim(lower(text)), '[ \t\n\x0b\f\r]+'), x -> x <> ''))
           END AS chars_per_token
    FROM documents
    """,
    doc="Token counting (whitespace words + BPE-ish pre-tokenizer "
    "regex) + basic length stats — the token-cost primitives of a "
    "data-quality pipeline.",
    survey_refs=("LLM-text",),
)
def doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        token_count("text").alias("n_tokens"),
        bpe_token_count("text").alias("n_bpe_tokens"),
        F.length("text").cast("bigint").alias("n_chars_actual"),
        F.when(
            token_count("text") > 0,
            F.length("text").cast("double") / token_count("text"),
        ).alias("chars_per_token"),
    )


@register(
    "doc_lang_id",
    oracle=rf"""
    WITH t AS (
      SELECT doc_id, lang,
             CAST(len(list_filter(string_split_regex(trim(lower(text)), '[ \t\n\x0b\f\r]+'), x -> x <> '')) AS BIGINT) AS n_tokens,
             CAST(len(list_filter(list_filter(string_split_regex(trim(lower(text)), '[ \t\n\x0b\f\r]+'), x -> x <> ''),
                                  x -> x IN ({_SW}))) AS BIGINT) AS n_stop
      FROM documents
    )
    SELECT doc_id, lang AS declared_lang,
           n_stop,
           CASE WHEN n_tokens = 0 THEN NULL
                ELSE CAST(n_stop AS DOUBLE) / n_tokens END AS stopword_ratio,
           CASE WHEN n_tokens > 0 AND CAST(n_stop AS DOUBLE) / n_tokens >= 0.08
                THEN 'en' ELSE 'other' END AS detected_lang
    FROM t
    """,
    doc="Language-ID heuristic: stopword-hit ratio against a frozen EN "
    "stopword list; threshold classification.",
    survey_refs=("LLM-text",),
)
def doc_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    ratio = F.when(
        token_count("text") > 0,
        stopword_count("text").cast("double") / token_count("text"),
    )
    return d.select(
        "doc_id",
        F.col("lang").alias("declared_lang"),
        stopword_count("text").alias("n_stop"),
        ratio.alias("stopword_ratio"),
        F.when(ratio >= 0.08, "en").otherwise("other").alias("detected_lang"),
    )


@register(
    "doc_quality_score",
    oracle=r"""
    SELECT doc_id,
           CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS BIGINT) AS n_punct,
           CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT)   AS n_digits,
           CASE WHEN length(text) = 0 THEN NULL
                ELSE CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE)
                  / length(text) END AS punct_ratio,
           (CAST(len(list_filter(string_split_regex(trim(lower(text)), '[ \t\n\x0b\f\r]+'), x -> x <> '')) AS BIGINT) >= 20
            AND length(text) > 0
            AND CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE)
                / length(text) < 0.1) AS passes_quality
    FROM documents
    """,
    doc="Quality scoring: punctuation/digit ratios + length gate, the "
    "filter stage of a pretraining-data pipeline.",
    survey_refs=("LLM-text",),
)
def doc_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    pr = F.when(
        F.length("text") > 0, punct_count("text").cast("double") / F.length("text")
    )
    return d.select(
        "doc_id",
        punct_count("text").alias("n_punct"),
        digit_count("text").alias("n_digits"),
        pr.alias("punct_ratio"),
        ((token_count("text") >= 20) & (pr < 0.1)).alias("passes_quality"),
    )


@register(
    "doc_fingerprint_dedup",
    oracle=r"""
    SELECT md5(trim(regexp_replace(lower(text), '[ \t\n\x0b\f\r]+', ' ', 'g'))) AS fingerprint,
           MIN(doc_id) AS keep_id,
           COUNT(*) AS n_copies
    FROM documents
    WHERE text IS NOT NULL
    GROUP BY 1
    """,
    doc="Exact dedup on normalized-content fingerprint: one shuffle on "
    "the md5 key; survivor = min id (deterministic).",
    survey_refs=("LLM-dedup", "A8"),
)
def doc_fingerprint_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return exact_dup_clusters(d, "doc_id", "text")


@register(
    "corpus_prep_report",
    oracle=r"""
    WITH q AS (
      SELECT doc_id, source, text,
             CAST(len(list_filter(string_split_regex(trim(lower(text)), '[ \t\n\x0b\f\r]+'), x -> x <> '')) AS BIGINT) AS n_tokens,
             CASE WHEN length(text) = 0 THEN NULL
                  ELSE CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE)
                    / length(text) END AS pr,
             md5(trim(regexp_replace(lower(text), '[ \t\n\x0b\f\r]+', ' ', 'g'))) AS fp
      FROM documents WHERE text IS NOT NULL
    ),
    flt AS (
      SELECT *, COALESCE(n_tokens >= 20 AND pr < 0.1, FALSE) AS pass FROM q
    ),
    surv AS (SELECT MIN(doc_id) AS doc_id FROM flt WHERE pass GROUP BY fp),
    agg AS (
      SELECT f.source,
             CAST(COUNT(*) FILTER (WHERE f.pass) AS BIGINT) AS n_pass_quality,
             CAST(COUNT(s.doc_id) AS BIGINT) AS n_kept,
             CAST(COALESCE(SUM(f.n_tokens) FILTER (WHERE s.doc_id IS NOT NULL), 0) AS BIGINT) AS kept_tokens
      FROM flt f LEFT JOIN surv s ON f.doc_id = s.doc_id
      GROUP BY f.source
    )
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COALESCE(ANY_VALUE(a.n_pass_quality), 0) AS BIGINT) AS n_pass_quality,
           CAST(COALESCE(ANY_VALUE(a.n_kept), 0) AS BIGINT) AS n_kept,
           CAST(COALESCE(ANY_VALUE(a.kept_tokens), 0) AS BIGINT) AS kept_tokens
    FROM documents d LEFT JOIN agg a ON d.source = a.source
    GROUP BY d.source
    """,
    doc="End-to-end corpus-prep recipe — the COMPOSITION a pretraining "
    "pipeline actually runs: quality filter (token floor + punct "
    "ratio) THEN exact dedup among survivors (min-id wins) THEN a "
    "per-source yield report (docs in, quality passes, dedup "
    "survivors, surviving token budget). Filter-before-dedup order is "
    "semantic: a low-quality copy must not steal survivorship from a "
    "passing twin. All outputs are exact counts/bigint sums (no "
    "float accumulation order sensitivity). One scan + one dedup "
    "shuffle + one group-by; survivorship joins back on doc_id "
    "(uniform key).",
    survey_refs=("LLM-text", "LLM-dedup", "LLM-mix"),
)
def corpus_prep_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blockchain_indexer_spark.operators.dedup import exact_dup_clusters

    d = load_table(spark, sf_dir, "documents")
    pr = F.when(
        F.length("text") > 0, punct_count("text").cast("double") / F.length("text")
    )
    flt = d.filter(F.col("text").isNotNull()).select(
        "doc_id",
        "source",
        "text",
        token_count("text").alias("n_tokens"),
        F.coalesce((token_count("text") >= 20) & (pr < 0.1), F.lit(False)).alias("pass"),
    )
    surv = (
        exact_dup_clusters(flt.filter("pass"), "doc_id", "text")
        .select(F.col("keep_id").alias("doc_id"), F.lit(True).alias("_kept"))
    )
    joined = flt.join(surv, "doc_id", "left")
    stats = joined.groupBy("source").agg(
        F.count(F.when(F.col("pass"), 1)).alias("n_pass_quality"),
        F.count(F.when(F.col("_kept"), 1)).alias("n_kept"),
        F.coalesce(
            F.sum(F.when(F.col("_kept"), F.col("n_tokens"))), F.lit(0).cast("bigint")
        ).alias("kept_tokens"),
    )
    base = d.groupBy("source").agg(F.count("*").alias("n_docs"))
    return base.join(stats, "source", "left").select(
        "source",
        "n_docs",
        F.coalesce("n_pass_quality", F.lit(0).cast("bigint")).alias("n_pass_quality"),
        F.coalesce("n_kept", F.lit(0).cast("bigint")).alias("n_kept"),
        F.coalesce("kept_tokens", F.lit(0).cast("bigint")).alias("kept_tokens"),
    )


@register(
    "doc_rolling_fingerprint",
    oracle=r"""
    WITH cs AS (
      SELECT doc_id,
             trim(regexp_replace(lower(text), '[ \t\n\x0b\f\r]+', ' ', 'g')) AS norm
      FROM documents
    )
    SELECT doc_id,
           -- guard on the TEXT length: string_split_regex('', '')
           -- yields [''] (len 1, ord('') = -1), so a len(codes) check
           -- would mis-fingerprint empty docs as -1
           CASE WHEN length(norm) = 0 THEN 0
                ELSE list_reduce(
                       list_transform(string_split_regex(norm, ''),
                                      c -> CAST(ord(c) AS BIGINT)),
                       (a, b) -> (a * 131 + b) % 2147483647)
           END AS fp
    FROM cs
    """,
    doc="Rabin-Karp rolling polynomial fingerprint (base 131, mod "
    "2^31-1) over normalized text — supports incremental/windowed "
    "update unlike md5; exact BIGINT arithmetic, oracle-reproduced "
    "character-for-character.",
    survey_refs=("LLM-text", "LLM-dedup"),
)
def doc_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return spread(d, "doc_id").select(
        "doc_id", rolling_fingerprint("text").alias("fp")
    )


@register(
    "embedding_cosine_near_dups",
    oracle="""
    WITH v AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
      FROM embeddings
    ),
    nz AS (
      -- zero-norm vectors have no cosine (0/0); both engines drop them
      SELECT * FROM v WHERE list_sum(list_transform(qv, x -> CAST(x * x AS DOUBLE))) > 0
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           CAST(list_sum(list_transform(range(1, len(a.qv) + 1), i -> CAST(a.qv[i] * b.qv[i] AS DOUBLE)))
                / sqrt(CAST(list_sum(list_transform(a.qv, x -> CAST(x * x AS DOUBLE))) AS DOUBLE)
                       * CAST(list_sum(list_transform(b.qv, x -> CAST(x * x AS DOUBLE))) AS DOUBLE))
                AS DOUBLE) AS cosine
    FROM nz a JOIN nz b ON a.vec_id < b.vec_id
    WHERE CAST(list_sum(list_transform(range(1, len(a.qv) + 1), i -> CAST(a.qv[i] * b.qv[i] AS DOUBLE)))
               / sqrt(CAST(list_sum(list_transform(a.qv, x -> CAST(x * x AS DOUBLE))) AS DOUBLE)
                      * CAST(list_sum(list_transform(b.qv, x -> CAST(x * x AS DOUBLE))) AS DOUBLE))
               AS DOUBLE) >= 0.3
    """,
    doc="Embedding-space near-dup pairs: quantized cosine >= 0.3, exact "
    "all-pairs baseline (engine-reproducible integer arithmetic); the "
    "scale path re-ranks LSH/IVF-blocked candidates instead.",
    survey_refs=("LLM-dedup", "LLM-sim"),
)
def embedding_cosine_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_near_dup_pairs(emb, "vec_id", "embedding", threshold=0.3)


@register(
    "ngram_jaccard_near_dups",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split_regex(trim(lower(text)), '[ \t\n\x0b\f\r]+'), x -> x <> '') AS t FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
      FROM toks, UNNEST(range(1, len(t) - 1)) AS r(i)
      WHERE len(t) >= 3
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    kept AS (
      SELECT sh.* FROM sh
      JOIN (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= 100) f
        USING (shingle)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM kept a JOIN kept b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    ),
    pairs AS (
      -- exact n_common over the FULL shingle set: the cap only
      -- generated the candidates
      SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
      FROM cand c
      JOIN sh a ON a.doc_id = c.doc_a
      JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
      GROUP BY 1, 2
    )
    SELECT p.doc_a, p.doc_b, p.n_common,
           CAST(p.n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - p.n_common) AS jaccard
    FROM pairs p
    JOIN sizes sa ON sa.doc_id = p.doc_a
    JOIN sizes sb ON sb.doc_id = p.doc_b
    WHERE CAST(p.n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - p.n_common) >= 0.2
    """,
    doc="Near-dup detection by exact 3-gram Jaccard via inverted-index "
    "self-join with a stop-shingle document-frequency cap (the "
    "sub-quadratic candidate guard).",
    survey_refs=("LLM-dedup",),
)
def ngram_jaccard_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(d, "doc_id", "text", k=3, threshold=0.2, max_doc_freq=100)


@register(
    "embedding_topk_mips",
    oracle="""
    WITH q AS (
      SELECT vec_id AS query_id,
             list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
      FROM embeddings WHERE vec_id % 50 = 0
    ),
    c AS (
      SELECT vec_id AS neighbor_id,
             list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS cv
      FROM embeddings
    ),
    scored AS (
      SELECT q.query_id, c.neighbor_id,
             CAST(list_sum(list_transform(range(1, len(qv) + 1), i -> CAST(qv[i] * cv[i] AS DOUBLE))) AS DOUBLE) AS score
      FROM q JOIN c ON q.query_id != c.neighbor_id
    )
    SELECT query_id, CAST(rn AS BIGINT) AS rank, neighbor_id, score
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY score DESC, neighbor_id) AS rn
          FROM scored)
    WHERE rn <= 5
    """,
    doc="Exact top-5 inner-product similarity search (flat-index ANN "
    "baseline): query side broadcast, corpus scanned once; scores are "
    "quantized-integer dots so ranking is engine-exact.",
    survey_refs=("LLM-sim",),
)
def embedding_topk_mips(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    return brute_force_topk(emb, queries, "vec_id", "embedding", k=5, metric="quantized_dot")


# --- rows-only checks (no SQL-expressible oracle) -----------------------


@register(
    "minhash_lsh_candidates",
    oracle=None,
    doc="MinHash(64)+LSH(16 bands) near-dup candidate pairs; xxhash64 "
    "based, deterministic, but not reproducible in DuckDB SQL → "
    "rows-only check. Validated in tests against ngram_jaccard truth.",
    survey_refs=("LLM-dedup",),
)
def minhash_lsh_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return minhash_lsh_candidates(d, "doc_id", "text", k=3, num_hashes=64, bands=16)


@register(
    "minhash_incremental",
    oracle=None,
    doc="Production twin of minhash_incremental_md5: the same two-batch "
    "LSH index maintenance on xxhash64 signatures (JVM-side 8-byte "
    "keys; no DuckDB equivalent → rows-only). This is the variant a "
    "deployment runs per ingest batch, and the one bench.py measures — "
    "the md5 gate's cost is dominated by 64 md5-string evaluations per "
    "shingle, an oracle-portability tax the production path never pays.",
    survey_refs=("LLM-dedup", "T8"),
)
def minhash_incremental_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blockchain_indexer_spark.operators.dedup import minhash_index_update

    d = load_table(spark, sf_dir, "documents")
    half1 = d.filter(F.col("doc_id") % 2 == 0)
    half2 = d.filter(F.col("doc_id") % 2 == 1)
    index, pairs1 = minhash_index_update(
        None, half1, "doc_id", "text", k=3, num_hashes=64, bands=16
    )
    _, pairs2 = minhash_index_update(
        index, half2, "doc_id", "text", k=3, num_hashes=64, bands=16
    )
    return pairs1.unionByName(pairs2).distinct()


@register(
    "simhash_signatures",
    oracle=None,
    doc="64-bit SimHash per document (per-bit majority of token "
    "xxhash64). Deterministic; rows-only check.",
    survey_refs=("LLM-dedup",),
)
def simhash_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return simhash64(d, "doc_id", "text").select(F.col("_id").alias("doc_id"), "simhash")


@register(
    "simhash_near_dups",
    oracle=None,
    doc="SimHash near-dup pairs: 16-bit band blocking + exact hamming "
    "<= 3 verify. Pigeonhole-complete for the default band/threshold "
    "(no missed pairs); rows-only check (xxhash64 has no DuckDB "
    "equivalent).",
    survey_refs=("LLM-dedup",),
)
def simhash_near_dups_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return simhash_candidates(d, "doc_id", "text", max_hamming=3, bands=4)


# NOTE: the raw-float cosine ranking (brute_force_topk metric='cosine')
# stays in the library + unit tests but is NOT registered: fp summation
# order is engine-specific, so its oracle-checked form IS
# embedding_topk_qcosine (identical ranking semantics over quantized
# vectors). Registering both would spend a driver-budget slot on a
# permanently rows-only twin (VERDICT.md r1 #2/#8).


def _lsh_planes_values(num_planes: int = 16, dim: int = 64, scale: int = 1000) -> str:
    """(plane, idx, coef) VALUES rows of the quantized hyperplanes —
    the same integers signbit_signature uses, so the oracle reproduces
    signatures bit-for-bit."""
    from blockchain_indexer_spark.operators.similarity import _hyperplane  # noqa: PLC0415

    rows = []
    for p in range(num_planes):
        for i, x in enumerate(_hyperplane(dim, p)):
            rows.append(f"({p},{i + 1},{round(x * scale)})")
    return ",".join(rows)


_QV = """
    vq AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
      FROM embeddings
    )
"""

_RERANK = """
    scored AS (
      SELECT cand.query_id, cand.neighbor_id,
             CAST(list_sum(list_transform(range(1, len(a.v) + 1),
                                          i -> CAST(a.v[i] * b.v[i] AS DOUBLE))) AS DOUBLE) AS score
      FROM cand
      JOIN vq a ON a.vec_id = cand.query_id
      JOIN vq b ON b.vec_id = cand.neighbor_id
    )
    SELECT query_id, CAST(rn AS BIGINT) AS rank, neighbor_id, score
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY score DESC, neighbor_id) AS rn
          FROM scored)
    WHERE rn <= 5
"""


#: Shared by embedding_lsh_topk and its fetch_join twin: both engine
#: paths must produce bit-identical rankings, so both get the SAME
#: independent DuckDB oracle (not just an internal equality check).
_LSH_TOPK_SQL = f"""
    WITH planes(plane, idx, coef) AS (VALUES {_lsh_planes_values()}),
    {_QV},
    proj AS (
      SELECT vq.vec_id, p.plane, SUM(vq.v[p.idx] * p.coef) AS d
      FROM vq CROSS JOIN planes p
      GROUP BY vq.vec_id, p.plane
    ),
    sig AS (
      SELECT vec_id,
             SUM(CASE WHEN d > 0 THEN (CAST(1 AS BIGINT) << plane) ELSE 0 END) AS sig
      FROM proj GROUP BY vec_id
    ),
    bands AS (
      SELECT s.vec_id, b.band, (s.sig >> (b.band * 4)) & 15 AS bucket
      FROM sig s CROSS JOIN (VALUES (0),(1),(2),(3)) b(band)
    ),
    cand AS (
      SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
      FROM bands q JOIN bands c ON q.band = c.band AND q.bucket = c.bucket
      WHERE q.vec_id % 50 = 0 AND q.vec_id != c.vec_id
    ),
    {_RERANK}
    """


@register(
    "embedding_lsh_topk",
    oracle=_LSH_TOPK_SQL,
    doc="Random-hyperplane LSH top-5 (16 planes, 4 bands) re-ranked by "
    "quantized dot — the sub-linear scale path. Hyperplanes AND "
    "vectors are integer-quantized, so sign bits, buckets, candidates "
    "and ranking are bit-reproducible in the DuckDB oracle "
    "(VERDICT.md r1 #2).",
    survey_refs=("LLM-sim",),
)
def embedding_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    return lsh_topk(emb, queries, "vec_id", "embedding", dim=64, k=5)


@register(
    "embedding_lsh_topk_fetch",
    oracle=_LSH_TOPK_SQL,
    doc="The lsh_topk fetch_join=True serving path under the SAME "
    "DuckDB oracle as embedding_lsh_topk (VERDICT r7 'Next round' "
    "#5): candidate pairs are deduped ID-ONLY (24-byte rows through "
    "the distinct exchange) and both vectors fetched back by hash "
    "join against the cached signature index before the exact "
    "re-rank. Identical bits out by construction — this gate gives "
    "the huge-fan-out path (16 planes / 4 bands over a large corpus: "
    "each band bucket ~6k rows at 100k vecs, so 1000 probes make "
    "~2.5e7 candidate pairs whose 2x64-int payload would be a ~25 GB "
    "distinct exchange; measured 53.7 -> 27.4 s at that stress "
    "shape) its own driver row, like the IVF 'blocked' engine swap "
    "got in round 7.",
    survey_refs=("LLM-sim",),
)
def embedding_lsh_topk_fetch(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    return lsh_topk(
        emb, queries, "vec_id", "embedding", dim=64, k=5, fetch_join=True
    )


@register(
    "embedding_ivf_topk",
    oracle=f"""
    WITH {_QV},
    samp AS (
      SELECT v, row_number() OVER (ORDER BY vec_id) - 1 AS rn
      FROM vq ORDER BY vec_id LIMIT 256
    ),
    cents AS (
      SELECT CAST(rn // 16 AS INT) AS cell, v,
             list_sum(list_transform(v, x -> CAST(x * x AS DOUBLE))) AS csq
      FROM samp WHERE rn % 16 = 0
    ),
    assign AS (
      SELECT vq.vec_id, c.cell,
             c.csq - 2 * list_sum(list_transform(range(1, len(vq.v) + 1),
                                                 i -> CAST(vq.v[i] * c.v[i] AS DOUBLE))) AS d
      FROM vq CROSS JOIN cents c
    ),
    corpus_cell AS (
      SELECT vec_id, cell
      FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
            FROM assign)
      WHERE rn = 1
    ),
    probes AS (
      SELECT vec_id AS query_id, cell
      FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
            FROM assign WHERE vec_id % 50 = 0)
      WHERE rn <= 4
    ),
    cand AS (
      SELECT p.query_id, cc.vec_id AS neighbor_id
      FROM probes p JOIN corpus_cell cc ON p.cell = cc.cell
      WHERE p.query_id != cc.vec_id
    ),
    {_RERANK}
    """,
    doc="IVF (inverted-file) top-5: data-seeded coarse quantizer "
    "(stride sample of the 256 lowest-id vectors, iters=0), 4-of-16 "
    "cell probes by exact integer distance, quantized-dot re-rank — "
    "the bucketed-ANN scale path alongside LSH. Integer assignment "
    "makes cells, probe order and ranking oracle-reproducible; the "
    "Lloyd-refined variant (iters>0) stays the production option "
    "with recall pinned in tests.",
    survey_refs=("LLM-sim",),
)
def embedding_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    return ivf_topk(
        emb, queries, "vec_id", "embedding", k=5, n_cells=16, n_probe=4, iters=0
    )


@register(
    "embedding_lsh_near_dups",
    oracle=f"""
    WITH planes(plane, idx, coef) AS (VALUES {_lsh_planes_values()}),
    {_QV},
    nz AS (
      SELECT * FROM vq
      WHERE list_sum(list_transform(v, x -> CAST(x * x AS DOUBLE))) > 0
    ),
    proj AS (
      SELECT nz.vec_id, p.plane, SUM(nz.v[p.idx] * p.coef) AS d
      FROM nz CROSS JOIN planes p
      GROUP BY nz.vec_id, p.plane
    ),
    sig AS (
      SELECT vec_id,
             SUM(CASE WHEN d > 0 THEN (CAST(1 AS BIGINT) << plane) ELSE 0 END) AS sig
      FROM proj GROUP BY vec_id
    ),
    bands AS (
      SELECT s.vec_id, b.band, (s.sig >> (b.band * 4)) & 15 AS bucket
      FROM sig s CROSS JOIN (VALUES (0),(1),(2),(3)) b(band)
    ),
    cand AS (
      SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
      FROM bands x JOIN bands y ON x.band = y.band AND x.bucket = y.bucket
      WHERE x.vec_id < y.vec_id
    ),
    scored AS (
      SELECT cand.vec_a, cand.vec_b,
             CAST(list_sum(list_transform(range(1, len(a.v) + 1),
                                          i -> CAST(a.v[i] * b.v[i] AS DOUBLE)))
                  / sqrt(CAST(list_sum(list_transform(a.v, x -> CAST(x * x AS DOUBLE))) AS DOUBLE)
                         * CAST(list_sum(list_transform(b.v, x -> CAST(x * x AS DOUBLE))) AS DOUBLE))
                  AS DOUBLE) AS cosine
      FROM cand
      JOIN vq a ON a.vec_id = cand.vec_a
      JOIN vq b ON b.vec_id = cand.vec_b
    )
    SELECT vec_a, vec_b, cosine FROM scored WHERE cosine >= 0.3
    """,
    doc="Sub-quadratic embedding near-dup pairs: sign-bit LSH band "
    "blocking over integer-quantized hyperplanes, exact quantized "
    "cosine >= 0.3 verify on candidates only — the scale path twin of "
    "embedding_cosine_near_dups (the labeled O(n^2) baseline). "
    "Precision 1 by construction; recall vs the exact baseline pinned "
    "in tests. Fully oracle-checked: signatures, buckets, candidates "
    "and cosines are bit-reproducible in DuckDB.",
    survey_refs=("LLM-dedup", "LLM-sim"),
)
def embedding_lsh_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blockchain_indexer_spark.operators.similarity import lsh_near_dup_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    return lsh_near_dup_pairs(emb, "vec_id", "embedding", dim=64, threshold=0.3)


def _km_assign_sql(name: str, cents: str, dim: int) -> str:
    """One nearest-centroid assignment CTE: exact integer distances
    d = ‖c‖² − 2·v·c (ties → lowest cell), vsq carried so callers can
    reconstruct the true squared distance d + vsq."""
    return f"""{name} AS (
      SELECT vec_id, cell, d, vsq FROM (
        SELECT vec_id, cell, d, vsq,
               row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
        FROM (
          SELECT vq.vec_id, c.cell,
                 list_sum(list_transform(c.v, x -> CAST(x * x AS DOUBLE)))
               - 2 * list_sum(list_transform(range(1, {dim} + 1),
                                             i -> CAST(vq.v[i] * c.v[i] AS DOUBLE))) AS d,
                 list_sum(list_transform(vq.v, x -> CAST(x * x AS DOUBLE))) AS vsq
          FROM vq CROSS JOIN {cents} c
          WHERE vq.v IS NOT NULL) t1) t2
      WHERE rn = 1
    )"""


def _kmeans_ctes(k: int = 8, iters: int = 2, dim: int = 64) -> tuple[str, str]:
    """CTE chain reproducing operators/kmeans._lloyd in DuckDB SQL:
    data-seeded init (k lowest-id NON-NULL quantized vectors — NULL
    vectors are excluded, matching operators/kmeans._vq), then per
    iteration exact-integer nearest-centroid assignment (ties → lowest
    cell) and a floor(mean+0.5) integer-lattice centroid update with
    empty cells keeping their previous centroid. Returns (ctes,
    final_assignment_cte_name) where the final CTE has (vec_id, cell,
    d, vsq); prepend after _QV."""
    parts = [
        f"""c0 AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, v
      FROM (SELECT vec_id, v FROM vq WHERE v IS NOT NULL
            ORDER BY vec_id LIMIT {k}) s
    )"""
    ]
    for it in range(iters):
        c, nxt = f"c{it}", f"c{it + 1}"
        parts.append(_km_assign_sql(f"a{it}", c, dim))
        parts.append(f"""m{it} AS (
      SELECT a.cell, p.i,
             CAST(floor(avg(CAST(vq.v[p.i] AS DOUBLE)) + 0.5) AS BIGINT) AS x
      FROM a{it} a JOIN vq USING (vec_id)
      CROSS JOIN (SELECT unnest(range(1, {dim} + 1)) AS i) p
      GROUP BY a.cell, p.i
    )""")
        parts.append(
            f"l{it} AS (SELECT cell, list(x ORDER BY i) AS v FROM m{it} GROUP BY cell)"
        )
        parts.append(
            f"{nxt} AS (SELECT c.cell, COALESCE(l.v, c.v) AS v "
            f"FROM {c} c LEFT JOIN l{it} l USING (cell))"
        )
    parts.append(_km_assign_sql("afinal", f"c{iters}", dim))
    return ",\n    ".join(parts), "afinal"


_KM_CTES, _KM_FINAL = _kmeans_ctes(k=8, iters=2, dim=64)


@register(
    "embedding_kmeans_clusters",
    oracle=f"""
    WITH {_QV},
    {_KM_CTES}
    SELECT vec_id, CAST(cell AS INT) AS cell,
           CAST(d + vsq AS BIGINT) AS dist_sq
    FROM {_KM_FINAL}
    """,
    doc="Distributed k-means (Lloyd, k=8, 2 iterations) over the "
    "embedding corpus: data-seeded init, Arrow-matmul assignment, "
    "posexplode+groupBy centroid update (map-side combine → the "
    "shuffle is O(k x dim x partitions) regardless of corpus size). "
    "Integer-lattice centroids (floor(mean+0.5)) keep every stage "
    "engine-exact, so cells AND squared distances are oracle-checked "
    "bit-for-bit. The clustering substrate for SemDeDup / curation.",
    survey_refs=("LLM-sim", "LLM-dedup"),
)
def embedding_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blockchain_indexer_spark.operators.kmeans import kmeans_assign

    emb = load_table(spark, sf_dir, "embeddings")
    return kmeans_assign(emb, "vec_id", "embedding", k=8, iters=2)


@register(
    "embedding_semantic_dedup",
    oracle=f"""
    WITH {_QV},
    {_KM_CTES},
    nz AS (
      SELECT af.vec_id, af.cell, vq.v, af.vsq AS nsq
      FROM {_KM_FINAL} af JOIN vq USING (vec_id)
      WHERE af.vsq > 0
    ),
    dups AS (
      SELECT DISTINCT y.vec_id AS vec_id
      FROM nz x JOIN nz y ON x.cell = y.cell AND x.vec_id < y.vec_id
      WHERE CAST(list_sum(list_transform(range(1, len(x.v) + 1),
                                         i -> CAST(x.v[i] * y.v[i] AS DOUBLE)))
                 / sqrt(x.nsq * y.nsq) AS DOUBLE) >= 0.3
    )
    SELECT af.vec_id, CAST(af.cell AS INT) AS cell,
           (dups.vec_id IS NOT NULL) AS is_dup
    FROM {_KM_FINAL} af LEFT JOIN dups USING (vec_id)
    """,
    doc="SemDeDup (Abbas et al. 2023): k-means the corpus, then flag "
    "items whose quantized cosine to a lower-id item IN THE SAME "
    "CLUSTER is >= 0.3 (keep-lowest-id representative). The pairwise "
    "stage is an equi-join on the cell id — O(sum cell^2), never "
    "corpus^2; production picks k so cells stay O(10^3..10^4). Fully "
    "oracle-checked: centroids, cells, cosines and flags reproduce "
    "bit-for-bit in DuckDB.",
    survey_refs=("LLM-dedup", "LLM-sim"),
)
def embedding_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blockchain_indexer_spark.operators.kmeans import semantic_dedup

    emb = load_table(spark, sf_dir, "embeddings")
    return semantic_dedup(emb, "vec_id", "embedding", k=8, iters=2, threshold=0.3)


@register(
    "embedding_topk_qcosine",
    oracle="""
    WITH q0 AS (
      SELECT vec_id AS query_id,
             list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
      FROM embeddings WHERE vec_id % 50 = 0
    ),
    -- zero-norm vectors have no cosine (0/0); mirror the operator's
    -- norm_sq > 0 filter on BOTH sides so a future corpus containing a
    -- zero (or all-zero-quantized) embedding cannot diverge the gate
    q AS (SELECT * FROM q0 WHERE list_sum(list_transform(qv, x -> x * x)) > 0),
    c0 AS (
      SELECT vec_id AS neighbor_id,
             list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS cv
      FROM embeddings
    ),
    c AS (SELECT * FROM c0 WHERE list_sum(list_transform(cv, x -> x * x)) > 0),
    scored AS (
      SELECT q.query_id, c.neighbor_id,
             CAST(list_sum(list_transform(range(1, len(qv) + 1), i -> CAST(qv[i] * cv[i] AS DOUBLE)))
                  / sqrt(CAST(list_sum(list_transform(qv, x -> CAST(x * x AS DOUBLE))) AS DOUBLE)
                         * CAST(list_sum(list_transform(cv, x -> CAST(x * x AS DOUBLE))) AS DOUBLE))
                  AS DOUBLE) AS score
      FROM q JOIN c ON q.query_id != c.neighbor_id
    )
    SELECT query_id, CAST(rn AS BIGINT) AS rank, neighbor_id, score
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY score DESC, neighbor_id) AS rn
          FROM scored)
    WHERE rn <= 5
    """,
    doc="Exact top-5 cosine similarity over quantized vectors: integer "
    "dot/norms are exact doubles, so the sqrt+divide — and therefore "
    "the ranking — is bit-identical across engines, making cosine ANN "
    "oracle-checkable (unlike the raw-float variant).",
    survey_refs=("LLM-sim",),
)
def embedding_topk_qcosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    return brute_force_topk(
        emb, queries, "vec_id", "embedding", k=5, metric="quantized_cosine"
    )


# Shared oracle prefix: the 3-gram Jaccard >= 0.2 near-dup pair set
# resolved to duplicate clusters by a recursive-CTE transitive closure
# (independent fixpoint check of the ITERATIVE Spark connected
# components). Used by doc_dedup_clusters (min-id survivor policy) and
# doc_cluster_best (quality-argmax survivor policy). Must be preceded
# by "WITH RECURSIVE " and followed by the policy's final SELECT.
_JACC_CC_CTES = r"""toks AS (
      SELECT doc_id, list_filter(string_split_regex(trim(lower(text)), '[ \t\n\x0b\f\r]+'), x -> x <> '') AS t FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
      FROM toks, UNNEST(range(1, len(t) - 1)) AS r(i)
      WHERE len(t) >= 3
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    kept AS (
      SELECT sh.* FROM sh
      JOIN (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= 100) f
        USING (shingle)
    ),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM kept a JOIN kept b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    edges0 AS (
      SELECT p.doc_a, p.doc_b
      FROM pairs p
      JOIN sizes sa ON sa.doc_id = p.doc_a
      JOIN sizes sb ON sb.doc_id = p.doc_b
      WHERE CAST(p.n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - p.n_common) >= 0.2
    ),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM edges0
      UNION SELECT doc_b, doc_a FROM edges0
    ),
    reach(id, r) AS (
      SELECT a, a FROM edges
      UNION
      SELECT e.b, reach.r FROM edges e JOIN reach ON e.a = reach.id
    ),
    comp AS (SELECT id, MIN(r) AS cluster FROM reach GROUP BY id)"""


@register(
    "doc_dedup_clusters",
    oracle="WITH RECURSIVE "
    + _JACC_CC_CTES
    + """
    SELECT d.doc_id,
           COALESCE(c.cluster, d.doc_id) AS cluster,
           COALESCE(c.cluster, d.doc_id) = d.doc_id AS keep
    FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
    """,
    doc="Transitive-closure dedup verdict: 3-gram Jaccard >= 0.2 pairs "
    "(ngram_jaccard_pairs) resolved to duplicate clusters by "
    "connected components (operators.cluster, min-label propagation); "
    "every document gets (cluster, keep). The oracle recomputes the "
    "closure with a recursive CTE — validating the ITERATIVE Spark "
    "algorithm against an independent fixpoint computation.",
    survey_refs=("LLM-dedup",),
)
def doc_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blockchain_indexer_spark.operators.cluster import dedup_survivors

    d = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(
        d, "doc_id", "text", k=3, threshold=0.2, max_doc_freq=100
    ).select("doc_a", "doc_b")
    return dedup_survivors(d, pairs, "doc_id").select(
        F.col("id").alias("doc_id"), "cluster", "keep"
    )


@register(
    "doc_train_split",
    oracle="""
    SELECT doc_id,
           CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100
             AS bucket,
           CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 90
                THEN 'train'
                WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 95
                THEN 'val'
                ELSE 'test'
           END AS split
    FROM documents
    """,
    doc="Deterministic 90/5/5 train/val/test assignment by md5 hash "
    "bucket of the doc id (operators.sampling.hash_split): stable "
    "across runs and engines, pure projection (no shuffle), unlike "
    "randomSplit. Oracle reproduces the md5 bucket arithmetic.",
    survey_refs=("LLM-sample",),
)
def doc_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blockchain_indexer_spark.operators.sampling import hash_bucket, hash_split

    d = load_table(spark, sf_dir, "documents")
    return hash_split(d, "doc_id").select(
        "doc_id", hash_bucket("doc_id", 100).alias("bucket"), "split"
    )


@register(
    "doc_top_terms",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id,
             unnest(list_filter(string_split_regex(trim(lower(text)), '[ \t\n\x0b\f\r]+'), x -> x <> '')) AS tok
      FROM documents
    ),
    t AS (SELECT * FROM toks WHERE tok <> ''),
    tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM t GROUP BY 1, 2),
    dfq AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1)
    SELECT doc_id, CAST(rn AS BIGINT) AS rank, tok, tf, df
    FROM (SELECT tf.doc_id, tf.tok, tf.tf, dfq.df,
                 row_number() OVER (PARTITION BY tf.doc_id
                                    ORDER BY tf.tf DESC, dfq.df ASC, tf.tok ASC) AS rn
          FROM tf JOIN dfq USING (tok))
    WHERE rn <= 3
    """,
    doc="Integer-exact keyword extraction: top-3 terms per document "
    "ranked by term frequency desc, corpus document-frequency asc "
    "(rarer wins ties), token asc — a tf-idf-shaped ranking with no "
    "floats, so it is engine-reproducible. Two shuffles (tf groupBy, "
    "df groupBy) + a broadcast-able df join.",
    survey_refs=("LLM-text",),
)
def doc_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from blockchain_indexer_spark.functions.text import tokens

    d = load_table(spark, sf_dir, "documents")
    tok = (
        spread(d, "doc_id")
        .select("doc_id", F.explode(tokens("text")).alias("tok"))
        .filter(F.col("tok") != "")
    )
    tf = tok.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
    dfq = tf.groupBy("tok").agg(F.count("*").alias("df"))
    w = W.partitionBy("doc_id").orderBy(F.desc("tf"), F.asc("df"), F.asc("tok"))
    return (
        tf.join(dfq, "tok")
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "rank", "tok", "tf", "df")
    )


@register(
    "doc_decontamination",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split_regex(trim(lower(text)), '[ \t\n\x0b\f\r]+'), x -> x <> '') AS t FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
      FROM toks, UNNEST(range(1, len(t) - 1)) AS r(i)
      WHERE len(t) >= 3
    ),
    split AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS b
      FROM documents
    ),
    tr AS (SELECT sh.* FROM sh JOIN split USING (doc_id) WHERE b < 90),
    ev AS (SELECT DISTINCT shingle FROM sh JOIN split USING (doc_id) WHERE b >= 90),
    sizes AS (SELECT doc_id, COUNT(*) AS n_shingles FROM tr GROUP BY doc_id),
    hits AS (
      SELECT tr.doc_id, COUNT(*) AS n_common_eval
      FROM tr JOIN ev USING (shingle) GROUP BY tr.doc_id
    )
    SELECT s.doc_id, s.n_shingles,
           COALESCE(h.n_common_eval, 0) AS n_common_eval,
           CAST(COALESCE(h.n_common_eval, 0) AS DOUBLE) / s.n_shingles AS contamination,
           COALESCE(h.n_common_eval, 0) >= 10 AS is_contaminated
    FROM sizes s LEFT JOIN hits h USING (doc_id)
    """,
    doc="Benchmark decontamination: per training document (hash_split "
    "train side), distinct 3-shingles shared with the held-out val+test "
    "side (operators.dedup.decontaminate). One corpus-wide shingling "
    "pass feeds both sides; the eval shingle set is broadcast so the "
    "contamination scan never shuffles the training corpus.",
    survey_refs=("LLM-decontam", "LLM-dedup", "LLM-sample"),
)
def doc_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blockchain_indexer_spark.operators.dedup import decontaminate, distinct_shingles
    from blockchain_indexer_spark.operators.sampling import hash_split

    d = load_table(spark, sf_dir, "documents")
    sh = distinct_shingles(d, "doc_id", "text", 3)
    split = hash_split(d.select("doc_id"), "doc_id").select(
        F.col("doc_id").alias("_id"), "split"
    )
    tsh = sh.join(split.filter(F.col("split") == "train").drop("split"), "_id")
    esh = sh.join(split.filter(F.col("split") != "train").drop("split"), "_id")
    return decontaminate(train_shingles=tsh, eval_shingles=esh, min_common=10)


@register(
    "doc_exact_decontamination",
    oracle="""
    WITH needles AS (
      SELECT DISTINCT substr(text, 11, 40) AS needle
      FROM documents
      WHERE doc_id % 97 = 0 AND length(text) >= 60
    ),
    hits AS (
      SELECT d.doc_id, COUNT(DISTINCT n.needle) AS n_matched
      FROM documents d JOIN needles n ON position(n.needle IN d.text) > 0
      GROUP BY d.doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(h.n_matched, 0) AS BIGINT) AS n_matched_needles,
           COALESCE(h.n_matched, 0) > 0 AS is_contaminated
    FROM documents d LEFT JOIN hits h USING (doc_id)
    """,
    doc="EXACT-substring decontamination (canary / verbatim eval-answer "
    "leak check) — the complement of the shingle-overlap pass: the "
    "needle set (here 40-char excerpts of every 97th document) is "
    "compiled into a broadcast Aho-Corasick automaton and the corpus "
    "streams through one mapInPandas pass, O(text + matches) per "
    "document independent of needle count, no shuffle. The oracle "
    "cross-checks with a position() cross join (fine at sf0.01; the "
    "operator exists precisely because that plan is O(corpus x "
    "needles)).",
    survey_refs=("LLM-decontam", "LLM-dedup"),
)
def doc_exact_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blockchain_indexer_spark.operators.dedup import decontaminate_exact

    d = load_table(spark, sf_dir, "documents")
    needles = (
        d.filter((F.col("doc_id") % 97 == 0) & (F.length("text") >= 60))
        .select(F.substring("text", 11, 40).alias("needle"))
        .distinct()
    )
    return decontaminate_exact(d, needles)


@register(
    "embedding_knn_label_probe",
    oracle="""
    WITH q0 AS (
      SELECT vec_id AS query_id, label AS true_label,
             list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
      FROM embeddings WHERE vec_id % 37 = 0
    ),
    q AS (SELECT * FROM q0 WHERE list_sum(list_transform(qv, x -> x * x)) > 0),
    c0 AS (
      SELECT vec_id AS neighbor_id, label AS nl,
             list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS cv
      FROM embeddings
    ),
    c AS (SELECT * FROM c0 WHERE list_sum(list_transform(cv, x -> x * x)) > 0),
    scored AS (
      SELECT q.query_id, q.true_label, c.nl,
             CAST(list_sum(list_transform(range(1, len(qv) + 1), i -> CAST(qv[i] * cv[i] AS DOUBLE)))
                  / sqrt(CAST(list_sum(list_transform(qv, x -> CAST(x * x AS DOUBLE))) AS DOUBLE)
                         * CAST(list_sum(list_transform(cv, x -> CAST(x * x AS DOUBLE))) AS DOUBLE))
                  AS DOUBLE) AS score,
             c.neighbor_id
      FROM q JOIN c ON q.query_id != c.neighbor_id
    ),
    topk AS (
      SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                                  ORDER BY score DESC, neighbor_id) AS rn
                     FROM scored) WHERE rn <= 5
    ),
    votes AS (
      SELECT query_id, true_label, nl, COUNT(*) AS n_votes
      FROM topk GROUP BY 1, 2, 3
    ),
    pred AS (
      SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                                  ORDER BY n_votes DESC, nl) AS rk
                     FROM votes) WHERE rk = 1
    )
    SELECT query_id, true_label,
           CAST(nl AS INT) AS predicted_label,
           CAST(n_votes AS BIGINT) AS n_votes,
           nl = true_label AS correct
    FROM pred
    """,
    doc="Embedding-quality probe: leave-one-out kNN label prediction "
    "(majority vote among the 5 quantized-cosine nearest neighbors, "
    "ties to the smallest label) for every 37th vector — the standard "
    "cheap health check that an embedding table's labels cohere before "
    "a training job consumes it. Quantized-cosine ranking makes the "
    "vote engine-reproducible, so predictions match DuckDB row for "
    "row; swap brute_force_topk for ivf_topk at scale, vote stage "
    "unchanged.",
    survey_refs=("LLM-sim",),
)
def embedding_knn_label_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blockchain_indexer_spark.operators.similarity import knn_label_probe

    emb = load_table(spark, sf_dir, "embeddings")
    return knn_label_probe(emb, "vec_id", "embedding", "label", k=5, stride=37)


@register(
    "doc_repetition_stats",
    oracle=r"""
    WITH base AS (
      SELECT doc_id,
             list_filter(list_transform(string_split(text, chr(10)),
                           l -> regexp_replace(l, '^[ \t\n\x0b\f\r]+|[ \t\n\x0b\f\r]+$', '', 'g')),
                         l -> length(l) > 0) AS lines,
             list_filter(string_split_regex(trim(lower(text)), '[ \t\n\x0b\f\r]+'), x -> x <> '') AS t
      FROM documents
    ),
    lm AS (
      SELECT doc_id,
             CAST(len(lines) AS BIGINT) AS n_lines,
             CASE WHEN COALESCE(len(lines), 0) = 0 THEN 0.0
                  ELSE CAST(len(lines) - len(list_distinct(lines)) AS DOUBLE) / len(lines)
             END AS dup_line_frac,
             CASE WHEN COALESCE(list_sum(list_transform(lines, l -> length(l))), 0) = 0 THEN 0.0
                  ELSE CAST(list_sum(list_transform(lines, l -> length(l)))
                            - list_sum(list_transform(list_distinct(lines), l -> length(l)))
                            AS DOUBLE)
                       / list_sum(list_transform(lines, l -> length(l)))
             END AS dup_char_frac,
             CASE WHEN len(t) = 0 THEN NULL
                  ELSE CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE) / len(t)
             END AS mean_word_len
      FROM base
    ),
    bg AS (
      SELECT doc_id, t[i] || ' ' || t[i+1] AS bigram
      FROM base, UNNEST(range(1, len(t))) AS r(i)
      WHERE len(t) >= 2
    ),
    cnt AS (SELECT doc_id, bigram, COUNT(*) AS c FROM bg GROUP BY 1, 2),
    top AS (SELECT doc_id, MAX(c) AS top_c, SUM(c) AS n_bigrams FROM cnt GROUP BY doc_id)
    SELECT lm.doc_id, lm.n_lines, lm.dup_line_frac, lm.dup_char_frac, lm.mean_word_len,
           CAST(top.top_c AS DOUBLE) / top.n_bigrams AS top_bigram_frac,
           (lm.dup_line_frac > 0.1
            OR COALESCE(CAST(top.top_c AS DOUBLE) / top.n_bigrams, 0.0) > 0.2) AS is_repetitive
    FROM lm LEFT JOIN top USING (doc_id)
    """,
    doc="Gopher-style repetition metrics: duplicate-line fraction (row "
    "and character weighted) as pure array expressions in the scan "
    "projection, most-common-bigram fraction via explode + two "
    "groupBys, mean word length. All ratios are divisions of exact "
    "integers, so both engines agree bit-for-bit.",
    survey_refs=("LLM-text", "LLM-dedup"),
)
def doc_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blockchain_indexer_spark.functions.text import (
        doc_lines,
        dup_line_char_fraction,
        dup_line_fraction,
        mean_word_length,
        shingles_from_tokens,
        tokens,
    )

    d = load_table(spark, sf_dir, "documents")
    base = spread(d, "doc_id").select(
        "doc_id",
        F.size(doc_lines("text")).cast("bigint").alias("n_lines"),
        dup_line_fraction("text").alias("dup_line_frac"),
        dup_line_char_fraction("text").alias("dup_char_frac"),
        mean_word_length("text").alias("mean_word_len"),
    )
    bg = (
        spread(d, "doc_id")
        .select("doc_id", tokens("text").alias("_t"))
        .select("doc_id", F.explode(shingles_from_tokens("_t", 2)).alias("bigram"))
    )
    top = (
        bg.groupBy("doc_id", "bigram")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_c"), F.sum("c").alias("n_bigrams"))
    )
    top_frac = F.col("top_c").cast("double") / F.col("n_bigrams")
    return base.join(top, "doc_id", "left").select(
        "doc_id",
        "n_lines",
        "dup_line_frac",
        "dup_char_frac",
        "mean_word_len",
        top_frac.alias("top_bigram_frac"),
        (
            (F.col("dup_line_frac") > 0.1) | (F.coalesce(top_frac, F.lit(0.0)) > 0.2)
        ).alias("is_repetitive"),
    )


@register(
    "corpus_token_cardinality",
    oracle=r"""
    WITH t AS (
      SELECT source,
             unnest(list_filter(string_split_regex(trim(lower(text)), '[ \t\n\x0b\f\r]+'), x -> x <> '')) AS tok
      FROM documents
    )
    SELECT source,
           COUNT(DISTINCT tok) AS distinct_tokens,
           COUNT(*) AS total_tokens
    FROM t GROUP BY source
    """,
    doc="Vocabulary size per source: exact distinct-token count — the "
    "heavy two-level distinct-aggregate shape (partial distinct "
    "map-side, exchange on (source, tok)). The exact twin of the "
    "approx query below; at 100 TB use that one.",
    survey_refs=("LLM-text", "A7"),
)
def corpus_token_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blockchain_indexer_spark.functions.text import tokens

    d = load_table(spark, sf_dir, "documents")
    tok = spread(d, "doc_id").select("source", F.explode(tokens("text")).alias("tok"))
    return tok.groupBy("source").agg(
        F.countDistinct("tok").alias("distinct_tokens"),
        F.count("*").alias("total_tokens"),
    )


@register(
    "corpus_token_cardinality_approx",
    oracle=None,  # HLL estimates are engine-specific; the error bound
    # vs the exact twin is asserted in tests/test_text_functions.py
    doc="Vocabulary size per source via HyperLogLog++ "
    "(approx_count_distinct, rsd 2%): the sketch is fixed-size and "
    "mergeable, so at 100 TB the distinct count costs one map pass + "
    "a tiny sketch merge instead of shuffling every (source, token) "
    "pair — the standard scale path for cardinality.",
    survey_refs=("LLM-text", "A7"),
)
def corpus_token_cardinality_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blockchain_indexer_spark.functions.text import tokens

    d = load_table(spark, sf_dir, "documents")
    tok = spread(d, "doc_id").select("source", F.explode(tokens("text")).alias("tok"))
    return tok.groupBy("source").agg(
        F.approx_count_distinct("tok", rsd=0.02).alias("approx_distinct_tokens"),
        F.count("*").alias("total_tokens"),
    )


@register(
    "corpus_token_cardinality_bound",
    oracle=r"""
    WITH t AS (
      SELECT source,
             unnest(list_filter(string_split_regex(trim(lower(text)), '[ \t\n\x0b\f\r]+'), x -> x <> '')) AS tok
      FROM documents
    )
    SELECT source,
           COUNT(DISTINCT tok) AS distinct_tokens,
           TRUE AS within_3rsd
    FROM t GROUP BY source
    """,
    doc="Oracle-checkable invariant over the HLL sketch (VERDICT r1 "
    "#8): per source, the HyperLogLog++ estimate (rsd 2%) must land "
    "within 3 rsd = 6% of the exact distinct count, which the oracle "
    "recomputes in SQL. A drifting sketch flips within_3rsd to false "
    "and fails the value-hash — so the approx path gets a hard "
    "driver-side gate even though its raw estimate is engine-specific.",
    survey_refs=("LLM-text", "A7"),
)
def corpus_token_cardinality_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blockchain_indexer_spark.functions.text import tokens

    d = load_table(spark, sf_dir, "documents")
    tok = spread(d, "doc_id").select("source", F.explode(tokens("text")).alias("tok"))
    agg = tok.groupBy("source").agg(
        F.countDistinct("tok").alias("distinct_tokens"),
        F.approx_count_distinct("tok", rsd=0.02).alias("_approx"),
    )
    err = F.abs(F.col("_approx") - F.col("distinct_tokens")) / F.col("distinct_tokens")
    return agg.select("source", "distinct_tokens", (err <= 0.06).alias("within_3rsd"))


_MD5_SH = r"""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split_regex(trim(lower(text)), '[ \t\n\x0b\f\r]+'), x -> x <> '') AS t FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
      FROM toks, UNNEST(range(1, len(t) - 1)) AS r(i)
      WHERE len(t) >= 3
    ),
    sig AS (
      SELECT doc_id, seed,
             MIN(CAST(('0x' || substr(md5(shingle || ':' || seed), 1, 15)) AS BIGINT))
               AS minhash
      FROM sh, UNNEST(range(0, 64)) AS s(seed)
      GROUP BY 1, 2
    )
"""

_MD5_SIMHASH = r"""
    WITH tok AS (
      SELECT doc_id,
             unnest(list_filter(string_split_regex(trim(lower(text)), '[ \t\n\x0b\f\r]+'), x -> x <> '')) AS tok
      FROM documents
    ),
    h AS (SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS h FROM tok),
    bits AS (
      SELECT doc_id, i AS bit, CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END AS vote
      FROM h, UNNEST(range(0, 60)) AS r(i)
    ),
    v AS (SELECT doc_id, bit, SUM(vote) AS v FROM bits GROUP BY 1, 2),
    sig AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << bit)
                           ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS simhash
      FROM v GROUP BY doc_id
    )
"""


@register(
    "minhash_signatures_md5",
    oracle=_MD5_SH
    + """
    SELECT doc_id, CAST(seed AS BIGINT) AS seed, minhash FROM sig
    """,
    doc="MinHash signatures on the engine-portable 60-bit md5 hash "
    "(seeded as md5(shingle || ':' || seed)): the DuckDB oracle "
    "recomputes every signature cell, giving the MinHash ALGORITHM an "
    "exact cross-engine gate that the xxhash64 production path cannot "
    "have. Same plan shape as the production variant.",
    survey_refs=("LLM-dedup",),
)
def minhash_signatures_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    sig = minhash_signatures(d, "doc_id", "text", k=3, num_hashes=64, hash_fn="md5_60")
    return sig.select(
        F.col("_id").alias("doc_id"),
        F.posexplode("signature").alias("seed", "minhash"),
    ).select("doc_id", F.col("seed").cast("bigint").alias("seed"), "minhash")


@register(
    "minhash_lsh_candidates_md5",
    oracle=_MD5_SH
    + """
    , bands AS (
      SELECT doc_id, seed // 4 AS band,
             md5(string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY seed)) AS bucket
      FROM sig GROUP BY doc_id, seed // 4
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a
    JOIN bands b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    """,
    doc="LSH banding on the md5 MinHash stack (16 bands x 4 rows, "
    "bucket = md5 of the band's signature cells): the oracle rebuilds "
    "the exact candidate-pair set, validating the banding/bucketing "
    "logic cross-engine — the production xxhash64 variant keeps the "
    "same plan with cheaper keys.",
    survey_refs=("LLM-dedup",),
)
def minhash_lsh_candidates_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return minhash_lsh_candidates(
        d, "doc_id", "text", k=3, num_hashes=64, bands=16, hash_fn="md5_60"
    )


@register(
    "minhash_incremental_md5",
    oracle=_MD5_SH
    + """
    , bands AS (
      SELECT doc_id, seed // 4 AS band,
             md5(string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY seed)) AS bucket
      FROM sig GROUP BY doc_id, seed // 4
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a
    JOIN bands b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    """,
    doc="Incremental LSH index maintenance (minhash_index_update): "
    "the corpus arrives in two batches; batch 1 bootstraps the "
    "persisted band-row index and batch 2 joins only new x new and "
    "new x index — never old x old. The emitted union must equal the "
    "FULL-corpus candidate set, which is exactly what the oracle "
    "computes: the gate proves per-batch incremental maintenance is "
    "lossless. Per-batch cost is O(|batch| x bucket occupancy), "
    "independent of corpus age — the reference's stale key cache "
    "refresh (T8) applied to the dedup index.",
    survey_refs=("LLM-dedup", "T8"),
)
def minhash_incremental_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blockchain_indexer_spark.operators.dedup import minhash_index_update

    d = load_table(spark, sf_dir, "documents")
    half1 = d.filter(F.col("doc_id") % 2 == 0)
    half2 = d.filter(F.col("doc_id") % 2 == 1)
    index, pairs1 = minhash_index_update(
        None, half1, "doc_id", "text", k=3, num_hashes=64, bands=16, hash_fn="md5_60"
    )
    _, pairs2 = minhash_index_update(
        index, half2, "doc_id", "text", k=3, num_hashes=64, bands=16, hash_fn="md5_60"
    )
    return pairs1.unionByName(pairs2).distinct()


@register(
    "simhash_signatures_md5",
    oracle=_MD5_SIMHASH
    + """
    SELECT doc_id, simhash FROM sig
    """,
    doc="60-bit SimHash (per-bit majority vote of the md5-derived "
    "token hash, with multiplicity): the oracle recomputes each "
    "signature bit-for-bit — the cross-engine gate for the SimHash "
    "algorithm itself.",
    survey_refs=("LLM-dedup",),
)
def simhash_signatures_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return simhash64(d, "doc_id", "text", hash_fn="md5_60").select(
        F.col("_id").alias("doc_id"), "simhash"
    )


@register(
    "simhash_near_dups_md5",
    oracle=_MD5_SIMHASH
    + """
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
    doc="SimHash near-dup pairs (hamming <= 3) over the md5 signature. "
    "The oracle brute-forces ALL pairs — an independent computation "
    "that also proves the banded blocking is complete (pigeonhole: "
    "4 x 15-bit bands cover hamming < 4), not just self-consistent.",
    survey_refs=("LLM-dedup",),
)
def simhash_near_dups_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return simhash_candidates(
        d, "doc_id", "text", max_hamming=3, bands=4, hash_fn="md5_60"
    ).select("doc_a", "doc_b", F.col("hamming").cast("bigint").alias("hamming"))


@register(
    "corpus_mixture_report",
    oracle=r"""
    WITH s AS (
      SELECT lang, source, n_chars,
             CAST(len(list_filter(string_split_regex(trim(lower(text)), '[ \t\n\x0b\f\r]+'), x -> x <> '')) AS BIGINT)
               AS toks,
             CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                       % 100 < 90 THEN 'train'
                  WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                       % 100 < 95 THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
    )
    SELECT split, lang, COUNT(*) AS n_docs,
           CAST(SUM(toks) AS BIGINT) AS total_tokens,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
    FROM s GROUP BY split, lang
    """,
    doc="The pretraining mixture report: documents and token/char "
    "budgets per (split, language), plus source diversity — the "
    "numbers a data pipeline publishes per corpus release. Split "
    "assignment is the deterministic md5 hash_split, so the report is "
    "reproducible across engines and runs; one groupBy shuffle.",
    survey_refs=("LLM-sample", "LLM-text", "A4"),
)
def corpus_mixture_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blockchain_indexer_spark.operators.sampling import hash_split

    d = load_table(spark, sf_dir, "documents")
    return (
        hash_split(d, "doc_id")
        .groupBy("split", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(token_count("text")).alias("total_tokens"),
            F.sum("n_chars").alias("total_chars"),
            F.countDistinct("source").alias("n_sources"),
        )
    )


@register(
    "doc_length_quantiles",
    oracle="""
    WITH r AS (
      SELECT lang, n_chars,
             row_number() OVER (PARTITION BY lang ORDER BY n_chars) AS rn,
             COUNT(*) OVER (PARTITION BY lang) AS n
      FROM documents
    )
    SELECT lang,
           MAX(CASE WHEN rn = CAST(ceil(0.25 * n) AS BIGINT) THEN n_chars END) AS p25,
           MAX(CASE WHEN rn = CAST(ceil(0.50 * n) AS BIGINT) THEN n_chars END) AS p50,
           MAX(CASE WHEN rn = CAST(ceil(0.75 * n) AS BIGINT) THEN n_chars END) AS p75,
           MAX(CASE WHEN rn = CAST(ceil(0.95 * n) AS BIGINT) THEN n_chars END) AS p95,
           COUNT(*) AS n_docs
    FROM r GROUP BY lang
    """,
    doc="Per-language document-length distribution: EXACT discrete "
    "quantiles by explicit rank selection (value at rank ceil(p*n) of "
    "the sorted column) — integer-exact and engine-portable, unlike "
    "each engine's interpolating quantile builtin whose float "
    "arithmetic differs. One window shuffle keyed on the group; at "
    "corpus scale swap in approx_percentile on the same grouping "
    "(sketch-mergeable, no sort) once exactness stops mattering.",
    survey_refs=("LLM-text", "W1"),
)
def doc_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents")
    w = W.partitionBy("lang").orderBy("n_chars")
    r = d.select(
        "lang",
        "n_chars",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(W.partitionBy("lang")).alias("n"),
    )
    def at(p: float):
        return F.max(
            F.when(
                F.col("rn") == F.ceil(F.lit(p) * F.col("n")).cast("bigint"),
                F.col("n_chars"),
            )
        )
    return r.groupBy("lang").agg(
        at(0.25).alias("p25"),
        at(0.50).alias("p50"),
        at(0.75).alias("p75"),
        at(0.95).alias("p95"),
        F.count("*").alias("n_docs"),
    )


@register(
    "doc_quota_sample",
    oracle="""
    SELECT doc_id, lang, CAST(rn AS BIGINT) AS sample_rank
    FROM (SELECT doc_id, lang,
                 row_number() OVER (PARTITION BY lang
                                    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
          FROM documents)
    WHERE rn <= 40
    """,
    doc="Corpus balancing by per-group quota: at most 40 documents per "
    "language, selected by md5-hash order (operators.sampling."
    "quota_sample) — a uniform, run- and engine-stable without-"
    "replacement sample; one window sort keyed on the group.",
    survey_refs=("LLM-sample", "W1"),
)
def doc_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blockchain_indexer_spark.operators.sampling import quota_sample

    d = load_table(spark, sf_dir, "documents")
    return quota_sample(d.select("doc_id", "lang"), "lang", "doc_id", 40).select(
        "doc_id", "lang", "sample_rank"
    )


@register(
    "doc_chunk_packing",
    oracle=r"""
    WITH t AS (
      SELECT doc_id, source,
             CAST(len(list_filter(string_split_regex(trim(lower(text)), '[ \t\n\x0b\f\r]+'), x -> x <> '')) AS BIGINT)
               AS n_tokens
      FROM documents
    ),
    c AS (
      SELECT doc_id, source, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_after
      FROM t WHERE n_tokens > 0
    )
    SELECT doc_id, source, n_tokens,
           CAST((cum_after - n_tokens) // 512 AS BIGINT) AS first_chunk,
           CAST((cum_after - 1) // 512 AS BIGINT) AS last_chunk,
           CAST((cum_after - 1) // 512 - (cum_after - n_tokens) // 512 + 1 AS BIGINT)
             AS n_chunks,
           CAST((cum_after - n_tokens) % 512 AS BIGINT) AS chunk_offset
    FROM c
    """,
    doc="Concat-and-chunk sequence packing plan (operators.packing."
    "pack_chunks): per source, documents concatenated in doc_id order "
    "and cut every 512 tokens; each doc mapped to its context-window "
    "span (first/last chunk, offset). The 'pack to sequence length' "
    "step of a pretraining pipeline, as a pure prefix-sum plan.",
    survey_refs=("LLM-sample", "W2"),
)
def doc_chunk_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blockchain_indexer_spark.operators.packing import pack_chunks

    d = load_table(spark, sf_dir, "documents")
    return pack_chunks(
        d.select("doc_id", "source", token_count("text").alias("_nt")),
        "doc_id",
        "source",
        "_nt",
        budget=512,
    )


@register(
    "corpus_mixture_rebalance",
    oracle="""
    WITH c AS (SELECT source, COUNT(*) AS n_group FROM documents GROUP BY source),
    t AS (SELECT MIN(n_group) AS target FROM c)
    SELECT d.doc_id, d.source, c.n_group,
           CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000000
             AS bucket
    FROM documents d JOIN c USING (source) CROSS JOIN t
    WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000000
            * c.n_group
          < t.target * 1000000
    """,
    doc="Mixture rebalancing (operators.packing.rebalance_mixture): "
    "every source thinned toward the smallest source's size by an "
    "integer md5-bucket acceptance test — deterministic, engine-"
    "stable leveling to a uniform source mixture. One tiny per-group "
    "aggregate broadcast back over the corpus; the big side never "
    "shuffles.",
    survey_refs=("LLM-sample", "A4"),
)
def corpus_mixture_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blockchain_indexer_spark.operators.packing import rebalance_mixture

    d = load_table(spark, sf_dir, "documents")
    return rebalance_mixture(d, "doc_id", "source")


@register(
    "doc_length_quantiles_approx_bound",
    oracle="""
    WITH r AS (
      SELECT lang, n_chars,
             row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY lang) AS n
      FROM documents
    )
    SELECT lang, COUNT(*) AS n_docs,
           MAX(CASE WHEN rn = greatest(1, CAST(ceil(0.50 * n) AS BIGINT) - greatest(1, CAST(ceil(n / 1000.0) AS BIGINT))) THEN n_chars END) AS p50_lo,
           MAX(CASE WHEN rn = least(n, CAST(ceil(0.50 * n) AS BIGINT) + greatest(1, CAST(ceil(n / 1000.0) AS BIGINT))) THEN n_chars END) AS p50_hi,
           MAX(CASE WHEN rn = greatest(1, CAST(ceil(0.95 * n) AS BIGINT) - greatest(1, CAST(ceil(n / 1000.0) AS BIGINT))) THEN n_chars END) AS p95_lo,
           MAX(CASE WHEN rn = least(n, CAST(ceil(0.95 * n) AS BIGINT) + greatest(1, CAST(ceil(n / 1000.0) AS BIGINT))) THEN n_chars END) AS p95_hi,
           TRUE AS p50_in_bound,
           TRUE AS p95_in_bound
    FROM r GROUP BY lang
    """,
    doc="Oracle-checkable invariant over the approx-quantile sketch "
    "(same idiom as corpus_token_cardinality_bound): per language, "
    "percentile_approx (accuracy 1000, rank error <= "
    "max(1, ceil(n/1000))) must land between the EXACT order "
    "statistics at rank ceil(p*n) -/+ that error, which the oracle "
    "recomputes by rank selection. A drifting sketch flips the "
    "*_in_bound flag and fails the value hash — the driver gate for "
    "the sketch-mergeable quantile path doc_length_quantiles "
    "documents as its 100 TB swap-in.",
    survey_refs=("LLM-text", "W1"),
)
def doc_length_quantiles_approx_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents")
    w = W.partitionBy("lang").orderBy("n_chars", "doc_id")
    r = d.select(
        "lang",
        "n_chars",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(W.partitionBy("lang")).alias("n"),
    )
    err = F.greatest(F.lit(1).cast("bigint"), F.ceil(F.col("n") / 1000.0))

    def exact_at(p: float, side: str):
        target = F.ceil(F.lit(p) * F.col("n")).cast("bigint")
        rank = (
            F.greatest(F.lit(1).cast("bigint"), target - err)
            if side == "lo"
            else F.least(F.col("n"), target + err)
        )
        return F.max(F.when(F.col("rn") == rank, F.col("n_chars")))

    agg = r.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        exact_at(0.50, "lo").alias("p50_lo"),
        exact_at(0.50, "hi").alias("p50_hi"),
        exact_at(0.95, "lo").alias("p95_lo"),
        exact_at(0.95, "hi").alias("p95_hi"),
        F.percentile_approx("n_chars", 0.50, 1000).alias("_a50"),
        F.percentile_approx("n_chars", 0.95, 1000).alias("_a95"),
    )
    return agg.select(
        "lang",
        "n_docs",
        "p50_lo",
        "p50_hi",
        "p95_lo",
        "p95_hi",
        F.col("_a50").between(F.col("p50_lo"), F.col("p50_hi")).alias("p50_in_bound"),
        F.col("_a95").between(F.col("p95_lo"), F.col("p95_hi")).alias("p95_in_bound"),
    )


@register(
    "embedding_pq_topk",
    oracle=f"""
    WITH {_QV},
    seeds AS (
      SELECT v, row_number() OVER (ORDER BY vec_id) - 1 AS code
      FROM vq ORDER BY vec_id LIMIT 32
    ),
    cb AS (
      SELECT jt.j, s.code, s.v[jt.j * 4 + 1 : jt.j * 4 + 4] AS cv
      FROM seeds s, UNNEST(range(0, 16)) AS jt(j)
    ),
    corp_sub AS (
      SELECT vq.vec_id, jt.j, vq.v[jt.j * 4 + 1 : jt.j * 4 + 4] AS sv
      FROM vq, UNNEST(range(0, 16)) AS jt(j)
    ),
    corp_d AS (
      SELECT cs.vec_id, cs.j, cb.code,
             list_sum(list_transform(range(1, 5),
               i -> CAST((cs.sv[i] - cb.cv[i]) * (cs.sv[i] - cb.cv[i]) AS BIGINT))) AS d
      FROM corp_sub cs JOIN cb ON cs.j = cb.j
    ),
    codes AS (
      SELECT vec_id, j, code
      FROM (SELECT *, row_number() OVER (PARTITION BY vec_id, j ORDER BY d, code) AS rn
            FROM corp_d)
      WHERE rn = 1
    ),
    lut AS (
      SELECT vec_id AS query_id, j, code, d AS ld
      FROM corp_d WHERE vec_id % 50 = 0
    ),
    adc AS (
      SELECT l.query_id, c.vec_id AS neighbor_id, SUM(l.ld) AS adc_dist
      FROM codes c JOIN lut l ON c.j = l.j AND c.code = l.code
      WHERE c.vec_id != l.query_id
      GROUP BY l.query_id, c.vec_id
    ),
    short AS (
      SELECT query_id, neighbor_id
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY adc_dist, neighbor_id) AS rn
            FROM adc)
      WHERE rn <= 50
    ),
    exact AS (
      SELECT s.query_id, s.neighbor_id,
             list_sum(list_transform(range(1, len(a.v) + 1),
               i -> CAST((a.v[i] - b.v[i]) * (a.v[i] - b.v[i]) AS BIGINT))) AS l2_dist
      FROM short s
      JOIN vq a ON a.vec_id = s.query_id
      JOIN vq b ON b.vec_id = s.neighbor_id
    )
    SELECT query_id, CAST(rn AS INT) AS rank, neighbor_id,
           CAST(l2_dist AS BIGINT) AS l2_dist
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY l2_dist, neighbor_id) AS rn
          FROM exact)
    WHERE rn <= 5
    """,
    doc="Product-quantization top-5 (operators.similarity.pq_topk): "
    "16 subspaces x 32 data-seeded codes, exact-integer code "
    "assignment, per-query broadcast LUT, ADC shortlist of 50, then "
    "exact integer-L2 re-rank of the shortlist — the full IVF-PQ "
    "serving shape (compressed codes prune, true vectors score only "
    "the shortlist; 16x memory compression at d=64). Every stage is "
    "integer-exact, so codes, shortlist and final ranking all "
    "round-trip through the DuckDB oracle; Lloyd-trained codebooks "
    "(iters>0) stay the production option with recall pinned in "
    "tests.",
    survey_refs=("LLM-sim",),
)
def embedding_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blockchain_indexer_spark.operators.similarity import pq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    return pq_topk(
        emb, queries, "vec_id", "embedding", k=5, m=16, n_codes=32, rerank=50
    )


@register(
    "embedding_pq_distortion",
    oracle=f"""
    WITH {_QV},
    vqf AS (SELECT * FROM vq WHERE v IS NOT NULL),
    seeds AS (
      SELECT v, row_number() OVER (ORDER BY vec_id) - 1 AS code
      FROM vqf ORDER BY vec_id LIMIT 32
    ),
    cb AS (
      SELECT jt.j, s.code, s.v[jt.j * 4 + 1 : jt.j * 4 + 4] AS cv
      FROM seeds s, UNNEST(range(0, 16)) AS jt(j)
    ),
    corp_sub AS (
      SELECT vqf.vec_id, jt.j, vqf.v[jt.j * 4 + 1 : jt.j * 4 + 4] AS sv
      FROM vqf, UNNEST(range(0, 16)) AS jt(j)
    ),
    corp_d AS (
      SELECT cs.vec_id, cs.j, cb.code,
             list_sum(list_transform(range(1, 5),
               i -> CAST((cs.sv[i] - cb.cv[i]) * (cs.sv[i] - cb.cv[i]) AS BIGINT))) AS d
      FROM corp_sub cs JOIN cb ON cs.j = cb.j
    ),
    best AS (
      SELECT vec_id, j, code, d
      FROM (SELECT *, row_number() OVER (PARTITION BY vec_id, j
                                         ORDER BY d, code) AS rn
            FROM corp_d)
      WHERE rn = 1
    ),
    cells AS (
      SELECT j, code, CAST(COUNT(*) AS BIGINT) AS cnt,
             CAST(SUM(d) AS BIGINT) AS sum_d,
             CAST(MAX(d) AS BIGINT) AS max_d
      FROM best GROUP BY 1, 2
    )
    SELECT CAST(j AS INT) AS j,
           CAST(SUM(cnt) AS BIGINT) AS n_vectors,
           CAST(SUM(sum_d) AS BIGINT) AS total_sq_error,
           CAST(SUM(sum_d) AS DOUBLE) / CAST(SUM(cnt) AS DOUBLE)
             AS mean_sq_error,
           CAST(MAX(max_d) AS BIGINT) AS max_sq_error,
           CAST(COUNT(*) AS BIGINT) AS n_codes_used,
           CAST(MAX(cnt) AS DOUBLE) / CAST(SUM(cnt) AS DOUBLE)
             AS max_code_share
    FROM cells GROUP BY 1
    """,
    doc="PQ reconstruction-DISTORTION monitor (operators.similarity."
    "pq_distortion): every corpus vector is assigned its nearest code "
    "per subspace (the embedding_pq_topk codebook — 16 subspaces x 32 "
    "data-seeded codes, exact integer subvector L2, lowest-code "
    "ties), and the report gives one row per subspace: vector count, "
    "total/mean/max squared quantization error, codes actually used, "
    "and the top code's population share (codebook-collapse alarm). "
    "The index-health twin of embedding_ann_recall — recall watches "
    "ranking quality, distortion watches the quantizer itself; a "
    "subspace whose distortion balloons after a drift is the one to "
    "retrain. Integer-exact errors; the two rates are single IEEE "
    "divisions. The per-(subspace, code) partial agg caps the shuffle "
    "at m*n_codes rows per partition at any corpus size; output is m "
    "rows.",
    survey_refs=("LLM-sim",),
)
def embedding_pq_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blockchain_indexer_spark.operators.similarity import pq_distortion

    emb = load_table(spark, sf_dir, "embeddings")
    return pq_distortion(emb, "vec_id", "embedding", m=16, n_codes=32)


@register(
    "doc_pii_scrub",
    oracle=r"""
    WITH seeded AS (
      SELECT doc_id,
             'contact user' || CAST(doc_id AS VARCHAR) || '@mail-' ||
             CAST(doc_id % 7 AS VARCHAR) || '.example.org from 10.' ||
             CAST(doc_id % 256 AS VARCHAR) || '.0.' ||
             CAST((doc_id * 7) % 256 AS VARCHAR) || ' acct ' ||
             printf('%016d', 4000000000000000 + doc_id) || ' ' || text AS t
      FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(t, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ips,
           CAST(len(regexp_extract_all(t, '\b\d{16}\b')) AS BIGINT) AS n_ids,
           regexp_replace(
             regexp_replace(
               regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
             '\b\d{16}\b', '<ID>', 'g') AS scrubbed
    FROM seeded
    """,
    doc="PII audit + redaction (functions.text.pii_counts/pii_redact): "
    "emails, IPv4s and 16-digit account ids counted and replaced with "
    "typed placeholders — the standard pretraining scrub, three "
    "chained JVM regexp projections (no shuffle, no Python). The "
    "corpus text carries no PII, so the gate deterministically seeds "
    "one of each per document from doc_id INSIDE the query (both "
    "engines build the identical text) and the oracle hash-checks "
    "counts AND the scrubbed strings byte-for-byte; patterns are "
    "written to the Java-regex/RE2 common subset.",
    survey_refs=("LLM-text",),
)
def doc_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blockchain_indexer_spark.functions.text import pii_counts, pii_redact

    d = load_table(spark, sf_dir, "documents")
    seeded = d.select(
        "doc_id",
        F.concat(
            F.lit("contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@mail-"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit(".example.org from 10."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".0."),
            ((F.col("doc_id") * 7) % 256).cast("string"),
            F.lit(" acct "),
            F.format_string("%016d", F.col("doc_id") + F.lit(4000000000000000)),
            F.lit(" "),
            F.col("text"),
        ).alias("t"),
    )
    n_emails, n_ips, n_ids = pii_counts("t")
    return seeded.select(
        "doc_id",
        n_emails.alias("n_emails"),
        n_ips.alias("n_ips"),
        n_ids.alias("n_ids"),
        pii_redact("t").alias("scrubbed"),
    )


@register(
    "doc_unigram_stats",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id,
             unnest(list_filter(string_split_regex(trim(lower(text)), '[ \t\n\x0b\f\r]+'), x -> x <> '')) AS tok
      FROM documents
    ),
    t AS (SELECT * FROM toks WHERE tok <> ''),
    uni AS (SELECT tok, COUNT(*) AS cnt FROM t GROUP BY tok)
    SELECT t.doc_id,
           COUNT(*) AS n_tokens,
           COUNT(DISTINCT t.tok) AS n_distinct,
           CAST(SUM(CASE WHEN uni.cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
           CAST(SUM(uni.cnt) AS DOUBLE) / COUNT(*) AS mean_corpus_freq,
           CAST(SUM(CASE WHEN uni.cnt <= 2 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS rare_fraction
    FROM t JOIN uni USING (tok)
    GROUP BY t.doc_id
    """,
    doc="Corpus-LM quality statistics per document (the CCNet/Gopher "
    "perplexity-filter shape): build the global unigram count table "
    "(one groupBy on token), join every token back to its corpus "
    "count, aggregate per document — mean corpus frequency of the "
    "doc's tokens (a low-perplexity proxy: common-language docs "
    "score high), hapax count and rare-token fraction (OOV/noise "
    "signals). All outputs are integer sums or single exact integer "
    "divisions, so the gate is engine-exact; a true ln-based logprob "
    "is a monotone driver-side transform away but ln differs by ulps "
    "across engines, so it stays out of the hash-compared surface. "
    "Scale: two token-keyed shuffles + one doc-keyed agg; the unigram "
    "table shards by token (no broadcast assumption).",
    survey_refs=("LLM-text",),
)
def doc_unigram_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blockchain_indexer_spark.functions.text import tokens

    d = load_table(spark, sf_dir, "documents")
    tok = (
        spread(d, "doc_id")
        .select("doc_id", F.explode(tokens("text")).alias("tok"))
        .filter(F.col("tok") != "")
    )
    uni = tok.groupBy("tok").agg(F.count("*").alias("cnt"))
    return (
        tok.join(uni, "tok")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.countDistinct("tok").alias("n_distinct"),
            F.sum(F.when(F.col("cnt") == 1, 1).otherwise(0)).cast("bigint").alias("n_hapax"),
            (F.sum("cnt").cast("double") / F.count("*")).alias("mean_corpus_freq"),
            (
                F.sum(F.when(F.col("cnt") <= 2, 1).otherwise(0)).cast("double")
                / F.count("*")
            ).alias("rare_fraction"),
        )
    )


@register(
    "embedding_ivfpq_topk",
    oracle=f"""
    WITH {_QV},
    samp AS (
      SELECT v, row_number() OVER (ORDER BY vec_id) - 1 AS rn
      FROM vq ORDER BY vec_id LIMIT 256
    ),
    cents AS (
      SELECT CAST(rn // 16 AS INT) AS cell, v,
             list_sum(list_transform(v, x -> CAST(x * x AS DOUBLE))) AS csq
      FROM samp WHERE rn % 16 = 0
    ),
    assign AS (
      SELECT vq.vec_id, c.cell,
             c.csq - 2 * list_sum(list_transform(range(1, len(vq.v) + 1),
                                                 i -> CAST(vq.v[i] * c.v[i] AS DOUBLE))) AS d
      FROM vq CROSS JOIN cents c
    ),
    corpus_cell AS (
      SELECT vec_id, cell
      FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
            FROM assign)
      WHERE rn = 1
    ),
    resid AS (
      SELECT cc.vec_id, cc.cell,
             list_transform(range(1, len(vq.v) + 1),
                            i -> vq.v[i] - c.v[i]) AS r
      FROM corpus_cell cc
      JOIN vq USING (vec_id)
      JOIN cents c ON c.cell = cc.cell
    ),
    seeds AS (
      SELECT r, row_number() OVER (ORDER BY vec_id) - 1 AS code
      FROM resid ORDER BY vec_id LIMIT 32
    ),
    book AS (
      SELECT p.j, s.code, list_slice(s.r, p.j * 4 + 1, p.j * 4 + 4) AS bv
      FROM seeds s CROSS JOIN (SELECT unnest(range(0, 16)) AS j) p
    ),
    rsubs AS (
      SELECT resid.vec_id, resid.cell, p.j,
             list_slice(resid.r, p.j * 4 + 1, p.j * 4 + 4) AS rs
      FROM resid CROSS JOIN (SELECT unnest(range(0, 16)) AS j) p
    ),
    codes AS (
      SELECT vec_id, cell, j, code
      FROM (SELECT r.vec_id, r.cell, r.j, b.code,
                   row_number() OVER (PARTITION BY r.vec_id, r.j ORDER BY
                     list_sum(list_transform(range(1, 5),
                       i -> CAST((r.rs[i] - b.bv[i]) * (r.rs[i] - b.bv[i]) AS DOUBLE))),
                     b.code) AS rn
            FROM rsubs r JOIN book b ON b.j = r.j)
      WHERE rn = 1
    ),
    probes AS (
      SELECT vec_id AS query_id, cell
      FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
            FROM assign WHERE vec_id % 50 = 0)
      WHERE rn <= 6
    ),
    lut AS (
      SELECT p.query_id, p.cell, b.j, b.code,
             list_sum(list_transform(range(1, 5),
               i -> CAST((list_slice(qr.r, b.j * 4 + 1, b.j * 4 + 4)[i] - b.bv[i])
                       * (list_slice(qr.r, b.j * 4 + 1, b.j * 4 + 4)[i] - b.bv[i]) AS DOUBLE)
             )) AS ld
      FROM probes p
      JOIN (SELECT vq.vec_id, c.cell,
                   list_transform(range(1, len(vq.v) + 1), i -> vq.v[i] - c.v[i]) AS r
            FROM vq CROSS JOIN cents c) qr
        ON qr.vec_id = p.query_id AND qr.cell = p.cell
      CROSS JOIN book b
    ),
    adc AS (
      SELECT l.query_id, cd.vec_id AS neighbor_id,
             CAST(SUM(l.ld) AS BIGINT) AS adc_dist
      FROM codes cd
      JOIN lut l ON l.cell = cd.cell AND l.j = cd.j AND l.code = cd.code
      WHERE l.query_id != cd.vec_id
      GROUP BY l.query_id, cd.vec_id
    ),
    short AS (
      SELECT query_id, neighbor_id
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY adc_dist, neighbor_id) AS rn
            FROM adc)
      WHERE rn <= 50
    ),
    exact AS (
      SELECT s.query_id, s.neighbor_id,
             CAST(list_sum(list_transform(range(1, len(a.v) + 1),
               i -> CAST((a.v[i] - b.v[i]) * (a.v[i] - b.v[i]) AS DOUBLE))) AS BIGINT) AS l2_dist
      FROM short s
      JOIN vq a ON a.vec_id = s.query_id
      JOIN vq b ON b.vec_id = s.neighbor_id
    )
    SELECT query_id, CAST(rn AS INT) AS rank, neighbor_id, l2_dist
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY l2_dist, neighbor_id) AS rn
          FROM exact)
    WHERE rn <= 5
    """,
    doc="IVF-PQ with residual encoding (FAISS-style, Jegou et al. "
    "2011 SIV): coarse cells prune to 6-of-16 inverted lists, "
    "residual PQ codes (m=16, 32 codes) score survivors via "
    "per-(query, cell) ADC LUTs joined on (cell, subspace, code), "
    "exact integer L2 re-ranks the 50-candidate shortlist to top-5. "
    "Every stage is integer-exact with lowest-index tie-breaks, so "
    "cells, residuals, codebooks, codes, LUTs, ADC sums and the "
    "final ranking all round-trip through the oracle. The corpus "
    "contributes only (cell, m codes) rows to the candidate join — "
    "its vectors surface solely for the |Q| x 50 exact re-rank.",
    survey_refs=("LLM-sim",),
)
def embedding_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blockchain_indexer_spark.operators.similarity import ivf_pq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    return ivf_pq_topk(
        emb, queries, "vec_id", "embedding",
        k=5, n_cells=16, n_probe=6, m=16, n_codes=32, rerank=50,
    )


@register(
    "embedding_pca_covariance",
    oracle="""
    WITH v AS (
      SELECT list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
      FROM embeddings
      WHERE embedding IS NOT NULL
    ),
    dims AS (SELECT CAST(r AS INTEGER) AS i FROM range(0, 64) t(r)),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM v),
    sums AS (
      SELECT d.i AS i, CAST(sum(v.qv[d.i + 1]) AS BIGINT) AS s
      FROM v CROSS JOIN dims d
      GROUP BY d.i
    ),
    prods AS (
      SELECT a.i AS i, b.i AS j,
             CAST(sum(v.qv[a.i + 1] * v.qv[b.i + 1]) AS BIGINT) AS sum_prod
      FROM v CROSS JOIN dims a CROSS JOIN dims b
      WHERE a.i <= b.i
      GROUP BY a.i, b.i
    )
    SELECT p.i, p.j, t.n, sa.s AS sum_i, sb.s AS sum_j, p.sum_prod,
           (CAST(p.sum_prod AS DOUBLE)
              - CAST(sa.s AS DOUBLE) * CAST(sb.s AS DOUBLE) / CAST(t.n AS DOUBLE))
             / (CAST(t.n AS DOUBLE) - 1) AS cov
    FROM prods p
    CROSS JOIN tot t
    JOIN sums sa ON sa.i = p.i
    JOIN sums sb ON sb.i = p.j
    """,
    doc="Upper-triangle sample covariance of the embedding corpus — "
    "the distributed half of PCA. ONE corpus pass: a per-partition "
    "mapInPandas fold into (n, sum v, sum v v^T) partials (O(parts x "
    "d^2) reduce, corpus-size independent), never a posexplode^2 "
    "row-multiplier. Integer-quantized moments are exact, so every "
    "sum — and the one double-typed cov derivation, computed with the "
    "identical op sequence in both engines — hash-matches bit-for-bit. "
    "The oracle's v x dims x dims cross join is the smallness-bounded "
    "DuckDB re-derivation, not the Spark plan.",
    survey_refs=("LLM-sim",),
)
def embedding_pca_covariance_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blockchain_indexer_spark.operators.pca import covariance_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    return covariance_pairs(emb, "vec_id", "embedding", scale=1000, dim=64)


@register(
    "embedding_pca_project",
    oracle=None,
    doc="PCA projection onto the top-4 principal components (driver "
    "eigh over the collected O(d^2) moment summary; deterministic "
    "sign convention; one Arrow matmul per batch for the projection). "
    "Eigendecomposition is not SQL-expressible -> rows-only; "
    "tests/test_pca.py pins orthonormality, agreement with full-batch "
    "numpy PCA on the same quantized data, and per-component variance "
    "== eigenvalue. Whitening (unit component variance, the OPQ-style "
    "preconditioner for PQ/LSH) is the whiten=True variant of the "
    "same operator.",
    survey_refs=("LLM-sim",),
)
def embedding_pca_project_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blockchain_indexer_spark.operators.pca import pca_project

    emb = load_table(spark, sf_dir, "embeddings")
    out = pca_project(emb, "vec_id", "embedding", k=4, scale=1000)
    # Driver-gate schema: scalar pc_i columns, not array<double> — the
    # verification harness canonicalizes via pandas sort_values, which
    # cannot factorize list columns (r3: TypeError unhashable 'list').
    # Library callers keep the array-returning pca_project API.
    return out.select(
        "vec_id", *[F.col("pcs")[i].alias(f"pc_{i}") for i in range(4)]
    )


# ---------------------------------------------------------------------------
# BPE tokenizer training (operators/bpe.py). The oracle unrolls the
# training loop into per-merge CTE layers — the _kmeans_ctes recipe
# applied to BPE. Word = whitespace token (same normalization as
# doc_token_stats); symbols ride a DOUBLE-chr(31)-delimited string and
# each merge pattern consumes only the inner half of each boundary, so
# one `replace` per merge IS greedy leftmost BPE application including
# back-to-back merges in runs (identical left-to-right non-overlapping
# scan in Java and DuckDB; see operators/bpe.py module doc).
# ---------------------------------------------------------------------------

_BPE_WORDS0 = r"""
words0 AS (
  SELECT chr(31) || chr(31) || regexp_replace(w, '(.)', '\1' || chr(31) || chr(31), 'g') AS w,
         CAST(count(*) AS BIGINT) AS freq
  FROM (
    SELECT unnest(list_filter(string_split_regex(trim(lower(text)), '[ \t\n\x0b\f\r]+'),
                  x -> x <> '' AND NOT contains(x, chr(31)))) AS w
    FROM documents
  )
  GROUP BY 1
),
syms0 AS (SELECT freq, list_filter(string_split(w, chr(31)), x -> x <> '') AS sy FROM words0)"""


def _bpe_ctes(n_merges: int) -> str:
    """CTE chain learning `n_merges` merges: best1..best{n} each hold
    one (lhs, rhs, cnt) row, tie-broken (cnt DESC, lhs, rhs)."""
    parts = [_BPE_WORDS0]
    for i in range(1, n_merges + 1):
        p = i - 1
        parts.append(
            f"""
pairs{i} AS (
  SELECT sy[u.i] AS lhs, sy[u.i + 1] AS rhs, CAST(sum(freq) AS BIGINT) AS cnt
  FROM syms{p}, LATERAL unnest(range(1, len(sy))) u(i)
  GROUP BY 1, 2
),
best{i} AS (SELECT lhs, rhs, cnt FROM pairs{i} ORDER BY cnt DESC, lhs, rhs LIMIT 1),
words{i} AS (
  SELECT replace(w.w, chr(31) || b.lhs || chr(31) || chr(31) || b.rhs || chr(31),
                      chr(31) || b.lhs || b.rhs || chr(31)) AS w, w.freq
  FROM words{p} w CROSS JOIN best{i} b
),
syms{i} AS (SELECT freq, list_filter(string_split(w, chr(31)), x -> x <> '') AS sy FROM words{i})"""
        )
    return "WITH " + ",".join(parts)


def _bpe_merges_oracle(n_merges: int) -> str:
    unions = "\n    UNION ALL\n    ".join(
        f"SELECT CAST({i} AS INTEGER) AS rank, lhs, rhs, lhs || rhs AS merged, "
        f"cnt AS pair_count FROM best{i}"
        for i in range(1, n_merges + 1)
    )
    return f"{_bpe_ctes(n_merges)}\n    {unions}"


def _bpe_token_stats_oracle(n_merges: int) -> str:
    chain = r"chr(31) || chr(31) || regexp_replace(w, '(.)', '\1' || chr(31) || chr(31), 'g')"
    for i in range(1, n_merges + 1):
        chain = (
            f"replace({chain}, chr(31) || b{i}.lhs || chr(31) || chr(31) || b{i}.rhs || chr(31), "
            f"chr(31) || b{i}.lhs || b{i}.rhs || chr(31))"
        )
    joins = " ".join(f"CROSS JOIN best{i} b{i}" for i in range(1, n_merges + 1))
    return rf"""{_bpe_ctes(n_merges)}
    SELECT doc_id,
           CAST(COALESCE(len(list_filter(string_split_regex(trim(lower(text)), '[ \t\n\x0b\f\r]+'),
                x -> x <> '' AND NOT contains(x, chr(31)))), 0) AS BIGINT) AS n_words,
           CAST(COALESCE(list_sum(list_transform(
                list_filter(string_split_regex(trim(lower(text)), '[ \t\n\x0b\f\r]+'),
                            x -> x <> '' AND NOT contains(x, chr(31))),
                w -> length(w))), 0) AS BIGINT) AS n_word_chars,
           CAST(COALESCE(list_sum(list_transform(
                list_filter(string_split_regex(trim(lower(text)), '[ \t\n\x0b\f\r]+'),
                            x -> x <> '' AND NOT contains(x, chr(31))),
                w -> len(list_filter(string_split({chain}, chr(31)), s -> s <> '')))), 0) AS BIGINT)
             AS n_bpe_tokens
    FROM documents {joins}"""


# Train-once, tokenize-many: the merge list is the ARTIFACT the
# tokenize/vocab gates consume (same architecture as the chain spine:
# views read what ingest produced once). In-process memo keyed on the
# corpus file identity + merge count; doc_bpe_merges itself always
# trains fresh, so the training cost stays visible in the bench.
_BPE_MEMO: dict[tuple, list] = {}


def _bpe_merges_cached(spark: SparkSession, sf_dir: str, n_merges: int) -> list:
    import os  # noqa: PLC0415

    from blockchain_indexer_spark.operators.bpe import bpe_train  # noqa: PLC0415

    src = os.path.join(sf_dir, "documents.parquet")
    st = os.stat(src)
    key = (os.path.realpath(src), st.st_size, st.st_mtime_ns, n_merges)
    if key not in _BPE_MEMO:
        d = load_table(spark, sf_dir, "documents")
        _BPE_MEMO[key] = bpe_train(d, "text", n_merges=n_merges)
    return _BPE_MEMO[key]


@register(
    "doc_bpe_merges",
    oracle=_bpe_merges_oracle(8),
    doc="Distributed BPE tokenizer training (Sennrich 2016): 8 merges "
    "learned from the word-frequency table. ONE corpus pass (word "
    "count shuffle); every merge iteration runs on the vocab frame "
    "only — pair counts via a zip_with explode + groupBy(pair), "
    "argmax collects one row, the merge applies as a narrow replace "
    "projection. Exact integer counts + (cnt DESC, lhs, rhs) binary "
    "tie-break make every merge engine-reproducible; the oracle "
    "unrolls the loop into per-merge CTE layers.",
    survey_refs=("LLM-text",),
)
def doc_bpe_merges_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blockchain_indexer_spark.operators.bpe import bpe_train, merges_frame

    d = load_table(spark, sf_dir, "documents")
    return merges_frame(spark, bpe_train(d, "text", n_merges=8))


@register(
    "doc_bpe_token_stats",
    oracle=_bpe_token_stats_oracle(8),
    doc="Per-document token accounting under the 8 learned BPE merges: "
    "(n_words, n_word_chars, n_bpe_tokens). The merge rules become "
    "string literals in a transform lambda, so tokenization is a "
    "shuffle-free JVM projection over the corpus — the token-budget "
    "measurement a packing/pricing pipeline actually runs. The oracle "
    "re-learns the merges in SQL (same CTE chain as doc_bpe_merges) "
    "and tokenizes with the same replace chain.",
    survey_refs=("LLM-text",),
)
def doc_bpe_token_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blockchain_indexer_spark.operators.bpe import bpe_token_stats

    d = load_table(spark, sf_dir, "documents")
    return bpe_token_stats(d, "doc_id", "text", _bpe_merges_cached(spark, sf_dir, 8))


def _bpe_vocab_oracle(n_merges: int) -> str:
    return f"""{_bpe_ctes(n_merges)}
    SELECT u.token, CAST(sum(s.freq) AS BIGINT) AS freq
    FROM syms{n_merges} s, LATERAL unnest(s.sy) u(token)
    GROUP BY 1"""


@register(
    "doc_bpe_vocab",
    oracle=_bpe_vocab_oracle(8),
    doc="Final vocabulary under the 8 learned BPE merges: (token, "
    "freq) over the whole corpus — the artifact a tokenizer ships. "
    "Costs the one word-count corpus pass plus a vocab-sized "
    "explode/groupBy; exact integer frequencies.",
    survey_refs=("LLM-text",),
)
def doc_bpe_vocab_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blockchain_indexer_spark.operators.bpe import bpe_vocab

    d = load_table(spark, sf_dir, "documents")
    return bpe_vocab(d, "text", _bpe_merges_cached(spark, sf_dir, 8))


# ---------------------------------------------------------------------------
# Corpus-level text preparation (operators/textprep.py): CCNet-style
# boilerplate removal and deterministic BM25 retrieval. The testdata
# documents carry no newlines, so the GATE derives the repetition unit
# as 8-token windows ("paragraphs") identically in both engines; the
# operator itself takes any array<string> lines column (doc_lines for
# real newline text).
# ---------------------------------------------------------------------------

_TOKS_SQL = (
    r"list_filter(string_split_regex(trim(lower(text)), '[ \t\n\x0b\f\r]+'),"
    r" x -> x <> '')"
)


@register(
    "doc_boilerplate_scrub",
    oracle=rf"""
    WITH d0 AS (
      SELECT doc_id, source, {_TOKS_SQL} AS toks FROM documents
    ),
    d AS (
      SELECT doc_id, source,
             CASE WHEN toks IS NULL OR len(toks) = 0 THEN []
                  ELSE list_transform(
                         range(0, CAST(ceil(len(toks) / 8.0) AS BIGINT)),
                         i -> array_to_string(toks[i * 8 + 1 : i * 8 + 8], ' '))
             END AS lines
      FROM d0
    ),
    pos AS (
      SELECT doc_id, source, u.i, lines[u.i] AS line
      FROM d, LATERAL unnest(range(1, len(lines) + 1)) u(i)
    ),
    df AS (
      SELECT source, line, COUNT(DISTINCT doc_id) AS ldf
      FROM pos GROUP BY 1, 2
    ),
    gsize AS (SELECT source, COUNT(DISTINCT doc_id) AS gn FROM d GROUP BY 1),
    flagged AS (
      SELECT p.doc_id, p.source, p.i, p.line,
             df.ldf >= GREATEST(2, CAST(ceil(0.05 * g.gn) AS BIGINT)) AS boiler
      FROM pos p JOIN df USING (source, line) JOIN gsize g USING (source)
    ),
    agg AS (
      SELECT doc_id, source,
             CAST(COUNT(*) AS BIGINT) AS n_lines,
             CAST(SUM(CASE WHEN boiler THEN 1 ELSE 0 END) AS BIGINT)
               AS n_boiler_lines,
             md5(COALESCE(string_agg(CASE WHEN NOT boiler THEN line END,
                                     chr(10) ORDER BY i), '')) AS clean_md5
      FROM flagged GROUP BY 1, 2
    )
    SELECT d.doc_id, d.source,
           COALESCE(a.n_lines, 0) AS n_lines,
           COALESCE(a.n_boiler_lines, 0) AS n_boiler_lines,
           COALESCE(a.clean_md5, md5('')) AS clean_md5
    FROM d LEFT JOIN agg a USING (doc_id, source)
    """,
    doc="CCNet-style repeated-paragraph boilerplate scrub "
    "(operators.textprep.strip_boilerplate): a line is boilerplate "
    "within its source when >= max(2, 5% of source docs) DISTINCT "
    "documents contain it; surviving lines are rejoined in original "
    "order. The gate compares line counts AND md5(clean_text) — the "
    "rebuild must preserve exact content and ordering. Scale: one "
    "line-keyed df shuffle (xxhash64 line keys internally), one "
    "(group, line)-keyed verdict join (no broadcast of the boiler "
    "set), one doc-keyed ordered rebuild.",
    survey_refs=("LLM-text",),
)
def doc_boilerplate_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blockchain_indexer_spark.functions.text import tokens
    from blockchain_indexer_spark.operators.textprep import strip_boilerplate

    d = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    n_win = F.ceil(F.size(toks) / F.lit(8.0)).cast("int")
    lines = F.when(
        F.size(toks) > 0,
        F.transform(
            F.sequence(F.lit(0), n_win - 1),
            lambda i: F.array_join(F.slice(toks, i * 8 + 1, 8), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    with_lines = d.select("doc_id", "source", lines.alias("lines"))
    out = strip_boilerplate(
        with_lines, "doc_id", "lines", "source", min_docs=2, min_frac=0.05
    )
    return out.select(
        "doc_id",
        "source",
        "n_lines",
        "n_boiler_lines",
        F.md5(F.col("clean_text").cast("binary")).alias("clean_md5"),
    )


@register(
    "doc_bm25_topk",
    oracle=rf"""
    WITH d AS (
      SELECT doc_id, COALESCE({_TOKS_SQL}, []) AS toks FROM documents
    ),
    tok AS (SELECT doc_id, unnest(toks) AS term FROM d),
    tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
           FROM tok GROUP BY 1, 2),
    dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM tok GROUP BY 1),
    corpus AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                      CAST(SUM(len(toks)) AS BIGINT) AS s FROM d),
    dft AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
    q AS (
      SELECT doc_id AS query_id, unnest(list_sort(list_distinct(toks))[1:4]) AS term
      FROM d WHERE doc_id % 83 = 0 AND len(toks) >= 4
    ),
    hits AS (
      SELECT q.query_id, tf.doc_id, tf.tf, dft.df, dl.dl, c.n, c.s
      FROM q JOIN tf USING (term) JOIN dft USING (term)
             JOIN dl ON dl.doc_id = tf.doc_id
             CROSS JOIN corpus c
    ),
    scored AS (
      SELECT query_id, doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_hit_terms,
             CAST(SUM(CAST(floor(1e9 * (
               CAST(CAST(22 * s * tf * (2 * n - 2 * df + 1) AS BIGINT) AS DOUBLE)
               / CAST(CAST((10 * s * tf + 3 * s + 9 * dl * n) * (2 * df + 1)
                           AS BIGINT) AS DOUBLE)
             )) AS BIGINT)) AS BIGINT) AS score_nano
      FROM hits GROUP BY 1, 2
    )
    SELECT query_id, doc_id, CAST(rn AS BIGINT) AS rank, n_hit_terms, score_nano
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY score_nano DESC, doc_id) AS rn
          FROM scored)
    WHERE rn <= 5
    """,
    doc="BM25 top-5 retrieval (operators.textprep.bm25_topk) for a "
    "query set derived from every 83rd document (its 4 "
    "lexicographically-first distinct tokens — list_distinct order is "
    "engine-dependent, sorted order is not). Scoring is the "
    "integer-scaled log-free BM25: each term contributes "
    "floor(1e9 * ratio-of-exact-BIGINT-products), so per-doc scores "
    "are ORDER-FREE integer sums and rank ties break on doc_id — "
    "bit-identical across engines (the ln-idf production variant is "
    "tests-covered; ln differs by ulps across libms). Scale: "
    "inverted-index term join, never doc x query; one window per "
    "query partition for the top-k.",
    survey_refs=("LLM-text", "W1"),
)
def doc_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blockchain_indexer_spark.functions.text import tokens
    from blockchain_indexer_spark.operators.textprep import bm25_topk

    d = load_table(spark, sf_dir, "documents")
    base = d.select(
        "doc_id", F.coalesce(tokens("text"), F.array().cast("array<string>")).alias("toks")
    )
    queries = (
        base.filter((F.col("doc_id") % 83 == 0) & (F.size("toks") >= 4))
        .select(
            F.col("doc_id").alias("query_id"),
            F.explode(F.slice(F.array_sort(F.array_distinct("toks")), 1, 4)).alias(
                "term"
            ),
        )
    )
    return bm25_topk(base, queries, k=5, tokens_col="toks")


@register(
    "doc_token_budget_sample",
    oracle=r"""
    WITH t AS (
      SELECT doc_id, source,
             CAST(len(list_filter(string_split_regex(trim(lower(text)), '[ \t\n\x0b\f\r]+'), x -> x <> '')) AS BIGINT)
               AS n_tokens
      FROM documents
    ),
    c AS (
      SELECT doc_id, source, n_tokens,
             CAST(COALESCE(SUM(n_tokens) OVER (
               PARTITION BY source ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS cum_before
      FROM t
    )
    SELECT doc_id, source, n_tokens, cum_before
    FROM c WHERE cum_before < 600
    """,
    doc="Per-source TOKEN-budget sampling (operators.sampling."
    "token_budget_sample): documents taken in md5(doc_id) order until "
    "each source has ~600 tokens — the unit a training-mixture spec "
    "is written in, where a per-document quota would skew toward "
    "short-document sources. Take-while-crossing boundary (kept iff "
    "cumulative tokens BEFORE it are under budget, so at most one "
    "overshooting doc). One group-keyed window sort; integer token "
    "sums are engine-exact. The windowed SUM is CAST to BIGINT in the "
    "oracle — DuckDB types it HUGEINT, which lands in pandas as "
    "float64 and hash-diverges from Spark's int64 (the "
    "doc_chunk_packing r3 lesson, applied at authoring time).",
    survey_refs=("LLM-sample", "W2"),
)
def doc_token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blockchain_indexer_spark.operators.sampling import token_budget_sample

    d = load_table(spark, sf_dir, "documents")
    base = d.select("doc_id", "source", token_count("text").alias("n_tokens"))
    return token_budget_sample(base, "source", "doc_id", "n_tokens", budget=600)


@register(
    "doc_bigram_fluency",
    oracle=rf"""
    WITH d AS (
      SELECT doc_id, COALESCE({_TOKS_SQL}, []) AS toks FROM documents
    ),
    bg AS (
      SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
      FROM d, UNNEST(range(1, len(toks))) AS r(i)
    ),
    tbg AS (SELECT w1, w2 FROM bg WHERE doc_id % 2 = 0),
    c2 AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c2 FROM tbg GROUP BY 1, 2),
    c1 AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS c1 FROM tbg GROUP BY 1),
    v AS (SELECT CAST(COUNT(DISTINCT t) AS BIGINT) AS v
          FROM (SELECT unnest(toks) AS t FROM d WHERE doc_id % 2 = 0)),
    scored AS (
      SELECT bg.doc_id,
             CAST(floor(1e12 * (CAST(COALESCE(c2.c2, 0) + 1 AS DOUBLE)
                                / CAST(COALESCE(c1.c1, 0) + v.v AS DOUBLE)))
                  AS BIGINT) AS p_nano,
             CASE WHEN c2.c2 IS NULL THEN 1 ELSE 0 END AS oov
      FROM bg LEFT JOIN c2 USING (w1, w2) LEFT JOIN c1 USING (w1) CROSS JOIN v
    ),
    agg AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             CAST(SUM(oov) AS BIGINT) AS n_oov,
             CAST(SUM(p_nano) AS BIGINT) AS p_sum
      FROM scored GROUP BY 1
    )
    SELECT d.doc_id,
           COALESCE(agg.n_bigrams, 0) AS n_bigrams,
           COALESCE(agg.n_oov, 0) AS n_oov,
           CASE WHEN agg.n_bigrams > 0 THEN agg.p_sum // agg.n_bigrams
                ELSE 0 END AS fluency_nano
    FROM d LEFT JOIN agg USING (doc_id)
    """,
    doc="Bigram-LM fluency scoring (operators.lm.bigram_fluency) — the "
    "CCNet-style quality filter: an add-one-smoothed bigram LM is "
    "trained on the even-doc_id half of the corpus (the stand-in for "
    "a trusted reference corpus) and EVERY document is scored by its "
    "mean smoothed conditional probability plus its unseen-bigram "
    "count. Integer-deterministic by the BM25 pattern: each bigram's "
    "p=(c2+1)/(c1+V) is one IEEE division scaled floor(1e12*p) into "
    "a BIGINT before any SUM, so scores hash-match DuckDB exactly. "
    "Token-keyed joins; both count tables are post-aggregation so AQE broadcasts "
    "them at moderate scale and skew-splits beyond.",
    survey_refs=("LLM-text",),
)
def doc_bigram_fluency(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blockchain_indexer_spark.functions.text import tokens
    from blockchain_indexer_spark.operators.lm import bigram_fluency

    d = load_table(spark, sf_dir, "documents")
    base = spread(d, "doc_id").select(
        "doc_id",
        F.coalesce(tokens("text"), F.array().cast("array<string>")).alias("toks"),
    )
    train = base.filter(F.col("doc_id") % 2 == 0)
    return bigram_fluency(base, train)


@register(
    "doc_trigram_fluency",
    oracle=rf"""
    WITH d AS (
      SELECT doc_id, COALESCE({_TOKS_SQL}, []) AS toks FROM documents
    ),
    tg AS (
      SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2, toks[i + 2] AS w3
      FROM d, UNNEST(range(1, len(toks) - 1)) AS r(i)
    ),
    ttg AS (SELECT w1, w2, w3 FROM tg WHERE doc_id % 2 = 0),
    c3 AS (SELECT w1, w2, w3, CAST(COUNT(*) AS BIGINT) AS c3
           FROM ttg GROUP BY 1, 2, 3),
    c2ctx AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c2ctx
              FROM ttg GROUP BY 1, 2),
    bgr AS (
      SELECT toks[i] AS w2, toks[i + 1] AS w3
      FROM d, UNNEST(range(1, len(toks))) AS r(i)
      WHERE doc_id % 2 = 0
    ),
    c2p AS (SELECT w2, w3, CAST(COUNT(*) AS BIGINT) AS c2p
            FROM bgr GROUP BY 1, 2),
    uni AS (SELECT t AS w, CAST(COUNT(*) AS BIGINT) AS c1
            FROM (SELECT unnest(toks) AS t FROM d WHERE doc_id % 2 = 0)
            GROUP BY 1),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n
           FROM (SELECT unnest(toks) AS t FROM d WHERE doc_id % 2 = 0)),
    scored AS (
      SELECT tg.doc_id,
             CAST(floor(1e12 * (CASE
               WHEN c3.c3 IS NOT NULL
                 THEN CAST(c3.c3 AS DOUBLE) / CAST(c2ctx.c2ctx AS DOUBLE)
               WHEN c2p.c2p IS NOT NULL
                 THEN CAST(2 * c2p.c2p AS DOUBLE) / CAST(5 * u2.c1 AS DOUBLE)
               ELSE CAST(4 * COALESCE(u3.c1, 0) AS DOUBLE)
                    / CAST(25 * nn.n AS DOUBLE)
             END)) AS BIGINT) AS s_nano,
             CASE WHEN c3.c3 IS NULL AND c2p.c2p IS NOT NULL THEN 1 ELSE 0 END
               AS bo1,
             CASE WHEN c3.c3 IS NULL AND c2p.c2p IS NULL THEN 1 ELSE 0 END
               AS bo2
      FROM tg
      LEFT JOIN c3 USING (w1, w2, w3)
      LEFT JOIN c2ctx USING (w1, w2)
      LEFT JOIN c2p USING (w2, w3)
      LEFT JOIN uni u2 ON u2.w = tg.w2
      LEFT JOIN uni u3 ON u3.w = tg.w3
      CROSS JOIN nn
    ),
    agg AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_trigrams,
             CAST(SUM(bo1) AS BIGINT) AS n_backoff_bigram,
             CAST(SUM(bo2) AS BIGINT) AS n_backoff_unigram,
             CAST(SUM(s_nano) AS BIGINT) AS s_sum
      FROM scored GROUP BY 1
    )
    SELECT d.doc_id,
           COALESCE(agg.n_trigrams, 0) AS n_trigrams,
           COALESCE(agg.n_backoff_bigram, 0) AS n_backoff_bigram,
           COALESCE(agg.n_backoff_unigram, 0) AS n_backoff_unigram,
           CASE WHEN agg.n_trigrams > 0 THEN agg.s_sum // agg.n_trigrams
                ELSE 0 END AS fluency_nano
    FROM d LEFT JOIN agg USING (doc_id)
    """,
    doc="Trigram LM with STUPID BACKOFF (operators.lm."
    "trigram_fluency_backoff; Brants et al. EMNLP 2007): every "
    "document scored under a trigram model trained on the even-"
    "doc_id half — seen trigram scores c3/c2ctx, else 0.4 x the "
    "bigram ratio, else 0.16 x the unigram ratio — with the per-doc "
    "backoff-level split (n_backoff_bigram/unigram) as the unseen-"
    "mass signal the bigram gate's single n_oov can't resolve. "
    "Integer-deterministic: the backoff factor is kept RATIONAL "
    "(0.4 = 2/5, 0.16 = 4/25) so every level is one IEEE division "
    "of exact integers, floor(1e12*s)-scaled to BIGINT before any "
    "SUM. Count tables are map-side-combined aggs over the exploded "
    "n-gram frames; scoring joins are token-keyed against post-"
    "aggregation tables (AQE broadcast / skew-split); N rides a "
    "broadcast one-row cross join.",
    survey_refs=("LLM-text",),
)
def doc_trigram_fluency(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blockchain_indexer_spark.functions.text import tokens
    from blockchain_indexer_spark.operators.lm import trigram_fluency_backoff

    d = load_table(spark, sf_dir, "documents")
    base = spread(d, "doc_id").select(
        "doc_id",
        F.coalesce(tokens("text"), F.array().cast("array<string>")).alias("toks"),
    )
    train = base.filter(F.col("doc_id") % 2 == 0)
    return trigram_fluency_backoff(base, train)


@register(
    "corpus_cms_heavy_hitters",
    oracle=rf"""
    WITH tok AS (
      SELECT unnest({_TOKS_SQL}) AS token FROM documents
    ),
    exact AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS exact_count
      FROM tok GROUP BY 1
    ),
    top AS (
      SELECT token, exact_count,
             CAST(row_number() OVER (ORDER BY exact_count DESC, token)
                  AS BIGINT) AS rank
      FROM exact
      ORDER BY exact_count DESC, token LIMIT 20
    ),
    cells AS (
      SELECT r.x AS row,
             CAST(('0x' || substr(md5(r.x || ':' || token), 1, 15)) AS BIGINT)
               % 1024 AS bucket,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM tok, UNNEST(range(0, 4)) AS r(x)
      GROUP BY 1, 2
    ),
    est AS (
      SELECT t.token,
             CAST(MIN(COALESCE(c.cnt, 0)) AS BIGINT) AS cms_count
      FROM (SELECT token, r.x AS row,
                   CAST(('0x' || substr(md5(r.x || ':' || token), 1, 15)) AS BIGINT)
                     % 1024 AS bucket
            FROM top, UNNEST(range(0, 4)) AS r(x)) t
      LEFT JOIN cells c USING (row, bucket)
      GROUP BY 1
    )
    SELECT top.token, top.rank, top.exact_count, est.cms_count,
           est.cms_count - top.exact_count AS cms_overcount
    FROM top JOIN est USING (token)
    """,
    doc="Count-min-sketch heavy hitters (operators.sketch): 4x1024 "
    "integer cells built with ONE map-side-combined groupBy over the "
    "token stream (the exchange carries at most depth*width rows per "
    "partition, independent of corpus size), point estimates by "
    "broadcasting the finished cells — the mergeable-sketch posture "
    "of the HLL/KLL gates extended to FREQUENCY queries. The gate "
    "returns the exact top-20 tokens (the exact twin) beside their "
    "sketch estimates; bucket hashing is the md5-prefix idiom, so "
    "cells, minima and overcounts are oracle-checked hash-exactly, "
    "and cms_overcount >= 0 is the structural one-sided guarantee.",
    survey_refs=("LLM-text", "A7"),
)
def corpus_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blockchain_indexer_spark.functions.text import tokens
    from blockchain_indexer_spark.operators.sketch import cms_heavy_hitters

    d = load_table(spark, sf_dir, "documents")
    tok = spread(d, "doc_id").select(F.explode(tokens("text")).alias("token"))
    # md5_60 = the oracle-portable twin; production callers default to
    # xxhash64 (~3x cheaper — the hash dominates the build cost)
    return cms_heavy_hitters(tok, "token", k=20, depth=4, width=1024, hash_fn="md5_60")


_PERCEPTRON_CTES = rf"""
    WITH d AS (
      SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS y,
             COALESCE({_TOKS_SQL}, []) AS toks
      FROM documents
    ),
    f AS (
      SELECT doc_id, y,
             CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) % 256 AS bucket,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM (SELECT doc_id, y, unnest(toks) AS t FROM d)
      GROUP BY 1, 2, 3
    ),
    w1 AS (
      -- epoch 1 from w=0: margin 0 everywhere, every doc misclassified,
      -- so the update is the full class-difference count vector
      SELECT bucket, CAST(SUM(y * cnt) AS BIGINT) AS weight
      FROM f GROUP BY 1
    ),
    m2 AS (
      SELECT f.doc_id, f.y,
             CAST(SUM(f.cnt * COALESCE(w1.weight, 0)) AS BIGINT) AS m
      FROM f LEFT JOIN w1 USING (bucket) GROUP BY 1, 2
    ),
    d2 AS (
      SELECT bucket, CAST(SUM(y * cnt) AS BIGINT) AS dlt
      FROM f
      WHERE doc_id IN (SELECT doc_id FROM m2 WHERE y * m <= 0)
      GROUP BY 1
    ),
    w2 AS (
      SELECT b.bucket,
             CAST(COALESCE(w1.weight, 0) + COALESCE(d2.dlt, 0) AS BIGINT) AS weight
      FROM (SELECT unnest(range(0, 256)) AS bucket) b
      LEFT JOIN w1 USING (bucket) LEFT JOIN d2 USING (bucket)
    )
"""


@register(
    "corpus_perceptron_weights",
    oracle=_PERCEPTRON_CTES
    + """
    SELECT bucket, weight FROM w2
    """,
    doc="Distributed linear-classifier TRAINING (operators.linear."
    "perceptron_train): a batch perceptron over md5-hashed "
    "bag-of-words counts (256 buckets), 2 full epochs from zero "
    "weights, labels y=+1 for lang='en'. The integer-deterministic "
    "twin of a fastText-style quality/domain filter — every margin, "
    "misclassification set and weight update is exact int64, so the "
    "DuckDB oracle replays training as an unrolled per-epoch CTE "
    "(the BPE-merge oracle pattern) and the final weight table "
    "hash-matches. Scale: O(epochs) passes over a checkpointed "
    "feature frame; the weight table stays 256 rows and broadcasts.",
    survey_refs=("LLM-text",),
)
def corpus_perceptron_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blockchain_indexer_spark.functions.text import tokens
    from blockchain_indexer_spark.operators.linear import hashed_features, perceptron_train

    d = load_table(spark, sf_dir, "documents")
    base = spread(d, "doc_id").select(
        "doc_id",
        F.when(F.col("lang") == "en", F.lit(1)).otherwise(F.lit(-1)).cast("long").alias("y"),
        F.coalesce(tokens("text"), F.array().cast("array<string>")).alias("toks"),
    )
    feats = hashed_features(base, n_buckets=256, hash_fn="md5_60")
    return perceptron_train(feats, epochs=2, n_buckets=256)


@register(
    "doc_perceptron_margin",
    oracle=_PERCEPTRON_CTES
    + """
    SELECT f.doc_id, f.y,
           CAST(SUM(f.cnt * COALESCE(w2.weight, 0)) AS BIGINT) AS margin,
           f.y * CAST(SUM(f.cnt * COALESCE(w2.weight, 0)) AS BIGINT) > 0 AS correct
    FROM f LEFT JOIN w2 USING (bucket)
    GROUP BY 1, 2
    """,
    doc="Scoring every document under the trained perceptron "
    "(operators.linear.perceptron_score): integer margin via one "
    "bucket-keyed join against the broadcast 256-row weight table + "
    "one doc-keyed sum — the filter-application pass of the quality-"
    "classifier pipeline, exact int64 end to end.",
    survey_refs=("LLM-text",),
)
def doc_perceptron_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blockchain_indexer_spark.functions.text import tokens
    from blockchain_indexer_spark.operators.linear import (
        hashed_features,
        perceptron_score,
        perceptron_train,
    )

    d = load_table(spark, sf_dir, "documents")
    base = spread(d, "doc_id").select(
        "doc_id",
        F.when(F.col("lang") == "en", F.lit(1)).otherwise(F.lit(-1)).cast("long").alias("y"),
        F.coalesce(tokens("text"), F.array().cast("array<string>")).alias("toks"),
    )
    feats = hashed_features(base, n_buckets=256, hash_fn="md5_60").localCheckpoint(eager=True)
    w = perceptron_train(feats, epochs=2, n_buckets=256)
    return perceptron_score(feats, w)


@register(
    "doc_perceptron_calibration",
    oracle=_PERCEPTRON_CTES
    + """
    , sc AS (
      SELECT f.doc_id, f.y,
             CAST(SUM(f.cnt * COALESCE(w2.weight, 0)) AS BIGINT) AS margin
      FROM f LEFT JOIN w2 USING (bucket)
      GROUP BY 1, 2
    ),
    t AS (
      SELECT y, margin,
             CAST(ntile(10) OVER (ORDER BY margin, doc_id) AS BIGINT) AS tile
      FROM sc
    )
    SELECT tile,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
           CAST(SUM(CASE WHEN y * margin > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_correct,
           CAST(MIN(margin) AS BIGINT) AS min_margin,
           CAST(MAX(margin) AS BIGINT) AS max_margin,
           CAST(SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
             AS pos_rate,
           CAST(SUM(CASE WHEN y * margin > 0 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS correct_rate
    FROM t GROUP BY 1
    """,
    doc="Classifier CALIBRATION buckets (operators.linear."
    "margin_calibration): every scored document ranked by integer "
    "margin into 10 equal-count tiles (NTILE, ties broken by doc_id "
    "so both engines tile identically), then per tile the positive-"
    "label rate and correct-prediction rate beside the margin "
    "extremes — the estimate-vs-truth drift monitor that completes "
    "the classifier stack the way minhash_estimate_calibration "
    "completes dedup. A calibrated filter shows pos_rate rising "
    "monotonely with margin; a flat curve means the margins carry no "
    "signal. Counts are exact int64; the two rates are single IEEE "
    "divisions of integers. The exact-NTILE tiling is the oracle "
    "twin (one total sort); production swaps in fixed-width margin "
    "bins (map-only, same schema) — documented in the operator.",
    survey_refs=("LLM-text",),
)
def doc_perceptron_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blockchain_indexer_spark.functions.text import tokens
    from blockchain_indexer_spark.operators.linear import (
        hashed_features,
        margin_calibration,
        perceptron_score,
        perceptron_train,
    )

    d = load_table(spark, sf_dir, "documents")
    base = spread(d, "doc_id").select(
        "doc_id",
        F.when(F.col("lang") == "en", F.lit(1)).otherwise(F.lit(-1)).cast("long").alias("y"),
        F.coalesce(tokens("text"), F.array().cast("array<string>")).alias("toks"),
    )
    feats = hashed_features(base, n_buckets=256, hash_fn="md5_60").localCheckpoint(eager=True)
    w = perceptron_train(feats, epochs=2, n_buckets=256)
    return margin_calibration(perceptron_score(feats, w), n_buckets=10)


@register(
    "doc_intra_dedup",
    oracle=rf"""
    WITH d0 AS (
      SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
    ),
    d AS (
      SELECT doc_id,
             CASE WHEN toks IS NULL OR len(toks) = 0 THEN []
                  ELSE list_transform(
                         range(0, CAST(ceil(len(toks) / 8.0) AS BIGINT)),
                         i -> array_to_string(toks[i * 8 + 1 : i * 8 + 8], ' '))
             END AS lines
      FROM d0
    ),
    pos AS (
      SELECT doc_id, u.i, lines[u.i] AS line
      FROM d, LATERAL unnest(range(1, len(lines) + 1)) u(i)
    ),
    firsts AS (
      SELECT doc_id, line, MIN(i) AS fi FROM pos GROUP BY 1, 2
    ),
    agg AS (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_unique_lines,
             md5(string_agg(line, chr(10) ORDER BY fi)) AS clean_md5
      FROM firsts GROUP BY 1
    )
    SELECT d.doc_id,
           CAST(len(d.lines) AS BIGINT) AS n_lines,
           COALESCE(a.n_unique_lines, 0) AS n_unique_lines,
           COALESCE(a.clean_md5, md5('')) AS clean_md5
    FROM d LEFT JOIN agg a USING (doc_id)
    """,
    doc="INTRA-document repeated-paragraph dedup (operators.textprep."
    "dedup_doc_lines) over 8-token windows: each repeated window "
    "keeps its first occurrence, order otherwise preserved — the "
    "within-doc half of repeated-text removal (doc_boilerplate_scrub "
    "is the cross-doc half; production pipelines run both). The "
    "Spark side is one shuffle-FREE JVM projection (array_distinct "
    "preserves first-occurrence order); the oracle rebuilds the same "
    "text via MIN(position) per line. clean_md5 pins the rebuilt "
    "text byte-for-byte.",
    survey_refs=("LLM-text",),
)
def doc_intra_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blockchain_indexer_spark.functions.text import tokens
    from blockchain_indexer_spark.operators.textprep import dedup_doc_lines

    d = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    n_win = F.ceil(F.size(toks) / F.lit(8.0)).cast("int")
    lines = F.when(
        toks.isNull() | (F.size(toks) == 0), F.array().cast("array<string>")
    ).otherwise(
        F.transform(
            F.sequence(F.lit(0), n_win - 1),
            lambda i: F.array_join(F.slice(toks, i * 8 + 1, 8), " "),
        )
    )
    base = spread(d, "doc_id").select("doc_id", lines.alias("lines"))
    out = dedup_doc_lines(base)
    return out.select(
        "doc_id",
        "n_lines",
        "n_unique_lines",
        F.md5(F.col("clean_text")).alias("clean_md5"),
    )


@register(
    "doc_cluster_best",
    oracle="WITH RECURSIVE "
    + _JACC_CC_CTES
    + """,
    labeled AS (
      SELECT d.doc_id, COALESCE(c.cluster, d.doc_id) AS cluster,
             d.n_chars AS score
      FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
    )
    SELECT doc_id, cluster, score,
           ROW_NUMBER() OVER (PARTITION BY cluster
                              ORDER BY score DESC NULLS LAST, doc_id) = 1
             AS keep
    FROM labeled
    """,
    doc="Quality-aware dedup verdict (operators.cluster."
    "cluster_representatives): same transitive-closure clusters as "
    "doc_dedup_clusters, but each cluster keeps its LONGEST member "
    "(n_chars argmax, ties to the smallest id) — the production "
    "'keep the best copy' policy (Gopher/RefinedWeb style) rather "
    "than the arbitrary-but-stable min-id one. The oracle replays "
    "the recursive-CTE closure plus a window argmax.",
    survey_refs=("LLM-dedup", "W1"),
)
def doc_cluster_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blockchain_indexer_spark.operators.cluster import cluster_representatives

    d = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(
        d, "doc_id", "text", k=3, threshold=0.2, max_doc_freq=100
    ).select("doc_a", "doc_b")
    return cluster_representatives(d, pairs, "doc_id", "n_chars").select(
        F.col("id").alias("doc_id"), "cluster", "score", "keep"
    )


@register(
    "doc_shard_plan",
    oracle="""
    WITH h AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 8))
                  AS BIGINT) AS h
      FROM documents
    )
    SELECT doc_id,
           CAST(h % 8 AS BIGINT) AS shard,
           CAST(ROW_NUMBER() OVER (PARTITION BY h % 8 ORDER BY h, doc_id)
                AS BIGINT) AS pos
    FROM h
    """,
    doc="Deterministic global training-order shuffle "
    "(operators.sampling.shard_plan): every document placed at "
    "(shard, pos) by the uniform md5 permutation — reading shards in "
    "(shard, pos) order IS the full permutation because the shard is "
    "a function of the same hash. ONE hash exchange + per-shard local "
    "sort replaces the global range-exchange a naive ORDER BY "
    "md5(id) would cost on 100 TB; a new salt is a fresh epoch "
    "permutation at the same price. Oracle replays the md5 bucket "
    "arithmetic (hash_bucket idiom).",
    survey_refs=("LLM-sample", "W1"),
)
def doc_shard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blockchain_indexer_spark.operators.sampling import shard_plan

    d = load_table(spark, sf_dir, "documents")
    return shard_plan(d.select("doc_id"), "doc_id", n_shards=8).select(
        "doc_id", "shard", "pos"
    )


@register(
    "embedding_knn_triangles",
    oracle="""
    WITH vq0 AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
      FROM embeddings
    ),
    vq AS (SELECT * FROM vq0 WHERE list_sum(list_transform(v, x -> x * x)) > 0),
    scored AS (
      SELECT a.vec_id AS q, b.vec_id AS n,
             CAST(list_sum(list_transform(range(1, len(a.v) + 1), i -> CAST(a.v[i] * b.v[i] AS DOUBLE)))
                  / sqrt(CAST(list_sum(list_transform(a.v, x -> CAST(x * x AS DOUBLE))) AS DOUBLE)
                         * CAST(list_sum(list_transform(b.v, x -> CAST(x * x AS DOUBLE))) AS DOUBLE))
                  AS DOUBLE) AS score
      FROM vq a JOIN vq b ON a.vec_id != b.vec_id
    ),
    topk AS (
      SELECT q, n FROM (SELECT *, row_number() OVER (PARTITION BY q
                                                     ORDER BY score DESC, n) AS rn
                        FROM scored)
      WHERE rn <= 5
    ),
    mut AS (
      SELECT t1.q AS a, t1.n AS b
      FROM topk t1 JOIN topk t2 ON t1.q = t2.n AND t1.n = t2.q
      WHERE t1.q < t1.n
    ),
    deg AS (
      SELECT id, CAST(COUNT(*) AS BIGINT) AS degree FROM (
        SELECT a AS id FROM mut UNION ALL SELECT b FROM mut
      ) GROUP BY id
    ),
    tri AS (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM mut e1
      JOIN mut e2 ON e2.a = e1.b
      JOIN mut e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    cnt AS (
      SELECT id, CAST(COUNT(*) AS BIGINT) AS n_tri FROM (
        SELECT x AS id FROM tri
        UNION ALL SELECT y FROM tri
        UNION ALL SELECT z FROM tri
      ) GROUP BY id
    )
    SELECT c.id AS vec_id, d.degree, c.n_tri,
           (2.0 * c.n_tri) / (d.degree * (d.degree - 1)) AS clustering
    FROM cnt c JOIN deg d ON d.id = c.id
    """,
    doc="Per-vertex triangle count + local clustering coefficient of "
    "the mutual-5-NN quantized-cosine graph (operators.similarity."
    "mutual_knn_graph -> operators.cluster.triangle_counts) — the "
    "structural coherence diagnostic for an embedding corpus. The "
    "Spark side counts by degree-ordered orientation (wedge join "
    "bounded O(m^1.5), skew-safe); the oracle re-enumerates "
    "triangles by the id-ordered 3-way join — a DIFFERENT "
    "enumeration whose per-vertex counts must agree exactly. Both "
    "coefficient factors are exact integers, so the one double "
    "division is engine-identical.",
    survey_refs=("LLM-sim", "J6"),
)
def embedding_knn_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blockchain_indexer_spark.operators.cluster import triangle_counts
    from blockchain_indexer_spark.operators.similarity import mutual_knn_graph

    emb = load_table(spark, sf_dir, "embeddings")
    g = mutual_knn_graph(emb, "vec_id", "embedding", k=5)
    return triangle_counts(g, "src", "dst").select(
        F.col("id").alias("vec_id"), "degree", "n_tri", "clustering"
    )


@register(
    "doc_cross_repeat_spans",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split_regex(trim(lower(text)), '[ \t\n\x0b\f\r]+'), x -> x <> '') AS t FROM documents
    ),
    w AS (
      SELECT DISTINCT doc_id,
             array_to_string(list_slice(t, i, i + 7), ' ') AS h
      FROM toks, UNNEST(range(1, len(t) - 6)) AS r(i)
      WHERE len(t) >= 8
    ),
    shared AS (SELECT h FROM w GROUP BY h HAVING COUNT(*) >= 2),
    per AS (
      SELECT w.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_windows,
             CAST(COUNT(s.h) AS BIGINT) AS n_repeated
      FROM w LEFT JOIN shared s ON s.h = w.h
      GROUP BY w.doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(p.n_windows, 0) AS BIGINT) AS n_windows,
           CAST(COALESCE(p.n_repeated, 0) AS BIGINT) AS n_repeated,
           CASE WHEN COALESCE(p.n_windows, 0) = 0 THEN 0.0
                ELSE CAST(p.n_repeated AS DOUBLE) / p.n_windows
           END AS repeat_frac
    FROM documents d LEFT JOIN per p ON p.doc_id = d.doc_id
    """,
    doc="Cross-document exact repeated-span detection (operators."
    "dedup.cross_repeat_spans): every 8-token sliding window hashed "
    "(xxhash64; oracle groups raw window strings — counts are "
    "hash-agnostic), windows present in >= 2 distinct documents are "
    "corpus boilerplate; per doc, the distinct/shared window counts "
    "and shared fraction — Lee et al.'s exact-substring dedup "
    "criterion at token-window granularity, complementing whole-doc "
    "fingerprints (too coarse) and needle decontamination (needs a "
    "known needle set). Cost is O(total tokens): shuffle-free window "
    "construction, two uniform-key hash aggregations.",
    survey_refs=("LLM-dedup", "LLM-text"),
)
def doc_cross_repeat_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blockchain_indexer_spark.operators.dedup import cross_repeat_spans

    d = load_table(spark, sf_dir, "documents")
    return cross_repeat_spans(d, "doc_id", "text", k=8).select(
        F.col("id").alias("doc_id"), "n_windows", "n_repeated", "repeat_frac"
    )


@register(
    "doc_winnowing",
    oracle=r"""
    WITH cs AS (
      SELECT doc_id,
             COALESCE(trim(regexp_replace(lower(text), '[ \t\n\x0b\f\r]+', ' ', 'g')), '') AS norm
      FROM documents
    ),
    gr AS (
      SELECT doc_id,
             CASE WHEN length(norm) < 16 THEN CAST([] AS BIGINT[])
                  ELSE list_transform(range(1, length(norm) - 14),
                         i -> list_reduce(
                                list_transform(list_slice(string_split_regex(norm, ''), i, i + 15),
                                               c -> CAST(ord(c) AS BIGINT)),
                                (a, b) -> (a * 131 + b) % 2147483647))
             END AS g
      FROM cs
    ),
    win AS (
      SELECT doc_id, g, len(g) AS n,
             greatest(len(g) - 3, least(len(g), 1)) AS n_win
      FROM gr
    ),
    pk AS (
      SELECT doc_id, g, n,
             CASE WHEN n_win < 1 THEN CAST([] AS BIGINT[])
                  ELSE list_transform(range(1, n_win + 1),
                         j -> CAST(j + len(list_slice(g, j, j + 3))
                                   - list_position(list_reverse(list_slice(g, j, j + 3)),
                                                   list_min(list_slice(g, j, j + 3)))
                              AS BIGINT))
             END AS picks
      FROM win
    ),
    sl AS (
      SELECT doc_id, g, n,
             list_filter(picks, (p, idx) -> idx = 1 OR p <> picks[idx - 1]) AS sel
      FROM pk
    )
    SELECT doc_id,
           CAST(n AS BIGINT) AS n_grams,
           CAST(len(sel) AS BIGINT) AS n_selected,
           md5(array_to_string(list_transform(sel, p -> CAST(g[p] AS VARCHAR)), ',')) AS fp_md5
    FROM sl
    """,
    doc="Winnowing fingerprint sketch (operators.dedup."
    "winnow_fingerprints; Schleimer/Wilkerson/Aiken MOSS): rightmost "
    "minimum of every 4-window over the 16-char-gram polynomial "
    "hashes, consecutive-duplicate-dropped (pick positions are "
    "provably non-decreasing). fp_md5 digests the selected hashes in "
    "position order, so the driver hash pins the exact sketch. One "
    "shuffle-free JVM projection; the oracle mirrors it "
    "list-op-for-list-op including the sub-window degradation for "
    "0 < n_grams < 4.",
    survey_refs=("LLM-dedup", "LLM-text"),
)
def doc_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blockchain_indexer_spark.operators.dedup import winnow_fingerprints

    d = load_table(spark, sf_dir, "documents")
    return winnow_fingerprints(d, "doc_id", "text", k=16, w=4).select(
        F.col("id").alias("doc_id"), "n_grams", "n_selected", "fp_md5"
    )


@register(
    "ngram_containment_near_dups",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split_regex(trim(lower(text)), '[ \t\n\x0b\f\r]+'), x -> x <> '') AS t FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
      FROM toks, UNNEST(range(1, len(t) - 1)) AS r(i)
      WHERE len(t) >= 3
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    kept AS (
      SELECT sh.* FROM sh
      JOIN (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= 100) f
        USING (shingle)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM kept a JOIN kept b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    ),
    common AS (
      SELECT c.doc_a, c.doc_b, CAST(COUNT(*) AS BIGINT) AS n_common
      FROM cand c
      JOIN sh x ON x.doc_id = c.doc_a
      JOIN sh y ON y.doc_id = c.doc_b AND y.shingle = x.shingle
      GROUP BY 1, 2
    )
    SELECT c.doc_a, c.doc_b, c.n_common,
           CAST(c.n_common AS DOUBLE) / sa.n_sh AS cont_a,
           CAST(c.n_common AS DOUBLE) / sb.n_sh AS cont_b
    FROM common c
    JOIN sizes sa ON sa.doc_id = c.doc_a
    JOIN sizes sb ON sb.doc_id = c.doc_b
    WHERE greatest(CAST(c.n_common AS DOUBLE) / sa.n_sh,
                   CAST(c.n_common AS DOUBLE) / sb.n_sh) >= 0.5
    """,
    doc="Asymmetric containment near-dups (operators.dedup."
    "ngram_containment_pairs): pairs where either direction of "
    "Broder containment |A∩B|/|A| clears 0.5 — the quote/embed "
    "detector a jaccard threshold structurally misses when sizes are "
    "skewed. Candidates from df-capped postings, then ONE exact "
    "full-intersection join bounded by a candidate-doc semi-join; "
    "the oracle mirrors both the arithmetic and the stop-shingle "
    "candidate loss model.",
    survey_refs=("LLM-dedup",),
)
def ngram_containment_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blockchain_indexer_spark.operators.dedup import ngram_containment_pairs

    d = load_table(spark, sf_dir, "documents")
    return ngram_containment_pairs(
        d, "doc_id", "text", k=3, threshold=0.5, max_doc_freq=100
    )


@register(
    "doc_dsir_weights",
    oracle=rf"""
    WITH tok AS (
      SELECT doc_id, lang, unnest({_TOKS_SQL}) AS tok FROM documents
    ),
    b AS (
      SELECT doc_id, lang,
             CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) % 1024 AS b
      FROM tok
    ),
    ct AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS ct FROM b WHERE lang = 'en' GROUP BY 1),
    cc AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS cc FROM b GROUP BY 1),
    nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS nt FROM b WHERE lang = 'en'),
    nc AS (SELECT CAST(COUNT(*) AS BIGINT) AS nc FROM b),
    ratio AS (
      SELECT g.b,
             CAST(floor(1e9 * ((CAST(COALESCE(ct.ct, 0) + 1 AS DOUBLE)
                                  * CAST(nc.nc + 1024 AS DOUBLE))
                               / (CAST(COALESCE(cc.cc, 0) + 1 AS DOUBLE)
                                  * CAST(nt.nt + 1024 AS DOUBLE))))
                  AS BIGINT) AS ratio_nano
      FROM (SELECT CAST(r AS BIGINT) AS b FROM range(0, 1024) t(r)) g
      LEFT JOIN ct USING (b) LEFT JOIN cc USING (b)
      CROSS JOIN nt CROSS JOIN nc
    ),
    per AS (
      SELECT b.doc_id, b.b, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM b GROUP BY 1, 2
    ),
    agg AS (
      SELECT per.doc_id,
             CAST(SUM(per.cnt) AS BIGINT) AS n_tokens,
             CAST(SUM(per.cnt * ratio.ratio_nano) AS BIGINT) AS wsum
      FROM per JOIN ratio USING (b)
      GROUP BY 1
    )
    SELECT d.doc_id,
           COALESCE(agg.n_tokens, 0) AS n_tokens,
           CASE WHEN agg.n_tokens > 0 THEN agg.wsum // agg.n_tokens
                ELSE 0 END AS weight_nano
    FROM documents d LEFT JOIN agg USING (doc_id)
    """,
    doc="DSIR importance weights (operators.drift.importance_weights; "
    "Xie et al. 2023): per-document mean target/corpus likelihood "
    "ratio over 1024 hashed-unigram buckets, target = the lang='en' "
    "slice. Integer-deterministic by the house pattern: exact BIGINT "
    "bucket counts, ONE double multiply/divide tree per bucket "
    "(identical association in both engines), floor(1e9*r) before "
    "any SUM. Two bucket-histogram passes (map-side combined to "
    "<= 1024 rows each) + a broadcast ratio join — no corpus-wide "
    "shuffle beyond (id, bucket, count).",
    survey_refs=("LLM-sample", "LLM-text"),
)
def doc_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blockchain_indexer_spark.operators.drift import importance_weights

    d = load_table(spark, sf_dir, "documents")
    return importance_weights(
        d, d.filter(F.col("lang") == "en"), "doc_id", "text", n_buckets=1024
    )


@register(
    "corpus_source_ks_drift",
    oracle=r"""
    WITH base AS (
      SELECT source, n_chars FROM documents
      WHERE source IS NOT NULL AND n_chars IS NOT NULL
    ),
    counts AS (
      SELECT source, n_chars, CAST(COUNT(*) AS BIGINT) AS c
      FROM base GROUP BY 1, 2
    ),
    totals AS (SELECT source, CAST(SUM(c) AS BIGINT) AS ng FROM counts GROUP BY 1),
    nall AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM counts),
    grid AS (SELECT DISTINCT n_chars FROM counts),
    dense AS (
      SELECT t.source, g.n_chars, COALESCE(c.c, 0) AS c
      FROM totals t CROSS JOIN grid g
      LEFT JOIN counts c ON c.source = t.source AND c.n_chars = g.n_chars
    ),
    allc AS (
      SELECT n_chars, CAST(SUM(c) AS BIGINT) AS call FROM counts GROUP BY 1
    ),
    allcum AS (
      SELECT n_chars,
             CAST(SUM(call) OVER (ORDER BY n_chars) AS BIGINT) AS cum_all
      FROM allc
    ),
    cum AS (
      SELECT d.source, d.n_chars,
             CAST(SUM(d.c) OVER (PARTITION BY d.source ORDER BY d.n_chars) AS BIGINT)
               AS cum_g,
             a.cum_all
      FROM dense d JOIN allcum a USING (n_chars)
    ),
    per AS (
      SELECT c.source, t.ng, (n.n - t.ng) AS nr,
             abs(c.cum_g * (n.n - t.ng) - (c.cum_all - c.cum_g) * t.ng) AS d
      FROM cum c JOIN totals t USING (source) CROSS JOIN nall n
    )
    SELECT source, CAST(ng AS BIGINT) AS n_group, CAST(nr AS BIGINT) AS n_rest,
           CAST(MAX(d) AS BIGINT) AS ks_num,
           CAST(floor(1e9 * (CAST(MAX(d) AS DOUBLE)
                             / CAST(ng * nr AS DOUBLE))) AS BIGINT) AS ks_nano
    FROM per GROUP BY source, ng, nr
    """,
    doc="Per-source distribution-drift monitor (operators.drift."
    "ks_drift): EXACT two-sample Kolmogorov-Smirnov statistic of each "
    "source's n_chars distribution vs the rest of the corpus. The KS "
    "distance is maximized as an exact integer over the common "
    "denominator n_g*n_rest (no float CDF subtraction), then ONE "
    "IEEE divide floor-quantized to nano units. Everything after the "
    "(group, value) count agg is bounded by |groups| x |distinct "
    "values| — corpus-size independent. Exact-integer path is valid "
    "while n_g*n_rest < 2^63 (~3e9 rows); beyond that the same plan "
    "runs with double cumulative terms.",
    survey_refs=("LLM-text", "A4"),
)
def corpus_source_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blockchain_indexer_spark.operators.drift import ks_drift

    d = load_table(spark, sf_dir, "documents")
    return ks_drift(d, "source", "n_chars")


@register(
    "corpus_source_pair_jaccard",
    oracle=rf"""
    WITH toks AS (
      SELECT source, {_TOKS_SQL} AS t FROM documents
      WHERE source IS NOT NULL
    ),
    sh AS (
      SELECT DISTINCT source,
             CAST(('0x' || substr(md5(array_to_string(list_slice(t, i, i + 2), ' ')), 1, 15))
                  AS BIGINT) AS h
      FROM toks, UNNEST(range(1, len(t) - 1)) AS r(i)
      WHERE len(t) >= 3
    ),
    sizes AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY 1),
    pairs AS (
      SELECT a.source AS group_a, b.source AS group_b,
             CAST(COUNT(*) AS BIGINT) AS n_common
      FROM sh a JOIN sh b ON a.h = b.h AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT p.group_a, p.group_b, sa.n AS n_a, sb.n AS n_b, p.n_common,
           CAST(floor(1e9 * (CAST(p.n_common AS DOUBLE)
                             / CAST(sa.n + sb.n - p.n_common AS DOUBLE)))
                AS BIGINT) AS jaccard_nano
    FROM pairs p
    JOIN sizes sa ON sa.source = p.group_a
    JOIN sizes sb ON sb.source = p.group_b
    """,
    doc="Corpus-level source-pair content overlap (operators.drift."
    "group_pair_jaccard): exact Jaccard between every pair of "
    "sources' distinct 3-token shingle sets (md5-hashed, the "
    "engine-portable contract) — the mirror-site detector; the "
    "per-document twin is dedup.jaccard_near_dups. One distinct-"
    "(source, shingle) pass; pair fan-out is per-shingle "
    "|sources-on-shingle| choose 2, never corpus^2; jaccard_nano is "
    "one IEEE divide over exact integers, floor-quantized.",
    survey_refs=("LLM-dedup",),
)
def corpus_source_pair_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blockchain_indexer_spark.operators.drift import group_pair_jaccard

    d = load_table(spark, sf_dir, "documents")
    return group_pair_jaccard(d, "source", "text", k=3)


@register(
    "doc_cdc_chunks",
    oracle=rf"""
    WITH toks AS (
      SELECT doc_id, {_TOKS_SQL} AS t FROM documents
    ),
    pos AS (
      SELECT doc_id, CAST(r.i AS BIGINT) AS pos, t[r.i + 1] AS tok,
             CAST(len(t) AS BIGINT) AS n, t
      FROM toks, UNNEST(range(0, len(t))) AS r(i)
      WHERE len(t) > 0
    ),
    flags AS (
      SELECT doc_id, pos, tok,
             CASE WHEN pos >= 3 AND pos < n - 1
                   AND CAST(('0x' || substr(md5(
                         array_to_string(list_slice(t, pos - 2, pos + 1), ' ')
                       ), 1, 15)) AS BIGINT) % 16 = 0
                  THEN 1 ELSE 0 END AS cut
      FROM pos
    ),
    chunked AS (
      SELECT doc_id, pos, tok,
             COALESCE(SUM(cut) OVER (PARTITION BY doc_id ORDER BY pos
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING), 0) AS chunk_idx
      FROM flags
    )
    SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(('0x' || substr(md5(string_agg(tok, ' ' ORDER BY pos)), 1, 15))
                AS BIGINT) AS chunk_hash
    FROM chunked GROUP BY doc_id, chunk_idx
    """,
    doc="Content-defined chunking (operators.packing.cdc_chunks; "
    "basic Rabin CDC at token granularity): cut after any position "
    "whose trailing 4-token window hashes to 0 mod 16, so boundaries "
    "follow content and survive insertions — the storage-dedup seam "
    "rule, vs doc_chunk_packing's fixed 512-token offsets. One "
    "uniform doc-keyed shuffle (explode + window cumsum); per-chunk "
    "md5-prefix hash makes cross-corpus content-equal chunks a "
    "groupBy downstream. Expected chunk ~16 tokens; docs shorter "
    "than the window are one chunk.",
    survey_refs=("LLM-dedup", "W2"),
)
def doc_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blockchain_indexer_spark.operators.packing import cdc_chunks

    d = load_table(spark, sf_dir, "documents")
    return cdc_chunks(d, "doc_id", "text", window=4, divisor=16)


@register(
    "embedding_hard_negatives",
    oracle="""
    WITH q0 AS (
      SELECT vec_id AS query_id, label AS query_label,
             list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
      FROM embeddings WHERE vec_id % 37 = 0
    ),
    q AS (SELECT * FROM q0 WHERE list_sum(list_transform(qv, x -> x * x)) > 0),
    c0 AS (
      SELECT vec_id AS neighbor_id, label AS neighbor_label,
             list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS cv
      FROM embeddings
    ),
    c AS (SELECT * FROM c0 WHERE list_sum(list_transform(cv, x -> x * x)) > 0),
    scored AS (
      SELECT q.query_id, q.query_label, c.neighbor_id, c.neighbor_label,
             CAST(list_sum(list_transform(range(1, len(qv) + 1), i -> CAST(qv[i] * cv[i] AS DOUBLE)))
                  / sqrt(CAST(list_sum(list_transform(qv, x -> CAST(x * x AS DOUBLE))) AS DOUBLE)
                         * CAST(list_sum(list_transform(cv, x -> CAST(x * x AS DOUBLE))) AS DOUBLE))
                  AS DOUBLE) AS score
      FROM q JOIN c ON q.query_id != c.neighbor_id
                   AND c.neighbor_label IS DISTINCT FROM q.query_label
    )
    SELECT query_id, CAST(query_label AS INT) AS query_label,
           CAST(rn AS BIGINT) AS rank, neighbor_id,
           CAST(neighbor_label AS INT) AS neighbor_label, score
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY score DESC, neighbor_id) AS rn
          FROM scored)
    WHERE rn <= 5
    """,
    doc="Hard-negative mining for contrastive training (operators."
    "similarity.hard_negatives; the DPR/ANCE recipe): for every 37th "
    "vector, the 5 nearest quantized-cosine neighbors whose label "
    "DIFFERS — most-confusable wrong answers, label-filtered BEFORE "
    "ranking so the different-label top-k is exact. Same broadcast "
    "flat-scan shape as the other embedding gates; the NULL-label "
    "contract is IS DISTINCT FROM on both engines.",
    survey_refs=("LLM-sim", "LLM-sample"),
)
def embedding_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blockchain_indexer_spark.operators.similarity import hard_negatives

    emb = load_table(spark, sf_dir, "embeddings")
    return hard_negatives(emb, "vec_id", "embedding", "label", k=5, stride=37)


@register(
    "doc_hybrid_rrf",
    oracle=rf"""
    WITH d AS (
      SELECT doc_id, COALESCE({_TOKS_SQL}, []) AS toks FROM documents
    ),
    tok AS (SELECT doc_id, unnest(toks) AS term FROM d),
    tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
           FROM tok GROUP BY 1, 2),
    dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM tok GROUP BY 1),
    corpus AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                      CAST(SUM(len(toks)) AS BIGINT) AS s FROM d),
    dft AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
    q AS (
      SELECT doc_id AS query_id, unnest(list_sort(list_distinct(toks))[1:4]) AS term
      FROM d WHERE doc_id % 83 = 0 AND len(toks) >= 4
    ),
    hits AS (
      SELECT q.query_id, tf.doc_id, tf.tf, dft.df, dl.dl, c.n, c.s
      FROM q JOIN tf USING (term) JOIN dft USING (term)
             JOIN dl ON dl.doc_id = tf.doc_id
             CROSS JOIN corpus c
    ),
    lex_scored AS (
      SELECT query_id, doc_id,
             CAST(SUM(CAST(floor(1e9 * (
               CAST(CAST(22 * s * tf * (2 * n - 2 * df + 1) AS BIGINT) AS DOUBLE)
               / CAST(CAST((10 * s * tf + 3 * s + 9 * dl * n) * (2 * df + 1)
                           AS BIGINT) AS DOUBLE)
             )) AS BIGINT)) AS BIGINT) AS score_nano
      FROM hits GROUP BY 1, 2
    ),
    lex AS (
      SELECT query_id, doc_id, rn FROM
        (SELECT *, row_number() OVER (PARTITION BY query_id
                                      ORDER BY score_nano DESC, doc_id) AS rn
         FROM lex_scored)
      WHERE rn <= 5
    ),
    qids AS (SELECT DISTINCT query_id FROM q),
    ev0 AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
      FROM embeddings
    ),
    ev AS (SELECT * FROM ev0 WHERE list_sum(list_transform(v, x -> x * x)) > 0),
    eq AS (SELECT ev.vec_id AS query_id, ev.v AS qv
           FROM ev JOIN qids ON ev.vec_id = qids.query_id),
    sem_scored AS (
      SELECT eq.query_id, ev.vec_id AS doc_id,
             CAST(list_sum(list_transform(range(1, len(qv) + 1), i -> CAST(qv[i] * v[i] AS DOUBLE)))
                  / sqrt(CAST(list_sum(list_transform(qv, x -> CAST(x * x AS DOUBLE))) AS DOUBLE)
                         * CAST(list_sum(list_transform(v, x -> CAST(x * x AS DOUBLE))) AS DOUBLE))
                  AS DOUBLE) AS score
      FROM eq JOIN ev ON eq.query_id != ev.vec_id
    ),
    sem AS (
      SELECT query_id, doc_id, rn FROM
        (SELECT *, row_number() OVER (PARTITION BY query_id
                                      ORDER BY score DESC, doc_id) AS rn
         FROM sem_scored)
      WHERE rn <= 5
    ),
    contrib AS (
      SELECT query_id, doc_id,
             CAST(floor(1e9 / (60 + CAST(rn AS DOUBLE))) AS BIGINT) AS s
      FROM lex
      UNION ALL
      SELECT query_id, doc_id,
             CAST(floor(1e9 / (60 + CAST(rn AS DOUBLE))) AS BIGINT) AS s
      FROM sem
    ),
    fused AS (
      SELECT query_id, doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_lists,
             CAST(SUM(s) AS BIGINT) AS rrf_nano
      FROM contrib GROUP BY 1, 2
    )
    SELECT query_id, doc_id, n_lists, rrf_nano, CAST(rn AS BIGINT) AS fused_rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY rrf_nano DESC, doc_id) AS rn
          FROM fused)
    WHERE rn <= 5
    """,
    doc="Hybrid retrieval via reciprocal-rank fusion (operators."
    "textprep.rrf_fuse; Cormack et al. 2009): BM25 top-5 (lexical) "
    "fused with quantized-cosine top-5 (semantic) for the same query "
    "set, each contributing floor(1e9/(60+rank)) — rank-space "
    "fusion, so integer BM25 nanos and cosine doubles never mix; "
    "fused scores are order-free integer sums with doc-id "
    "tie-breaks. The union+groupBy is retrieval-output-sized, never "
    "corpus-sized.",
    survey_refs=("LLM-text", "LLM-sim", "W1"),
)
def doc_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blockchain_indexer_spark.functions.text import tokens
    from blockchain_indexer_spark.operators.similarity import brute_force_topk
    from blockchain_indexer_spark.operators.textprep import bm25_topk, rrf_fuse

    d = load_table(spark, sf_dir, "documents")
    base = d.select(
        "doc_id",
        F.coalesce(tokens("text"), F.array().cast("array<string>")).alias("toks"),
    )
    queries = (
        base.filter((F.col("doc_id") % 83 == 0) & (F.size("toks") >= 4))
        .select(
            F.col("doc_id").alias("query_id"),
            F.explode(F.slice(F.array_sort(F.array_distinct("toks")), 1, 4)).alias(
                "term"
            ),
        )
    )
    lex = bm25_topk(base, queries, k=5).select("query_id", "doc_id", "rank")
    emb = load_table(spark, sf_dir, "embeddings")
    qids = queries.select("query_id").distinct()
    eq = emb.join(
        F.broadcast(qids), emb["vec_id"] == qids["query_id"], "semi"
    )
    sem = brute_force_topk(
        emb, eq, "vec_id", "embedding", k=5, metric="quantized_cosine"
    ).select("query_id", F.col("neighbor_id").alias("doc_id"), "rank")
    return rrf_fuse([lex, sem], k0=60, k=5)


@register(
    "corpus_quality_stump",
    oracle=rf"""
    WITH base AS (
      SELECT CAST(len(COALESCE({_TOKS_SQL}, [])) AS BIGINT) AS n_tokens,
             CAST(len(list_distinct(COALESCE({_TOKS_SQL}, []))) AS BIGINT)
               AS n_distinct,
             n_chars,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
      FROM documents WHERE lang IS NOT NULL
    ),
    long_form AS (
      SELECT 'n_chars' AS feature, CAST(n_chars AS DOUBLE) AS v, y
      FROM base WHERE n_chars IS NOT NULL
      UNION ALL
      SELECT 'n_distinct', CAST(n_distinct AS DOUBLE), y FROM base
      UNION ALL
      SELECT 'n_tokens', CAST(n_tokens AS DOUBLE), y FROM base
    ),
    counts AS (
      SELECT feature, v, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(y) AS BIGINT) AS p
      FROM long_form GROUP BY 1, 2
    ),
    cum AS (
      SELECT feature, v,
             CAST(SUM(n) OVER (PARTITION BY feature ORDER BY v) AS BIGINT) AS nl,
             CAST(SUM(p) OVER (PARTITION BY feature ORDER BY v) AS BIGINT) AS pl,
             CAST(SUM(n) OVER (PARTITION BY feature) AS BIGINT) AS nt,
             CAST(SUM(p) OVER (PARTITION BY feature) AS BIGINT) AS pt
      FROM counts
    ),
    scored AS (
      SELECT feature, v AS threshold, nl AS n_left, pl AS pos_left,
             nt - nl AS n_right, pt - pl AS pos_right,
             CAST(floor(1e9 * (2.0 * (
               CAST(pl * (nl - pl) AS DOUBLE) / CAST(nl AS DOUBLE)
               + CAST((pt - pl) * ((nt - nl) - (pt - pl)) AS DOUBLE)
                 / CAST(nt - nl AS DOUBLE)
             ))) AS BIGINT) AS score_nano
      FROM cum WHERE nl < nt
    ),
    per_feat AS (
      SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY feature
                                                  ORDER BY score_nano, threshold)
                            AS rf
                     FROM scored) WHERE rf = 1
    )
    SELECT feature, threshold, n_left, pos_left, n_right, pos_right, score_nano,
           CAST(row_number() OVER (ORDER BY score_nano, feature, threshold)
                AS BIGINT) AS rank,
           2 * pos_left > n_left AS predict_left,
           2 * pos_right > n_right AS predict_right
    FROM per_feat
    """,
    doc="Distributed decision-stump training (operators.tree."
    "best_stump): exact minimum-Gini split per feature over "
    "{{n_chars, n_tokens, n_distinct}} predicting lang='en' — the "
    "XGBoost histogram trick: per-(feature, value) label counts "
    "aggregated once (map-side combinable), then a cumulative window "
    "evaluates EVERY candidate threshold in O(distinct values), "
    "corpus-size independent after the agg. The weighted-Gini score "
    "is one double expression over exact BIGINT counts "
    "floor-quantized before the argmin (exact while "
    "pL*(nL-pL)*nR < 2^53 — the documented precision bound); ranks "
    "tie-break (score, feature, threshold). The supervised sibling "
    "of the batch perceptron.",
    survey_refs=("LLM-text", "W1"),
)
def corpus_quality_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blockchain_indexer_spark.functions.text import token_count, tokens
    from blockchain_indexer_spark.operators.tree import best_stump

    d = load_table(spark, sf_dir, "documents").filter(F.col("lang").isNotNull())
    feats = d.select(
        "n_chars",
        # NULL text counts 0 tokens, matching the oracle's
        # len(COALESCE(toks, [])) (token_count(NULL) is NULL)
        F.coalesce(token_count("text"), F.lit(0)).alias("n_tokens"),
        F.size(F.array_distinct(F.coalesce(tokens("text"), F.array().cast("array<string>"))))
        .cast("long")
        .alias("n_distinct"),
        (F.col("lang") == "en").alias("is_en"),
    )
    return best_stump(feats, ["n_chars", "n_distinct", "n_tokens"], "is_en")


@register(
    "corpus_classifier_agreement",
    oracle=_PERCEPTRON_CTES
    + rf"""
    , sc AS (
      SELECT f.doc_id,
             CAST(SUM(f.cnt * COALESCE(w2.weight, 0)) AS BIGINT) AS margin
      FROM f LEFT JOIN w2 USING (bucket)
      GROUP BY 1
    ),
    sbase AS (
      SELECT CAST(len(COALESCE({_TOKS_SQL}, [])) AS BIGINT) AS n_tokens,
             CAST(len(list_distinct(COALESCE({_TOKS_SQL}, []))) AS BIGINT)
               AS n_distinct,
             n_chars,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS sy
      FROM documents WHERE lang IS NOT NULL
    ),
    slong AS (
      SELECT 'n_chars' AS feature, CAST(n_chars AS DOUBLE) AS v, sy
      FROM sbase WHERE n_chars IS NOT NULL
      UNION ALL
      SELECT 'n_distinct', CAST(n_distinct AS DOUBLE), sy FROM sbase
      UNION ALL
      SELECT 'n_tokens', CAST(n_tokens AS DOUBLE), sy FROM sbase
    ),
    scounts AS (
      SELECT feature, v, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(sy) AS BIGINT) AS p
      FROM slong GROUP BY 1, 2
    ),
    scum AS (
      SELECT feature, v,
             CAST(SUM(n) OVER (PARTITION BY feature ORDER BY v) AS BIGINT) AS nl,
             CAST(SUM(p) OVER (PARTITION BY feature ORDER BY v) AS BIGINT) AS pl,
             CAST(SUM(n) OVER (PARTITION BY feature) AS BIGINT) AS nt,
             CAST(SUM(p) OVER (PARTITION BY feature) AS BIGINT) AS pt
      FROM scounts
    ),
    sscored AS (
      SELECT feature, v AS threshold, nl AS n_left, pl AS pos_left,
             nt - nl AS n_right, pt - pl AS pos_right,
             CAST(floor(1e9 * (2.0 * (
               CAST(pl * (nl - pl) AS DOUBLE) / CAST(nl AS DOUBLE)
               + CAST((pt - pl) * ((nt - nl) - (pt - pl)) AS DOUBLE)
                 / CAST(nt - nl AS DOUBLE)
             ))) AS BIGINT) AS score_nano
      FROM scum WHERE nl < nt
    ),
    sperf AS (
      SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY feature
                                                  ORDER BY score_nano, threshold)
                            AS rf
                     FROM sscored) WHERE rf = 1
    ),
    sbest AS (
      SELECT feature, threshold,
             2 * pos_left > n_left AS predict_left,
             2 * pos_right > n_right AS predict_right
      FROM (SELECT *, row_number() OVER (ORDER BY score_nano, feature, threshold)
                   AS rr
            FROM sperf)
      WHERE rr = 1
    ),
    docf AS (
      SELECT doc_id,
             CAST(n_chars AS DOUBLE) AS f_n_chars,
             CAST(len(COALESCE({_TOKS_SQL}, [])) AS DOUBLE) AS f_n_tokens,
             CAST(len(list_distinct(COALESCE({_TOKS_SQL}, []))) AS DOUBLE)
               AS f_n_distinct
      FROM documents WHERE lang IS NOT NULL
    ),
    spred AS (
      SELECT doc_id,
             (CASE b.feature WHEN 'n_chars' THEN f_n_chars
                             WHEN 'n_tokens' THEN f_n_tokens
                             ELSE f_n_distinct END) AS fv,
             b.threshold, b.predict_left, b.predict_right
      FROM docf, sbest b
    ),
    jj AS (
      SELECT (sc.margin > 0) AS pa,
             CASE WHEN sp.fv <= sp.threshold THEN sp.predict_left
                  ELSE sp.predict_right END AS pb
      FROM sc JOIN spred sp USING (doc_id)
      WHERE sp.fv IS NOT NULL
    ),
    cells AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(COUNT(*) FILTER (pa AND pb) AS BIGINT) AS n_pos_pos,
             CAST(COUNT(*) FILTER (pa AND NOT pb) AS BIGINT) AS n_pos_neg,
             CAST(COUNT(*) FILTER (NOT pa AND pb) AS BIGINT) AS n_neg_pos,
             CAST(COUNT(*) FILTER (NOT pa AND NOT pb) AS BIGINT) AS n_neg_neg
      FROM jj
    ),
    kk AS (
      SELECT *, n_pos_pos + n_neg_neg AS agree,
             (n_pos_pos + n_pos_neg) * (n_pos_pos + n_neg_pos)
           + (n_neg_pos + n_neg_neg) * (n_pos_neg + n_neg_neg) AS chance
      FROM cells
    )
    SELECT n_docs, n_pos_pos, n_pos_neg, n_neg_pos, n_neg_neg,
           CAST(agree AS BIGINT) AS n_agree,
           CASE WHEN n_docs * n_docs - chance != 0
                THEN CAST(n_docs * agree - chance AS DOUBLE)
                     / CAST(n_docs * n_docs - chance AS DOUBLE)
                ELSE 0.0 END AS kappa
    FROM kk
    """,
    doc="Inter-classifier AGREEMENT monitor (operators.linear."
    "agreement_kappa): the 2x2 confusion matrix between the trained "
    "perceptron's sign (the expensive filter) and the rank-1 decision "
    "stump's leaf prediction (the cheap filter), plus Cohen's kappa — "
    "the model-comparison check a filtering pipeline runs before "
    "swapping classifiers; high raw agreement with near-zero kappa "
    "means both just predict the majority class. The oracle replays "
    "BOTH trainings (the perceptron's unrolled epochs and the stump's "
    "histogram split) and applies them per document. Kappa is kept "
    "rational — (n*agree - chance) / (n^2 - chance) with chance the "
    "marginal product sum — so the only float op is one IEEE division "
    "of exact int64 (exact while n^2 < 2^53; beyond, merge per-shard "
    "integer cells). One scalar aggregate over the prediction join; "
    "one row out.",
    survey_refs=("LLM-text",),
)
def corpus_classifier_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blockchain_indexer_spark.functions.text import token_count, tokens
    from blockchain_indexer_spark.operators.linear import (
        agreement_kappa,
        hashed_features,
        perceptron_score,
        perceptron_train,
    )
    from blockchain_indexer_spark.operators.tree import best_stump

    from blockchain_indexer_spark.operators.overlap import build_concurrently

    d = load_table(spark, sf_dir, "documents")

    # the two classifier chains are independent until the kappa join:
    # build each side's verdict frame on its own driver thread (guide
    # §2.6) — the perceptron's epoch passes and the stump's histogram
    # passes interleave on the executors instead of serializing.
    # Verdict frames (one boolean per doc) pin eagerly; bits unchanged.
    def _perceptron_side():
        base = spread(d, "doc_id").select(
            "doc_id",
            F.when(F.col("lang") == "en", F.lit(1)).otherwise(F.lit(-1)).cast("long").alias("y"),
            F.coalesce(tokens("text"), F.array().cast("array<string>")).alias("toks"),
        )
        feats = hashed_features(base, n_buckets=256, hash_fn="md5_60").localCheckpoint(eager=True)
        w = perceptron_train(feats, epochs=2, n_buckets=256)
        return perceptron_score(feats, w).select(
            "doc_id", (F.col("margin") > 0).alias("pred_a")
        ).localCheckpoint(eager=True)

    def _stump_side():
        dd = d.filter(F.col("lang").isNotNull())
        sfeats = dd.select(
            "n_chars",
            F.coalesce(token_count("text"), F.lit(0)).alias("n_tokens"),
            F.size(F.array_distinct(F.coalesce(tokens("text"), F.array().cast("array<string>"))))
            .cast("long")
            .alias("n_distinct"),
            (F.col("lang") == "en").alias("is_en"),
        )
        stump = (
            best_stump(sfeats, ["n_chars", "n_distinct", "n_tokens"], "is_en")
            .filter(F.col("rank") == 1)
            .select("feature", "threshold", "predict_left", "predict_right")
        )
        docf = spread(dd, "doc_id").select(
            "doc_id",
            F.col("n_chars").cast("double").alias("f_n_chars"),
            F.coalesce(token_count("text"), F.lit(0)).cast("double").alias("f_n_tokens"),
            F.size(F.array_distinct(F.coalesce(tokens("text"), F.array().cast("array<string>"))))
            .cast("double")
            .alias("f_n_distinct"),
        )
        fv = (
            F.when(F.col("feature") == "n_chars", F.col("f_n_chars"))
            .when(F.col("feature") == "n_tokens", F.col("f_n_tokens"))
            .otherwise(F.col("f_n_distinct"))
        )
        return docf.crossJoin(F.broadcast(stump)).select(
            "doc_id",
            fv.alias("fv"),
            F.when(fv <= F.col("threshold"), F.col("predict_left"))
            .otherwise(F.col("predict_right"))
            .alias("pred_b"),
        ).filter(F.col("fv").isNotNull()).select("doc_id", "pred_b").localCheckpoint(eager=True)

    pa, pb = build_concurrently(_perceptron_side, _stump_side)
    return agreement_kappa(pa.join(pb, "doc_id"), "pred_a", "pred_b")


@register(
    "embedding_label_propagation",
    oracle="""
    WITH vq0 AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
      FROM embeddings
    ),
    vq AS (SELECT * FROM vq0 WHERE list_sum(list_transform(v, x -> x * x)) > 0),
    scored AS (
      SELECT a.vec_id AS q, b.vec_id AS n,
             CAST(list_sum(list_transform(range(1, len(a.v) + 1), i -> CAST(a.v[i] * b.v[i] AS DOUBLE)))
                  / sqrt(CAST(list_sum(list_transform(a.v, x -> CAST(x * x AS DOUBLE))) AS DOUBLE)
                         * CAST(list_sum(list_transform(b.v, x -> CAST(x * x AS DOUBLE))) AS DOUBLE))
                  AS DOUBLE) AS score
      FROM vq a JOIN vq b ON a.vec_id != b.vec_id
    ),
    topk AS (
      SELECT q, n FROM (SELECT *, row_number() OVER (PARTITION BY q
                                                     ORDER BY score DESC, n) AS rn
                        FROM scored)
      WHERE rn <= 5
    ),
    mut AS (
      SELECT t1.q AS a, t1.n AS b
      FROM topk t1 JOIN topk t2 ON t1.q = t2.n AND t1.n = t2.q
      WHERE t1.q < t1.n
    ),
    adj AS (SELECT a, b FROM mut UNION SELECT b, a FROM mut),
    seed AS (SELECT vec_id AS id, label AS l FROM embeddings
             WHERE vec_id % 5 = 0 AND label IS NOT NULL),
    v1 AS (
      SELECT adj.a AS id, s.l, CAST(COUNT(*) AS BIGINT) AS n
      FROM adj JOIN seed s ON s.id = adj.b GROUP BY 1, 2
    ),
    d1 AS (
      SELECT id, l FROM (
        SELECT *, row_number() OVER (PARTITION BY id ORDER BY n DESC, l) AS rk
        FROM v1 WHERE id NOT IN (SELECT id FROM seed)
      ) WHERE rk = 1
    ),
    l1 AS (SELECT * FROM seed UNION ALL SELECT * FROM d1),
    v2 AS (
      SELECT adj.a AS id, s.l, CAST(COUNT(*) AS BIGINT) AS n
      FROM adj JOIN l1 s ON s.id = adj.b GROUP BY 1, 2
    ),
    d2 AS (
      SELECT id, l FROM (
        SELECT *, row_number() OVER (PARTITION BY id ORDER BY n DESC, l) AS rk
        FROM v2 WHERE id NOT IN (SELECT id FROM seed)
      ) WHERE rk = 1
    ),
    l2 AS (SELECT * FROM seed UNION ALL SELECT * FROM d2)
    SELECT l2.id AS vec_id, CAST(l2.l AS INT) AS label,
           l2.id IN (SELECT id FROM seed) AS is_seed
    FROM l2
    """,
    doc="Semi-supervised label propagation (operators.cluster."
    "label_propagation; Zhu/Ghahramani hard-label variant) over the "
    "mutual-5NN quantized-cosine graph: every 5th vector keeps its "
    "label (clamped seed), everyone else takes the exact-integer "
    "majority of its labeled neighbors each synchronous round (ties "
    "to the smallest label), 2 rounds — stretching a 20% labeled set "
    "across the corpus along the similarity graph. The oracle "
    "unrolls both rounds as CTEs (the BPE unrolled-oracle pattern). "
    "Per round: one edge-keyed join + one (node, label) count agg, "
    "uniform keys, frames localCheckpointed.",
    survey_refs=("LLM-sim", "J9"),
)
def embedding_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blockchain_indexer_spark.operators.cluster import label_propagation
    from blockchain_indexer_spark.operators.similarity import mutual_knn_graph

    emb = load_table(spark, sf_dir, "embeddings")
    g = mutual_knn_graph(emb, "vec_id", "embedding", k=5)
    seeds = emb.filter(F.col("vec_id") % 5 == 0).select("vec_id", "label")
    return label_propagation(
        g, seeds, id_col="vec_id", label_col="label", iters=2
    )


@register(
    "corpus_source_distinctive_terms",
    oracle=rf"""
    WITH tok AS (
      SELECT source, unnest({_TOKS_SQL}) AS term FROM documents
      WHERE source IS NOT NULL
    ),
    cg AS (SELECT source, term, CAST(COUNT(*) AS BIGINT) AS cg
           FROM tok GROUP BY 1, 2),
    cc AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS cc FROM tok GROUP BY 1),
    ng AS (SELECT source, CAST(SUM(cg) AS BIGINT) AS ng FROM cg GROUP BY 1),
    tot AS (SELECT CAST(SUM(cc) AS BIGINT) AS nc,
                   CAST(COUNT(*) AS BIGINT) AS v FROM cc),
    scored AS (
      SELECT cg.source, cg.term, cg.cg AS n_group, cc.cc AS n_corpus,
             CAST(floor(1e9 * ((CAST(cg.cg + 1 AS DOUBLE)
                                  * CAST(t.nc + t.v AS DOUBLE))
                               / (CAST(cc.cc + 1 AS DOUBLE)
                                  * CAST(ng.ng + t.v AS DOUBLE))))
                  AS BIGINT) AS ratio_nano
      FROM cg JOIN cc USING (term) JOIN ng USING (source) CROSS JOIN tot t
      WHERE cg.cg >= 3
    )
    SELECT source, term, n_group, n_corpus, ratio_nano,
           CAST(rn AS BIGINT) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY source
                                       ORDER BY ratio_nano DESC, term) AS rn
          FROM scored)
    WHERE rn <= 5
    """,
    doc="Per-source distinctive vocabulary (operators.drift."
    "distinctive_terms): the 5 terms most over-represented in each "
    "source vs the whole corpus by add-one-smoothed frequency ratio "
    "— the per-TERM twin of the DSIR bucket score and the monotone "
    "core of log-odds keyword extraction. One tokenize pass into "
    "map-side-combined (source, term) counts; ratio is one double "
    "multiply/divide tree over exact BIGINTs floor-quantized before "
    "the per-source ranking window; >= 3 occurrences (hapax noise).",
    survey_refs=("LLM-text", "W1"),
)
def corpus_source_distinctive_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blockchain_indexer_spark.operators.drift import distinctive_terms

    d = load_table(spark, sf_dir, "documents")
    return distinctive_terms(d, "source", "text", k=5, min_count=3)


@register(
    "embedding_ann_recall",
    oracle=f"""
    WITH {_QV},
    samp AS (
      SELECT v, row_number() OVER (ORDER BY vec_id) - 1 AS rn
      FROM vq ORDER BY vec_id LIMIT 256
    ),
    cents AS (
      SELECT CAST(rn // 16 AS INT) AS cell, v,
             list_sum(list_transform(v, x -> CAST(x * x AS DOUBLE))) AS csq
      FROM samp WHERE rn % 16 = 0
    ),
    assign AS (
      SELECT vq.vec_id, c.cell,
             c.csq - 2 * list_sum(list_transform(range(1, len(vq.v) + 1),
                                                 i -> CAST(vq.v[i] * c.v[i] AS DOUBLE))) AS d
      FROM vq CROSS JOIN cents c
    ),
    corpus_cell AS (
      SELECT vec_id, cell
      FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
            FROM assign)
      WHERE rn = 1
    ),
    probes AS (
      SELECT vec_id AS query_id, cell
      FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
            FROM assign WHERE vec_id % 50 = 0)
      WHERE rn <= 4
    ),
    cand AS (
      SELECT p.query_id, cc.vec_id AS neighbor_id
      FROM probes p JOIN corpus_cell cc ON p.cell = cc.cell
      WHERE p.query_id != cc.vec_id
    ),
    ivf_scored AS (
      SELECT cand.query_id, cand.neighbor_id,
             CAST(list_sum(list_transform(range(1, len(a.v) + 1),
                                          i -> CAST(a.v[i] * b.v[i] AS DOUBLE))) AS DOUBLE) AS score
      FROM cand
      JOIN vq a ON a.vec_id = cand.query_id
      JOIN vq b ON b.vec_id = cand.neighbor_id
    ),
    ivf AS (
      SELECT query_id, neighbor_id
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY score DESC, neighbor_id) AS rn
            FROM ivf_scored)
      WHERE rn <= 5
    ),
    ex_scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             CAST(list_sum(list_transform(range(1, len(q.v) + 1),
                                          i -> CAST(q.v[i] * c.v[i] AS DOUBLE))) AS DOUBLE) AS score
      FROM vq q JOIN vq c ON q.vec_id != c.vec_id
      WHERE q.vec_id % 50 = 0
    ),
    exact AS (
      SELECT query_id, neighbor_id
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY score DESC, neighbor_id) AS rn
            FROM ex_scored)
      WHERE rn <= 5
    ),
    hits AS (
      SELECT e.query_id, CAST(COUNT(i.neighbor_id) AS BIGINT) AS n_hits
      FROM exact e LEFT JOIN ivf i
        ON i.query_id = e.query_id AND i.neighbor_id = e.neighbor_id
      GROUP BY 1
    ),
    totals AS (
      SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_exact
      FROM exact GROUP BY 1
    )
    SELECT t.query_id, COALESCE(h.n_hits, 0) AS n_hits, t.n_exact,
           CAST(floor(1e9 * (CAST(COALESCE(h.n_hits, 0) AS DOUBLE)
                             / CAST(t.n_exact AS DOUBLE))) AS BIGINT) AS recall_nano
    FROM totals t LEFT JOIN hits h USING (query_id)
    """,
    doc="ANN index-quality monitor (operators.similarity.topk_recall): "
    "per-query recall@5 of the IVF index (4-of-16 probes, the "
    "embedding_ivf_topk configuration) against the exact "
    "quantized-dot scan — 'measure, don't guess' for the index "
    "itself, re-runnable after every ingest. Membership semi-join "
    "over two retrieval-output-sized frames; denominator is the true "
    "exact-neighbor count so recall is honest on degenerate corpora; "
    "one floor-quantized IEEE divide.",
    survey_refs=("LLM-sim",),
)
def embedding_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blockchain_indexer_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
        topk_recall,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    approx = ivf_topk(
        emb, queries, "vec_id", "embedding", k=5, n_cells=16, n_probe=4, iters=0
    )
    exact = brute_force_topk(emb, queries, "vec_id", "embedding", k=5)
    return topk_recall(approx, exact)


@register(
    "doc_sliding_chunks",
    oracle=rf"""
    WITH toks AS (
      SELECT doc_id, {_TOKS_SQL} AS t FROM documents
    ),
    d AS (
      SELECT doc_id, t, CAST(len(t) AS BIGINT) AS n,
             1 + greatest(0, (CAST(len(t) AS BIGINT) - 16 + 12 - 1) // 12)
               AS n_chunks
      FROM toks WHERE len(t) > 0
    ),
    c AS (
      SELECT doc_id, t, n, CAST(r.i AS BIGINT) AS chunk_idx,
             CAST(r.i AS BIGINT) * 12 AS chunk_start
      FROM d, UNNEST(range(0, n_chunks)) AS r(i)
    )
    SELECT doc_id, chunk_idx, chunk_start,
           least(chunk_start + 16, n) AS chunk_end,
           least(chunk_start + 16, n) - chunk_start AS n_tokens,
           CAST(('0x' || substr(md5(
                 array_to_string(list_slice(t, chunk_start + 1, chunk_start + 16), ' ')
               ), 1, 15)) AS BIGINT) AS chunk_hash
    FROM c
    """,
    doc="Fixed-size overlapping token windows (window=16, stride=12 — "
    "4 tokens of overlap), the standard RAG / long-context chunker "
    "next to doc_cdc_chunks' content-defined boundaries and "
    "doc_chunk_packing's concat-and-cut planning. SHUFFLE-FREE plan: "
    "tokenize + F.sequence + explode + per-chunk array slice, all "
    "JVM HOF expressions in one projection; a 100 TB corpus chunks "
    "map-side with output ~n/stride rows per doc. Chunk count "
    "1 + max(0, ceil((n-w)/s)) in exact integer `div` arithmetic "
    "(the negative-numerator case lands in the greatest(0, .) guard "
    "on both engines despite div-vs-floor semantics); chunk_hash is "
    "the same md5-prefix-bigint as cdc_chunks so content-equal "
    "chunks group across documents.",
    survey_refs=("LLM-text",),
)
def doc_sliding_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blockchain_indexer_spark.operators.packing import sliding_chunks

    d = load_table(spark, sf_dir, "documents")
    return sliding_chunks(d, "doc_id", "text", window=16, stride=12).select(
        "doc_id",
        "chunk_idx",
        F.col("start").alias("chunk_start"),
        F.col("end").alias("chunk_end"),
        "n_tokens",
        "chunk_hash",
    )


@register(
    "doc_tfidf_keywords",
    oracle=rf"""
    WITH toks AS (
      SELECT doc_id, {_TOKS_SQL} AS t FROM documents
    ),
    tok AS (SELECT doc_id, unnest(t) AS term FROM toks),
    tf AS (
      SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM tok GROUP BY 1, 2
    ),
    dfr AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf, dfr.df,
             CAST(floor(1e9 * (
               CAST(tf.tf * (2 * n.nn - 2 * dfr.df + 1) AS DOUBLE)
               / CAST(2 * dfr.df + 1 AS DOUBLE)
             )) AS BIGINT) AS score_nano
      FROM tf JOIN dfr USING (term), n
    ),
    ranked AS (
      SELECT *, CAST(ROW_NUMBER() OVER (
        PARTITION BY doc_id ORDER BY score_nano DESC, term ASC
      ) AS BIGINT) AS rank FROM scored
    )
    SELECT doc_id, term, tf, df, score_nano, rank
    FROM ranked WHERE rank <= 5
    """,
    doc="Per-document top-5 characteristic terms by TF-IDF "
    "(operators.textprep.tfidf_keywords) — the per-DOC keyword "
    "complement of corpus_source_distinctive_terms' per-SOURCE "
    "log-odds. bm25_scores' determinism convention: rational "
    "Robertson idf (2N-2df+1)/(2df+1) keeps each score one IEEE "
    "division of exact BIGINT products (ln idf available as the "
    "tests-covered production flag), ties total-ordered by term. "
    "One (doc, term) groupBy + one term-keyed df count + broadcast "
    "scalar N; the rank window shuffles doc-keyed rows, output "
    "bounded by 5 rows per doc.",
    survey_refs=("LLM-text",),
)
def doc_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blockchain_indexer_spark.operators.textprep import tfidf_keywords

    d = load_table(spark, sf_dir, "documents")
    return tfidf_keywords(d, "doc_id", "text", k=5)


@register(
    "minhash_estimate_calibration",
    oracle=_MD5_SH
    + """
    , bands AS (
      SELECT doc_id, seed // 4 AS band,
             md5(string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY seed)) AS bucket
      FROM sig GROUP BY doc_id, seed // 4
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a
      JOIN bands b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    ),
    m AS (
      SELECT c.doc_a, c.doc_b,
             CAST(SUM(CASE WHEN sa.minhash = sb.minhash THEN 1 ELSE 0 END) AS BIGINT)
               AS matches
      FROM cand c
      JOIN sig sa ON sa.doc_id = c.doc_a
      JOIN sig sb ON sb.doc_id = c.doc_b AND sb.seed = sa.seed
      GROUP BY 1, 2
    ),
    sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY 1),
    com AS (
      SELECT c.doc_a, c.doc_b, CAST(COUNT(*) AS BIGINT) AS n_common
      FROM cand c
      JOIN sh a ON a.doc_id = c.doc_a
      JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT m.matches,
             CAST(floor(1e9 * (
               CAST(COALESCE(com.n_common, 0) AS DOUBLE)
               / CAST(sa.n + sb.n - COALESCE(com.n_common, 0) AS DOUBLE)
             )) AS BIGINT) AS true_nano,
             (m.matches * 8) // 64 AS bucket
      FROM m
      LEFT JOIN com ON com.doc_a = m.doc_a AND com.doc_b = m.doc_b
      JOIN sizes sa ON sa.doc_id = m.doc_a
      JOIN sizes sb ON sb.doc_id = m.doc_b
    )
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(matches) AS DOUBLE) / CAST(COUNT(*) * 64 AS DOUBLE) AS mean_est,
           CAST(SUM(true_nano) AS DOUBLE)
             / CAST(COUNT(*) * 1000000000 AS DOUBLE) AS mean_true
    FROM pairs GROUP BY 1
    """,
    doc="MinHash estimator-calibration monitor "
    "(operators.dedup.minhash_calibration, md5_60 engine-portable "
    "stack — xxhash64 is the production twin at the same seam): for "
    "every LSH candidate pair, the signature-estimated jaccard "
    "(matching components / 64) is compared against the EXACT "
    "shingle jaccard, bucketed by estimate. A drifting corpus "
    "(skewed shingles, bad seed family) shows mean_true diverging "
    "from mean_est inside a bucket before dedup recall visibly "
    "drops. Candidates from banding (never all-pairs); the exact "
    "join touches only candidate docs' shingles (semi-join); "
    "per-pair true jaccard floored to the 1e-9 grid as BIGINT "
    "before summing (float sums are aggregation-order-dependent), "
    "each mean one IEEE division of exact integer sums.",
    survey_refs=("LLM-dedup",),
)
def minhash_estimate_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blockchain_indexer_spark.operators.dedup import minhash_calibration

    d = load_table(spark, sf_dir, "documents")
    return minhash_calibration(
        d, "doc_id", "text", k=3, num_hashes=64, bands=16, n_buckets=8,
        hash_fn="md5_60",
    )


@register(
    "minhash_calibration",
    oracle=None,
    doc="Production twin of minhash_estimate_calibration: the same "
    "estimator-calibration buckets on the xxhash64 MinHash stack "
    "(JVM-side 8-byte keys; no DuckDB equivalent -> rows-only). This "
    "is the variant a deployment runs as a per-ingest monitor, and "
    "the one bench.py measures - the md5 gate's cost is dominated by "
    "64 md5-string evaluations per shingle, an oracle-portability tax "
    "the production path never pays (7.8 s vs 2-3 s at sf0.1).",
    survey_refs=("LLM-dedup",),
)
def minhash_calibration_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blockchain_indexer_spark.operators.dedup import minhash_calibration

    d = load_table(spark, sf_dir, "documents")
    return minhash_calibration(
        d, "doc_id", "text", k=3, num_hashes=64, bands=16, n_buckets=8,
        hash_fn="xxhash64",
    )


# ---------------------------------------------------------------------------
# embedding_dbscan: density clustering with explicit noise
# (promoted from plans/banked_r7.py — banked + parity-tested in round 6,
# registered round 7 per VERDICT r6 "Next round" #1)
# ---------------------------------------------------------------------------

_DBSCAN_SQL = """
    WITH RECURSIVE v AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
      FROM embeddings
    ),
    nz AS (
      SELECT * FROM v
      WHERE list_sum(list_transform(qv, x -> CAST(x * x AS DOUBLE))) > 0
    ),
    p AS (
      SELECT a.vec_id AS a, b.vec_id AS b
      FROM nz a JOIN nz b ON a.vec_id < b.vec_id
      WHERE CAST(list_sum(list_transform(range(1, len(a.qv) + 1), i -> CAST(a.qv[i] * b.qv[i] AS DOUBLE)))
                 / sqrt(CAST(list_sum(list_transform(a.qv, x -> CAST(x * x AS DOUBLE))) AS DOUBLE)
                        * CAST(list_sum(list_transform(b.qv, x -> CAST(x * x AS DOUBLE))) AS DOUBLE))
                 AS DOUBLE) >= 0.3
    ),
    sym AS (SELECT a, b FROM p UNION ALL SELECT b, a FROM p),
    deg AS (SELECT a AS id, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY 1),
    core AS (SELECT id FROM deg WHERE d + 1 >= 4),
    ce AS (
      SELECT s.a, s.b FROM sym s
      JOIN core ca ON ca.id = s.a
      JOIN core cb ON cb.id = s.b
    ),
    reach(id, r) AS (
      SELECT a, a FROM ce
      UNION
      SELECT ce.b, reach.r FROM ce JOIN reach ON ce.a = reach.id
    ),
    comp AS (SELECT id, MIN(r) AS cluster FROM reach GROUP BY id),
    core_lab AS (
      SELECT core.id, COALESCE(comp.cluster, core.id) AS cluster
      FROM core LEFT JOIN comp ON comp.id = core.id
    ),
    border AS (
      SELECT s.a AS id, MIN(cl.cluster) AS cluster
      FROM sym s JOIN core_lab cl ON cl.id = s.b
      WHERE s.a NOT IN (SELECT id FROM core)
      GROUP BY 1
    )
    SELECT e.vec_id,
           CASE WHEN cl.id IS NOT NULL THEN 'core'
                WHEN b.id IS NOT NULL THEN 'border'
                ELSE 'noise' END AS role,
           CAST(COALESCE(cl.cluster, b.cluster, -1) AS BIGINT) AS cluster
    FROM embeddings e
    LEFT JOIN core_lab cl ON cl.id = e.vec_id
    LEFT JOIN border b ON b.id = e.vec_id
    """


@register(
    "embedding_dbscan",
    oracle=_DBSCAN_SQL,
    doc="Density-based clustering with explicit NOISE (operators."
    "cluster.dbscan_clusters; DBSCAN, Ester et al. 1996): quantized "
    "cosine >= 0.3 defines neighbors, closed-neighborhood size >= 4 "
    "defines core points, clusters are connected components over "
    "core-core edges (min-core-id labels via star contraction — "
    "eps-neighbor graphs chain, ADVICE r6), border points take the "
    "MINIMUM neighboring core's cluster (deterministic where classic "
    "DBSCAN is scan-order dependent), all else is noise (cluster -1; "
    "zero-norm vectors are noise by construction). The outlier-triage "
    "complement of k-means/SemDeDup. The eps-pair frame is the exact "
    "blocked-matmul engine (the oracle baseline); lsh_near_dup_pairs "
    "plugs into the same `pairs` seam as the sub-quadratic scale "
    "path. Oracle replays the whole pipeline: recursive-CTE closure "
    "vs the iterative star-contraction Spark CC.",
    survey_refs=("LLM-sim", "LLM-dedup"),
)
def embedding_dbscan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blockchain_indexer_spark.operators.cluster import dbscan_clusters

    emb = load_table(spark, sf_dir, "embeddings")
    return dbscan_clusters(emb, "vec_id", "embedding", eps=0.3, min_pts=4).select(
        F.col("id").alias("vec_id"), "role", "cluster"
    )


# ---------------------------------------------------------------------------
# doc_mmr_rerank: diversified retrieval (BM25 pool -> greedy MMR)
# (promoted from plans/banked_r7.py — banked + parity-tested in round 6,
# registered round 7 per VERDICT r6 "Next round" #1)
# ---------------------------------------------------------------------------


def _mmr_steps(k: int, lam_num: int, lam2: int) -> str:
    """Unrolled greedy-selection CTE chain: step i picks, per query,
    the argmax of lam_num*rel - lam2*max(sim to selected) over the
    not-yet-selected candidates, ties by doc id — exactly the Spark
    operator's per-group loop."""
    parts = [
        f"""
    p1 AS MATERIALIZED (
      SELECT query_id, doc_id, rel, CAST(0 AS BIGINT) AS ms,
             CAST({lam_num} * rel AS BIGINT) AS m
      FROM cand
    ),
    s1 AS MATERIALIZED (
      SELECT query_id, doc_id, rel, ms, m FROM
        (SELECT *, row_number() OVER (PARTITION BY query_id
                                      ORDER BY m DESC, doc_id) AS rn FROM p1)
      WHERE rn = 1
    ),
    sel1 AS MATERIALIZED (SELECT query_id, doc_id, 1 AS r, rel, ms, m FROM s1)"""
    ]
    for i in range(2, k + 1):
        j = i - 1
        parts.append(
            f"""
    p{i} AS MATERIALIZED (
      SELECT c.query_id, c.doc_id, c.rel,
             CAST(COALESCE(MAX(x.s), 0) AS BIGINT) AS ms,
             CAST({lam_num} * c.rel - {lam2} * COALESCE(MAX(x.s), 0) AS BIGINT) AS m
      FROM cand c
      LEFT JOIN (SELECT s.query_id, s.a, s.s
                 FROM sims s JOIN sel{j} t
                   ON t.query_id = s.query_id AND t.doc_id = s.b) x
        ON x.query_id = c.query_id AND x.a = c.doc_id
      WHERE NOT EXISTS (SELECT 1 FROM sel{j} t2
                        WHERE t2.query_id = c.query_id AND t2.doc_id = c.doc_id)
      GROUP BY 1, 2, 3
    ),
    s{i} AS MATERIALIZED (
      SELECT query_id, doc_id, rel, ms, m FROM
        (SELECT *, row_number() OVER (PARTITION BY query_id
                                      ORDER BY m DESC, doc_id) AS rn FROM p{i})
      WHERE rn = 1
    ),
    sel{i} AS MATERIALIZED (SELECT * FROM sel{j} UNION ALL
               SELECT query_id, doc_id, {i} AS r, rel, ms, m FROM s{i})"""
        )
    return ",".join(parts)


_MMR_SQL = (
    rf"""
    WITH d AS (
      SELECT doc_id, COALESCE({_TOKS_SQL}, []) AS toks FROM documents
    ),
    tok AS MATERIALIZED (SELECT doc_id, unnest(toks) AS term FROM d),
    tf AS MATERIALIZED (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
           FROM tok GROUP BY 1, 2),
    dl AS MATERIALIZED (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM tok GROUP BY 1),
    corpus AS MATERIALIZED (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                      CAST(SUM(len(toks)) AS BIGINT) AS s FROM d),
    dft AS MATERIALIZED (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
    q AS MATERIALIZED (
      SELECT doc_id AS query_id, unnest(list_sort(list_distinct(toks))[1:4]) AS term
      FROM d WHERE doc_id % 83 = 0 AND len(toks) >= 4
    ),
    hits AS (
      SELECT q.query_id, tf.doc_id, tf.tf, dft.df, dl.dl, c.n, c.s
      FROM q JOIN tf USING (term) JOIN dft USING (term)
             JOIN dl ON dl.doc_id = tf.doc_id
             CROSS JOIN corpus c
    ),
    scored AS (
      SELECT query_id, doc_id,
             CAST(SUM(CAST(floor(1e9 * (
               CAST(CAST(22 * s * tf * (2 * n - 2 * df + 1) AS BIGINT) AS DOUBLE)
               / CAST(CAST((10 * s * tf + 3 * s + 9 * dl * n) * (2 * df + 1)
                           AS BIGINT) AS DOUBLE)
             )) AS BIGINT)) AS BIGINT) AS rel
      FROM hits GROUP BY 1, 2
    ),
    cand AS MATERIALIZED (
      SELECT query_id, doc_id, rel
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY rel DESC, doc_id) AS rn
            FROM scored)
      WHERE rn <= 10
    ),
    dset AS MATERIALIZED (SELECT DISTINCT doc_id FROM cand),
    dtok AS MATERIALIZED (
      SELECT d.doc_id AS dd, unnest(list_distinct(toks)) AS t
      FROM d JOIN dset ON dset.doc_id = d.doc_id
    ),
    sizes AS MATERIALIZED (SELECT dd, CAST(COUNT(*) AS BIGINT) AS nn FROM dtok GROUP BY 1),
    com AS (
      SELECT ca.query_id, ca.doc_id AS a, cb.doc_id AS b,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM cand ca
      JOIN dtok da ON da.dd = ca.doc_id
      JOIN cand cb ON cb.query_id = ca.query_id AND cb.doc_id > ca.doc_id
      JOIN dtok db ON db.dd = cb.doc_id AND db.t = da.t
      GROUP BY 1, 2, 3
    ),
    sims0 AS MATERIALIZED (
      SELECT com.query_id, com.a, com.b,
             CAST((1000000000 * com.c) // (sa.nn + sb.nn - com.c) AS BIGINT) AS s
      FROM com
      JOIN sizes sa ON sa.dd = com.a
      JOIN sizes sb ON sb.dd = com.b
    ),
    sims AS MATERIALIZED (SELECT query_id, a, b, s FROM sims0
             UNION ALL SELECT query_id, b, a, s FROM sims0),"""
    + _mmr_steps(5, 7, 3)
    + """
    SELECT query_id, CAST(r AS BIGINT) AS mmr_rank, doc_id,
           CAST(rel AS BIGINT) AS rel_nano, ms AS max_sim_nano, m AS mmr_nano
    FROM sel5
    """
)


@register(
    "doc_mmr_rerank",
    oracle=_MMR_SQL,
    doc="Maximal-marginal-relevance diversified re-rank (operators."
    "textprep.mmr_rerank; Carbonell & Goldstein 1998) — the retrieval "
    "stage doc_bm25_topk/doc_hybrid_rrf feed: from each query's BM25 "
    "top-10 pool, greedily keep 5 by lam*rel - (1-lam)*max-sim-to-"
    "selected with lam = 7/10 RATIONAL, relevance the integer BM25 "
    "score_nano, and inter-candidate similarity the token-set jaccard "
    "on the 1e-9 grid via INTEGER division — every MMR score is an "
    "exact integer, ties break doc-id-asc at each step, so the 5-step "
    "unrolled-CTE oracle replays the greedy selection decision-for-"
    "decision. Pool pairs are built by a term-keyed posting join over "
    "candidate docs only (pool^2 per query cap); the greedy loop runs "
    "per query in one Arrow cogroup batch.",
    survey_refs=("LLM-text", "LLM-sim", "W1"),
)
def doc_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blockchain_indexer_spark.functions.text import tokens
    from blockchain_indexer_spark.operators.textprep import mmr_rerank

    d = load_table(spark, sf_dir, "documents")
    base = d.select(
        "doc_id",
        F.coalesce(tokens("text"), F.array().cast("array<string>")).alias("toks"),
    )
    queries = (
        base.filter((F.col("doc_id") % 83 == 0) & (F.size("toks") >= 4))
        .select(
            F.col("doc_id").alias("query_id"),
            F.explode(F.slice(F.array_sort(F.array_distinct("toks")), 1, 4)).alias(
                "term"
            ),
        )
    )
    return mmr_rerank(base, queries, k=5, pool=10, lam_num=7, lam_den=10)


# ---------------------------------------------------------------------------
# embedding_lp_ivf_agreement: the IVF index-scale swap, driver-gated
# (VERDICT r6 "Next round" #5)
# ---------------------------------------------------------------------------

#: Shared cosine CTE body: score(a, b) over quantized vectors — the
#: exact arithmetic of _rerank_topk(metric='cosine') / the flat scans
#: (integer dot and norms exact in double, ONE IEEE sqrt + divide).
_LP_IVF_SQL = """
    WITH vq AS MATERIALIZED (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
      FROM embeddings
    ),
    nz AS MATERIALIZED (
      SELECT * FROM vq WHERE list_sum(list_transform(v, x -> x * x)) > 0
    ),
    ex_scored AS MATERIALIZED (
      SELECT a.vec_id AS q, b.vec_id AS n,
             CAST(list_sum(list_transform(range(1, len(a.v) + 1), i -> CAST(a.v[i] * b.v[i] AS DOUBLE)))
                  / sqrt(CAST(list_sum(list_transform(a.v, x -> CAST(x * x AS DOUBLE))) AS DOUBLE)
                         * CAST(list_sum(list_transform(b.v, x -> CAST(x * x AS DOUBLE))) AS DOUBLE))
                  AS DOUBLE) AS score
      FROM nz a JOIN nz b ON a.vec_id != b.vec_id
    ),
    ex_topk AS MATERIALIZED (
      SELECT q, n FROM (SELECT *, row_number() OVER (PARTITION BY q
                                                     ORDER BY score DESC, n) AS rn
                        FROM ex_scored)
      WHERE rn <= 5
    ),
    ex_mut AS MATERIALIZED (
      SELECT t1.q AS src, t1.n AS dst
      FROM ex_topk t1 JOIN ex_topk t2 ON t1.q = t2.n AND t1.n = t2.q
      WHERE t1.q < t1.n
    ),
    samp AS MATERIALIZED (
      SELECT v, row_number() OVER (ORDER BY vec_id) - 1 AS rn
      FROM vq WHERE v IS NOT NULL ORDER BY vec_id LIMIT 256
    ),
    cents AS MATERIALIZED (
      SELECT CAST(rn // 16 AS INT) AS cell, v,
             list_sum(list_transform(v, x -> CAST(x * x AS DOUBLE))) AS csq
      FROM samp WHERE rn % 16 = 0
    ),
    assign AS MATERIALIZED (
      SELECT vq.vec_id, c.cell,
             c.csq - 2 * list_sum(list_transform(range(1, len(vq.v) + 1),
                                                 i -> CAST(vq.v[i] * c.v[i] AS DOUBLE))) AS d
      FROM vq CROSS JOIN cents c
    ),
    corpus_cell AS MATERIALIZED (
      SELECT vec_id, cell
      FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
            FROM assign)
      WHERE rn = 1
    ),
    probes AS MATERIALIZED (
      SELECT vec_id AS q, cell
      FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
            FROM assign)
      WHERE rn <= 4
    ),
    iv_scored AS MATERIALIZED (
      SELECT p.q, cc.vec_id AS n,
             CAST(list_sum(list_transform(range(1, len(a.v) + 1), i -> CAST(a.v[i] * b.v[i] AS DOUBLE)))
                  / sqrt(CAST(list_sum(list_transform(a.v, x -> CAST(x * x AS DOUBLE))) AS DOUBLE)
                         * CAST(list_sum(list_transform(b.v, x -> CAST(x * x AS DOUBLE))) AS DOUBLE))
                  AS DOUBLE) AS score
      FROM probes p
      JOIN corpus_cell cc ON p.cell = cc.cell AND p.q != cc.vec_id
      -- nz, not vq: zero-norm/NULL vectors have no cosine and are
      -- dropped from the rerank on the Spark side (_rerank_topk)
      JOIN nz a ON a.vec_id = p.q
      JOIN nz b ON b.vec_id = cc.vec_id
    ),
    iv_topk AS MATERIALIZED (
      SELECT q, n FROM (SELECT *, row_number() OVER (PARTITION BY q
                                                     ORDER BY score DESC, n) AS rn
                        FROM iv_scored)
      WHERE rn <= 5
    ),
    iv_mut AS MATERIALIZED (
      SELECT t1.q AS src, t1.n AS dst
      FROM iv_topk t1 JOIN iv_topk t2 ON t1.q = t2.n AND t1.n = t2.q
      WHERE t1.q < t1.n
    ),
    seed AS MATERIALIZED (
      SELECT vec_id AS id, label AS l FROM embeddings
      WHERE vec_id % 5 = 0 AND label IS NOT NULL
    ),
    ex_adj AS MATERIALIZED (SELECT src AS a, dst AS b FROM ex_mut
                            UNION SELECT dst, src FROM ex_mut),
    iv_adj AS MATERIALIZED (SELECT src AS a, dst AS b FROM iv_mut
                            UNION SELECT dst, src FROM iv_mut),
    ex_v1 AS MATERIALIZED (
      SELECT ex_adj.a AS id, s.l, CAST(COUNT(*) AS BIGINT) AS n
      FROM ex_adj JOIN seed s ON s.id = ex_adj.b GROUP BY 1, 2
    ),
    ex_d1 AS MATERIALIZED (
      SELECT id, l FROM (
        SELECT *, row_number() OVER (PARTITION BY id ORDER BY n DESC, l) AS rk
        FROM ex_v1 WHERE id NOT IN (SELECT id FROM seed)
      ) WHERE rk = 1
    ),
    ex_l1 AS MATERIALIZED (SELECT * FROM seed UNION ALL SELECT * FROM ex_d1),
    ex_v2 AS MATERIALIZED (
      SELECT ex_adj.a AS id, s.l, CAST(COUNT(*) AS BIGINT) AS n
      FROM ex_adj JOIN ex_l1 s ON s.id = ex_adj.b GROUP BY 1, 2
    ),
    ex_d2 AS MATERIALIZED (
      SELECT id, l FROM (
        SELECT *, row_number() OVER (PARTITION BY id ORDER BY n DESC, l) AS rk
        FROM ex_v2 WHERE id NOT IN (SELECT id FROM seed)
      ) WHERE rk = 1
    ),
    iv_v1 AS MATERIALIZED (
      SELECT iv_adj.a AS id, s.l, CAST(COUNT(*) AS BIGINT) AS n
      FROM iv_adj JOIN seed s ON s.id = iv_adj.b GROUP BY 1, 2
    ),
    iv_d1 AS MATERIALIZED (
      SELECT id, l FROM (
        SELECT *, row_number() OVER (PARTITION BY id ORDER BY n DESC, l) AS rk
        FROM iv_v1 WHERE id NOT IN (SELECT id FROM seed)
      ) WHERE rk = 1
    ),
    iv_l1 AS MATERIALIZED (SELECT * FROM seed UNION ALL SELECT * FROM iv_d1),
    iv_v2 AS MATERIALIZED (
      SELECT iv_adj.a AS id, s.l, CAST(COUNT(*) AS BIGINT) AS n
      FROM iv_adj JOIN iv_l1 s ON s.id = iv_adj.b GROUP BY 1, 2
    ),
    iv_d2 AS MATERIALIZED (
      SELECT id, l FROM (
        SELECT *, row_number() OVER (PARTITION BY id ORDER BY n DESC, l) AS rk
        FROM iv_v2 WHERE id NOT IN (SELECT id FROM seed)
      ) WHERE rk = 1
    ),
    ecnt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges_exact FROM ex_mut),
    icnt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges_ivf FROM iv_mut),
    ccnt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges_common
             FROM ex_mut JOIN iv_mut USING (src, dst)),
    pe AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_prop_exact FROM ex_d2),
    pi AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_prop_ivf FROM iv_d2),
    pb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_prop_both,
                  CAST(COALESCE(SUM(CASE WHEN e.l = i.l THEN 1 ELSE 0 END), 0)
                       AS BIGINT) AS n_prop_agree
           FROM ex_d2 e JOIN iv_d2 i USING (id))
    SELECT e.n_edges_exact, i.n_edges_ivf, c.n_edges_common,
           CASE WHEN e.n_edges_exact = 0 THEN CAST(-1 AS BIGINT)
                ELSE CAST(floor(1e9 * (CAST(c.n_edges_common AS DOUBLE)
                                       / CAST(e.n_edges_exact AS DOUBLE))) AS BIGINT)
           END AS edge_recall_nano,
           CASE WHEN i.n_edges_ivf = 0 THEN CAST(-1 AS BIGINT)
                ELSE CAST(floor(1e9 * (CAST(c.n_edges_common AS DOUBLE)
                                       / CAST(i.n_edges_ivf AS DOUBLE))) AS BIGINT)
           END AS edge_precision_nano,
           pe.n_prop_exact, pi.n_prop_ivf, pb.n_prop_both, pb.n_prop_agree,
           CASE WHEN pb.n_prop_both = 0 THEN CAST(-1 AS BIGINT)
                ELSE CAST(floor(1e9 * (CAST(pb.n_prop_agree AS DOUBLE)
                                       / CAST(pb.n_prop_both AS DOUBLE))) AS BIGINT)
           END AS label_agreement_nano
    FROM ecnt e CROSS JOIN icnt i CROSS JOIN ccnt c
    CROSS JOIN pe CROSS JOIN pi CROSS JOIN pb
    """


@register(
    "embedding_lp_ivf_agreement",
    oracle=_LP_IVF_SQL,
    doc="Index-scale-swap agreement monitor (VERDICT r6 #5): builds "
    "the mutual-5NN graph TWICE — the exact blocked-matmul baseline "
    "and the IVF coarse-cell index (mutual_knn_graph(index='ivf'), "
    "4-of-16 probes, iters=0 data-seeded centroids so the whole "
    "retrieval is SQL-replayable) — runs the same 2-round seeded "
    "label propagation over both graphs, and reports edge-set "
    "recall/precision plus propagated-label agreement as one "
    "all-integer row. This is the driver-gated proof that the 100 TB "
    "retrieval swap (both sides shuffle once on cell id, no corpus "
    "broadcast, no all-pairs scan) preserves the downstream graph "
    "semantics — the lp twin of embedding_ann_recall. The REPORTED "
    "values are corpus-dependent by design (that is what a monitor "
    "is for): the driver testdata embeddings are near-uniform, so a "
    "16-cell data-seeded quantizer has little structure to exploit "
    "(~0.3 edge recall here); on a clustered corpus the same swap "
    "pins 0.979 edge recall (tests/test_similarity.py::"
    "test_mutual_knn_graph_ivf_swap_recall, Lloyd-refined cells). "
    "Scale: the IVF probe join is |C| x n_probe x avg-cell; the "
    "exact matmul is the oracle baseline only; everything after the "
    "two retrievals is O(n*k) joins and scalar aggs (one-row "
    "crossJoins).",
    survey_refs=("LLM-sim", "J9"),
)
def embedding_lp_ivf_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blockchain_indexer_spark.operators.cluster import label_propagation
    from blockchain_indexer_spark.operators.overlap import build_concurrently
    from blockchain_indexer_spark.operators.similarity import mutual_knn_graph

    emb = load_table(spark, sf_dir, "embeddings")
    # pin both O(n*k) edge frames: each feeds LP (adjacency union) AND
    # two scalar-count consumers below. The exact and IVF retrievals
    # are independent — overlap their eager builds (guide §2.6), then
    # the two label propagations likewise; frames and bits unchanged.
    ex, iv = build_concurrently(
        lambda: mutual_knn_graph(
            emb, "vec_id", "embedding", k=5, index="exact"
        ).localCheckpoint(eager=True),
        lambda: mutual_knn_graph(
            emb, "vec_id", "embedding", k=5, index="ivf",
            n_cells=16, n_probe=4, iters=0,
        ).localCheckpoint(eager=True),
    )
    seeds = emb.filter(F.col("vec_id") % 5 == 0).select("vec_id", "label")
    prop_e, prop_i = build_concurrently(
        lambda: label_propagation(ex, seeds, id_col="vec_id", label_col="label", iters=2)
        .filter(~F.col("is_seed"))
        .select("vec_id", F.col("label").alias("_le"))
        .localCheckpoint(eager=True),  # count + agreement join below
        lambda: label_propagation(iv, seeds, id_col="vec_id", label_col="label", iters=2)
        .filter(~F.col("is_seed"))
        .select("vec_id", F.col("label").alias("_li"))
        .localCheckpoint(eager=True),
    )
    ecnt = ex.agg(F.count("*").cast("bigint").alias("n_edges_exact"))
    icnt = iv.agg(F.count("*").cast("bigint").alias("n_edges_ivf"))
    ccnt = ex.join(iv, ["src", "dst"], "leftsemi").agg(
        F.count("*").cast("bigint").alias("n_edges_common")
    )
    pe = prop_e.agg(F.count("*").cast("bigint").alias("n_prop_exact"))
    pi = prop_i.agg(F.count("*").cast("bigint").alias("n_prop_ivf"))
    pb = prop_e.join(prop_i, "vec_id").agg(
        F.count("*").cast("bigint").alias("n_prop_both"),
        F.coalesce(
            F.sum(F.when(F.col("_le") == F.col("_li"), 1).otherwise(0)), F.lit(0)
        )
        .cast("bigint")
        .alias("n_prop_agree"),
    )

    def _nano(num: str, den: str):
        return (
            F.when(F.col(den) == 0, F.lit(-1).cast("bigint"))
            .otherwise(
                F.floor(
                    F.lit(1e9) * F.col(num).cast("double") / F.col(den).cast("double")
                ).cast("bigint")
            )
        )

    return (
        ecnt.crossJoin(icnt)
        .crossJoin(ccnt)
        .crossJoin(pe)
        .crossJoin(pi)
        .crossJoin(pb)
        .select(
            "n_edges_exact",
            "n_edges_ivf",
            "n_edges_common",
            _nano("n_edges_common", "n_edges_exact").alias("edge_recall_nano"),
            _nano("n_edges_common", "n_edges_ivf").alias("edge_precision_nano"),
            "n_prop_exact",
            "n_prop_ivf",
            "n_prop_both",
            "n_prop_agree",
            _nano("n_prop_agree", "n_prop_both").alias("label_agreement_nano"),
        )
    )


# ---------------------------------------------------------------------------
# doc_longest_repeat: suffix-doubling memorization ladder
# (promoted from plans/banked_r8.py — banked + parity-tested in round 7,
# registered round 8 per VERDICT r7 "Next round" #1)
# ---------------------------------------------------------------------------


def _ladder_rung_sql(k: int) -> str:
    return f"""
    w{k} AS (
      SELECT DISTINCT doc_id,
             array_to_string(list_slice(t, i, i + {k - 1}), ' ') AS h
      FROM toks, UNNEST(range(1, len(t) - {k - 2})) AS r(i)
      WHERE len(t) >= {k}
    ),
    hit{k} AS (
      SELECT DISTINCT doc_id, CAST({k} AS BIGINT) AS k
      FROM w{k}
      WHERE h IN (SELECT h FROM w{k} GROUP BY h HAVING COUNT(*) >= 2)
    )"""


_LADDER_SQL = (
    rf"""
    WITH toks AS (
      SELECT doc_id, {_TOKS_SQL} AS t FROM documents
    ),"""
    + ",".join(_ladder_rung_sql(k) for k in (4, 8, 16, 32, 64))
    + """,
    shared4 AS (SELECT h FROM w4 GROUP BY h HAVING COUNT(*) >= 2),
    base AS (
      SELECT w4.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_windows,
             CAST(COUNT(s.h) AS BIGINT) AS n_repeated
      FROM w4 LEFT JOIN shared4 s ON s.h = w4.h
      GROUP BY 1
    ),
    hits AS (
      SELECT * FROM hit4 UNION ALL SELECT * FROM hit8
      UNION ALL SELECT * FROM hit16 UNION ALL SELECT * FROM hit32
      UNION ALL SELECT * FROM hit64
    ),
    longest AS (SELECT doc_id, MAX(k) AS longest_pow2_repeat FROM hits GROUP BY 1)
    SELECT d.doc_id,
           CAST(COALESCE(b.n_windows, 0) AS BIGINT) AS n_windows,
           CAST(COALESCE(b.n_repeated, 0) AS BIGINT) AS n_repeated,
           CASE WHEN COALESCE(b.n_windows, 0) = 0 THEN 0.0
                ELSE CAST(b.n_repeated AS DOUBLE) / b.n_windows
           END AS repeat_frac,
           CAST(COALESCE(l.longest_pow2_repeat, 0) AS BIGINT) AS longest_pow2_repeat
    FROM documents d
    LEFT JOIN base b ON b.doc_id = d.doc_id
    LEFT JOIN longest l ON l.doc_id = d.doc_id
    """
)


@register(
    "doc_longest_repeat",
    oracle=_LADDER_SQL,
    doc="Corpus-level longest-repeat memorization scan (operators."
    "dedup.longest_repeat_ladder) — cross_repeat_spans generalized "
    "from one window size to the suffix-DOUBLING ladder 4/8/16/32/64: "
    "per document, the largest rung at which a window of that length "
    "occurs verbatim in another document (a 2-approximation of the "
    "exact suffix-array longest shared substring at O(log L) corpus "
    "passes), plus the base-rung shared-window counts. Rung hashes "
    "derive by doubling — h_2k(i) = xxhash64(h_k(i), h_k(i+k)), a "
    "2k-window IS the pair of k-windows at i and i+k — so each level "
    "is O(1) per window (shuffle-free JVM HOF over per-doc hash "
    "arrays, localCheckpointed per level) + one uniform-key distinct "
    "and count agg; the oracle groups raw window STRINGS per rung "
    "(hash-agnostic, strictly stronger). Lee et al.'s exact-substring "
    "criterion, reported as per-doc memorization DEPTH.",
    survey_refs=("LLM-dedup", "LLM-text"),
)
def doc_longest_repeat(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blockchain_indexer_spark.operators.dedup import longest_repeat_ladder

    d = load_table(spark, sf_dir, "documents")
    return longest_repeat_ladder(d, "doc_id", "text", base=4, levels=5).select(
        F.col("id").alias("doc_id"),
        "n_windows",
        "n_repeated",
        "repeat_frac",
        "longest_pow2_repeat",
    )


# ---------------------------------------------------------------------------
# doc_split_leakage: train/eval exact-substring contamination gate
# (promoted from plans/banked_r8.py)
# ---------------------------------------------------------------------------

_SPLIT_LEAKAGE_SQL = rf"""
    WITH sp AS (
      SELECT doc_id,
             CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 90
                  THEN 'train'
                  WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 95
                  THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
    ),
    toks AS (
      SELECT d.doc_id, sp.split, {_TOKS_SQL} AS t
      FROM documents d JOIN sp USING (doc_id)
    ),
    w AS (
      SELECT DISTINCT doc_id, split,
             array_to_string(list_slice(t, i, i + 7), ' ') AS h
      FROM toks, UNNEST(range(1, len(t) - 6)) AS r(i)
      WHERE len(t) >= 8
    ),
    tr AS (SELECT DISTINCT h FROM w WHERE split = 'train'),
    per AS (
      SELECT w.doc_id, w.split,
             CAST(COUNT(*) AS BIGINT) AS n_windows,
             CAST(COUNT(tr.h) AS BIGINT) AS n_leaked
      FROM w LEFT JOIN tr ON tr.h = w.h
      WHERE w.split <> 'train'
      GROUP BY 1, 2
    )
    SELECT sp.doc_id, sp.split,
           CAST(COALESCE(p.n_windows, 0) AS BIGINT) AS n_windows,
           CAST(COALESCE(p.n_leaked, 0) AS BIGINT) AS n_leaked,
           CASE WHEN COALESCE(p.n_windows, 0) = 0 THEN 0.0
                ELSE CAST(p.n_leaked AS DOUBLE) / p.n_windows
           END AS leak_frac,
           COALESCE(p.n_leaked, 0) > 0 AS leaked
    FROM sp
    LEFT JOIN per p ON p.doc_id = sp.doc_id
    WHERE sp.split <> 'train'
    """


@register(
    "doc_split_leakage",
    oracle=_SPLIT_LEAKAGE_SQL,
    doc="Train/eval SPLIT-LEAKAGE gate (operators.dedup.split_leakage "
    "over sampling.hash_split's deterministic 90/5/5 assignment): for "
    "every val/test document, whether any 8-token sliding window "
    "occurs verbatim in a TRAIN document — the Lee et al. / GPT-3 "
    "exact-substring contamination criterion applied at split time, "
    "the check a pipeline runs before shipping an eval set (leaked "
    "eval spans inflate benchmarks). One row per non-train doc with "
    "distinct-window counts, leak fraction, and the boolean verdict. "
    "The train side reduces to ONE distinct 64-bit hash set (counts "
    "are hash-equality classes; the oracle groups raw window strings "
    "— hash-agnostic and strictly stronger); at 100 TB the dominant "
    "train corpus pays two uniform-key hash exchanges and the eval "
    "side is 5-10% of docs by construction.",
    survey_refs=("LLM-dedup", "LLM-sample", "LLM-text"),
)
def doc_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blockchain_indexer_spark.operators.dedup import split_leakage
    from blockchain_indexer_spark.operators.sampling import hash_split

    d = load_table(spark, sf_dir, "documents")
    return split_leakage(
        hash_split(d, "doc_id"), "doc_id", "text", "split", k=8
    ).select(
        F.col("id").alias("doc_id"),
        "split",
        "n_windows",
        "n_leaked",
        "leak_frac",
        "leaked",
    )


# ---------------------------------------------------------------------------
# Round-9 promotions (banked in round 8, VERDICT r8 "Next round" #1)
# ---------------------------------------------------------------------------


# ---------------------------------------------------------------------------
# embedding_pq_adc_agreement: exact-vs-IVFPQ top-k agreement monitor
# ---------------------------------------------------------------------------

#: The registered embedding_ivfpq_topk oracle chain (inlined under
#: distinct CTE names so both gates stay self-contained one-statement
#: oracles), wrapped as the `ipq` CTE, followed by an
#: exact integer-L2 top-5 chain and the agreement aggregation. Heavily
#: MATERIALIZED: DuckDB re-evaluates multiply-referenced CTEs.
_PQ_ADC_AGREEMENT_SQL = """
    WITH vq AS MATERIALIZED (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
      FROM embeddings
    ),
    samp AS (
      SELECT v, row_number() OVER (ORDER BY vec_id) - 1 AS rn
      FROM vq ORDER BY vec_id LIMIT 256
    ),
    cents AS MATERIALIZED (
      SELECT CAST(rn // 16 AS INT) AS cell, v,
             list_sum(list_transform(v, x -> CAST(x * x AS DOUBLE))) AS csq
      FROM samp WHERE rn % 16 = 0
    ),
    assign AS MATERIALIZED (
      SELECT vq.vec_id, c.cell,
             c.csq - 2 * list_sum(list_transform(range(1, len(vq.v) + 1),
                                                 i -> CAST(vq.v[i] * c.v[i] AS DOUBLE))) AS d
      FROM vq CROSS JOIN cents c
    ),
    corpus_cell AS MATERIALIZED (
      SELECT vec_id, cell
      FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
            FROM assign)
      WHERE rn = 1
    ),
    resid AS MATERIALIZED (
      SELECT cc.vec_id, cc.cell,
             list_transform(range(1, len(vq.v) + 1),
                            i -> vq.v[i] - c.v[i]) AS r
      FROM corpus_cell cc
      JOIN vq USING (vec_id)
      JOIN cents c ON c.cell = cc.cell
    ),
    seeds AS (
      SELECT r, row_number() OVER (ORDER BY vec_id) - 1 AS code
      FROM resid ORDER BY vec_id LIMIT 32
    ),
    book AS MATERIALIZED (
      SELECT p.j, s.code, list_slice(s.r, p.j * 4 + 1, p.j * 4 + 4) AS bv
      FROM seeds s CROSS JOIN (SELECT unnest(range(0, 16)) AS j) p
    ),
    rsubs AS (
      SELECT resid.vec_id, resid.cell, p.j,
             list_slice(resid.r, p.j * 4 + 1, p.j * 4 + 4) AS rs
      FROM resid CROSS JOIN (SELECT unnest(range(0, 16)) AS j) p
    ),
    codes AS MATERIALIZED (
      SELECT vec_id, cell, j, code
      FROM (SELECT r.vec_id, r.cell, r.j, b.code,
                   row_number() OVER (PARTITION BY r.vec_id, r.j ORDER BY
                     list_sum(list_transform(range(1, 5),
                       i -> CAST((r.rs[i] - b.bv[i]) * (r.rs[i] - b.bv[i]) AS DOUBLE))),
                     b.code) AS rn
            FROM rsubs r JOIN book b ON b.j = r.j)
      WHERE rn = 1
    ),
    probes AS MATERIALIZED (
      SELECT vec_id AS query_id, cell
      FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
            FROM assign WHERE vec_id % 50 = 0)
      WHERE rn <= 6
    ),
    lut AS MATERIALIZED (
      SELECT p.query_id, p.cell, b.j, b.code,
             list_sum(list_transform(range(1, 5),
               i -> CAST((list_slice(qr.r, b.j * 4 + 1, b.j * 4 + 4)[i] - b.bv[i])
                       * (list_slice(qr.r, b.j * 4 + 1, b.j * 4 + 4)[i] - b.bv[i]) AS DOUBLE)
             )) AS ld
      FROM probes p
      JOIN (SELECT vq.vec_id, c.cell,
                   list_transform(range(1, len(vq.v) + 1), i -> vq.v[i] - c.v[i]) AS r
            FROM vq CROSS JOIN cents c) qr
        ON qr.vec_id = p.query_id AND qr.cell = p.cell
      CROSS JOIN book b
    ),
    adc AS MATERIALIZED (
      SELECT l.query_id, cd.vec_id AS neighbor_id,
             CAST(SUM(l.ld) AS BIGINT) AS adc_dist
      FROM codes cd
      JOIN lut l ON l.cell = cd.cell AND l.j = cd.j AND l.code = cd.code
      WHERE l.query_id != cd.vec_id
      GROUP BY l.query_id, cd.vec_id
    ),
    short AS (
      SELECT query_id, neighbor_id
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY adc_dist, neighbor_id) AS rn
            FROM adc)
      WHERE rn <= 50
    ),
    rer AS (
      SELECT s.query_id, s.neighbor_id,
             CAST(list_sum(list_transform(range(1, len(a.v) + 1),
               i -> CAST((a.v[i] - b.v[i]) * (a.v[i] - b.v[i]) AS DOUBLE))) AS BIGINT) AS l2_dist
      FROM short s
      JOIN vq a ON a.vec_id = s.query_id
      JOIN vq b ON b.vec_id = s.neighbor_id
    ),
    ipq AS MATERIALIZED (
      SELECT query_id, CAST(rn AS BIGINT) AS rank, neighbor_id
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY l2_dist, neighbor_id) AS rn
            FROM rer)
      WHERE rn <= 5
    ),
    ex_all AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             CAST(list_sum(list_transform(range(1, len(a.v) + 1),
               i -> CAST((a.v[i] - b.v[i]) * (a.v[i] - b.v[i]) AS DOUBLE))) AS BIGINT) AS l2_dist
      FROM vq a JOIN vq b ON b.vec_id != a.vec_id
      WHERE a.vec_id % 50 = 0
    ),
    ex AS MATERIALIZED (
      SELECT query_id, CAST(rn AS BIGINT) AS rank, neighbor_id
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY l2_dist, neighbor_id) AS rn
            FROM ex_all)
      WHERE rn <= 5
    ),
    common AS MATERIALIZED (
      SELECT ex.query_id, ex.neighbor_id,
             CASE WHEN ex.rank = ipq.rank THEN 1 ELSE 0 END AS rank_agree
      FROM ex JOIN ipq USING (query_id, neighbor_id)
    ),
    nq AS (SELECT CAST(COUNT(DISTINCT query_id) AS BIGINT) AS n_queries FROM ex),
    ne AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_exact FROM ex),
    na AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_adc FROM ipq),
    nc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_common,
                  CAST(COALESCE(SUM(rank_agree), 0) AS BIGINT) AS n_rank_agree
           FROM common)
    SELECT nq.n_queries, ne.n_exact, na.n_adc, nc.n_common,
           CASE WHEN ne.n_exact = 0 THEN CAST(-1 AS BIGINT)
                ELSE CAST(floor(1e9 * (CAST(nc.n_common AS DOUBLE)
                                       / CAST(ne.n_exact AS DOUBLE))) AS BIGINT)
           END AS recall_nano,
           nc.n_rank_agree,
           CASE WHEN nc.n_common = 0 THEN CAST(-1 AS BIGINT)
                ELSE CAST(floor(1e9 * (CAST(nc.n_rank_agree AS DOUBLE)
                                       / CAST(nc.n_common AS DOUBLE))) AS BIGINT)
           END AS rank_agree_nano
    FROM nq CROSS JOIN ne CROSS JOIN na CROSS JOIN nc
    """


@register(
    "embedding_pq_adc_agreement",
    oracle=_PQ_ADC_AGREEMENT_SQL,
    doc="ANN index-quality monitor for the IVF-PQ serving path "
    "(VERDICT r7 'Next round' #3b, the embedding_lp_ivf_agreement "
    "pattern): runs the EXACT integer-L2 top-5 scan and the IVF-PQ "
    "ADC pipeline (coarse prune 6-of-16 cells, residual PQ m=16/32 "
    "codes, 50-candidate shortlist, exact re-rank — the registered "
    "embedding_ivfpq_topk configuration) over the SAME query set and "
    "reports one all-integer row: pair recall of the ADC path against "
    "the exact scan and how many common pairs agree on RANK — the "
    "codebook-drift gate a pipeline alarms on before serving an index "
    "(codebooks trained on drifted data keep high self-consistency "
    "while recall vs exact quietly decays). Expensive by construction "
    "(it runs the baseline too); only the monitor pays that cost. "
    "Every stage is integer-exact with lowest-index tie-breaks, so "
    "the oracle replays BOTH sides decision-for-decision.",
    survey_refs=("LLM-sim",),
)
def embedding_pq_adc_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blockchain_indexer_spark.operators.similarity import (
        brute_force_topk,
        ivf_pq_topk,
    )

    from blockchain_indexer_spark.operators.overlap import build_concurrently

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    # each side feeds two aggregates — pin the retrieval passes; the
    # exact scan and the IVF-PQ pipeline (codebook training included)
    # are independent, so their eager builds overlap (guide §2.6)
    ex, ipq = build_concurrently(
        lambda: brute_force_topk(
            emb, queries, "vec_id", "embedding", k=5, metric="quantized_neg_l2"
        )
        .select("query_id", F.col("rank").cast("bigint").alias("rank"), "neighbor_id")
        .localCheckpoint(eager=True),
        lambda: ivf_pq_topk(
            emb, queries, "vec_id", "embedding",
            k=5, n_cells=16, n_probe=6, m=16, n_codes=32, rerank=50,
        )
        .select("query_id", F.col("rank").cast("bigint").alias("rank"), "neighbor_id")
        .localCheckpoint(eager=True),
    )
    common = ex.alias("e").join(
        ipq.alias("p"), ["query_id", "neighbor_id"]
    ).select(
        (F.col("e.rank") == F.col("p.rank")).cast("bigint").alias("rank_agree")
    )
    nq = ex.agg(
        F.countDistinct("query_id").cast("bigint").alias("n_queries"),
        F.count(F.lit(1)).cast("bigint").alias("n_exact"),
    )
    na = ipq.agg(F.count(F.lit(1)).cast("bigint").alias("n_adc"))
    nc = common.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_common"),
        F.coalesce(F.sum("rank_agree"), F.lit(0)).cast("bigint").alias("n_rank_agree"),
    )

    def _nano(num: str, den: str):
        return F.when(F.col(den) == 0, F.lit(-1).cast("bigint")).otherwise(
            F.floor(
                F.lit(1e9) * F.col(num).cast("double") / F.col(den).cast("double")
            ).cast("bigint")
        )

    return (
        nq.crossJoin(na)
        .crossJoin(nc)
        .select(
            "n_queries",
            "n_exact",
            "n_adc",
            "n_common",
            _nano("n_common", "n_exact").alias("recall_nano"),
            "n_rank_agree",
            _nano("n_rank_agree", "n_common").alias("rank_agree_nano"),
        )
    )


# ---------------------------------------------------------------------------
# embedding_dbscan_lsh_agreement: the DBSCAN scale-path swap, gated
# (fifth gate — the lp_ivf / pq_adc agreement pattern applied to the
# one remaining perf_weak seam, embedding_dbscan's exact pair default)
# ---------------------------------------------------------------------------



def _dbscan_ctes(sfx: str, pair_cte: str) -> str:
    """The embedding_dbscan oracle's core/closure/border chain over an
    arbitrary a<b pair CTE, name-suffixed so two engines coexist in
    one WITH RECURSIVE."""
    return f"""sym{sfx} AS MATERIALIZED (SELECT a, b FROM {pair_cte}
                 UNION ALL SELECT b, a FROM {pair_cte}),
    deg{sfx} AS (SELECT a AS id, CAST(COUNT(*) AS BIGINT) AS d
                 FROM sym{sfx} GROUP BY 1),
    core{sfx} AS MATERIALIZED (SELECT id FROM deg{sfx} WHERE d + 1 >= 4),
    ce{sfx} AS (
      SELECT s.a, s.b FROM sym{sfx} s
      JOIN core{sfx} ca ON ca.id = s.a
      JOIN core{sfx} cb ON cb.id = s.b
    ),
    reach{sfx}(id, r) AS (
      SELECT a, a FROM ce{sfx}
      UNION
      SELECT ce{sfx}.b, reach{sfx}.r
      FROM ce{sfx} JOIN reach{sfx} ON ce{sfx}.a = reach{sfx}.id
    ),
    comp{sfx} AS (SELECT id, MIN(r) AS cluster FROM reach{sfx} GROUP BY id),
    core_lab{sfx} AS MATERIALIZED (
      SELECT core{sfx}.id, COALESCE(comp{sfx}.cluster, core{sfx}.id) AS cluster
      FROM core{sfx} LEFT JOIN comp{sfx} ON comp{sfx}.id = core{sfx}.id
    ),
    border{sfx} AS MATERIALIZED (
      SELECT s.a AS id, MIN(cl.cluster) AS cluster
      FROM sym{sfx} s JOIN core_lab{sfx} cl ON cl.id = s.b
      WHERE s.a NOT IN (SELECT id FROM core{sfx})
      GROUP BY 1
    ),
    lab{sfx} AS MATERIALIZED (
      SELECT e.vec_id,
             CASE WHEN cl.id IS NOT NULL THEN 'core'
                  WHEN b.id IS NOT NULL THEN 'border'
                  ELSE 'noise' END AS role,
             CAST(COALESCE(cl.cluster, b.cluster, -1) AS BIGINT) AS cluster
      FROM embeddings e
      LEFT JOIN core_lab{sfx} cl ON cl.id = e.vec_id
      LEFT JOIN border{sfx} b ON b.id = e.vec_id
    )"""


_COS = (
    "CAST(list_sum(list_transform(range(1, len(a.qv) + 1),"
    " i -> CAST(a.qv[i] * b.qv[i] AS DOUBLE)))"
    " / sqrt(CAST(list_sum(list_transform(a.qv, x -> CAST(x * x AS DOUBLE))) AS DOUBLE)"
    "        * CAST(list_sum(list_transform(b.qv, x -> CAST(x * x AS DOUBLE))) AS DOUBLE))"
    " AS DOUBLE)"
)

_DBSCAN_LSH_AGREEMENT_SQL = (
    f"""
    WITH RECURSIVE v AS MATERIALIZED (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
      FROM embeddings
    ),
    nz AS MATERIALIZED (
      SELECT * FROM v
      WHERE list_sum(list_transform(qv, x -> CAST(x * x AS DOUBLE))) > 0
    ),
    p_e AS MATERIALIZED (
      SELECT a.vec_id AS a, b.vec_id AS b
      FROM nz a JOIN nz b ON a.vec_id < b.vec_id
      WHERE {_COS} >= 0.3
    ),
    planes(plane, idx, coef) AS (VALUES {_lsh_planes_values(48)}),
    proj AS (
      SELECT nz.vec_id, p.plane, SUM(nz.qv[p.idx] * p.coef) AS d
      FROM nz CROSS JOIN planes p
      GROUP BY nz.vec_id, p.plane
    ),
    sig AS MATERIALIZED (
      SELECT vec_id,
             SUM(CASE WHEN d > 0 THEN (CAST(1 AS BIGINT) << plane) ELSE 0 END) AS sig
      FROM proj GROUP BY vec_id
    ),
    bnd AS MATERIALIZED (
      SELECT s.vec_id, b.x AS band, (s.sig >> (b.x * 3)) & 7 AS bucket
      FROM sig s, UNNEST(range(0, 16)) AS b(x)
    ),
    cand AS (
      SELECT DISTINCT q.vec_id AS a, c.vec_id AS b
      FROM bnd q JOIN bnd c ON q.band = c.band AND q.bucket = c.bucket
      WHERE q.vec_id < c.vec_id
    ),
    p_l AS MATERIALIZED (
      SELECT cand.a, cand.b
      FROM cand
      JOIN nz a ON a.vec_id = cand.a
      JOIN nz b ON b.vec_id = cand.b
      WHERE {_COS} >= 0.3
    ),
    """
    + _dbscan_ctes("_e", "p_e")
    + ",\n    "
    + _dbscan_ctes("_l", "p_l")
    + """,
    np AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_points FROM embeddings),
    pe AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs_exact FROM p_e),
    pl AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs_lsh FROM p_l),
    ke AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_core_exact FROM core_e),
    kl AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_core_lsh FROM core_l),
    kc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_core_common
           FROM core_e JOIN core_l USING (id)),
    ag AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_verdict_agree
           FROM lab_e e JOIN lab_l l USING (vec_id)
           WHERE e.role = l.role AND e.cluster = l.cluster)
    SELECT np.n_points, pe.n_pairs_exact, pl.n_pairs_lsh,
           CASE WHEN pe.n_pairs_exact = 0 THEN CAST(-1 AS BIGINT)
                ELSE CAST(floor(1e9 * (CAST(pl.n_pairs_lsh AS DOUBLE)
                                       / CAST(pe.n_pairs_exact AS DOUBLE))) AS BIGINT)
           END AS pair_recall_nano,
           ke.n_core_exact, kl.n_core_lsh, kc.n_core_common,
           ag.n_verdict_agree,
           CASE WHEN np.n_points = 0 THEN CAST(-1 AS BIGINT)
                ELSE CAST(floor(1e9 * (CAST(ag.n_verdict_agree AS DOUBLE)
                                       / CAST(np.n_points AS DOUBLE))) AS BIGINT)
           END AS verdict_agree_nano
    FROM np CROSS JOIN pe CROSS JOIN pl CROSS JOIN ke CROSS JOIN kl
    CROSS JOIN kc CROSS JOIN ag
    """
)


@register(
    "embedding_dbscan_lsh_agreement",
    oracle=_DBSCAN_LSH_AGREEMENT_SQL,
    doc="DBSCAN scale-path agreement monitor (the lp_ivf / pq_adc "
    "pattern applied to embedding_dbscan's documented pairs seam): "
    "runs the SAME dbscan_clusters semantics twice — once over the "
    "exact blocked-matmul eps-pair baseline, once over "
    "lsh_near_dup_pairs (16-plane sign-bit blocking + exact cosine "
    "verify, precision 1 by construction so pair recall IS the LSH "
    "collision loss) — and reports one all-integer row: pair recall, "
    "core-set overlap, and full per-point verdict agreement "
    "(role AND cluster label). The LSH engine is TUNED TO THE EPS "
    "(48 planes / 16 three-bit bands: the hyperplane collision law "
    "gives ~98% band-collision probability AT the eps=0.3 boundary, "
    "rising above it — the 16/4 default, tuned for 0.8+ near-dup "
    "thresholds, recovers only ~46% there and collapses core sets; "
    "measured agreement with the tuned engine: pair recall 0.989, "
    "verdict agreement 0.992 at sf0.01). This is the gate that "
    "certifies the sub-quadratic engine before a 100 TB corpus "
    "swaps it in: "
    "clusters are min-CORE-id labeled on both sides, so any "
    "disagreement is a real semantic divergence, not a labeling "
    "artifact. Expensive by construction (it runs the quadratic "
    "baseline too); only the monitor pays that cost. Every stage is "
    "integer-quantized with deterministic tie-breaks; the oracle "
    "replays BOTH pair engines, both closures and the agreement "
    "join decision-for-decision.",
    survey_refs=("LLM-sim", "LLM-dedup"),
)
def embedding_dbscan_lsh_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blockchain_indexer_spark.operators.cluster import dbscan_clusters
    from blockchain_indexer_spark.operators.dedup import cosine_near_dup_pairs
    from blockchain_indexer_spark.operators.overlap import build_concurrently
    from blockchain_indexer_spark.operators.similarity import lsh_near_dup_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    # pin each pair frame once (it feeds both its count and its
    # closure); the two pair engines are independent, so their eager
    # builds overlap on driver threads (guide §2.6) — same frames,
    # same bits, better executor occupancy during each engine's tail
    exp, lsp = build_concurrently(
        lambda: cosine_near_dup_pairs(emb, "vec_id", "embedding", threshold=0.3)
        .select("vec_a", "vec_b")
        .localCheckpoint(eager=True),
        lambda: lsh_near_dup_pairs(
            emb, "vec_id", "embedding", dim=64, threshold=0.3,
            num_planes=48, bands=16,
        )
        .select("vec_a", "vec_b")
        .localCheckpoint(eager=True),
    )
    # the two closures are independent too — overlap them the same way
    ex, ap = build_concurrently(
        lambda: dbscan_clusters(
            emb, "vec_id", "embedding", eps=0.3, min_pts=4, pairs=exp
        ).localCheckpoint(eager=True),
        lambda: dbscan_clusters(
            emb, "vec_id", "embedding", eps=0.3, min_pts=4, pairs=lsp
        ).localCheckpoint(eager=True),
    )

    np_ = emb.agg(F.count(F.lit(1)).cast("bigint").alias("n_points"))
    pe = exp.agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs_exact"))
    pl = lsp.agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs_lsh"))
    ke = ex.filter(F.col("role") == "core").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_core_exact")
    )
    kl = ap.filter(F.col("role") == "core").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_core_lsh")
    )
    kc = (
        ex.filter(F.col("role") == "core")
        .select("id")
        .join(ap.filter(F.col("role") == "core").select("id"), "id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_core_common"))
    )
    ag = (
        ex.alias("e")
        .join(ap.alias("l"), "id")
        .filter(
            (F.col("e.role") == F.col("l.role"))
            & (F.col("e.cluster") == F.col("l.cluster"))
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_verdict_agree"))
    )

    def _nano(num: str, den: str):
        return F.when(F.col(den) == 0, F.lit(-1).cast("bigint")).otherwise(
            F.floor(
                F.lit(1e9) * F.col(num).cast("double") / F.col(den).cast("double")
            ).cast("bigint")
        )

    return (
        np_.crossJoin(pe)
        .crossJoin(pl)
        .crossJoin(ke)
        .crossJoin(kl)
        .crossJoin(kc)
        .crossJoin(ag)
        .select(
            "n_points",
            "n_pairs_exact",
            "n_pairs_lsh",
            _nano("n_pairs_lsh", "n_pairs_exact").alias("pair_recall_nano"),
            "n_core_exact",
            "n_core_lsh",
            "n_core_common",
            "n_verdict_agree",
            _nano("n_verdict_agree", "n_points").alias("verdict_agree_nano"),
        )
    )
