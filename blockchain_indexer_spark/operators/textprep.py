"""Corpus-level text preparation: boilerplate removal and BM25
retrieval — the two text-pipeline stages between raw scrape and
training mixture that the per-document heuristics (functions/text.py)
cannot express, because both need CORPUS statistics (line document
frequency; term document frequency).

No reference counterpart (the reference indexes chain events, not
text; cited parity surface is the LLM-pipeline mandate) — designed
Spark-first:

- ``strip_boilerplate``: CCNet-style repeated-paragraph scrub. One
  line-keyed shuffle builds the per-group line document frequency;
  lines over the df threshold are dropped from every document and the
  text is rebuilt in original line order. Cost is O(corpus lines) and
  two shuffles (line df, doc rebuild) — no broadcast assumption: the
  boiler-line set joins back by (group, line) key, so a 100 TB corpus
  with terabytes of boilerplate still streams.
- ``bm25_topk``: query-set retrieval over an inverted-index join
  (term-keyed shuffle, exactly the posting-list shape of
  dedup.ngram_jaccard_pairs), scored with a deterministic
  integer-scaled BM25 so per-document scores are ORDER-FREE integer
  sums — see the function doc for the exactness engineering.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def strip_boilerplate(
    docs: DataFrame,
    id_col: str = "doc_id",
    lines_col: str = "lines",
    group_col: str | None = "source",
    min_docs: int = 2,
    min_frac: float = 0.05,
) -> DataFrame:
    """Remove repeated-line boilerplate (headers, footers, nav bars,
    cookie banners) from every document — the CCNet paragraph-hash
    scrub as a corpus operator.

    A line is boilerplate within its group (``group_col``, e.g. the
    crawl source; None = whole corpus) when it appears in at least
    ``max(min_docs, ceil(min_frac × group_size))`` DISTINCT documents
    of the group. ``lines_col`` is an ``array<string>`` column (use
    functions.text.doc_lines for newline-delimited text, or any
    paragraph/sentence splitter — the unit of repetition is the
    caller's choice).

    Returns (id, group, n_lines, n_boiler_lines, clean_text) with
    clean_text the surviving lines joined by '\\n' in original order.
    Empty-array and NULL-array documents survive with empty
    clean_text.

    Scale: line df is ONE groupBy keyed on (group, line-hash) with
    map-side combine; the boiler verdict joins back on the same key
    (shuffle-shuffle, no broadcast of the boiler set — on a dirty
    crawl it is huge); the rebuild is one doc-keyed aggregation
    ordered by line position. Dropping df-capped arrays or hashing
    lines to 8-byte keys are the standard compressions if line text
    dominates shuffle volume; line-hash join keys keep full lines out
    of the df shuffle here already (xxhash64, collision-safe at
    corpus scale for a drop-decision).
    """
    grp = F.col(group_col) if group_col is not None else F.lit("")
    base = docs.select(
        F.col(id_col).alias("_id"),
        grp.alias("_grp"),
        F.coalesce(F.col(lines_col), F.array()).alias("_lines"),
    )
    pos = base.select(
        "_id", "_grp", F.posexplode_outer("_lines").alias("_pos", "_line")
    )
    # distinct (doc, line) first: a line repeated WITHIN one document
    # counts once toward its document frequency
    df_counts = (
        pos.filter(F.col("_line").isNotNull())
        .select("_grp", "_id", F.xxhash64("_line").alias("_lh"))
        .distinct()
        .groupBy("_grp", "_lh")
        .agg(F.count("*").alias("_df"))
    )
    group_sizes = base.groupBy("_grp").agg(F.countDistinct("_id").alias("_gn"))
    boiler = (
        df_counts.join(group_sizes, "_grp")
        .filter(
            F.col("_df")
            >= F.greatest(F.lit(min_docs), F.ceil(F.lit(min_frac) * F.col("_gn")))
        )
        .select("_grp", "_lh")
    )
    flagged = (
        pos.withColumn("_lh", F.xxhash64("_line"))
        .join(boiler.withColumn("_boiler", F.lit(True)), ["_grp", "_lh"], "left")
        .withColumn("_boiler", F.coalesce("_boiler", F.lit(False)))
    )
    rebuilt = flagged.groupBy("_id", "_grp").agg(
        F.count(F.col("_line")).alias("n_lines"),
        F.sum(F.when(F.col("_boiler"), 1).otherwise(0)).cast("bigint").alias(
            "n_boiler_lines"
        ),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            ~F.col("_boiler") & F.col("_line").isNotNull(),
                            F.struct("_pos", "_line"),
                        )
                    )
                ),
                lambda s: s["_line"],
            ),
            "\n",
        ).alias("clean_text"),
    )
    return rebuilt.select(
        F.col("_id").alias(id_col),
        F.col("_grp").alias(group_col or "group"),
        "n_lines",
        "n_boiler_lines",
        "clean_text",
    )


def bm25_scores(
    docs: DataFrame,
    queries: DataFrame,
    id_col: str = "doc_id",
    tokens_col: str = "toks",
    query_id_col: str = "query_id",
    term_col: str = "term",
    use_log_idf: bool = False,
) -> DataFrame:
    """Exact, engine-deterministic BM25 scores for every (query, doc)
    pair sharing at least one term. ``docs`` carries a pre-split
    ``array<string>`` token column; ``queries`` is (query_id, term)
    rows.

    Determinism engineering (what makes this gate-able where a
    textbook implementation is not):

    - k1 = 6/5 and b = 3/4 are kept RATIONAL, and avgdl enters as the
      exact pair (S, N) = (corpus tokens, corpus docs), so each
      term's score is a ratio of exact BIGINT products:

          tf_part = 22·S·tf / (10·S·tf + 3·S + 9·dl·N)
          idf_r   = (2N − 2df + 1) / (2df + 1)       (log-free idf)

    - each term contributes CAST(floor(1e9 · num/den) AS BIGINT) —
      one IEEE division and one multiply, bit-identical across
      engines — and the per-document score is the SUM of those
      integers: order-free, so Spark's nondeterministic aggregation
      order cannot flip a hash. (A float sum would be
      order-dependent; the ln-based idf would differ by ulps across
      libm implementations. The standard ln idf ranks nearly
      identically — both damp high-df terms monotonically — and is
      available as ``use_log_idf=True`` for production, covered by
      tests rather than the oracle.)

    Returns (query_id, doc_id, n_hit_terms, score_nano) where
    score_nano is the 1e9-scaled integer score. Integer products stay
    under 2^63 while S·tf·df < ~4e17 — beyond that (multi-TB corpora)
    flip use_log_idf=True whose double math has no overflow.

    Scale: tf is one (doc, term) groupBy; df one term-keyed count;
    the retrieval is an inverted-index equi-join on term (only docs
    CONTAINING a query term are touched — never a doc × query cross
    product), then one (query, doc) aggregation.
    """
    base = docs.select(
        F.col(id_col).alias("_doc"), F.coalesce(F.col(tokens_col), F.array()).alias("_t")
    )
    tok = base.select("_doc", F.explode("_t").alias("_term"))
    tf = tok.groupBy("_doc", "_term").agg(F.count("*").alias("_tf"))
    dl = tok.groupBy("_doc").agg(F.count("*").alias("_dl"))
    corpus = base.agg(
        F.count("*").alias("_N"),
        F.sum(F.size("_t")).cast("bigint").alias("_S"),
    )
    df_t = tf.groupBy("_term").agg(F.count("*").alias("_df"))
    q = queries.select(
        F.col(query_id_col).alias("_q"), F.col(term_col).alias("_term")
    ).distinct()
    hits = (
        q.join(tf, "_term")
        .join(df_t, "_term")
        .join(dl, "_doc")
        .crossJoin(F.broadcast(corpus))
    )
    if use_log_idf:
        # production scoring: standard Robertson idf + double BM25 —
        # no overflow ceiling, but ln/float-sum determinism is
        # per-engine, so this path is tests-covered, never the oracle
        avgdl = F.col("_S").cast("double") / F.col("_N").cast("double")
        tf_part = (F.col("_tf") * 2.2) / (
            F.col("_tf") + 1.2 * (0.25 + 0.75 * F.col("_dl") / avgdl)
        )
        idf = F.log(
            (F.col("_N") - F.col("_df") + 0.5) / (F.col("_df") + 0.5)
        )
        term_score = F.floor(F.lit(1e9) * tf_part * idf).cast("bigint")
    else:
        num = (
            F.lit(22)
            * F.col("_S")
            * F.col("_tf")
            * (2 * F.col("_N") - 2 * F.col("_df") + 1)
        ).cast("bigint")
        den = (
            (
                10 * F.col("_S") * F.col("_tf")
                + 3 * F.col("_S")
                + 9 * F.col("_dl") * F.col("_N")
            )
            * (2 * F.col("_df") + 1)
        ).cast("bigint")
        term_score = F.floor(
            F.lit(1e9) * (num.cast("double") / den.cast("double"))
        ).cast("bigint")
    return (
        hits.withColumn("_s", term_score)
        .groupBy("_q", "_doc")
        .agg(
            F.count("*").alias("n_hit_terms"),
            F.sum("_s").alias("score_nano"),
        )
        .select(
            F.col("_q").alias(query_id_col),
            F.col("_doc").alias(id_col),
            "n_hit_terms",
            "score_nano",
        )
    )


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "doc_id",
    tokens_col: str = "toks",
    query_id_col: str = "query_id",
    term_col: str = "term",
) -> DataFrame:
    """Top-k BM25 retrieval: rank the scored candidates per query
    (score desc, doc id asc tie-break — fully deterministic) and keep
    k. One window over the (query, doc) score frame, partitioned by
    query: ranking cost is per-query candidate count, never corpus
    size."""
    from pyspark.sql import Window

    scored = bm25_scores(docs, queries, id_col, tokens_col, query_id_col, term_col)
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("score_nano").desc(), F.col(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "rank", "n_hit_terms", "score_nano")
    )


def dedup_doc_lines(
    docs: DataFrame,
    id_col: str = "doc_id",
    lines_col: str = "lines",
) -> DataFrame:
    """INTRA-document line/paragraph dedup — the within-doc half of
    repeated-text removal (strip_boilerplate is the cross-doc half;
    pipelines like Dolma run both): every repeated line keeps its
    FIRST occurrence, later copies drop, original order otherwise
    preserved.

    Returns (id, n_lines, n_unique_lines, clean_text) with clean_text
    the surviving lines joined by '\\n'. NULL/empty line arrays
    survive with 0 counts and empty text.

    Scale: a pure JVM projection — ``array_distinct`` preserves
    first-occurrence order, so the whole operator is shuffle-FREE and
    pipelines into whatever scan or exchange surrounds it; cost is
    O(total line bytes) with no data movement at any corpus size.
    """
    lines = F.coalesce(F.col(lines_col), F.array())
    uniq = F.array_distinct(lines)
    return docs.select(
        F.col(id_col),
        F.size(lines).cast("long").alias("n_lines"),
        F.size(uniq).cast("long").alias("n_unique_lines"),
        F.array_join(uniq, "\n").alias("clean_text"),
    )


def rrf_fuse(
    rankings: list[DataFrame],
    query_col: str = "query_id",
    doc_col: str = "doc_id",
    rank_col: str = "rank",
    k0: int = 60,
    k: int = 10,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack/Clarke/Buettcher 2009) of any
    number of ranked lists — the standard score-free way to combine
    heterogeneous retrievers (BM25 + embedding ANN, the hybrid-search
    recipe): each list contributes 1/(k0 + rank) per (query, doc),
    fused by sum over lists; a doc absent from a list contributes 0.

    RRF works in RANK space, so incomparable scores (integer BM25
    nanos vs cosine doubles) never mix — only their orderings do.
    Each contribution is floor(1e9 / (k0 + rank)) — ONE IEEE divide of
    exact-in-double integers, quantized BEFORE the sum, so fused
    scores are order-free integer sums and the final ranking is
    engine-reproducible with doc-id tie-breaks (the house
    determinism pattern).

    Returns (query_col, doc_col, n_lists, rrf_nano, fused_rank) with
    fused_rank <= k.

    Scale: each input is already a top-k' list (per-query bounded);
    the union + groupBy shuffles O(queries x k' x lists) rows —
    retrieval-output-sized, never corpus-sized.
    """
    if not rankings:
        raise ValueError("rrf_fuse needs at least one ranking")
    parts = [
        r.select(
            F.col(query_col).alias("_q"),
            F.col(doc_col).alias("_d"),
            F.floor(
                F.lit(1_000_000_000.0)
                / (F.lit(float(k0)) + F.col(rank_col).cast("double"))
            )
            .cast("long")
            .alias("_s"),
        )
        for r in rankings
    ]
    allp = parts[0]
    for p in parts[1:]:
        allp = allp.unionAll(p)
    from pyspark.sql import Window

    fused = allp.groupBy("_q", "_d").agg(
        F.count("*").cast("long").alias("n_lists"),
        F.sum("_s").cast("long").alias("rrf_nano"),
    )
    w = Window.partitionBy("_q").orderBy(F.col("rrf_nano").desc(), F.col("_d"))
    return (
        fused.withColumn("fused_rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("fused_rank") <= k)
        .select(
            F.col("_q").alias(query_col),
            F.col("_d").alias(doc_col),
            "n_lists",
            "rrf_nano",
            "fused_rank",
        )
    )


def tfidf_keywords(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    use_log_idf: bool = False,
) -> DataFrame:
    """Per-document top-k characteristic terms by TF-IDF — the
    classic per-doc keyword extractor (complement of
    drift.source_distinctive_terms, which characterizes SOURCES by
    log-odds; this characterizes each DOCUMENT against the corpus).

    Same determinism engineering as bm25_scores: the rational
    Robertson idf keeps every term score a ratio of exact BIGINT
    products —

        score_nano = floor(1e9 · tf · (2N − 2df + 1) / (2df + 1))

    one IEEE division per term, bit-identical across engines, with
    the standard ln idf available as ``use_log_idf=True`` for
    production (tests-covered, never the oracle; both damp high-df
    terms monotonically so rankings nearly coincide). Ties rank by
    (score desc, term asc) so the top-k set is total-ordered.

    Returns (id_col, term, tf, df, score_nano, rank) for rank <= k.
    N is the total document count (including token-less docs, which
    emit no keyword rows but do damp idf — documented convention).

    Scale: one (doc, term) groupBy + one term-keyed df count + a
    broadcast scalar N; the rank window shuffles (doc, term) rows
    keyed by doc — uniform keys, output bounded by k rows per doc.
    """
    from pyspark.sql import Window

    from blockchain_indexer_spark.functions.text import tokens

    base = docs.select(
        F.col(id_col).alias("_doc"), tokens(text_col).alias("_t")
    )
    tok = base.select("_doc", F.explode("_t").alias("term"))
    tf = tok.groupBy("_doc", "term").agg(F.count("*").alias("tf"))
    df_t = tf.groupBy("term").agg(F.count("*").alias("df"))
    corpus = base.agg(F.count("*").cast("bigint").alias("_N"))
    scored = tf.join(df_t, "term").crossJoin(F.broadcast(corpus))
    if use_log_idf:
        idf = F.log(
            (F.col("_N") - F.col("df") + 0.5) / (F.col("df") + 0.5)
        )
        score = F.floor(F.lit(1e9) * F.col("tf") * idf).cast("bigint")
    else:
        num = (F.col("tf") * (2 * F.col("_N") - 2 * F.col("df") + 1)).cast("bigint")
        den = (2 * F.col("df") + 1).cast("bigint")
        score = F.floor(
            F.lit(1e9) * (num.cast("double") / den.cast("double"))
        ).cast("bigint")
    w = Window.partitionBy("_doc").orderBy(
        F.desc("score_nano"), F.asc("term")
    )
    return (
        scored.withColumn("score_nano", score)
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select(
            F.col("_doc").alias(id_col),
            "term",
            F.col("tf").cast("bigint").alias("tf"),
            F.col("df").cast("bigint").alias("df"),
            "score_nano",
            "rank",
        )
    )


def mmr_rerank(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 5,
    pool: int = 10,
    lam_num: int = 7,
    lam_den: int = 10,
    id_col: str = "doc_id",
    tokens_col: str = "toks",
    query_id_col: str = "query_id",
    term_col: str = "term",
) -> DataFrame:
    """Maximal-marginal-relevance diversified re-rank (Carbonell &
    Goldstein 1998) — the retrieval stage after ``bm25_topk``/
    ``rrf_fuse``: from each query's BM25 top-``pool`` candidates,
    greedily select ``k`` that trade relevance against redundancy,

        mmr = λ·rel − (1−λ)·max(sim to already-selected),

    so near-duplicate hits don't monopolize a context window (the RAG
    dedup-at-retrieval step; a candidate pool full of mirror pages
    yields one representative plus genuinely different documents).

    Determinism engineering, same conventions as bm25_scores:
    relevance is the integer BM25 ``score_nano``; inter-candidate
    similarity is token-SET Jaccard on the exact 1e-9 grid via integer
    division (1e9·|∩| DIV |∪| — no IEEE step at all); λ is the
    rational ``lam_num/lam_den`` so every MMR score is the exact
    integer ``lam_num·rel_nano − (lam_den−lam_num)·max_sim_nano``
    (units: 1e-9·lam_den); ties break by doc id ascending at every
    greedy step. The whole pipeline is engine-reproducible — a k-step
    unrolled SQL oracle replays the greedy selection exactly.

    Scale: candidate pools are size ``pool`` per query, so the pair
    frame is <= pool² rows per query built by a term-keyed posting
    join over CANDIDATE docs only (semi-joined token lists, never the
    corpus); the greedy loop runs per-query inside one Arrow cogroup
    batch at O(k·pool) integer ops — distributed across queries,
    constant per query. Returns (query_id, mmr_rank, doc_id, rel_nano,
    max_sim_nano, mmr_nano) with mmr_rank in 1..k; ids must be
    integral (the Arrow output schema pins bigint).
    """
    import pandas as pd

    cand = bm25_topk(
        docs,
        queries,
        k=pool,
        id_col=id_col,
        tokens_col=tokens_col,
        query_id_col=query_id_col,
        term_col=term_col,
        # pair build reads it three times, greedy once — one BM25 run
    ).localCheckpoint(eager=True)
    cdocs = cand.select(id_col).distinct()
    dtok = (
        docs.join(cdocs, id_col, "leftsemi")
        .select(
            F.col(id_col).alias("_d"),
            F.explode(F.array_distinct(F.col(tokens_col))).alias("_t"),
        )
        .localCheckpoint(eager=True)  # both posting sides + sizes
    )
    sizes = dtok.groupBy("_d").agg(F.count(F.lit(1)).alias("_n"))
    ta = cand.select(F.col(query_id_col).alias("_q"), F.col(id_col).alias("_a")).join(
        dtok.select(F.col("_d").alias("_a"), "_t"), "_a"
    )
    tb = cand.select(F.col(query_id_col).alias("_q"), F.col(id_col).alias("_b")).join(
        dtok.select(F.col("_d").alias("_b"), "_t"), "_b"
    )
    common = (
        ta.join(tb, ["_q", "_t"])
        .filter(F.col("_a") < F.col("_b"))
        .groupBy("_q", "_a", "_b")
        .agg(F.count(F.lit(1)).alias("_common"))
    )
    pairs = (
        common.join(sizes.select(F.col("_d").alias("_a"), F.col("_n").alias("_na")), "_a")
        .join(sizes.select(F.col("_d").alias("_b"), F.col("_n").alias("_nb")), "_b")
        .select(
            "_q",
            "_a",
            "_b",
            # integer floor division: exact on the 1e-9 grid, no IEEE
            F.expr("CAST(1000000000 * _common AS BIGINT) DIV (_na + _nb - _common)")
            .cast("bigint")
            .alias("_sim_nano"),
        )
    )
    rel = cand.select(
        F.col(query_id_col).alias("_q"),
        F.col(id_col).alias("_d"),
        F.col("score_nano").alias("_rel"),
    )
    lam2 = lam_den - lam_num
    cols = ["query_id", "mmr_rank", "doc_id", "rel_nano", "max_sim_nano", "mmr_nano"]

    def greedy(key, rel_pdf: pd.DataFrame, pair_pdf: pd.DataFrame) -> pd.DataFrame:
        q = int(key[0])
        relm = {int(d): int(r) for d, r in zip(rel_pdf["_d"], rel_pdf["_rel"])}
        sim: dict[tuple[int, int], int] = {}
        for a, b, s in zip(pair_pdf["_a"], pair_pdf["_b"], pair_pdf["_sim_nano"]):
            sim[(int(a), int(b))] = int(s)
            sim[(int(b), int(a))] = int(s)
        remaining = sorted(relm)
        sel: list[int] = []
        rows: list[tuple[int, ...]] = []
        for r in range(1, k + 1):
            if not remaining:
                break
            best = None
            for d in remaining:  # ascending ids + strict > = min-id ties
                ms = max((sim.get((d, s), 0) for s in sel), default=0)
                m = lam_num * relm[d] - lam2 * ms
                if best is None or m > best[0]:
                    best = (m, d, ms)
            m, d, ms = best
            rows.append((q, r, d, relm[d], ms, m))
            sel.append(d)
            remaining.remove(d)
        return pd.DataFrame(rows, columns=cols).astype("int64")

    return rel.groupBy("_q").cogroup(pairs.groupBy("_q")).applyInPandas(
        greedy,
        schema="query_id bigint, mmr_rank bigint, doc_id bigint, "
        "rel_nano bigint, max_sim_nano bigint, mmr_nano bigint",
    )
