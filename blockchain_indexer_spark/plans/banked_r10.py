"""BANKED gates — implemented, DuckDB-parity-tested, but NOT
registered.

The OPERATOR code, the oracle SQL, and a full Spark-vs-DuckDB parity
test live here (tests/test_banked_r10.py runs them through the exact
same compare() as the registered gates). Registering one is a move of
its Query object below into a plans/* @register call; until then this
module is not imported by plans/__init__, so REGISTRY does not see
these entries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from blockchain_indexer_spark.plans.registry import Query
from blockchain_indexer_spark.sources.parquet import load_table

BANKED: dict[str, Query] = {}


def _bank(name: str, oracle: str | None, doc: str, survey_refs: tuple[str, ...] = ()):
    def wrap(fn):
        BANKED[name] = Query(
            name=name, build=fn, oracle=oracle, doc=doc, survey_refs=survey_refs
        )
        return fn

    return wrap


# ---------------------------------------------------------------------------
# doc_split_leakage_incremental: per-batch eval-contamination index
# maintenance (the minhash_incremental pattern applied to decontam)
# ---------------------------------------------------------------------------


# The FULL-corpus split-leakage oracle — shared verbatim with the
# registered doc_split_leakage gate: the incremental gate must
# converge to exactly the one-shot scan, so the strongest oracle for
# it IS the one-shot oracle.
from blockchain_indexer_spark.plans.llmops import _SPLIT_LEAKAGE_SQL  # noqa: E402


@_bank(
    "doc_split_leakage_incremental",
    oracle=_SPLIT_LEAKAGE_SQL,
    doc="INCREMENTAL split-leakage verdict (operators.dedup."
    "split_leakage_index_update + split_leakage_finalize, VERDICT r8 "
    "'Next round' #4a): the corpus arrives in three micro-batches of "
    "mixed train/eval documents (doc_id % 3 — the foreachBatch shape, "
    "driven through a real streaming query in the unit suite); each "
    "batch appends its window rows to two persisted hash indexes and "
    "emits leak events BOTH ways — new-eval windows hitting the train "
    "set so far, and PRIOR eval windows hit retroactively by the "
    "batch's new train docs (the half a one-directional scan misses). "
    "The distinct event union folded through the finalizer must equal "
    "the one-shot full-corpus scan, which is exactly what the oracle "
    "computes: the gate proves per-batch contamination maintenance is "
    "lossless. Per-batch cost is O(|batch| windows) of uniform-key "
    "hash probes, independent of corpus age — the reference's "
    "stale-key cache refresh (T8) paired with the Lee et al. "
    "exact-substring decontamination criterion.",
    survey_refs=("LLM-dedup", "LLM-sample", "T8"),
)
def doc_split_leakage_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blockchain_indexer_spark.operators.dedup import (
        split_leakage_finalize,
        split_leakage_index_update,
    )
    from blockchain_indexer_spark.operators.sampling import hash_split

    d = hash_split(load_table(spark, sf_dir, "documents"), "doc_id")
    state: tuple[DataFrame, DataFrame] | None = None
    leak_parts: list[DataFrame] = []
    for b in range(3):
        batch = d.filter(F.pmod(F.col("doc_id"), F.lit(3)) == b)
        tr, ev, lk = split_leakage_index_update(
            state, batch, "doc_id", "text", "split", k=8
        )
        leak_parts.append(lk)
        state = (
            (tr, ev)
            if state is None
            else (state[0].unionByName(tr), state[1].unionByName(ev))
        )
    leaks = leak_parts[0]
    for lk in leak_parts[1:]:
        leaks = leaks.unionByName(lk)
    assert state is not None
    return split_leakage_finalize(d, state[1], leaks, "doc_id", "split").select(
        F.col("id").alias("doc_id"),
        "split",
        "n_windows",
        "n_leaked",
        "leak_frac",
        "leaked",
    )


# ---------------------------------------------------------------------------
# embedding_opq_distortion: HD-rotation pre-step for PQ, measured
# against the identity on the same codebook recipe
# ---------------------------------------------------------------------------

#: (j, s) literal rows of the deterministic ±1 diagonal — the SAME
#: integers operators.similarity._hd_signs computes (1-indexed j for
#: DuckDB array addressing), so the oracle reproduces the rotation
#: bit-for-bit (the _video_masks / _lsh_planes_values idiom).
def _hd_signs_values(dim: int = 64) -> str:
    from blockchain_indexer_spark.operators.similarity import _hd_signs

    return ",".join(f"({j + 1},{s})" for j, s in enumerate(_hd_signs(dim)))


def _pq_distortion_ctes(sfx: str, src: str) -> str:
    """The registered embedding_pq_distortion oracle chain (16
    subspaces x 32 lowest-id-seeded codes, exact integer subvector
    L2, lowest-code ties), name-suffixed so the identity and rotated
    variants coexist in one statement; ends at rep{sfx}, one report
    row per subspace."""
    return f"""seeds{sfx} AS (
      SELECT v, row_number() OVER (ORDER BY vec_id) - 1 AS code
      FROM {src} ORDER BY vec_id LIMIT 32
    ),
    cb{sfx} AS (
      SELECT jt.j, s.code, s.v[jt.j * 4 + 1 : jt.j * 4 + 4] AS cv
      FROM seeds{sfx} s, UNNEST(range(0, 16)) AS jt(j)
    ),
    corp_sub{sfx} AS (
      SELECT t.vec_id, jt.j, t.v[jt.j * 4 + 1 : jt.j * 4 + 4] AS sv
      FROM {src} t, UNNEST(range(0, 16)) AS jt(j)
    ),
    corp_d{sfx} AS (
      SELECT cs.vec_id, cs.j, b.code,
             list_sum(list_transform(range(1, 5),
               i -> CAST((cs.sv[i] - b.cv[i]) * (cs.sv[i] - b.cv[i]) AS BIGINT))) AS d
      FROM corp_sub{sfx} cs JOIN cb{sfx} b ON cs.j = b.j
    ),
    best{sfx} AS (
      SELECT vec_id, j, code, d
      FROM (SELECT *, row_number() OVER (PARTITION BY vec_id, j
                                         ORDER BY d, code) AS rn
            FROM corp_d{sfx})
      WHERE rn = 1
    ),
    cells{sfx} AS (
      SELECT j, code, CAST(COUNT(*) AS BIGINT) AS cnt,
             CAST(SUM(d) AS BIGINT) AS sum_d,
             CAST(MAX(d) AS BIGINT) AS max_d
      FROM best{sfx} GROUP BY 1, 2
    ),
    rep{sfx} AS (
      SELECT CAST(j AS INT) AS j,
             CAST(SUM(cnt) AS BIGINT) AS n_vectors,
             CAST(SUM(sum_d) AS BIGINT) AS total_sq_error,
             CAST(SUM(sum_d) AS DOUBLE) / CAST(SUM(cnt) AS DOUBLE)
               AS mean_sq_error,
             CAST(MAX(max_d) AS BIGINT) AS max_sq_error,
             CAST(COUNT(*) AS BIGINT) AS n_codes_used,
             CAST(MAX(cnt) AS DOUBLE) / CAST(SUM(cnt) AS DOUBLE)
               AS max_code_share
      FROM cells{sfx} GROUP BY 1
    )"""


_OPQ_DISTORTION_SQL = f"""
    WITH vq AS MATERIALIZED (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
      FROM embeddings
    ),
    vqf AS MATERIALIZED (SELECT * FROM vq WHERE v IS NOT NULL),
    dsign(j, s) AS (VALUES {{HD_SIGNS}}),
    rv0 AS (
      SELECT vqf.vec_id, ri.i,
             CAST(SUM((1 - 2 * (bit_count(CAST(ri.i AS BIGINT) & CAST(d.j - 1 AS BIGINT)) % 2))
                      * d.s * vqf.v[d.j]) AS BIGINT) AS x
      FROM vqf, (SELECT unnest(range(0, 64)) AS i) ri, dsign d
      GROUP BY 1, 2
    ),
    rq AS MATERIALIZED (
      SELECT vec_id, list(x ORDER BY i) AS v FROM rv0 GROUP BY vec_id
    ),
    {_pq_distortion_ctes("_p", "vqf")},
    {_pq_distortion_ctes("_r", "rq")}
    SELECT 'identity' AS variant, * FROM rep_p
    UNION ALL
    SELECT 'hd_rotation' AS variant, * FROM rep_r
    """.replace("{HD_SIGNS}", _hd_signs_values(64))


@_bank(
    "embedding_opq_distortion",
    oracle=_OPQ_DISTORTION_SQL,
    doc="OPQ-rotation distortion monitor (operators.similarity."
    "opq_rotate + pq_distortion, VERDICT r8 'Next round' #4b): runs "
    "the registered embedding_pq_distortion report TWICE over the "
    "same corpus — once on the raw quantized vectors, once after the "
    "structured HD rotation (Walsh-Hadamard x deterministic +-1 "
    "diagonal, the random-rotation fallback FAISS uses when full OPQ "
    "training is off) — and emits both per-subspace reports under a "
    "variant column. PQ quantizes subspaces independently, so "
    "energy concentrated in a few dimensions starves most codebooks; "
    "the rotation spreads every dimension across all subspaces and "
    "this gate is the drift monitor that shows whether it pays on "
    "CURRENT data (rotated squared errors carry the exact uniform "
    "factor dim=64 from R*R^T = 64I, so cross-variant comparison is "
    "total_rotated/64 vs total_identity — the unit suite pins the "
    "anisotropic case where the rotation wins). Every stage is "
    "integer-exact with lowest-code ties; the oracle replays the "
    "rotation from 64 sign literals and both codebook chains "
    "decision-for-decision.",
    survey_refs=("LLM-sim",),
)
def embedding_opq_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blockchain_indexer_spark.operators.similarity import (
        opq_rotate,
        pq_distortion,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cols = (
        "j",
        "n_vectors",
        "total_sq_error",
        "mean_sq_error",
        "max_sq_error",
        "n_codes_used",
        "max_code_share",
    )
    plain = pq_distortion(emb, "vec_id", "embedding", m=16, n_codes=32)
    rotated = pq_distortion(
        opq_rotate(emb, "vec_id", "embedding", dim=64, scale=1000),
        "vec_id",
        "embedding",
        m=16,
        n_codes=32,
        scale=1,
    )
    return plain.select(F.lit("identity").alias("variant"), *cols).unionByName(
        rotated.select(F.lit("hd_rotation").alias("variant"), *cols)
    )


# ---------------------------------------------------------------------------
# minhash_union_calibration: the sketch-MERGE estimator, calibrated
# ---------------------------------------------------------------------------

# The registered minhash_estimate_calibration oracle's md5_60 stack
# (shared _MD5_SH CTEs: shingles + seeded 60-bit minhash signatures),
# with the pair estimator swapped from equality-matches (jaccard) to
# per-side min-survival matches (containment of each side in the
# UNION sketch), two estimator rows per candidate pair.
from blockchain_indexer_spark.plans.llmops import _MD5_SH  # noqa: E402

_UNION_CALIBRATION_SQL = (
    _MD5_SH
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
             CAST(SUM(CASE WHEN sa.minhash <= sb.minhash THEN 1 ELSE 0 END) AS BIGINT)
               AS ma,
             CAST(SUM(CASE WHEN sb.minhash <= sa.minhash THEN 1 ELSE 0 END) AS BIGINT)
               AS mb
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
    sided AS (
      SELECT m.doc_a, m.doc_b, m.ma, m.mb,
             COALESCE(com.n_common, 0) AS nc, sa.n AS na, sb.n AS nb
      FROM m
      LEFT JOIN com ON com.doc_a = m.doc_a AND com.doc_b = m.doc_b
      JOIN sizes sa ON sa.doc_id = m.doc_a
      JOIN sizes sb ON sb.doc_id = m.doc_b
    ),
    pairs AS (
      SELECT ma AS matches,
             CAST(floor(1e9 * (CAST(na AS DOUBLE)
               / CAST(na + nb - nc AS DOUBLE))) AS BIGINT) AS true_nano,
             (ma * 8) // 64 AS bucket
      FROM sided
      UNION ALL
      SELECT mb,
             CAST(floor(1e9 * (CAST(nb AS DOUBLE)
               / CAST(na + nb - nc AS DOUBLE))) AS BIGINT),
             (mb * 8) // 64
      FROM sided
    )
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(matches) AS DOUBLE) / CAST(COUNT(*) * 64 AS DOUBLE) AS mean_est,
           CAST(SUM(true_nano) AS DOUBLE)
             / CAST(COUNT(*) * 1000000000 AS DOUBLE) AS mean_true
    FROM pairs GROUP BY 1
    """
)


@_bank(
    "minhash_union_calibration",
    oracle=_UNION_CALIBRATION_SQL,
    doc="MinHash sketch-MERGE calibration monitor (operators.dedup."
    "minhash_union_calibration, md5_60 engine-portable stack — "
    "xxhash64 is the production twin at the same seam; VERDICT r8 "
    "'Next round' #4c): element-wise MIN of two signatures IS the "
    "signature of the shingle-set union (min-stability), which is "
    "what incremental index maintenance and cluster-level survivor "
    "checks exploit instead of rereading text — so the merged "
    "estimator needs its own calibration gate. For every LSH "
    "candidate pair, the estimated containment of EACH side in the "
    "union (components where the side's value survives the merge, "
    "#{h: sig_a[h] <= sig_b[h]} / 64 — unbiased for |A|/|A-union-B|) "
    "is compared against the exact shingle containment, two "
    "estimator rows per pair, bucketed by estimate with "
    "minhash_calibration's exact determinism rules. A drifting "
    "corpus shows mean_true diverging from mean_est inside a bucket "
    "before cluster merges go wrong. Candidates from banding (never "
    "all-pairs); output <= n_buckets + 1 rows.",
    survey_refs=("LLM-dedup",),
)
def minhash_union_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blockchain_indexer_spark.operators.dedup import minhash_union_calibration

    d = load_table(spark, sf_dir, "documents")
    return minhash_union_calibration(
        d, "doc_id", "text", k=3, num_hashes=64, bands=16, n_buckets=8,
        hash_fn="md5_60",
    )


# ---------------------------------------------------------------------------
# embedding_opq_recall: the rotation's SERVING-path certification —
# exact-vs-PQ recall with and without the HD pre-rotation
# ---------------------------------------------------------------------------


def _pq_top5_ctes(sfx: str, src: str) -> str:
    """The registered embedding_pq_topk oracle chain (32 lowest-id
    seeded codes, 16 subspaces, exact integer code assignment,
    per-query ADC LUT, 50-candidate shortlist, exact integer-L2
    re-rank to top 5), name-suffixed so the identity and rotated
    variants coexist in one statement; queries are vec_id % 50 = 0.
    Ends at top5{sfx} (query_id, neighbor_id)."""
    return f"""seeds{sfx} AS (
      SELECT v, row_number() OVER (ORDER BY vec_id) - 1 AS code
      FROM {src} ORDER BY vec_id LIMIT 32
    ),
    cb{sfx} AS (
      SELECT jt.j, s.code, s.v[jt.j * 4 + 1 : jt.j * 4 + 4] AS cv
      FROM seeds{sfx} s, UNNEST(range(0, 16)) AS jt(j)
    ),
    corp_sub{sfx} AS (
      SELECT t.vec_id, jt.j, t.v[jt.j * 4 + 1 : jt.j * 4 + 4] AS sv
      FROM {src} t, UNNEST(range(0, 16)) AS jt(j)
    ),
    corp_d{sfx} AS MATERIALIZED (
      SELECT cs.vec_id, cs.j, b.code,
             list_sum(list_transform(range(1, 5),
               i -> CAST((cs.sv[i] - b.cv[i]) * (cs.sv[i] - b.cv[i]) AS BIGINT))) AS d
      FROM corp_sub{sfx} cs JOIN cb{sfx} b ON cs.j = b.j
    ),
    codes{sfx} AS MATERIALIZED (
      SELECT vec_id, j, code
      FROM (SELECT *, row_number() OVER (PARTITION BY vec_id, j
                                         ORDER BY d, code) AS rn
            FROM corp_d{sfx})
      WHERE rn = 1
    ),
    lut{sfx} AS (
      SELECT vec_id AS query_id, j, code, d AS ld
      FROM corp_d{sfx} WHERE vec_id % 50 = 0
    ),
    adc{sfx} AS (
      SELECT l.query_id, c.vec_id AS neighbor_id, SUM(l.ld) AS adc_dist
      FROM codes{sfx} c JOIN lut{sfx} l ON c.j = l.j AND c.code = l.code
      WHERE c.vec_id != l.query_id
      GROUP BY l.query_id, c.vec_id
    ),
    short{sfx} AS (
      SELECT query_id, neighbor_id
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY adc_dist, neighbor_id) AS rn
            FROM adc{sfx})
      WHERE rn <= 50
    ),
    rer{sfx} AS (
      SELECT s.query_id, s.neighbor_id,
             list_sum(list_transform(range(1, len(a.v) + 1),
               i -> CAST((a.v[i] - b.v[i]) * (a.v[i] - b.v[i]) AS BIGINT))) AS l2_dist
      FROM short{sfx} s
      JOIN {src} a ON a.vec_id = s.query_id
      JOIN {src} b ON b.vec_id = s.neighbor_id
    ),
    top5{sfx} AS MATERIALIZED (
      SELECT query_id, neighbor_id
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY l2_dist, neighbor_id) AS rn
            FROM rer{sfx})
      WHERE rn <= 5
    )"""


_OPQ_RECALL_SQL = f"""
    WITH vq AS MATERIALIZED (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
      FROM embeddings
    ),
    vqf AS MATERIALIZED (SELECT * FROM vq WHERE v IS NOT NULL),
    dsign(j, s) AS (VALUES {{HD_SIGNS}}),
    rv0 AS (
      SELECT vqf.vec_id, ri.i,
             CAST(SUM((1 - 2 * (bit_count(CAST(ri.i AS BIGINT) & CAST(d.j - 1 AS BIGINT)) % 2))
                      * d.s * vqf.v[d.j]) AS BIGINT) AS x
      FROM vqf, (SELECT unnest(range(0, 64)) AS i) ri, dsign d
      GROUP BY 1, 2
    ),
    rq AS MATERIALIZED (
      SELECT vec_id, list(x ORDER BY i) AS v FROM rv0 GROUP BY vec_id
    ),
    ex_all AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             list_sum(list_transform(range(1, len(a.v) + 1),
               i -> CAST((a.v[i] - b.v[i]) * (a.v[i] - b.v[i]) AS BIGINT))) AS l2_dist
      FROM vqf a JOIN vqf b ON b.vec_id != a.vec_id
      WHERE a.vec_id % 50 = 0
    ),
    ex AS MATERIALIZED (
      SELECT query_id, neighbor_id
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY l2_dist, neighbor_id) AS rn
            FROM ex_all)
      WHERE rn <= 5
    ),
    {_pq_top5_ctes("_p", "vqf")},
    {_pq_top5_ctes("_r", "rq")},
    nq AS (SELECT CAST(COUNT(DISTINCT query_id) AS BIGINT) AS n_queries FROM ex),
    ne AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_exact FROM ex),
    np AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pq_plain FROM top5_p),
    nr AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pq_rot FROM top5_r),
    cp AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_common_plain
           FROM ex JOIN top5_p USING (query_id, neighbor_id)),
    cr AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_common_rot
           FROM ex JOIN top5_r USING (query_id, neighbor_id))
    SELECT nq.n_queries, ne.n_exact, np.n_pq_plain, nr.n_pq_rot,
           cp.n_common_plain, cr.n_common_rot,
           CASE WHEN ne.n_exact = 0 THEN CAST(-1 AS BIGINT)
                ELSE CAST(floor(1e9 * (CAST(cp.n_common_plain AS DOUBLE)
                                       / CAST(ne.n_exact AS DOUBLE))) AS BIGINT)
           END AS recall_plain_nano,
           CASE WHEN ne.n_exact = 0 THEN CAST(-1 AS BIGINT)
                ELSE CAST(floor(1e9 * (CAST(cr.n_common_rot AS DOUBLE)
                                       / CAST(ne.n_exact AS DOUBLE))) AS BIGINT)
           END AS recall_rot_nano
    FROM nq CROSS JOIN ne CROSS JOIN np CROSS JOIN nr
    CROSS JOIN cp CROSS JOIN cr
    """.replace("{HD_SIGNS}", _hd_signs_values(64))


@_bank(
    "embedding_opq_recall",
    oracle=_OPQ_RECALL_SQL,
    doc="OPQ-rotation RECALL certification (fourth gate, beyond the "
    "VERDICT r8 #4 ask — the r7/r8 precedent): the serving-path "
    "complement of embedding_opq_distortion. Runs the exact "
    "integer-L2 top-5 scan once (the HD rotation is dim-isometric, "
    "so ONE exact frame serves both variants) and the registered "
    "embedding_pq_topk pipeline TWICE — identity and rotated "
    "codebooks — reporting one all-integer row with each variant's "
    "pair recall against exact. Distortion says the quantizer fits "
    "the data; THIS says the end-to-end ANN answer got better or "
    "worse, which is what a pipeline actually alarms on before "
    "enabling the rotation on a drifted corpus. Every stage is "
    "integer-exact with lowest-index ties; the oracle replays the "
    "rotation from 64 sign literals, both PQ chains and the exact "
    "scan decision-for-decision.",
    survey_refs=("LLM-sim",),
)
def embedding_opq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blockchain_indexer_spark.operators.similarity import (
        brute_force_topk,
        opq_rotate,
        pq_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    ex = (
        brute_force_topk(
            emb, queries, "vec_id", "embedding", k=5, metric="quantized_neg_l2"
        )
        .select("query_id", "neighbor_id")
        .localCheckpoint(eager=True)  # one exact frame feeds both recalls
    )
    rot = opq_rotate(emb, "vec_id", "embedding", dim=64, scale=1000)
    rot_q = rot.filter(F.col("vec_id") % 50 == 0)
    pq_p = pq_topk(
        emb, queries, "vec_id", "embedding", k=5, m=16, n_codes=32, rerank=50
    ).select("query_id", "neighbor_id").localCheckpoint(eager=True)
    pq_r = pq_topk(
        rot, rot_q, "vec_id", "embedding", k=5, m=16, n_codes=32, rerank=50,
        scale=1,
    ).select("query_id", "neighbor_id").localCheckpoint(eager=True)

    nq = ex.agg(
        F.countDistinct("query_id").cast("bigint").alias("n_queries"),
        F.count(F.lit(1)).cast("bigint").alias("n_exact"),
    )
    np_ = pq_p.agg(F.count(F.lit(1)).cast("bigint").alias("n_pq_plain"))
    nr = pq_r.agg(F.count(F.lit(1)).cast("bigint").alias("n_pq_rot"))
    cp = ex.join(pq_p, ["query_id", "neighbor_id"]).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_common_plain")
    )
    cr = ex.join(pq_r, ["query_id", "neighbor_id"]).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_common_rot")
    )

    def _nano(num: str, den: str):
        return F.when(F.col(den) == 0, F.lit(-1).cast("bigint")).otherwise(
            F.floor(
                F.lit(1e9) * F.col(num).cast("double") / F.col(den).cast("double")
            ).cast("bigint")
        )

    return (
        nq.crossJoin(np_)
        .crossJoin(nr)
        .crossJoin(cp)
        .crossJoin(cr)
        .select(
            "n_queries",
            "n_exact",
            "n_pq_plain",
            "n_pq_rot",
            "n_common_plain",
            "n_common_rot",
            _nano("n_common_plain", "n_exact").alias("recall_plain_nano"),
            _nano("n_common_rot", "n_exact").alias("recall_rot_nano"),
        )
    )


# ---------------------------------------------------------------------------
# doc_retrieval_eval: rank-metric harness over the BM25 run
# ---------------------------------------------------------------------------

from blockchain_indexer_spark.plans.llmops import _TOKS_SQL  # noqa: E402

#: The registered doc_bm25_topk oracle chain (every-83rd-doc queries,
#: 4 lexicographically-first distinct terms, integer log-free BM25,
#: top 5 with doc_id ties) feeding `run`, plus term-overlap qrels
#: (>= 3 of the 4 query terms) and the exact rational rank metrics.
_RETRIEVAL_EVAL_SQL = rf"""
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
             CAST(SUM(CAST(floor(1e9 * (
               CAST(CAST(22 * s * tf * (2 * n - 2 * df + 1) AS BIGINT) AS DOUBLE)
               / CAST(CAST((10 * s * tf + 3 * s + 9 * dl * n) * (2 * df + 1)
                           AS BIGINT) AS DOUBLE)
             )) AS BIGINT)) AS BIGINT) AS score_nano
      FROM hits GROUP BY 1, 2
    ),
    run AS (
      SELECT query_id, doc_id, CAST(rn AS BIGINT) AS rank
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY score_nano DESC, doc_id) AS rn
            FROM scored)
      WHERE rn <= 5
    ),
    dterm AS (SELECT DISTINCT doc_id, term FROM tok),
    qrels AS (
      SELECT q.query_id, dterm.doc_id
      FROM (SELECT DISTINCT query_id, term FROM q) q
      JOIN dterm USING (term)
      GROUP BY 1, 2 HAVING COUNT(*) >= 3
    ),
    per_rel AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_rel
                FROM qrels GROUP BY 1),
    per_ret AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_ret
                FROM run GROUP BY 1),
    hit2 AS (
      SELECT run.query_id, run.doc_id, run.rank
      FROM run JOIN qrels USING (query_id, doc_id)
    ),
    per_hit AS (
      SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_hit,
             MIN(rank) AS first_rel
      FROM hit2 GROUP BY 1
    )
    SELECT r.query_id,
           r.n_rel,
           CAST(COALESCE(t.n_ret, 0) AS BIGINT) AS n_ret,
           CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_hit,
           CAST(floor(1e9 * CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / 5.0)
                AS BIGINT) AS p_at_k_nano,
           CASE WHEN r.n_rel = 0 THEN CAST(-1 AS BIGINT)
                ELSE CAST(floor(1e9 * CAST(COALESCE(h.n_hit, 0) AS DOUBLE)
                                / CAST(r.n_rel AS DOUBLE)) AS BIGINT)
           END AS r_at_k_nano,
           CAST(COALESCE(CAST(floor(1e9 / CAST(h.first_rel AS DOUBLE)) AS BIGINT),
                         0) AS BIGINT) AS rr_nano
    FROM per_rel r
    LEFT JOIN per_ret t USING (query_id)
    LEFT JOIN per_hit h USING (query_id)
    """


@_bank(
    "doc_retrieval_eval",
    oracle=_RETRIEVAL_EVAL_SQL,
    doc="Retrieval-quality evaluation harness (operators.textprep."
    "retrieval_eval — fifth gate, beyond the VERDICT r8 #4 ask): the "
    "registered doc_bm25_topk run graded against deterministic "
    "term-overlap relevance judgments (a doc is relevant to a query "
    "iff it contains >= 3 of the query's 4 terms — computable exactly "
    "by both engines, independent of the scorer), one row per query "
    "with precision@5, recall@5 and reciprocal rank as nano-floored "
    "integer rationals (macro-averaging is one more division away; "
    "log2-discounted nDCG is deliberately excluded from the oracled "
    "surface — libm last-ulp drift breaks hash-exactness). The "
    "operator is generic over ANY (query, doc, rank) run frame — the "
    "eval seam a RAG pipeline points at BM25, hybrid RRF or ANN runs "
    "alike; a query the engine silently drops reports as a zero-row "
    "miss, not an absent row. Scale: one rank<=k x qrels equi-join + "
    "per-query aggregate, uniform keys, one output row per query.",
    survey_refs=("LLM-text", "LLM-sim"),
)
def doc_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blockchain_indexer_spark.functions.text import tokens
    from blockchain_indexer_spark.operators.textprep import bm25_topk, retrieval_eval

    d = load_table(spark, sf_dir, "documents")
    base = d.select(
        "doc_id",
        F.coalesce(tokens("text"), F.array().cast("array<string>")).alias("toks"),
    )
    qterms = (
        base.filter((F.col("doc_id") % 83 == 0) & (F.size("toks") >= 4))
        .select(
            F.col("doc_id").alias("query_id"),
            F.explode(F.slice(F.array_sort(F.array_distinct("toks")), 1, 4)).alias(
                "term"
            ),
        )
        .localCheckpoint(eager=True)  # feeds the run AND the qrels join
    )
    run = bm25_topk(base, qterms, k=5, tokens_col="toks").select(
        "query_id", "doc_id", F.col("rank").cast("bigint").alias("rank")
    )
    dterm = base.select("doc_id", F.explode(F.array_distinct("toks")).alias("term"))
    qrels = (
        qterms.distinct()
        .join(dterm, "term")
        .groupBy("query_id", "doc_id")
        .agg(F.count("*").alias("_n"))
        .filter(F.col("_n") >= 3)
        .select("query_id", "doc_id")
    )
    return retrieval_eval(run, qrels, k=5)


# ---------------------------------------------------------------------------
# simhash_incremental_md5: hamming-index maintenance, gated against
# the full-corpus scan (the minhash_incremental_md5 pattern for the
# fixed-width-hash engine shared by text/image/audio/video)
# ---------------------------------------------------------------------------

# The registered simhash_near_dups_md5 oracle: md5_60 signatures +
# brute-force ALL-pairs hamming <= 3 — the incremental union must
# converge to exactly the one-shot scan, so the strongest oracle for
# it IS the one-shot oracle (the doc_split_leakage_incremental rule).
from blockchain_indexer_spark.plans.llmops import _MD5_SIMHASH  # noqa: E402

_SIMHASH_INCREMENTAL_SQL = (
    _MD5_SIMHASH
    + """
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """
)


@_bank(
    "simhash_incremental_md5",
    oracle=_SIMHASH_INCREMENTAL_SQL,
    doc="Incremental HAMMING-index maintenance (operators.dedup."
    "hamming_index_update via simhash_index_update — sixth gate, "
    "beyond the VERDICT r8 #4 ask): the corpus arrives in three "
    "batches (doc_id % 3); each batch appends its banded signature "
    "rows to the persisted index and emits verified near-dup pairs "
    "involving at least one new doc (new x new through the one-shot "
    "engine, new x index through the (band, bucket) equi-join — "
    "never old x old). The accumulated union must equal the "
    "FULL-corpus scan, which is exactly what the oracle computes by "
    "brute force: per-batch maintenance of the banding engine shared "
    "by SimHash text, image ahash, audio whash and video whash is "
    "lossless (pigeonhole completeness holds batch-by-batch — "
    "whichever batch brings a true pair's second id emits it). The "
    "minhash_incremental_md5 / doc_split_leakage_incremental pattern "
    "completing T8 coverage for the third near-dup engine family; "
    "per-batch cost O(|batch| x bucket occupancy), independent of "
    "corpus age.",
    survey_refs=("LLM-dedup", "T8"),
)
def simhash_incremental_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blockchain_indexer_spark.operators.dedup import simhash_index_update

    d = load_table(spark, sf_dir, "documents")
    index = None
    parts: list[DataFrame] = []
    for b in range(3):
        batch = d.filter(F.pmod(F.col("doc_id"), F.lit(3)) == b)
        rows, pairs = simhash_index_update(
            index, batch, "doc_id", "text", max_hamming=3, bands=4,
            hash_fn="md5_60",
        )
        parts.append(pairs)
        index = rows if index is None else index.unionByName(rows)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.distinct().select(
        F.col("id_a").alias("doc_a"),
        F.col("id_b").alias("doc_b"),
        F.col("hamming").cast("bigint").alias("hamming"),
    )
