"""Similarity search over embedding columns (array<float>).

Two paths, as a production ANN stack would have:

- ``brute_force_topk`` — exact top-k by a chosen metric. The join is
  queries × corpus; with |Q| ≪ |C| the query side broadcasts, so the
  corpus is scanned once with no shuffle: this scales to any corpus
  size (it is the "flat index" baseline).
- ``lsh_topk`` — random-hyperplane LSH: sign-bit signatures over fixed
  deterministic pseudo-random hyperplanes, candidates share a
  signature band, exact re-rank on candidates only. Sub-linear probe
  cost at the price of recall; the scale path when |Q| is large.
"""

from __future__ import annotations

from functools import reduce

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from blockchain_indexer_spark.functions.vectors import (
    cosine,
    dot,
    norm_sq,
    quantize,
    to_double,
)
from blockchain_indexer_spark.sources.parquet import spread


def _q_away(a: np.ndarray) -> np.ndarray:
    """Quantization rounding: HALF AWAY FROM ZERO, matching Spark's
    F.round (functions.vectors.quantize) and DuckDB's round() so
    numpy-side quantization is bit-identical to the Catalyst exact
    paths and the oracles. np.round is half-to-even and diverges on
    any component where x*scale lands exactly on .5 (e.g. 0.0625 at
    scale 1000) — which would make a signature/cell disagree with the
    same operator's own exact re-rank. The fraction a - trunc(a) is
    exact, where floor(|a| + 0.5) rounds the sum first and sends
    0.49999999999999994 to 1."""
    whole = np.trunc(a)
    return whole + np.copysign(np.abs(a - whole) >= 0.5, a)


# The exact quantized-cosine scans — dedup.cosine_near_dup_pairs,
# all_pairs_topk_cosine and ivf_topk's engine="blocked" probe — share
# the helpers below: the arithmetic, the local top-k, the gate and the
# blocking each live in one place, so every scan stays bit-identical
# to the expression paths and the DuckDB oracle.
#
# _blocking picks one of two regimes from one count/width action:
# - corpus-shipped (n·d·8 ≤ _BROADCAST_BYTES): the quantized rows are
#   collected once as Arrow (_collect_rows), shipped to the tasks with
#   sc.broadcast, and scored in ONE mapInArrow job of
#   defaultParallelism tasks over query-row slices (_shipped_scan). A
#   task sees the whole corpus, so its local top-k is the global one:
#   no shuffle, no window (REPOSE's replicated reference set).
# - replicated block join (above the gate): rows hash into packed
#   blocks (_pack), every admitted (query block, corpus block) pair is
#   one matmul (_block_pairs, _scan_blocks), and top-k merges the
#   blocks' local top-ks with one window (_blocked_topk).

# Gate on the shipped corpus bytes n·d·8 (a row-count gate alone would
# let a high-dimensional corpus balloon the broadcast, e.g. d=1024 at n
# just under 262k -> ~2 GB).
_BROADCAST_BYTES = 128 * 1024 * 1024

# Score-matrix cells a shipped scan's task computes at once (32 MB of
# float64): a task walks its query rows in chunks of this many cells.
_CHUNK_CELLS = 1 << 22


def _cosine_rows(df: DataFrame, id_col: str, vec_col: str, scale: int) -> DataFrame:
    """(_id, _v = quantize(vec_col, scale)) for every row whose vector
    has a cosine: a NULL or zero-norm vector has none — Spark evaluates
    0.0/0.0 = NaN and orders NaN ABOVE every number, so without this
    filter one zero vector would match or outrank the whole corpus (the
    DuckDB oracle returns NULL and drops it). _collect_rows is its
    driver-side twin."""
    return (
        spread(df, id_col)
        .select(F.col(id_col).alias("_id"), quantize(vec_col, scale).alias("_v"))
        .filter(norm_sq(F.col("_v")) > 0)
    )


def _blocking(
    vec_col: str, frames: list[DataFrame], block_size: int = 2048
) -> tuple[int, int, bool]:
    """(d, nblocks, shipped) for the input ``frames`` (corpus, then any
    probe frame), from ONE count/width action over their raw rows.

    ``d`` is the vector width (0 when no row has a vector). Non-NULL
    vectors of different widths raise ValueError here, on the driver:
    every matmul would otherwise fail inside the workers.

    ``shipped`` is the gate, n·d·8 ≤ _BROADCAST_BYTES over all frames'
    rows: the corpus-shipped scan. NULL and zero-norm rows are counted
    too, so the gate errs towards the block join.

    ``nblocks`` sizes the block join above the gate. The natural
    ⌈n/block_size⌉ would put a ≲2k-vector corpus in ONE block, and AQE
    coalesces the tiny packed frame to ONE partition — one task holding
    the whole O(n²·d) matmul while the rest of the cluster idles. A
    minimum block count from defaultParallelism (≥ ~2 blocks per core,
    capped at 64-row blocks so tiny corpora don't drown in per-block
    overhead) keeps every core busy. Results are blocking-independent:
    every pair is scored in exactly one block pair with identical
    arithmetic, and the local top-k keeps boundary ties."""
    width = F.when(F.col(vec_col).isNotNull(), F.size(vec_col)).alias("_d")
    sizes = reduce(DataFrame.unionAll, [f.select(width) for f in frames])
    n, lo, hi = sizes.agg(F.count(F.lit(1)), F.min("_d"), F.max("_d")).first()
    if lo != hi:
        raise ValueError(f"{vec_col} vectors differ in width: {lo} and {hi}")
    d = hi or 0
    par = frames[0].sparkSession.sparkContext.defaultParallelism
    nblocks = max(1, -(-n // block_size), min(2 * par, -(-n // 64)))
    return d, nblocks, n * max(d, 1) * 8 <= _BROADCAST_BYTES


def _collect_rows(
    df: DataFrame, id_col: str, vec_col: str, scale: int, d: int
) -> tuple[np.ndarray, np.ndarray]:
    """_cosine_rows on the driver, as (ids, n×d int64 matrix) ordered by
    id, from ONE Arrow collect of the raw (id, vector) rows.

    The quantization runs in numpy: Spark's quantize is an interpreted
    higher-order function, and on a 2048×64 corpus it cost more than
    the collect itself. _q_away is F.round's half-away-from-zero
    rounding bit for bit on the same double product, so the matrix is
    the one _cosine_rows would give. A vector with a NULL element or a
    zero norm is dropped, as there; a NaN, infinite or out-of-range
    value raises, as Spark's bigint cast does."""
    t = (
        df.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
        .filter(F.col("_v").isNotNull())
        .toArrow()
    )
    flat = t.column("_v").combine_chunks().flatten()
    x = _q_away(flat.to_numpy(zero_copy_only=False).astype(np.float64) * scale)
    x = x.reshape(t.num_rows, d)
    holes = flat.is_null().to_numpy(zero_copy_only=False).reshape(t.num_rows, d)
    keep = ~holes.any(axis=1) & (x != 0).any(axis=1)
    if not (np.abs(x[keep]) < 2.0**63).all():
        raise ValueError(f"{vec_col} has values that do not quantize to bigint at scale {scale}")
    ids = t.column("_id").to_numpy()[keep].astype(np.int64)
    order = np.argsort(ids, kind="stable")
    return ids[order], x[keep][order].astype(np.int64)


def _shipped_scan(
    spark: SparkSession, ship, cost: np.ndarray, width: int, emit, schema: str
) -> DataFrame:
    """The corpus-shipped scan: ``ship`` goes to the executors once (a
    broadcast), and ONE mapInArrow job of at most defaultParallelism
    tasks (one wave) splits the query rows into contiguous slices of
    about equal total ``cost`` (one entry per query row). Each task
    walks its slice in chunks [a, b) of ≤ _CHUNK_CELLS score cells
    (``width`` corpus rows per query row) and ``emit(ship, a, b)``
    turns a chunk into the columns of ``schema`` as numpy arrays.

    No query rows or no corpus rows: an empty frame, and no job."""
    if not (len(cost) and width):
        return spark.createDataFrame([], schema)
    parts = spark.sparkContext.defaultParallelism
    cum = np.cumsum(cost)
    cuts = np.searchsorted(cum, cum[-1] * np.arange(1, parts) / parts) + 1
    bounds = np.unique(np.r_[0, cuts, len(cost)]).tolist()
    step = max(1, _CHUNK_CELLS // width)
    names = [f.split()[0] for f in schema.split(",")]
    shipped = spark.sparkContext.broadcast(ship)

    def run(batches):
        data = shipped.value
        for batch in batches:
            for i in batch.column(0).to_pylist():
                for a in range(bounds[i], bounds[i + 1], step):
                    cols = emit(data, a, min(a + step, bounds[i + 1]))
                    yield pa.RecordBatch.from_arrays(
                        [pa.array(c) for c in cols], names=names
                    )

    tasks = len(bounds) - 1
    return spark.range(0, tasks, 1, tasks).mapInArrow(run, schema)


def _pack(rows: DataFrame, nblocks: int) -> DataFrame:
    """(_blk, _rows): rows hashed into nblocks blocks, one packed row
    per block, checkpointed because both sides of the block join read
    it."""
    return (
        rows.withColumn("_blk", F.pmod(F.xxhash64("_id"), F.lit(nblocks)).cast("int"))
        .groupBy("_blk")
        .agg(F.collect_list(F.struct("_id", "_v")).alias("_rows"))
        .localCheckpoint(eager=True)
    )


def _block_pairs(
    packed_q: DataFrame, packed_c: DataFrame, on: Column | None = None
) -> DataFrame:
    """(ba, bb, ra, rb): the replicated block join above the shipping
    gate — each query block A joined to every corpus block B that
    ``on`` admits (all of them when None)."""
    return (
        packed_q.alias("A")
        .join(packed_c.alias("B"), on)
        .select(
            F.col("A._blk").alias("ba"),
            F.col("B._blk").alias("bb"),
            F.col("A._rows").alias("ra"),
            F.col("B._rows").alias("rb"),
        )
    )


def _unpack(rows) -> tuple[np.ndarray, np.ndarray]:
    """A packed block's (ids, int64 vector matrix)."""
    return (
        np.array([r["_id"] for r in rows], dtype=np.int64),
        np.array([r["_v"] for r in rows], dtype=np.int64),
    )


def _exact_cosine(qm: np.ndarray, cm: np.ndarray) -> np.ndarray:
    """Quantized cosine of every (row of qm, row of cm), bit-identical
    to int64 arithmetic.

    The matmul runs in float64, which is BLAS (NumPy never sends an
    integer matmul there), while d·max|x|² < 2^53: every product, dot
    and partial sum is then an integer below 2^53, so float64 holds it
    exactly. Outside that bound it runs in int64. The one float
    sequence — dot / sqrt(norm_q·norm_c), the product taken in double
    FIRST — is the op order of the zip_with expression path and the
    DuckDB oracle, so scores match both bit-for-bit."""
    top = max(int(np.abs(qm).max(initial=0)), int(np.abs(cm).max(initial=0)))
    exact = np.float64 if qm.shape[1] * top * top < 2**53 else np.int64
    qm, cm = qm.astype(exact, copy=False), cm.astype(exact, copy=False)
    dots = (qm @ cm.T).astype(np.float64)
    nq = (qm * qm).sum(axis=1).astype(np.float64)
    nc = (cm * cm).sum(axis=1).astype(np.float64)
    return dots / np.sqrt(nq[:, None] * nc[None, :])


def _local_topk(
    qi: np.ndarray, ci: np.ndarray, s: np.ndarray, k: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """(query ids, ranks, neighbor ids, scores): each row of the score
    block ``s`` (queries qi × corpus ci) cut to its first k under the
    (score desc, neighbor id asc) total order and ranked 1..k,
    self-pairs excluded (``s`` is overwritten there). Against the whole
    corpus this is the global top-k; against one block, the global
    top-k is a subset of the union of block top-ks, so the _topk window
    over the survivors is exact.

    No full-row sort (a per-row argsort dominated the 100k stress run
    ~10:1 over the matmul): argpartition gives the k-th score, the
    >= threshold mask keeps every boundary TIE (argpartition alone
    splits ties arbitrarily), and ONE flattened lexsort orders the ~n·k
    survivors by (row, score desc, id asc)."""
    s[qi[:, None] == ci[None, :]] = -np.inf
    kk = min(k, s.shape[1])
    part = np.argpartition(-s, kk - 1, axis=1)[:, :kk]
    thresh = np.take_along_axis(s, part, 1).min(axis=1)
    rows, cols = np.nonzero(s >= thresh[:, None])
    sc = s[rows, cols]
    ids = ci[cols]
    order = np.lexsort((ids, -sc, rows))
    rows, sc, ids = rows[order], sc[order], ids[order]
    boundary = np.r_[True, rows[1:] != rows[:-1]]
    starts = np.maximum.accumulate(np.where(boundary, np.arange(len(rows)), 0))
    pos = np.arange(len(rows)) - starts
    # a self-pair's -inf sorts last in its row, so dropping it moves
    # no other rank
    keep = (pos < kk) & np.isfinite(sc)
    return qi[rows[keep]], pos[keep] + 1, ids[keep], sc[keep]


def _scan_blocks(
    pairs: DataFrame, emit, names: tuple[str, str, str] = ("query_id", "neighbor_id", "score")
) -> DataFrame:
    """One Arrow pass over ``pairs``: ``emit`` maps each row's columns
    to (ids, ids, scores) arrays, returned as (long, long, double)
    columns ``names``."""

    dtypes = ("int64", "int64", "float64")

    def batches(it):
        for pdf in it:
            out = [emit(*row) for row in zip(*(pdf[c] for c in pdf.columns))]
            cols = [np.concatenate(c) for c in zip(*out)] if out else [[], [], []]
            yield pd.DataFrame(
                {n: pd.Series(c, dtype=t) for n, c, t in zip(names, cols, dtypes)}
            )

    return pairs.mapInPandas(batches, f"{names[0]} long, {names[1]} long, {names[2]} double")


def _blocked_topk(pairs: DataFrame, k: int) -> DataFrame:
    """Exact cosine top-k over packed block pairs (ra: query rows, rb:
    corpus rows): each block's local top-k in one Arrow pass, then the
    global window."""

    def emit(ra, rb):
        qi, qm = _unpack(ra)
        ci, cm = _unpack(rb)
        q, _, c, s = _local_topk(qi, ci, _exact_cosine(qm, cm), k)
        return q, c, s

    return _topk(_scan_blocks(pairs.select("ra", "rb"), emit), k)


_TOPK_COLS = ("query_id", "rank", "neighbor_id", "score")


def _topk(scored: DataFrame, k: int, cols: tuple[str, ...] = _TOPK_COLS) -> DataFrame:
    """Each query's first k rows of ``scored`` under the (score desc,
    neighbor_id asc) total order, ranked 1..k, as ``cols``."""
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select(*cols)
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    metric: str = "quantized_dot",
    scale: int = 1000,
) -> DataFrame:
    """Exact top-k neighbors for each query row.

    metric='quantized_dot' ranks by integer inner product of
    round(x*scale) vectors — exact and engine-reproducible (see
    functions.vectors). metric='cosine' ranks by double cosine.
    Returns (query_id, rank, neighbor_id, score).
    """
    if metric == "quantized_dot":
        prep = lambda df: df.withColumn("_v", quantize(vec_col, scale))  # noqa: E731
        score = dot
    elif metric == "quantized_cosine":
        # integer dot and norms are exact (< 2^53), so the final
        # sqrt+divide is the same IEEE double on every engine —
        # rankings are engine-reproducible, unlike raw-float cosine
        prep = lambda df: df.withColumn("_v", quantize(vec_col, scale))  # noqa: E731
        score = lambda a, b: dot(a, b) / F.sqrt(norm_sq(a) * norm_sq(b))  # noqa: E731
    elif metric == "cosine":
        prep = lambda df: df.withColumn("_v", to_double(vec_col))  # noqa: E731
        score = cosine
    elif metric == "quantized_neg_l2":
        # negated exact integer squared L2, so the shared desc-rank
        # path orders nearest-first; the exact twin pq_topk's ADC
        # approximates
        prep = lambda df: df.withColumn("_v", quantize(vec_col, scale))  # noqa: E731
        score = lambda a, b: -F.aggregate(  # noqa: E731
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0).cast("double"),
            lambda acc, x: acc + x,
        )
    else:
        raise ValueError(f"unknown metric {metric!r}")

    q = prep(queries).select(F.col(id_col).alias("query_id"), F.col("_v").alias("_qv"))
    c = prep(spread(corpus, id_col)).select(F.col(id_col).alias("neighbor_id"), F.col("_v").alias("_cv"))
    if metric in ("quantized_cosine", "cosine"):
        # a zero-norm vector's cosine is 0/0 = NaN, and Spark orders
        # NaN ABOVE every real number — one zero vector would steal
        # rank 1 for every query (the near-dup operators filter
        # norm_sq > 0 for the same reason)
        q = q.filter(norm_sq(F.col("_qv")) > 0)
        c = c.filter(norm_sq(F.col("_cv")) > 0)
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn("score", score(F.col("_qv"), F.col("_cv")))
        .select("query_id", "neighbor_id", "score")
    )
    return _topk(scored, k)


def knn_label_probe(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
    k: int = 5,
    stride: int = 37,
    scale: int = 1000,
) -> DataFrame:
    """Embedding-quality probe: predict each probe vector's label by
    majority vote among its k nearest neighbors (leave-one-out kNN) —
    the standard cheap health check for an embedding table (label
    coherence ≈ retrieval quality), run before spending a training
    job on it.

    Probes are every ``stride``-th id (deterministic, corpus-size
    proportional); distances are quantized cosine so rankings — and
    therefore the vote — are engine-reproducible (see
    brute_force_topk). Vote ties break to the smallest label.

    Returns (query_id, true_label, predicted_label, n_votes, correct).

    Scale shape: probe-vs-corpus ranking is all_pairs_topk_cosine
    with a probe frame — below the 128 MB gate the corpus and probes
    are collected once and the probes scored against the broadcast
    corpus in one mapInArrow job, above it the replicated block join;
    bit-identical to the expression flat scan, ~10× on the 100-probe
    100k-corpus stress row. The vote is a k-row-per-probe
    aggregation. Swap the scan for ivf_topk at IVF scale — the vote
    stage is unchanged.
    """
    topk = all_pairs_topk_cosine(
        emb, id_col, vec_col, k=k, scale=scale,
        queries=emb.filter(F.col(id_col) % stride == 0),
    )
    neighbor_labels = emb.select(
        F.col(id_col).alias("neighbor_id"), F.col(label_col).alias("_nl")
    )
    votes = (
        topk.join(neighbor_labels, "neighbor_id")
        .groupBy("query_id", "_nl")
        .agg(F.count("*").alias("n_votes"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("n_votes"), F.asc("_nl"))
    predicted = (
        votes.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .select("query_id", F.col("_nl").alias("predicted_label"), "n_votes")
    )
    truth = emb.select(
        F.col(id_col).alias("query_id"), F.col(label_col).alias("true_label")
    )
    return (
        predicted.join(truth, "query_id")
        .select(
            "query_id",
            "true_label",
            "predicted_label",
            "n_votes",
            (F.col("predicted_label") == F.col("true_label")).alias("correct"),
        )
    )


def _hyperplane(dim: int, plane: int) -> list[float]:
    """Deterministic pseudo-random unit-free hyperplane: a fixed integer
    hash of (plane, i) mapped to [-1, 1). No RNG state — reproducible
    anywhere."""
    out = []
    for i in range(dim):
        # splitmix64-style integer scramble, public-domain constant
        z = (plane * 0x9E3779B97F4A7C15 + i * 0xBF58476D1CE4E5B9 + 0x94D049BB133111EB) % (1 << 64)
        z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) % (1 << 64)
        z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) % (1 << 64)
        z = z ^ (z >> 31)
        out.append((z / float(1 << 63)) - 1.0)
    return out


def signbit_signature(
    df: DataFrame, vec_col: str, dim: int, num_planes: int = 16, scale: int = 1000
) -> DataFrame:
    """Append ``sig`` (bigint bitmask of hyperplane sign bits).

    Implemented as an Arrow-batched Pandas UDF doing one numpy matmul
    per batch (vectors × plane matrix). The Catalyst alternatives both
    lose badly here: aggregate/zip_with lambdas evaluate interpreted
    (~1.2 ms/row for 16×64 terms), and unrolling the 1024-term sum into
    expression nodes chokes the optimizer's recursive tree transforms
    (measured 10× worse). Requires fixed-length ``dim`` vectors.

    Both the hyperplanes and the vectors are quantized to integers
    (round(x*scale)) before the matmul: every product and partial sum
    is an integer far below 2^53, so the float64 matmul is EXACT and
    summation-order-independent — the sign bits (and therefore the
    whole candidate set) are bit-reproducible on any engine, which is
    what lets the DuckDB oracle check the LSH path end-to-end. The
    quantization moves each plane by <0.1% — immaterial for random
    hyperplanes.
    """
    planes = np.array(
        [[round(x * scale) for x in _hyperplane(dim, p)] for p in range(num_planes)],
        dtype=np.float64,
    )
    weights = (np.int64(1) << np.arange(num_planes, dtype=np.int64))

    @F.pandas_udf("long")
    def _sig(vec: pd.Series) -> pd.Series:
        if len(vec) == 0:
            return pd.Series([], dtype="int64")
        # NULL embeddings → zero vector → all projections 0 → sig 0,
        # matching the lambda implementation's null-propagation result
        mat = np.array(
            [v if v is not None else np.zeros(dim) for v in vec], dtype=np.float64
        )
        bits = (_q_away(mat * scale) @ planes.T) > 0  # (n, num_planes), exact
        return pd.Series(bits.astype(np.int64) @ weights)

    return df.withColumn("sig", _sig(F.col(vec_col)))


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    k: int = 5,
    num_planes: int = 16,
    bands: int = 4,
    fetch_join: bool = False,
) -> DataFrame:
    """Approximate top-k: candidates must share ≥1 signature band
    (num_planes/bands bits each), re-ranked by exact quantized dot.

    Plan shape: corpus and queries are tagged, union'd and signed in
    ONE Arrow/pandas pass (two separate signature stages measured ~2×
    the latency); the signed frame is cached — it is the LSH index, and
    Spark's CacheManager canonicalization lets every band/probe branch
    (and repeated builds in one session) reuse one materialization.

    ``fetch_join`` picks the candidate-dedup strategy, same bits out
    (equality test-pinned):

    - False (default): vectors ride along through the band join so
      the re-rank needs no fetch join — right when bucket fan-out is
      modest (selective buckets, |candidates| ≈ |probes|).
    - True: dedup ID-ONLY pairs first (24-byte rows through the
      distinct exchange), then fetch both vectors back by hash join
      against the cached index — two more joins but no vector payload
      in the band shuffle. The huge-fan-out regime: at 16 planes / 4
      bands over a 100k corpus each band bucket holds ~6k rows, so
      1000 probes make ~2.5×10⁷ candidate pairs whose 2×64-int
      payload is a ~25 GB distinct exchange (measured 53.7 s → 27.4 s
      at that stress shape).
    """
    if num_planes % bands:
        raise ValueError(f"bands={bands} must divide num_planes={num_planes}")
    rows = num_planes // bands
    mask = (1 << rows) - 1

    tagged = (
        spread(corpus, id_col)
        .select(F.lit("c").alias("_role"), F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
        .unionByName(
            queries.select(
                F.lit("q").alias("_role"), F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")
            )
        )
    )
    signed = signbit_signature(tagged, "_v", dim, num_planes).cache()

    def banded(role: str, out_id: str, vec_alias: str | None) -> DataFrame:
        vec_cols = (
            # quantize once per index/probe row, not per candidate
            # pair in the re-rank (the _rerank_topk contract)
            [quantize("_v").alias(vec_alias)] if vec_alias else []
        )
        out_cols = [out_id] + ([vec_alias] if vec_alias else [])
        return (
            signed.filter(F.col("_role") == role)
            .select(
                F.col("_id").alias(out_id),
                *vec_cols,
                F.explode(
                    F.array(
                        *[
                            F.struct(
                                F.lit(b).alias("band"),
                                F.shiftrightunsigned(F.col("sig"), b * rows)
                                .bitwiseAND(F.lit(mask))
                                .alias("bucket"),
                            )
                            for b in range(bands)
                        ]
                    )
                ).alias("bb"),
            )
            .select(*out_cols, "bb.band", "bb.bucket")
        )

    if fetch_join:
        ids = (
            banded("c", "neighbor_id", None)
            .join(banded("q", "query_id", None), ["band", "bucket"])
            .filter(F.col("query_id") != F.col("neighbor_id"))
            .select("query_id", "neighbor_id")
            .distinct()
        )
        cidx = signed.filter(F.col("_role") == "c").select(
            F.col("_id").alias("neighbor_id"), quantize("_v").alias("_neighborq")
        )
        qidx = signed.filter(F.col("_role") == "q").select(
            F.col("_id").alias("query_id"), quantize("_v").alias("_queryq")
        )
        cand = ids.join(cidx, "neighbor_id").join(qidx, "query_id")
    else:
        cand = (
            banded("c", "neighbor_id", "_neighborq")
            .join(banded("q", "query_id", "_queryq"), ["band", "bucket"])
            .filter(F.col("query_id") != F.col("neighbor_id"))
            .select("query_id", "neighbor_id", "_queryq", "_neighborq")
            .distinct()
        )
    return _rerank_topk(cand.select("query_id", "neighbor_id", "_queryq", "_neighborq"), k)


def _rerank_topk(cand: DataFrame, k: int, metric: str = "dot") -> DataFrame:
    """Exact re-rank of a candidate frame (query_id, neighbor_id,
    _queryq, _neighborq [, _qnorm, _nnorm]) → top-k per query.

    Inputs are PRE-quantized arrays (and, for cosine, per-ROW
    precomputed norms): quantization and norms cost one HOF pass per
    join-input row, never per candidate pair — at index scale the
    candidate set is orders of magnitude larger than either side
    (round-7 stress: ~3×10⁸ IVF candidates from a 10⁵ corpus; the
    former per-pair re-quantization was ~6 interpreted array passes
    per candidate and dominated the probe join). Same arithmetic,
    same bits: quantize/norm per row equals quantize/norm per pair.

    metric='dot' is the gate-pinned default (exact integer scores);
    metric='cosine' normalizes with one IEEE sqrt+divide
    (brute_force_topk's cosine arithmetic) — used where the candidate
    generator must agree with a cosine-ranked exact baseline, e.g.
    the mutual-kNN IVF swap."""
    if metric == "dot":
        score = dot(F.col("_queryq"), F.col("_neighborq"))
    elif metric == "cosine":
        # zero-norm (and NULL) vectors have no cosine: drop the pair
        # from the ranking — the exact baselines' _prep filter, and
        # under ANSI mode the division would otherwise raise
        # DIVIDE_BY_ZERO (caught by the NULL-corpus sweep, round 7)
        cand = cand.filter((F.col("_qnorm") > 0) & (F.col("_nnorm") > 0))
        score = dot(F.col("_queryq"), F.col("_neighborq")) / F.sqrt(
            F.col("_qnorm") * F.col("_nnorm")
        )
    else:
        raise ValueError(f"unknown metric {metric!r}")
    return _topk(cand.withColumn("score", score).select("query_id", "neighbor_id", "score"), k)


def train_ivf_centroids(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    sample: int = 256,
    iters: int = 5,
):
    """Deterministic IVF coarse quantizer: Lloyd iterations on a fixed
    corpus sample, driver-side in numpy.

    The sample is the `sample` lowest-id vectors — deterministic, no
    RNG — and `iters` fixed Lloyd steps from an every-(sample/n_cells)
    stride init. At production scale the sample stays O(centroids ×
     100) rows regardless of corpus size (collecting it is a pruned
    top-k scan, not a full pass); training cost is independent of
    corpus size, which is the standard IVF property.

    ``iters=0`` keeps the stride-sampled data points themselves as
    centroids ("data-seeded" coarse quantizer): together with the
    integer assignment in ``ivf_topk`` this makes the whole index
    SQL-reproducible (the oracle re-derives the same centroids from
    the table), at a small recall cost vs Lloyd-refined cells.

    Returns an (n_cells, dim) float64 ndarray.
    """
    rows = (
        corpus.select(id_col, vec_col)
        .filter(F.col(vec_col).isNotNull())  # a None row breaks np.array
        .orderBy(id_col)
        .limit(sample)
        .select(vec_col)
        .collect()
    )
    if not rows:
        raise ValueError("train_ivf_centroids: corpus has no non-null vectors")
    x = np.array([r[0] for r in rows], dtype=np.float64)  # (sample, dim)
    stride = max(1, len(x) // n_cells)
    cents = x[::stride][:n_cells].copy()
    for _ in range(iters):
        # assign to nearest centroid by L2, then recompute means
        d2 = ((x[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        for c in range(len(cents)):
            members = x[assign == c]
            if len(members):
                cents[c] = members.mean(axis=0)
    return cents


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    sample: int = 256,
    iters: int = 5,
    scale: int = 1000,
    broadcast_queries: bool = True,
    metric: str = "dot",
    engine: str = "expr",
    max_cell: int = 4096,
) -> DataFrame:
    """Approximate top-k via an IVF (inverted-file) index: corpus rows
    bucket to their nearest coarse centroid, each query probes its
    `n_probe` nearest cells, and only same-cell pairs are re-ranked by
    exact quantized dot.

    The scale path complement to `lsh_topk`: the candidate join is an
    equi-join on `cell` (corpus shuffled once by cell id, queries
    exploded ×n_probe), so probe cost is |Q| × n_probe × avg-cell-size
    instead of |Q| × |C|. Centroids are broadcast inside the
    Arrow-batched assignment UDF as numpy literals — one matmul per
    batch, same pattern as `signbit_signature`.

    Assignment runs on INTEGER-quantized centroids and vectors:
    d = ||c_q||² − 2·v_q·c_q is integer-valued (exact in float64, all
    terms ≪ 2^53), argmin ties break to the lowest cell id — so cell
    assignment and probe order are deterministic and, with ``iters=0``
    (data-seeded centroids), bit-reproducible by the DuckDB oracle.

    ``engine`` picks the probe/re-rank implementation, same bits out:

    - ``"expr"`` — pair-level cell equi-join + per-candidate JVM HOF
      score. Right for the serving regime (few queries, modest
      fan-out), and the shape the DuckDB oracle replays 1:1.
    - ``"blocked"`` (cosine only) — each cell's members pack into ONE
      row, probing queries pack per (cell), and one Arrow pass runs
      the exact-cosine block kernel (_blocked_topk: float64 matmul +
      local top-k under the (score desc, id asc) total order) within
      cells; a pair meets in exactly one cell, so the global window
      over the ~|Q|·n_probe·k survivors finishes the exact same
      ranking. Use in the queries≈corpus regime: the candidate count
      is |Q|·n_probe·avg-cell and any per-pair interpreted expression
      multiplies by it (round-7 stress, 100k×64 at 8-of-256 probes =
      3.1×10⁸ candidates: 339 s expr → blocked runs the same probe as
      numpy matmuls: 339 s -> 36 s measured, vs 150 s for the
      exact all-pairs baseline on the same corpus). Equality with
      "expr" is test-pinned.
    """
    if engine not in ("expr", "blocked"):
        raise ValueError(f"unknown engine {engine!r}; expected 'expr' or 'blocked'")
    if engine == "blocked" and max_cell < 1:
        # fail at the call, before centroid training — not as an opaque
        # ceil/pmod-by-zero deep in the executed plan (driver ADVICE r8)
        raise ValueError(f"max_cell must be >= 1, got {max_cell}")
    if engine == "blocked" and metric != "cosine":
        # the blocked kernel drops zero-norm/NULL rows as the cosine
        # contract requires; dot keeps NULL-score rows in the window,
        # a semantic only the expr path preserves
        raise ValueError("engine='blocked' supports metric='cosine' only")
    cents = train_ivf_centroids(corpus, id_col, vec_col, n_cells, sample, iters)
    cents_q = _q_away(cents * scale)  # integer-valued float64
    cents_sq = (cents_q**2).sum(axis=1)  # (n_cells,)

    dim = cents.shape[1]

    def _as_matrix(vec: pd.Series):
        # NULL embeddings → zero vector (assigned deterministically to
        # whichever cell is nearest the origin; they can never win a
        # re-rank, so this is harmless and crash-free)
        return np.array(
            [v if v is not None else np.zeros(dim) for v in vec], dtype=np.float64
        )

    @F.pandas_udf("int")
    def _cell(vec: pd.Series) -> pd.Series:
        if len(vec) == 0:
            return pd.Series([], dtype="int32")
        mat = _q_away(_as_matrix(vec) * scale)
        # argmin ||v - c||^2 = argmin (||c||^2 - 2 v·c); ||v||^2 constant
        # per row. Integer math → exact; argmin takes the FIRST minimal
        # index, i.e. ties break to the lowest cell id.
        d = cents_sq[None, :] - 2.0 * (mat @ cents_q.T)
        return pd.Series(d.argmin(axis=1).astype(np.int32))

    @F.pandas_udf("array<int>")
    def _probe_cells(vec: pd.Series) -> pd.Series:
        if len(vec) == 0:
            return pd.Series([], dtype="object")
        mat = _q_away(_as_matrix(vec) * scale)
        d = cents_sq[None, :] - 2.0 * (mat @ cents_q.T)
        # stable sort on exact integers: probe order is (distance, cell)
        order = np.argsort(d, axis=1, kind="stable")[:, :n_probe].astype(np.int32)
        return pd.Series(list(order))

    # quantize (and, for cosine, norm) ONCE PER ROW before the cell
    # join: the candidate set is |Q|·n_probe·avg-cell pairs and any
    # per-pair array pass multiplies by that factor (round-7 stress:
    # 3×10⁸ candidates). This also keys the re-rank to THIS call's
    # ``scale`` (previously the re-rank always quantized at the
    # default scale regardless of the index's).
    cb = spread(corpus, id_col).select(
        F.col(id_col).alias("neighbor_id"),
        quantize(vec_col, scale).alias("_neighborq"),
        _cell(F.col(vec_col)).alias("cell"),
    )
    qb = queries.select(
        F.col(id_col).alias("query_id"),
        quantize(vec_col, scale).alias("_queryq"),
        F.explode(_probe_cells(F.col(vec_col))).alias("cell"),
    )
    if engine == "blocked":
        return _ivf_blocked_cosine_topk(cb, qb, k, max_cell=max_cell)
    pair_cols = ["query_id", "neighbor_id", "_queryq", "_neighborq"]
    if metric == "cosine":
        cb = cb.withColumn("_nnorm", norm_sq(F.col("_neighborq")))
        qb = qb.withColumn("_qnorm", norm_sq(F.col("_queryq")))
        pair_cols += ["_qnorm", "_nnorm"]
    # broadcast_queries=True is the serving shape (|Q| << |C|: the
    # probe frame rides the wire, the corpus never shuffles); for the
    # queries ≈ corpus regime (e.g. the mutual-kNN graph's IVF swap)
    # broadcasting the whole corpus would be wrong — a plain cell
    # equi-join shuffles BOTH sides once on the cell id instead,
    # still |Q| x n_probe x avg-cell-size probe cost.
    qside = F.broadcast(qb) if broadcast_queries else qb
    cand = cb.join(qside, "cell").filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    # a (query, neighbor) pair can only meet in ONE cell (the
    # neighbor's cell), so no distinct is needed before the re-rank
    return _rerank_topk(cand.select(*pair_cols), k, metric)


def _ivf_blocked_cosine_topk(
    cb: DataFrame, qb: DataFrame, k: int, max_cell: int = 4096
) -> DataFrame:
    """ivf_topk's engine='blocked' probe: the exact-cosine block kernel
    (_blocked_topk) applied within cells.

    Both sides shuffle ONCE on the cell id into one packed row per
    cell (members stay O(avg-cell) per row); the Arrow pass scores
    each (probing queries × cell members) block as one numpy matmul
    and keeps each query's first k under the (score desc, neighbor_id
    asc) TOTAL order — a candidate pair meets in exactly one cell (the
    neighbor's), so the global window over the ~|Q|·n_probe·k
    survivors reproduces the expr engine's ranking bit-for-bit.
    Zero-norm and NULL vectors drop before packing — the cosine
    contract (_rerank_topk's filter).

    SKEW GUARD (``max_cell``, driver ADVICE r7; made two-sided in the
    same round): a skewed coarse quantizer (e.g. iters=0 data-seeded
    centroids on a clustered corpus) can land the MAX cell — not the
    documented avg cell — in one packed row/task, an unguarded
    single-executor OOM at index scale; symmetrically, in the
    queries ≈ corpus regime a POPULAR cell's whole probe set would
    pack into one row even when the cell itself is small. Both sides
    split by a deterministic id salt into ceil(n/max_cell) groups;
    the block join keys on the cell alone, so each query sub-group
    scores against every corpus sub-cell of the cells it probes — a
    pair still meets in exactly ONE block (the neighbor lives in one
    sub-cell, the query in one sub-group). Each block keeps its local
    top-k with boundary ties and the existing global window merges;
    the true per-cell top-k is a subset of the union of block
    top-ks, so results stay bit-identical (equality test-pinned vs
    engine='expr' at max_cell=7 and 1, where BOTH sides split
    multi-way). Only oversized cells/probe-sets pay the replication.
    At max_cell=4096 a packed row is ≤ 4096×64 int64 ≈ 2 MB — bounded
    per task regardless of quantizer or probe skew. ivf_topk checks
    ``max_cell`` >= 1 before training."""
    cb = cb.filter(norm_sq(F.col("_neighborq")) > 0)
    qb = qb.filter(norm_sq(F.col("_queryq")) > 0)
    # per-cell member/probe counts are one tiny row per cell: broadcast
    # into both sides so the salting adds no extra shuffle of the big
    # frames. BOTH sides split: the corpus side by member-id salt (a
    # skewed quantizer's max cell), and the QUERY side by query-id salt
    # (the symmetric hazard — in the queries ≈ corpus regime a popular
    # cell's whole probe set would otherwise pack into one row). Each
    # query sub-group joins every corpus sub-cell of the cells it
    # probes, so a pair still meets in exactly ONE block.
    ccnt = cb.groupBy("cell").agg(
        F.ceil(F.count(F.lit(1)) / F.lit(max_cell)).cast("int").alias("_nsub")
    )
    qcnt = qb.groupBy("cell").agg(
        F.ceil(F.count(F.lit(1)) / F.lit(max_cell)).cast("int").alias("_nqsub")
    )
    cb = cb.join(F.broadcast(ccnt), "cell").withColumn(
        "_salt", F.pmod(F.xxhash64("neighbor_id"), F.col("_nsub")).cast("int")
    )
    qb = qb.join(F.broadcast(qcnt), "cell").withColumn(
        "_qsalt", F.pmod(F.xxhash64("query_id"), F.col("_nqsub")).cast("int")
    )
    cpacked = cb.groupBy("cell", "_salt").agg(
        F.collect_list(
            F.struct(F.col("neighbor_id").alias("_id"), F.col("_neighborq").alias("_v"))
        ).alias("rb")
    )
    qpacked = qb.groupBy("cell", "_qsalt").agg(
        F.collect_list(
            F.struct(F.col("query_id").alias("_id"), F.col("_queryq").alias("_v"))
        ).alias("ra")
    )
    # join on cell alone: nsub × nqsub blocks per cell, each one
    # bounded numpy matmul task
    return _blocked_topk(qpacked.join(cpacked, "cell"), k)


def lsh_near_dup_pairs(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    threshold: float = 0.3,
    num_planes: int = 16,
    bands: int = 4,
    scale: int = 1000,
) -> DataFrame:
    """Sub-quadratic embedding near-dup pairs: candidates must share at
    least one signature band (sign-bit LSH over quantized hyperplanes),
    then exact quantized cosine >= ``threshold`` verifies.

    The scale path for ``dedup.cosine_near_dup_pairs`` (the O(|C|^2)
    oracle baseline): here the self-join key is (band, bucket), so the
    expected candidate count is sum of per-bucket squares — |C|^2 /
    2^(planes/bands) per band under uniform hashing — and the exact
    re-rank runs on candidates only. Precision is 1 by construction
    (every emitted pair passes the exact test); recall follows the
    hyperplane collision law P[share a band] = 1-(1-(1-theta/pi)^r)^b,
    ~95% for cosine 0.9 at the 16/4 defaults, lower near the
    threshold — the standard LSH trade, pinned in tests against the
    exact baseline.

    Everything is integer-quantized (planes, signatures, dots), so the
    pair set and scores are bit-reproducible cross-engine — the DuckDB
    oracle re-derives signatures, buckets, candidates and cosines
    exactly. Returns (vec_a, vec_b, cosine) with vec_a < vec_b.
    """
    if num_planes % bands:
        raise ValueError(f"bands={bands} must divide num_planes={num_planes}")
    rows = num_planes // bands
    mask = (1 << rows) - 1
    base = spread(corpus, id_col).select(
        F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")
    )
    signed = (
        signbit_signature(base, "_v", dim, num_planes, scale)
        .select("_id", quantize("_v", scale).alias("_qv"), "sig")
        # zero-norm vectors have no cosine (NaN orders above numbers);
        # drop them BEFORE banding or they all collide in bucket 0
        .filter(norm_sq(F.col("_qv")) > 0)
        # both join sides read this frame — one signature pass
        .localCheckpoint(eager=True)
    )
    stacked = signed.select(
        "_id",
        "_qv",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftrightunsigned(F.col("sig"), b * rows)
                        .bitwiseAND(F.lit(mask))
                        .alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("_id", "_qv", "bb.band", "bb.bucket")
    a = stacked.select(F.col("_id").alias("vec_a"), F.col("_qv").alias("_va"), "band", "bucket")
    b = stacked.select(F.col("_id").alias("vec_b"), F.col("_qv").alias("_vb"), "band", "bucket")
    cand = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", "_va", "_vb")
        .distinct()
    )
    cos = dot(F.col("_va"), F.col("_vb")) / F.sqrt(
        norm_sq(F.col("_va")) * norm_sq(F.col("_vb"))
    )
    return (
        cand.withColumn("cosine", cos)
        .filter(F.col("cosine") >= threshold)
        .select("vec_a", "vec_b", "cosine")
    )


def _pq_books(
    vq: DataFrame, m: int, n_codes: int, iters: int
) -> tuple[list[list[list[int]]], int, int]:
    """Shared PQ codebook builder (pq_topk / pq_distortion): returns
    (books[j][code] = int subvector, dim, sub). iters=0 seeds the
    codebook with the subvectors of the n_codes lowest-id corpus
    vectors — re-derivable in SQL, the oracle-exact variant; iters>0
    runs per-subspace Lloyd on a deterministic sample (RNG-free) with
    centroids re-quantized to BIGINT so ADC stays integer-exact."""
    sample = n_codes if iters == 0 else max(n_codes * 32, 256)
    seed_rows = vq.orderBy("_id").limit(sample).select("_v").collect()
    if len(seed_rows) < n_codes:
        raise ValueError(f"corpus smaller than n_codes={n_codes}")
    seeds = [list(r[0]) for r in seed_rows]
    dim = len(seeds[0])
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    if iters == 0:
        books = [
            [seeds[c][j * sub : (j + 1) * sub] for c in range(n_codes)]
            for j in range(m)
        ]
    else:
        x = np.array(seeds, dtype=np.float64)
        stride = max(1, len(x) // n_codes)
        books = []
        for j in range(m):
            xj = x[:, j * sub : (j + 1) * sub]
            cents = xj[::stride][:n_codes].copy()
            for _ in range(iters):
                d2 = ((xj[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
                assign = d2.argmin(axis=1)
                for c in range(len(cents)):
                    members = xj[assign == c]
                    if len(members):
                        cents[c] = members.mean(axis=0)
            # half-away rounding (_q_away), NOT np.rint (half-to-even):
            # the module contract is one rounding rule everywhere
            books.append([[int(v) for v in _q_away(row)] for row in cents])
    return books, dim, sub


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    m: int = 8,
    n_codes: int = 16,
    scale: int = 1000,
    iters: int = 0,
    rerank: int | None = None,
) -> DataFrame:
    """Product-quantization ANN top-k via asymmetric distance
    computation (ADC) — the memory-compressed third leg of the ANN
    stack next to LSH and IVF (Jégou et al., "Product Quantization
    for Nearest Neighbor Search", TPAMI 2011).

    Index: each vector is split into ``m`` subvectors; each subvector
    is assigned the nearest of ``n_codes`` codebook centroids by exact
    integer L2 (ties → lowest code), so a d-dim float vector is stored
    as m single-byte codes — a 32× compression at d=64/m=8, which is
    what lets a billion-vector index live in cluster memory.

    Codebook: the subvectors of the ``n_codes`` lowest-id corpus
    vectors ("data-seeded", the same deterministic-training trick as
    ``train_ivf_centroids(iters=0)``) — collected driver-side (tiny,
    O(n_codes) rows regardless of corpus size) and re-derivable in
    SQL, so codes, LUTs and rankings are oracle-reproducible end to
    end. A Lloyd-refined codebook drops in without changing any plan.

    Query: per query, a (m × n_codes) lookup table of exact integer
    subvector distances is built and broadcast; ADC distance to a
    corpus vector is the sum of m LUT entries selected by its codes.
    The scan is one broadcast equi-join on (subspace, code) over the
    code table + a sum — the corpus never shuffles its vectors, only
    its m-byte codes, and every distance is an exact BIGINT.

    Returns (query_id, rank, neighbor_id, adc_dist): top ``k`` by
    (ADC distance, neighbor id), self excluded. ADC ranking is
    approximate relative to exact L2 (that's PQ's trade); recall vs
    the exact ranking is pinned in tests.

    ``rerank=R`` switches to the production IVF-PQ serving shape: the
    ADC ranking only selects a shortlist of R candidates per query,
    which is then re-scored with EXACT integer L2 against the true
    vectors and cut to ``k`` — output (query_id, rank, neighbor_id,
    l2_dist). Shortlist recall rises with R at R extra exact
    distances per query; with ``iters=0`` every stage stays
    SQL-reproducible so the oracle checks codes, shortlist and final
    ranking end to end.
    """
    if m <= 0 or n_codes <= 0:
        raise ValueError("m and n_codes must be positive")
    # NULL vectors are excluded on BOTH sides: a NULL corpus row would
    # code deterministically but re-rank with a NULL exact distance
    # (which sorts first and steals rank 1), and the oracle cannot
    # reproduce any non-exclusion policy
    vq = (
        spread(corpus, id_col)
        .filter(F.col(vec_col).isNotNull())
        .select(F.col(id_col).alias("_id"), quantize(vec_col, scale).alias("_v"))
    )
    books, dim, sub = _pq_books(vq, m, n_codes, iters)
    spark = corpus.sparkSession
    cb = spark.createDataFrame(
        [(j, c, books[j][c]) for j in range(m) for c in range(n_codes)],
        "j int, code int, cv array<bigint>",
    )

    def _sub_dists(frame: DataFrame, out_id: str) -> DataFrame:
        subs = frame.select(
            F.col("_id").alias(out_id),
            F.posexplode(
                F.array(*[F.slice("_v", j * sub + 1, sub) for j in range(m)])
            ).alias("j", "sv"),
        )
        d2 = F.aggregate(
            F.zip_with(F.col("sv"), F.col("cv"), lambda x, y: (x - y) * (x - y)),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        )
        return subs.join(F.broadcast(cb), "j").withColumn("_d", d2)

    # Corpus code assignment is |C| × m × n_codes subvector distances —
    # as a posexplode × codebook join each is an INTERPRETED
    # zip_with/aggregate lambda (the measured hot spot: ~1M lambda
    # evals even at bench scale, and it grows linearly with the
    # corpus). One numpy matmul per Arrow batch instead — the same
    # justified-Pandas-UDF pattern as signbit_signature; all math is
    # integer-valued float64 (< 2^53) so codes are bit-identical to
    # the Catalyst path (argmin first-min == min_by (d, code)). The
    # query-side LUT keeps the Catalyst join: |Q| × m × n_codes stays
    # tiny (it is the broadcast side).
    books_np = np.array(books, dtype=np.float64)  # (m, n_codes, sub)
    books_sq = (books_np**2).sum(axis=2)  # (m, n_codes)

    @F.pandas_udf("array<int>")
    def _code_vec(vec: pd.Series) -> pd.Series:
        if len(vec) == 0:
            return pd.Series([], dtype="object")
        # NULLs are excluded upstream (vq/qq filters); the zero-fill
        # is a crash-free safety net for direct callers only
        mat = np.array(
            [list(v) if v is not None else [0.0] * dim for v in vec],
            dtype=np.float64,
        )  # (n, dim)
        out = np.empty((len(mat), m), dtype=np.int32)
        for j in range(m):
            vj = mat[:, j * sub : (j + 1) * sub]
            d = books_sq[j][None, :] - 2.0 * (vj @ books_np[j].T)
            out[:, j] = d.argmin(axis=1)
        return pd.Series(list(out))

    codes = vq.select(
        F.col("_id").alias("_cid"),
        F.posexplode(_code_vec(F.col("_v"))).alias("j", "code"),
    )
    qq = (
        spread(queries, id_col)
        .filter(F.col(vec_col).isNotNull())
        .select(F.col(id_col).alias("_id"), quantize(vec_col, scale).alias("_v"))
    )
    lut = _sub_dists(qq, "_qid").select("_qid", "j", "code", F.col("_d").alias("_ld"))
    adc = (
        codes.join(F.broadcast(lut), ["j", "code"])
        .groupBy("_qid", "_cid")
        .agg(F.sum("_ld").alias("adc_dist"))
        .filter(F.col("_cid") != F.col("_qid"))
    )
    w = Window.partitionBy("_qid").orderBy("adc_dist", "_cid")
    ranked = adc.withColumn("rank", F.row_number().over(w))
    if rerank is None:
        return ranked.filter(F.col("rank") <= k).select(
            F.col("_qid").alias("query_id"),
            F.col("rank").cast("int").alias("rank"),
            F.col("_cid").alias("neighbor_id"),
            F.col("adc_dist").cast("bigint").alias("adc_dist"),
        )
    # ADC shortlist → exact integer-L2 re-rank (the IVF-PQ deployment
    # shape: compressed codes prune, true vectors score only the
    # shortlist — |Q| × rerank exact distances instead of |Q| × n)
    short = ranked.filter(F.col("rank") <= rerank).select("_qid", "_cid")
    l2 = F.aggregate(
        F.zip_with(F.col("_qv"), F.col("_cv"), lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    exact = (
        short.join(F.broadcast(qq.select(F.col("_id").alias("_qid"), F.col("_v").alias("_qv"))), "_qid")
        .join(vq.select(F.col("_id").alias("_cid"), F.col("_v").alias("_cv")), "_cid")
        .withColumn("l2_dist", l2)
    )
    w2 = Window.partitionBy("_qid").orderBy("l2_dist", "_cid")
    return (
        exact.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select(
            F.col("_qid").alias("query_id"),
            F.col("rank").cast("int").alias("rank"),
            F.col("_cid").alias("neighbor_id"),
            F.col("l2_dist").cast("bigint").alias("l2_dist"),
        )
    )


def pq_distortion(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    n_codes: int = 16,
    scale: int = 1000,
    iters: int = 0,
) -> DataFrame:
    """PQ reconstruction-distortion monitor: how much information the
    compressed codes throw away, per subspace — the index-health twin
    of ``embedding_ann_recall`` (recall watches ranking quality,
    distortion watches the quantizer itself; a subspace whose
    distortion balloons after a data drift is the one whose codebook
    needs retraining).

    Assigns every corpus vector its nearest code per subspace (same
    seeded codebook + exact integer subvector L2 + lowest-code
    tie-break as ``pq_topk``) and reports ONE ROW PER SUBSPACE:

    - ``n_vectors``, ``total_sq_error`` (BIGINT sum of the per-vector
      subvector quantization errors ||v_j - c(v_j)||², exact int64),
      ``mean_sq_error`` (one IEEE division), ``max_sq_error``;
    - ``n_codes_used`` and ``max_code_share`` (top code's population
      share — codebook-collapse alarm: a share near 1.0 means the
      subspace quantizes everything to one cell).

    Scale shape: the per-(subspace, code) partial aggregate caps the
    shuffle at m × n_codes rows per map partition regardless of corpus
    size, then the final per-subspace rollup touches m × n_codes rows
    total. Output is m rows. No window, no collect beyond the
    O(n_codes) codebook seed, no join.
    """
    if m <= 0 or n_codes <= 0:
        raise ValueError("m and n_codes must be positive")
    vq = (
        spread(corpus, id_col)
        .filter(F.col(vec_col).isNotNull())
        .select(F.col(id_col).alias("_id"), quantize(vec_col, scale).alias("_v"))
    )
    books, dim, sub = _pq_books(vq, m, n_codes, iters)
    books_np = np.array(books, dtype=np.float64)  # (m, n_codes, sub)
    books_sq = (books_np**2).sum(axis=2)  # (m, n_codes)

    # One numpy matmul per Arrow batch (the justified-Pandas-UDF
    # pattern of pq_topk's corpus coder): all math is integer-valued
    # float64 < 2^53, so codes and distances are bit-exact
    @F.pandas_udf("array<struct<j: int, code: int, d: bigint>>")
    def _assign(vec: pd.Series) -> pd.Series:
        if len(vec) == 0:
            return pd.Series([], dtype="object")
        mat = np.array([list(v) for v in vec], dtype=np.float64)  # (n, dim)
        out = []
        codes = np.empty((len(mat), m), dtype=np.int64)
        dists = np.empty((len(mat), m), dtype=np.int64)
        for j in range(m):
            vj = mat[:, j * sub : (j + 1) * sub]
            d = (vj**2).sum(axis=1)[:, None] + books_sq[j][None, :] - 2.0 * (
                vj @ books_np[j].T
            )
            codes[:, j] = d.argmin(axis=1)  # first min == lowest code
            dists[:, j] = d[np.arange(len(mat)), codes[:, j]].astype(np.int64)
        for r in range(len(mat)):
            out.append(
                [
                    {"j": int(j), "code": int(codes[r, j]), "d": int(dists[r, j])}
                    for j in range(m)
                ]
            )
        return pd.Series(out)

    per_cell = (
        vq.select(F.explode(_assign("_v")).alias("a"))
        .select("a.j", "a.code", "a.d")
        .groupBy("j", "code")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("_cnt"),
            F.sum("d").cast("bigint").alias("_sum_d"),
            F.max("d").cast("bigint").alias("_max_d"),
        )
    )
    n_vec = F.sum("_cnt")
    return per_cell.groupBy("j").agg(
        n_vec.cast("bigint").alias("n_vectors"),
        F.sum("_sum_d").cast("bigint").alias("total_sq_error"),
        (F.sum("_sum_d").cast("double") / n_vec.cast("double")).alias(
            "mean_sq_error"
        ),
        F.max("_max_d").cast("bigint").alias("max_sq_error"),
        F.count(F.lit(1)).cast("bigint").alias("n_codes_used"),
        (F.max("_cnt").cast("double") / n_vec.cast("double")).alias(
            "max_code_share"
        ),
    )




def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    m: int = 16,
    n_codes: int = 32,
    rerank: int = 50,
    sample: int = 256,
    scale: int = 1000,
) -> DataFrame:
    """IVF-PQ with residual encoding — the FAISS-style production ANN
    composition (Jégou et al. 2011, §IV): the coarse quantizer prunes
    the corpus to ``n_probe`` of ``n_cells`` inverted lists, PQ codes
    of the RESIDUAL (v − centroid) score the survivors via per-(query,
    cell) ADC lookup tables, and an exact integer-L2 re-rank cuts the
    ``rerank`` shortlist to ``k``.

    Scale shape: the corpus contributes one Arrow cell+code assignment
    pass and then only its (cell, m codes) rows — vectors never enter
    the candidate join. The ADC join is an equi-join on (cell,
    subspace, code) against a broadcast LUT frame of |Q| × n_probe ×
    m × n_codes rows (the LUT math itself stays Catalyst-side: it is
    the small broadcast side, same justification as ``pq_topk``'s
    LUT). Probe cost is |Q| × n_probe × avg-cell-size code rows, and
    the exact re-rank touches |Q| × rerank true vectors.

    Determinism: coarse centroids are the data-seeded stride sample
    (``train_ivf_centroids(iters=0)``), the codebook is the residuals
    of the ``n_codes`` lowest-id corpus vectors, and every distance —
    cell assignment, code assignment, LUT entries, ADC sums, final L2
    — is integer-exact with ties to the lowest index, so the whole
    index round-trips through the DuckDB oracle. NULL vectors are
    excluded on both sides (same policy and reasons as ``pq_topk``).
    """
    if m <= 0 or n_codes <= 0:
        raise ValueError("m and n_codes must be positive")
    cents = train_ivf_centroids(corpus, id_col, vec_col, n_cells, sample, iters=0)
    cents_q = _q_away(cents * scale)  # integer-valued float64
    cents_sq = (cents_q**2).sum(axis=1)
    dim = cents.shape[1]
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m

    vq = (
        spread(corpus, id_col)
        .filter(F.col(vec_col).isNotNull())
        .select(F.col(id_col).alias("_id"), quantize(vec_col, scale).alias("_v"))
    )
    # codebook: residuals of the n_codes lowest-id vectors w.r.t.
    # their own coarse cells — O(n_codes) driver rows, corpus-size
    # independent, re-derivable in SQL
    seed_rows = vq.orderBy("_id").limit(n_codes).select("_v").collect()
    if len(seed_rows) < n_codes:
        raise ValueError(f"corpus smaller than n_codes={n_codes}")
    seeds = np.array([list(r[0]) for r in seed_rows], dtype=np.float64)
    seed_cells = (cents_sq[None, :] - 2.0 * (seeds @ cents_q.T)).argmin(axis=1)
    resid_seeds = seeds - cents_q[seed_cells]  # integer-valued
    books = np.stack(
        [resid_seeds[:, j * sub : (j + 1) * sub] for j in range(m)]
    )  # (m, n_codes, sub)
    books_sq = (books**2).sum(axis=2)  # (m, n_codes)

    @F.pandas_udf("struct<cell:int,codes:array<int>>")
    def _cell_codes(vec: pd.Series) -> pd.DataFrame:
        if len(vec) == 0:
            return pd.DataFrame(
                {"cell": pd.Series([], dtype="int32"), "codes": pd.Series([], dtype="object")}
            )
        mat = np.array([list(v) for v in vec], dtype=np.float64)
        cell = (cents_sq[None, :] - 2.0 * (mat @ cents_q.T)).argmin(axis=1)
        resid = mat - cents_q[cell]
        codes = np.empty((len(mat), m), dtype=np.int32)
        for j in range(m):
            rj = resid[:, j * sub : (j + 1) * sub]
            d = books_sq[j][None, :] - 2.0 * (rj @ books[j].T)
            codes[:, j] = d.argmin(axis=1)
        return pd.DataFrame({"cell": cell.astype(np.int32), "codes": list(codes)})

    coded = vq.select(
        F.col("_id").alias("neighbor_id"), _cell_codes(F.col("_v")).alias("_cc")
    ).select(
        "neighbor_id",
        F.col("_cc.cell").alias("cell"),
        F.posexplode(F.col("_cc.codes")).alias("j", "code"),
    )

    @F.pandas_udf("array<int>")
    def _probes(vec: pd.Series) -> pd.Series:
        if len(vec) == 0:
            return pd.Series([], dtype="object")
        mat = np.array([list(v) for v in vec], dtype=np.float64)
        d = cents_sq[None, :] - 2.0 * (mat @ cents_q.T)
        order = np.argsort(d, axis=1, kind="stable")[:, :n_probe].astype(np.int32)
        return pd.Series(list(order))

    spark = corpus.sparkSession
    qq = (
        spread(queries, id_col)
        .filter(F.col(vec_col).isNotNull())
        .select(F.col(id_col).alias("_qid"), quantize(vec_col, scale).alias("_qv"))
    )
    probes = qq.select("_qid", "_qv", F.explode(_probes(F.col("_qv"))).alias("cell"))
    cents_df = spark.createDataFrame(
        [(c, [int(x) for x in cents_q[c]]) for c in range(len(cents_q))],
        "cell int, cv array<bigint>",
    )
    book_df = spark.createDataFrame(
        [
            (j, c, [int(x) for x in books[j, c]])
            for j in range(m)
            for c in range(n_codes)
        ],
        "j int, code int, bv array<bigint>",
    )
    # per-(query, probed cell) residual, sliced per subspace, against
    # the full codebook: the LUT — |Q| x n_probe x m x n_codes rows,
    # the broadcast side by construction
    resid = F.zip_with(F.col("_qv"), F.col("cv"), lambda x, y: x - y)
    lut_base = probes.join(F.broadcast(cents_df), "cell").select(
        "_qid",
        "cell",
        F.posexplode(
            F.array(*[F.slice(resid, j * sub + 1, sub) for j in range(m)])
        ).alias("j", "rv"),
    )
    ld = F.aggregate(
        F.zip_with(F.col("rv"), F.col("bv"), lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    lut = lut_base.join(F.broadcast(book_df), "j").select(
        "_qid", "cell", "j", "code", ld.alias("_ld")
    )
    adc = (
        coded.join(F.broadcast(lut), ["cell", "j", "code"])
        .groupBy("_qid", "neighbor_id")
        .agg(F.sum("_ld").alias("adc_dist"))
        .filter(F.col("_qid") != F.col("neighbor_id"))
    )
    w = Window.partitionBy("_qid").orderBy("adc_dist", "neighbor_id")
    short = adc.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= rerank
    )
    l2 = F.aggregate(
        F.zip_with(F.col("_qv"), F.col("_cv"), lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    exact = (
        short.select("_qid", "neighbor_id")
        .join(F.broadcast(qq), "_qid")
        .join(vq.select(F.col("_id").alias("neighbor_id"), F.col("_v").alias("_cv")), "neighbor_id")
        .withColumn("l2_dist", l2)
    )
    w2 = Window.partitionBy("_qid").orderBy("l2_dist", "neighbor_id")
    return (
        exact.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select(
            F.col("_qid").alias("query_id"),
            F.col("rank").cast("int").alias("rank"),
            "neighbor_id",
            F.col("l2_dist").cast("bigint").alias("l2_dist"),
        )
    )


def mutual_knn_graph(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    scale: int = 1000,
    index: str = "exact",
    n_cells: int = 16,
    n_probe: int = 4,
    iters: int = 5,
) -> DataFrame:
    """Undirected mutual-kNN graph over an embedding table: edge
    (src, dst) iff each vector is among the other's k nearest by
    quantized similarity — the standard graph substrate for semantic
    clustering, diversity analysis, and graph-based dedup (mutuality
    prunes the asymmetric hub edges a raw kNN digraph is full of).

    Returns (src, dst) with src < dst, one row per undirected edge.

    Scale shape: neighbor retrieval is the pluggable stage, selected
    by ``index``:

    - ``"exact"`` — the exact matmul all-pairs scan
      (all_pairs_topk_cosine: one mapInArrow job over a broadcast
      corpus below the 128 MB gate, the replicated block join above
      it; bit-identical to the expression flat scan and ~8× faster in
      the queries≈corpus regime). O(n²·d) compute: the oracle-exact
      baseline, and the right choice up to ~10⁵ vectors on one box.
    - ``"ivf"`` — the coarse-cell index (ivf_topk with
      broadcast_queries=False: corpus AND query sides shuffle once on
      the cell id, no corpus broadcast), O(n · n_probe · avg-cell)
      probe cost — the 100 TB index-scale path. Approximate: recall
      of the mutual edge set vs exact is pinned in tests on a
      clustered corpus; mutuality itself filters most one-sided
      misses, so edge recall sits above raw neighbor recall.

    The mutualization self-join (one hash join on the directed edge
    set, O(n·k) rows) and everything downstream are identical for
    both retrievals.

    ``iters`` is the IVF coarse-quantizer's Lloyd iteration count
    (ignored for ``"exact"``): the default keeps the recall-tuned
    refined cells; ``iters=0`` keeps the data-seeded sample centroids,
    making the whole retrieval SQL-reproducible (the oracle pattern
    ivf_topk documents — used by the embedding_lp_ivf_agreement gate).
    """
    if index == "exact":
        topk = all_pairs_topk_cosine(emb, id_col, vec_col, k=k, scale=scale)
    elif index == "ivf":
        topk = ivf_topk(
            emb,
            emb,
            id_col,
            vec_col,
            k=k,
            n_cells=n_cells,
            n_probe=n_probe,
            iters=iters,
            scale=scale,
            broadcast_queries=False,
            metric="cosine",  # the exact baseline ranks by cosine
            # queries ≈ corpus: probe via per-cell numpy matmuls, not
            # a per-candidate JVM expression (bit-identical, test-
            # pinned; 339 s -> 36 s at the 100k 8-of-256 stress,
            # vs 150 s for the exact blocked-matmul baseline)
            engine="blocked",
        )
    else:
        raise ValueError(f"unknown index {index!r}; expected 'exact' or 'ivf'")
    d = (
        topk.select("query_id", "neighbor_id")
        # pin the O(n·k) directed edge set BEFORE the mutualization
        # self-join: both join sides read it, and without the pin the
        # retrieval (one full blocked-matmul or IVF probe pass) runs
        # once PER SIDE — no ReusedExchange saves it (measured 2
        # MapInPandas stages in the executed plan, ~2x the matmul at
        # stress scale; the dedup_survivors/dbscan pin convention)
        .localCheckpoint(eager=True)
    )
    rev = d.select(
        F.col("neighbor_id").alias("query_id"), F.col("query_id").alias("neighbor_id")
    )
    return (
        d.join(rev, ["query_id", "neighbor_id"])
        .filter(F.col("query_id") < F.col("neighbor_id"))
        .select(
            F.col("query_id").alias("src"), F.col("neighbor_id").alias("dst")
        )
    )


def hard_negatives(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 5,
    stride: int = 37,
    scale: int = 1000,
) -> DataFrame:
    """Hard-negative mining for contrastive training: for every probe
    vector, the k nearest neighbors whose label DIFFERS from the
    probe's — the most-confusable wrong answers, the negatives that
    actually move a contrastive/triplet loss (random negatives are
    mostly trivial at scale; hardest-negative selection is the
    standard retrieval-training recipe, e.g. DPR/ANCE).

    Ranking is quantized cosine (exact integer dot/norms, one IEEE
    sqrt+divide — engine-reproducible, see brute_force_topk), ties
    broken by neighbor id; the label filter is applied BEFORE
    ranking, so the result is the exact different-label top-k, not a
    post-filtered same-label top-k' (which could surface fewer than
    k, or wrong, negatives when a label cluster is dense).

    Probes are every ``stride``-th id. Returns (query_id, query_label,
    rank, neighbor_id, neighbor_label, score).

    Scale shape: identical to the flat scans — probes broadcast
    through one corpus pass, O(corpus x probes) map-side work, no
    corpus shuffle; swap the scan for ivf_topk with a label-partition
    twist at index scale (the ranking stage is unchanged).
    """
    q = (
        emb.filter(F.col(id_col) % stride == 0)
        .withColumn("_qv", quantize(vec_col, scale))
        .filter(norm_sq(F.col("_qv")) > 0)
        .select(
            F.col(id_col).alias("query_id"),
            F.col(label_col).alias("query_label"),
            "_qv",
        )
    )
    c = (
        spread(emb, id_col)
        .withColumn("_cv", quantize(vec_col, scale))
        .filter(norm_sq(F.col("_cv")) > 0)
        .select(
            F.col(id_col).alias("neighbor_id"),
            F.col(label_col).alias("neighbor_label"),
            "_cv",
        )
    )
    scored = (
        c.join(
            F.broadcast(q),
            (F.col("query_id") != F.col("neighbor_id"))
            & ~F.col("neighbor_label").eqNullSafe(F.col("query_label")),
        )
        .withColumn(
            "score",
            dot(F.col("_qv"), F.col("_cv"))
            / F.sqrt(norm_sq(F.col("_qv")) * norm_sq(F.col("_cv"))),
        )
        .select("query_id", "query_label", "neighbor_id", "neighbor_label", "score")
    )
    return _topk(
        scored, k, ("query_id", "query_label", "rank", "neighbor_id", "neighbor_label", "score")
    )


def all_pairs_topk_cosine(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    scale: int = 1000,
    queries: DataFrame | None = None,
) -> DataFrame:
    """Exact top-k by quantized cosine via float64 BLAS matmuls — the
    matmul twin of brute_force_topk, returning the same
    (query_id, rank, neighbor_id, score) under the same total order
    (score desc, neighbor_id asc), self-pairs excluded. ``queries``
    defaults to the corpus itself (the all-pairs / mutual-kNN case);
    pass a probe frame for query-vs-corpus ranking.

    Below the gate (_blocking: corpus plus probe rows, n·d·8 ≤
    _BROADCAST_BYTES) both sides are collected once and the corpus
    ships to one mapInArrow job (_shipped_scan): each task scores its
    query slice against the whole corpus (_exact_cosine) and its local
    top-k (_local_topk) is already the global one, ranked in numpy.
    Above it, vectors hash into packed blocks (_pack); every (query
    block, corpus block) pair — a full cross join of the blocks — is
    ONE matmul emitting each query's LOCAL top-k, then one window keeps
    the global k among the O(k·nblocks) survivors per query. Scores are
    bit-identical to the zip_with expression path, so every gate
    downstream (kNN triangles, label propagation, label probe) stays
    oracle-green.

    Use this in the big-cross regime (|queries|·|corpus| ≳ 10⁶ pair
    scores, where the interpreted-HOF expression scan dominates —
    measured ~8× on the 5k-vector mutual-kNN graph and ~10× on the
    100-probe × 100k-corpus stress probe); brute_force_topk stays the
    right call for small probe sets, where broadcasting beats packing.
    """
    frames = [emb] if queries is None else [emb, queries]
    d, nblocks, shipped = _blocking(vec_col, frames)
    if shipped:
        c = _collect_rows(emb, id_col, vec_col, scale, d)
        q = c if queries is None else _collect_rows(queries, id_col, vec_col, scale, d)

        def emit(data, a, b):
            (qi, qm), (ci, cm) = data
            return _local_topk(qi[a:b], ci, _exact_cosine(qm[a:b], cm), k)

        return _shipped_scan(
            emb.sparkSession, (q, c), np.ones(len(q[0])), len(c[0]), emit,
            "query_id long, rank long, neighbor_id long, score double",
        )
    packed_c = _pack(_cosine_rows(emb, id_col, vec_col, scale), nblocks)
    packed_q = (
        packed_c
        if queries is None
        else _pack(_cosine_rows(queries, id_col, vec_col, scale), nblocks)
    )
    return _blocked_topk(_block_pairs(packed_q, packed_c), k)


def topk_recall(
    approx: DataFrame,
    exact: DataFrame,
    query_col: str = "query_id",
    neighbor_col: str = "neighbor_id",
) -> DataFrame:
    """Per-query recall of an approximate top-k result against the
    exact one — the index-quality monitor every ANN deployment needs
    ("measure, don't guess": is IVF's 4-of-16 probe recall still
    acceptable after the last ingest?). Takes any two ranked frames
    carrying (query_col, neighbor_col) — IVF/LSH/PQ vs the exact
    scan, or two index generations against each other.

    Returns (query_col, n_hits, n_exact, recall_nano) per query in
    the EXACT frame: n_hits = |approx ∩ exact| (a semi-join — rank
    disagreements don't matter, membership does), n_exact the
    denominator (== k when the corpus has k true neighbors; smaller
    on tiny/degenerate corpora, so recall stays honest instead of
    capped by construction), recall_nano the one floor-quantized
    IEEE divide. Queries missing entirely from ``approx`` score 0.

    Scale: two retrieval-output-sized frames, one equi-join + one
    agg on the query key — negligible next to either retrieval.
    """
    a = approx.select(
        F.col(query_col).alias("_q"), F.col(neighbor_col).alias("_n")
    ).distinct()
    e = exact.select(
        F.col(query_col).alias("_q"), F.col(neighbor_col).alias("_n")
    ).distinct()
    hits = (
        e.join(a, ["_q", "_n"], "semi")
        .groupBy("_q")
        .agg(F.count("*").cast("long").alias("n_hits"))
    )
    totals = e.groupBy("_q").agg(F.count("*").cast("long").alias("n_exact"))
    return (
        totals.join(hits, "_q", "left")
        .select(
            F.col("_q").alias(query_col),
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
            "n_exact",
            F.floor(
                F.lit(1_000_000_000.0)
                * (
                    F.coalesce(F.col("n_hits"), F.lit(0)).cast("double")
                    / F.col("n_exact").cast("double")
                )
            )
            .cast("long")
            .alias("recall_nano"),
        )
    )
