"""The benchmark's workloads. Each drives the library's public entry
points from one closed-loop client: the next operation is submitted only
after the client holds the previous one's result.

A workload returns a Result: per-operation latencies, set-up parts,
outcome counts, and (traced runs) per-layer metrics.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
import urllib.request
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import numpy as np

from perfbench import data
from perfbench.trace import Tracer, instrument_ingest, self_time

# the first MIN_OPS operations always run, whatever --seconds says, so
# every run has a median and the count metrics cover the same work
MIN_OPS = 2
# near-duplicate threshold (dedup grade: small output) and kNN degree
NEAR_DUP_THRESHOLD = 0.95
KNN_K = 5
# 2048 x 64. A scan is 25 Spark jobs whatever the size; on a warm 4-core
# x86-64 VM it took 3.1 s at 1024 vectors, 3.4 s at 2048, 5.5 s at 4096
# and 7.8 s at 8192, so the quadratic kernel work is ~1/8 of a scan here
# and ~3/5 at 8192. The kernel work runs on every core at once, which is
# what other tenants of a shared box slow most: at 4096 the spread of
# run medians reached 39% across ten runs. At 2048 ten runs spread 22%
# while the start/end calibration loop of those runs spread 19%.
EMBEDDINGS = 2048
WARM_SCANS = 2
# every layer a live round must pass through; a traced round without
# one of them fails a check rather than reading 0
ROUND_SPANS = (
    "runner.lock",
    "runner.read_final",
    "promote",
    "extract.assemble",
    "classify.plan",
    "classify.exec",
    "extract.extract_all",
    "append",
    "append.table",
    "cache_refresh",
    "api.publish",
)


@dataclass
class Result:
    latencies: list[float] = field(default_factory=list)
    setup: dict[str, float] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    layers: dict[str, float] = field(default_factory=dict)

    def check(self, what: str, problems: list[str]) -> None:
        """Count one correctness check; a mismatch fails it."""
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems += [f"{what}: {p}" for p in problems]


def _median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


class EventsReader(threading.Thread):
    """Long-poll /events client: records when it holds each announcement."""

    def __init__(self, address) -> None:
        super().__init__(name="events-reader", daemon=True)
        self.url = "http://%s:%d/events" % address
        # straight to the local host, whatever proxy the environment sets
        self.opener = urllib.request.build_opener(urllib.request.ProxyHandler({}))
        self.received: dict[int, tuple[float, list[str]]] = {}
        self.cond = threading.Condition()
        self.stop = threading.Event()
        self.error: BaseException | None = None

    def run(self) -> None:
        cursor = 0
        try:
            while not self.stop.is_set():
                with self.opener.open(f"{self.url}?cursor={cursor}&timeout=1") as r:
                    body = json.load(r)
                now = time.perf_counter()
                with self.cond:
                    for ev in body["events"]:
                        self.received[ev["seq"]] = (now, ev["hashes"])
                    self.cond.notify_all()
                cursor = body["next_cursor"]
        except BaseException as e:  # noqa: BLE001  (reported by wait())
            self.error = e
            with self.cond:
                self.cond.notify_all()

    def wait(self, seq: int, timeout: float = 60.0) -> tuple[float, list[str]]:
        with self.cond:
            if not self.cond.wait_for(
                lambda: seq in self.received or self.error is not None, timeout
            ):
                raise TimeoutError(f"announcement {seq} not received in {timeout}s")
        if seq not in self.received:
            raise RuntimeError(f"events reader failed: {self.error!r}")
        return self.received[seq]


# ---------------------------------------------------------------------------
# live_tail


def _write_batches(tail, batches, dest: str) -> list[str]:
    """One feed file per micro-batch (the file feed start_stream tails),
    cut from the pyarrow table of the tail rows."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    paths = []
    blk = tail["block_number"]
    for i, b in enumerate(batches):
        keep = pc.and_(pc.greater_equal(blk, b["lo"]), pc.less_equal(blk, b["hi"]))
        if b["truncated"] is not None:
            cut = pc.and_(pc.equal(blk, b["truncated"]), pc.equal(tail["index"], 0))
            keep = pc.and_(keep, pc.invert(cut))
        path = os.path.join(dest, f"batch-{i:03d}")
        os.makedirs(path)
        pq.write_table(tail.filter(keep), os.path.join(path, "part-0.parquet"))
        paths.append(path)
    return paths


def _expected_new(hashes_by_block: dict[int, list[str]], b, pending: int | None):
    """Tx hashes batch b must announce, and the block still held back."""
    blocks = set(range(b["new_lo"], b["hi"] + 1))
    if pending is not None and b["lo"] <= pending <= b["hi"] and b["truncated"] != pending:
        blocks.add(pending)
        pending = None
    if b["truncated"] is not None:
        blocks.discard(b["truncated"])
        pending = b["truncated"]
    return sorted(h for blk in blocks for h in hashes_by_block.get(blk, [])), pending


def live_tail(spark, run_dir: str, seed: int, seconds: float, tracer: Tracer | None) -> Result:
    from pyspark.sql import functions as F

    from blockchain_indexer_spark.streaming.api import ApiHost, BroadcastLog
    from blockchain_indexer_spark.streaming.runner import FEED_SCHEMA, IngestPipeline

    res = Result()
    t0 = time.perf_counter()
    sf_dir = data.write_events(os.path.join(run_dir, "events"), seed)
    history_last, batches = data.live_plan(seed)
    chain = data.feed_frame(spark, sf_dir).localCheckpoint(eager=True)
    tail = chain.filter(F.col("block_number") > history_last).toArrow()
    batch_paths = _write_batches(tail, batches, os.path.join(run_dir, "feed"))
    hashes_by_block: dict[int, list[str]] = {}
    for blk, h in zip(tail["block_number"].to_pylist(), tail["hash"].to_pylist()):
        hashes_by_block.setdefault(blk, []).append(h)
    res.setup["fixture_s"] = time.perf_counter() - t0

    log = BroadcastLog()
    host = ApiHost(log).start()
    reader = EventsReader(host.address)
    reader.start()
    pipe = IngestPipeline(
        spark, os.path.join(run_dir, "sink"), on_imported=log.publish, on_batch=log.touch
    )
    rounds = []
    try:
        # history prefill: the first (cold) round warms codegen and fills
        # the sink the tail appends to
        t0 = time.perf_counter()
        cursor = log.end_cursor
        pipe.process_batch(chain.filter(F.col("block_number") <= history_last))
        reader.wait(cursor)
        res.setup["warm_s"] = time.perf_counter() - t0

        published_at: dict[int, float] = {}
        if tracer is not None:
            instrument_ingest(tracer, pipe, log, published_at)
        pending, last = None, history_last
        start = time.perf_counter()
        for i, b in enumerate(batches):
            if i >= MIN_OPS and time.perf_counter() - start >= seconds:
                break
            want, pending = _expected_new(hashes_by_block, b, pending)
            last = b["hi"]
            batch_feed = spark.read.schema(FEED_SCHEMA).parquet(batch_paths[i])
            res.attempted += 1
            cursor = log.end_cursor
            rec = {}
            try:
                t_submit = time.perf_counter()
                if tracer is not None:
                    tracer.batch = i
                    with tracer.span("runner.round") as rec:
                        pipe.process_batch(batch_feed, epoch_id=i)
                else:
                    pipe.process_batch(batch_feed, epoch_id=i)
                t_recv, got = reader.wait(cursor)
            except Exception as e:  # noqa: BLE001  (a failed round counts)
                res.failed += 1
                res.problems.append(f"round {i}: {e!r}")
                continue
            res.latencies.append(t_recv - t_submit)
            if sorted(got) != want:
                res.failed += 1
                res.problems.append(
                    f"round {i}: announced {len(got)} hashes, expected {len(want)}"
                )
            rounds.append((rec, t_recv - published_at.get(cursor, t_recv)))
            if tracer is not None:
                rec["settle_s"] = tracer.settle()
                seen = {s["name"] for s in tracer.spans if s["batch"] == i}
                missing = [f"no {name} span" for name in ROUND_SPANS if name not in seen]
                res.check(f"round {i} spans", missing)
    finally:
        if tracer is not None:
            tracer.restore()
        reader.stop.set()
        reader.join(timeout=10)
        host.stop()

    if tracer is not None:
        res.layers.update(_ingest_layers(tracer, rounds))
        tracer.batch = None
    _check_sink(spark, pipe, sf_dir, last, pending, res, tracer)
    return res


def _ingest_layers(tracer: Tracer, rounds) -> dict[str, float]:
    """Per-round layer metrics: times are medians over all timed rounds,
    counts medians over the first MIN_OPS rounds (the same work on
    every run with the same seed)."""
    spans = tracer.spans
    per_round = []
    for rec, publish_to_client in rounds:
        kids = [s for s in spans if s["batch"] == rec["batch"] and s is not rec]
        by = {}
        for s in kids:
            by.setdefault(s["name"], []).append(s)

        def dur(name):
            return sum(s["end"] - s["start"] for s in by.get(name, []))

        def total(name, key):
            return sum(s.get(key, 0) for s in by.get(name, []))

        promote = by.get("promote", [{}])[0]
        refresh = by.get("cache_refresh", [])
        per_round.append(
            {
                "runner.round_s": rec["end"] - rec["start"],
                "runner.round_jobs": rec["jobs"],
                "runner.read_final_s": dur("runner.read_final"),
                "runner.lock_s": dur("runner.lock"),
                "runner.unattributed_s": self_time(spans, rec),
                "promote.s": dur("promote"),
                "promote.jobs": total("promote", "jobs"),
                "promote.rows_in": promote.get("rows_in", 0),
                "promote.rows_out": promote.get("rows_out", 0),
                "promote.accept_ratio": promote.get("rows_out", 0)
                / max(1, promote.get("rows_in", 0)),
                "classify.plan_s": dur("classify.plan"),
                "classify.exec_s": dur("classify.exec"),
                "classify.jobs": total("classify.plan", "jobs") + total("classify.exec", "jobs"),
                "extract.plan_s": dur("extract.assemble") + dur("extract.extract_all"),
                "append.s": dur("append"),
                "append.jobs": total("append", "jobs"),
                "append.files_out": total("append.table", "files_out"),
                "append.bytes_out": total("append.table", "bytes_out"),
                "cache_refresh.s": dur("cache_refresh"),
                "cache_refresh.self_s": sum(self_time(spans, s) for s in refresh),
                "cache_refresh.jobs": total("cache_refresh", "jobs"),
                "cache_refresh.stale_keys": total("cache_refresh", "stale_keys"),
                "api.publish_to_client_s": publish_to_client,
                "trace.settle_s": rec.get("settle_s", 0.0),
            }
        )
    out = {}
    for key in per_round[0] if per_round else ():
        counts = not key.endswith("_s") and key != "promote.accept_ratio"
        rows = per_round[:MIN_OPS] if counts else per_round
        out[key] = _median(r[key] for r in rows)
    return out


def _check_sink(spark, pipe, sf_dir, last_block, pending, res: Result, tracer) -> None:
    """Views over the sink's final and cache tables must equal the DuckDB
    oracles over the events of blocks up to last_block delivered whole
    (all but the `pending` block, when one is still held back)."""
    import duckdb
    from pyspark.sql import functions as F

    from blockchain_indexer_spark.operators.cluster import khop_reachability
    from blockchain_indexer_spark.operators.views import (
        crc_all_signups,
        crc_balances_by_safe_and_token,
        crc_current_trust,
        crc_ledger,
        crc_safe_timeline,
    )
    from blockchain_indexer_spark.plans import REGISTRY
    from blockchain_indexer_spark.streaming.runner import (
        CACHE_BALANCES,
        CACHE_TRUST,
        EVENT_TABLES,
    )
    from tools.check_correctness import compare

    con = duckdb.connect()
    block = f"{data.EVENT_BLOCK_BASE} + event_id // {data.TX_PER_EVENT_BLOCK}"
    held = f" AND {block} <> {int(pending)}" if pending is not None else ""
    con.sql(
        "CREATE VIEW events AS SELECT * FROM read_parquet("
        f"'{os.path.join(sf_dir, 'events.parquet')}') WHERE {block} <= {int(last_block)}{held}"
    )
    t = {name: pipe.read_final(name) for name in EVENT_TABLES}
    signups = crc_all_signups(t["crc_signup"], t["crc_organisation_signup"])
    bal_cols = ["safe_address", "token", F.col("balance").cast("string").alias("balance")]
    trust_cols = ["user", "can_send_to", "limit"]
    checks = {
        "balances": (
            "chain_crc_balances",
            lambda: crc_balances_by_safe_and_token(
                crc_ledger(t["erc20_transfer"], t["crc_signup"])
            ).select(*bal_cols),
        ),
        "balances_cache": (
            "chain_crc_balances",
            lambda: pipe.read_cache(CACHE_BALANCES).select(*bal_cols),
        ),
        "current_trust": (
            "chain_current_trust",
            lambda: crc_current_trust(t["crc_trust"], signups).select(*trust_cols),
        ),
        "current_trust_cache": (
            "chain_current_trust",
            lambda: pipe.read_cache(CACHE_TRUST).select(*trust_cols),
        ),
        "classification_counts": (
            "chain_classification_counts",
            lambda: t["transaction"]
            .groupBy(F.array_join("classification", ",").alias("label"))
            .agg(F.count("*").alias("n")),
        ),
        "timeline_counts": (
            "chain_timeline_counts",
            lambda: crc_safe_timeline(t, signups=signups)
            .groupBy("type", "direction")
            .agg(F.count("*").alias("n")),
        ),
    }
    if tracer is not None:
        # the cluster layer (3-hop trust reachability, 27 jobs) is read
        # side only: timed and checked in traced runs, where it costs no
        # untraced run its few seconds
        checks["trust_reachability"] = (
            "chain_trust_reachability",
            lambda: khop_reachability(
                crc_current_trust(t["crc_trust"], signups)
                .filter(F.col("limit") > 0)
                .select("user", "can_send_to"),
                "user",
                "can_send_to",
                k=3,
            ),
        )

    def collect(build):
        try:
            return build().toPandas(), None
        except Exception as e:  # noqa: BLE001  (a failed check counts)
            return None, e

    if tracer is None:
        # outside timing: the views collect side by side, a thread a core
        with ThreadPoolExecutor(max_workers=len(os.sched_getaffinity(0))) as pool:
            collected = list(pool.map(collect, [build for _o, build in checks.values()]))
    else:
        # one at a time, so each span's job-id delta is its own
        collected = []
        for name, (_oracle, build) in checks.items():
            with tracer.span(f"views.{name}") as rec:
                collected.append(collect(build))
            rec["rows_out"] = len(collected[-1][0]) if collected[-1][0] is not None else 0
    oracles = {}  # the final table and its cache share an oracle
    for (name, (oracle, _build)), (got, err) in zip(checks.items(), collected):
        try:
            if err is not None:
                raise err
            if oracle not in oracles:
                oracles[oracle] = con.sql(REGISTRY[oracle].oracle).df()
            problems = compare(name, got, oracles[oracle])
        except Exception as e:  # noqa: BLE001  (a failed check counts)
            problems = [repr(e)]
        res.check(name, problems)
    con.close()
    if tracer is not None:
        for s in tracer.spans:
            if s["name"].startswith("views."):
                key = s["name"]
                res.layers[f"{key}.s"] = s["end"] - s["start"]
                res.layers[f"{key}.jobs"] = s["jobs"]
                res.layers[f"{key}.rows_out"] = s["rows_out"]
        res.layers["sink.files_read"] = sum(
            1
            for _root, _dirs, files in os.walk(pipe.out_dir)
            for f in files
            if f.endswith(".parquet")
        )


# ---------------------------------------------------------------------------
# embedding_scan


def _quantized(path: str, scale: int = 1000) -> tuple[np.ndarray, np.ndarray]:
    """vec_id and round-half-away(x * scale) vectors, as the kernels see them."""
    import pyarrow.parquet as pq

    tbl = pq.read_table(path)
    ids = tbl["vec_id"].to_numpy()
    x = np.stack(tbl["embedding"].to_numpy(zero_copy_only=False)).astype(np.float64) * scale
    q = np.copysign(np.floor(np.abs(x) + 0.5), x)
    keep = (q * q).sum(axis=1) > 0
    return ids[keep], q[keep]


def reference_scan(path: str, threshold: float, k: int, rows: int = 1024):
    """numpy reference: near-duplicate pairs (a, b, cosine) with a < b and
    mutual kNN edges (src, dst) with src < dst, by the kernels' formulas."""
    ids, q = _quantized(path)
    norms = (q * q).sum(axis=1)
    pairs, topk = [], {}
    for lo in range(0, len(ids), rows):
        qa, na = q[lo : lo + rows], norms[lo : lo + rows]
        # integer dot products below 2^53: exact in float64
        cos = (qa @ q.T) / np.sqrt(na[:, None] * norms[None, :])
        ia = ids[lo : lo + rows]
        ai, bj = np.nonzero((cos >= threshold) & (ia[:, None] < ids[None, :]))
        pairs += zip(ia[ai].tolist(), ids[bj].tolist(), cos[ai, bj].tolist())
        cos[ia[:, None] == ids[None, :]] = -np.inf
        # top-k by (cosine desc, id asc): every tie at the k-th value
        # survives the cut, then one sort orders the survivors
        kth = -np.partition(-cos, k - 1, axis=1)[:, k - 1]
        rows_, cols = np.nonzero(cos >= kth[:, None])
        order = np.lexsort((ids[cols], -cos[rows_, cols], rows_))
        rows_, cols = rows_[order], cols[order]
        for r, c in zip(rows_.tolist(), cols.tolist()):
            nb = topk.setdefault(int(ia[r]), [])
            if len(nb) < k:
                nb.append(int(ids[c]))
    edges = {(a, b) for a, nb in topk.items() for b in nb if a < b and a in topk[b]}
    return sorted(pairs), sorted(edges)


def embedding_scan(
    spark, run_dir: str, seed: int, seconds: float, tracer: Tracer | None
) -> Result:
    from blockchain_indexer_spark.operators.dedup import cosine_near_dup_pairs
    from blockchain_indexer_spark.operators.similarity import mutual_knn_graph

    res = Result()
    t0 = time.perf_counter()
    path = data.write_embeddings(os.path.join(run_dir, "embeddings"), seed, EMBEDDINGS)
    emb = spark.read.parquet(path)
    res.setup["fixture_s"] = time.perf_counter() - t0

    def scan():
        near = cosine_near_dup_pairs(emb, threshold=NEAR_DUP_THRESHOLD).collect()
        edges = mutual_knn_graph(emb, k=KNN_K).collect()
        return near, edges

    # warm up on the corpus itself, twice: after one warm-up scan (or a
    # cold scan of a smaller corpus and one of this) the first timed scan
    # still ran 10-25% slower than the next
    t0 = time.perf_counter()
    for _ in range(WARM_SCANS):
        scan()
    res.setup["warm_s"] = time.perf_counter() - t0

    results, per_op = [], []
    start = time.perf_counter()
    while res.attempted < MIN_OPS or time.perf_counter() - start < seconds:
        res.attempted += 1
        try:
            t_op = time.perf_counter()
            if tracer is None:
                near, edges = scan()
            else:
                tracer.batch = res.attempted
                with tracer.span("near_dup") as a:
                    near = cosine_near_dup_pairs(emb, threshold=NEAR_DUP_THRESHOLD).collect()
                with tracer.span("knn_graph") as b:
                    edges = mutual_knn_graph(emb, k=KNN_K).collect()
                per_op.append(
                    {
                        "near_dup.s": a["end"] - a["start"],
                        "near_dup.jobs": a["jobs"],
                        "near_dup.pairs_out": len(near),
                        "knn_graph.s": b["end"] - b["start"],
                        "knn_graph.jobs": b["jobs"],
                        "knn_graph.edges_out": len(edges),
                    }
                )
            res.latencies.append(time.perf_counter() - t_op)
        except Exception as e:  # noqa: BLE001  (a failed call counts)
            res.failed += 1
            res.problems.append(f"scan {res.attempted}: {e!r}")
            continue
        results.append(
            (
                sorted((r["vec_a"], r["vec_b"], r["cosine"]) for r in near),
                sorted((r["src"], r["dst"]) for r in edges),
            )
        )
    for key in per_op[0] if per_op else ():
        rows = per_op if key.endswith(".s") else per_op[:MIN_OPS]
        res.layers[key] = _median(r[key] for r in rows)

    want_pairs, want_edges = reference_scan(path, NEAR_DUP_THRESHOLD, KNN_K)
    for i, (pairs, edges) in enumerate(results):
        res.check(f"near_dup[{i}]", [] if pairs == want_pairs else [
            f"{len(pairs)} pairs, reference has {len(want_pairs)}"
        ])
        res.check(f"knn_graph[{i}]", [] if edges == want_edges else [
            f"{len(edges)} edges, reference has {len(want_edges)}"
        ])
    return res


WORKLOADS = {"live_tail": live_tail, "embedding_scan": embedding_scan}
