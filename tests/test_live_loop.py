"""Live-mode round loop end-to-end (Indexer.cs:87-175): the 500 ms
processingTime trigger ingesting a stubbed block feed while the
supervisor injects a GAP (re-emitted after detection, GapSource
semantics) and a REORG (retract + replay, T5), with on_imported (K5)
callback ordering and per-trigger latency recorded.

The reference sustains 1 block / 500 ms in live mode; here blocks are
emitted faster than that and the stream keeps up by coalescing pending
files per trigger — throughput is asserted, per-trigger wall times are
printed for the record.
"""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from blockchain_indexer_spark.plans.chain import chain_feed
from blockchain_indexer_spark.sources.blocks import detect_reorg, missing_block_numbers
from blockchain_indexer_spark.streaming.runner import (
    FEED_SCHEMA,
    REORG_MAGIC_HASH,
    IngestPipeline,
)

N_SIGNUP, N_EVENT = 30, 30
GAP_AT = 7


class TimedPipeline(IngestPipeline):
    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.batch_secs: list[float] = []

    def process_batch(self, feed, epoch_id: int = 0) -> None:
        t0 = time.time()
        super().process_batch(feed, epoch_id)
        self.batch_secs.append(time.time() - t0)


@pytest.fixture(scope="module")
def block_feed(spark, sf_dir):
    """{block_number: pandas rows} for 60 fixture blocks: 30 one-tx
    signup blocks + 30 multi-tx event blocks from the derived chain."""
    pdf = chain_feed(spark, sf_dir).toPandas()

    def _plain_logs(v):
        if v is None:
            return None
        out = []
        for l in v:
            d = l.asDict(recursive=True) if hasattr(l, "asDict") else dict(l)
            out.append(
                {
                    "log_index": int(d["log_index"]),
                    "address": d["address"],
                    "topics": [str(t) for t in d["topics"]],
                    "data": d["data"],
                }
            )
        return out

    pdf["logs"] = pdf["logs"].apply(_plain_logs)
    signup_blocks = sorted(b for b in pdf.block_number.unique() if b < 12_600_000)[:N_SIGNUP]
    event_blocks = sorted(b for b in pdf.block_number.unique() if b >= 12_600_000)[:N_EVENT]
    order = signup_blocks + event_blocks
    return {b: pdf[pdf.block_number == b] for b in order}, order


def _pa_schema():
    import pyarrow as pa

    logs_t = pa.list_(
        pa.struct(
            [
                ("log_index", pa.int32()),
                ("address", pa.string()),
                ("topics", pa.list_(pa.string())),
                ("data", pa.string()),
            ]
        )
    )
    return pa.schema(
        [
            ("block_number", pa.int64()),
            ("block_hash", pa.string()),
            ("block_timestamp", pa.int64()),
            ("total_transaction_count", pa.int32()),
            ("hash", pa.string()),
            ("index", pa.int32()),
            ("from", pa.string()),
            ("to", pa.string()),
            ("value", pa.string()),
            ("input", pa.string()),
            ("nonce", pa.string()),
            ("type", pa.string()),
            ("logs", logs_t),
        ]
    )


def _emit(feed_dir, rows, tag):
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = os.path.join(feed_dir, f"{tag}.parquet")
    pq.write_table(
        pa.Table.from_pandas(rows, schema=_pa_schema(), preserve_index=False), path
    )


def _reorged(rows):
    """Replacement version of a block: new block hash, new tx hashes,
    same payload (so classification is comparable after replay)."""
    out = rows.copy()
    out["block_hash"] = out["block_hash"].str.replace("0x", "0xff", n=1)
    out["hash"] = out["hash"].str.replace("0x", "0xff", n=1)
    return out


def _wait(predicate, timeout=120, every=0.5):
    t0 = time.time()
    while time.time() - t0 < timeout:
        if predicate():
            return True
        time.sleep(every)
    return False


@pytest.mark.slowe2e
def test_live_round_loop_gap_reorg_ordering(spark, tmp_path_factory, block_feed):
    feed_by_block, order = block_feed
    root = str(tmp_path_factory.mktemp("live"))
    feed_dir, ckpt, out = (os.path.join(root, d) for d in ("feed", "ckpt", "final"))
    os.makedirs(feed_dir)

    callbacks: list[list[str]] = []
    pipe = TimedPipeline(spark, out, on_imported=lambda h: callbacks.append(list(h)))

    def blocks_in_final():
        df = pipe.read_final("block")
        return set() if df is None else {r["number"] for r in df.select("number").collect()}

    # ---- phase 1: live trigger, emit blocks 0..19 skipping the gap --
    q = pipe.start_stream(feed_dir, ckpt, available_now=False)
    t_live0 = time.time()
    phase1 = order[:20]
    for i, b in enumerate(phase1):
        if i != GAP_AT:
            _emit(feed_dir, feed_by_block[b], f"p1-{i:03d}")
            time.sleep(0.1)
    want1 = set(phase1) - {phase1[GAP_AT]}
    # barrier: blocks until every pending file is fully processed,
    # INCLUDING the foreachBatch body (append + cache refresh + K5
    # announce) — a plain poll on the block table races the callback
    q.processAllAvailable()
    assert blocks_in_final() >= want1, "phase 1 never caught up"

    # ---- phase 2: gap detection → re-emission (GapSource, S4/T6) ----
    have = pipe.read_final("block").select(F.col("number"))
    missing = {r["number"] for r in missing_block_numbers(have).collect()}
    assert phase1[GAP_AT] in missing  # the injected gap is detected
    _emit(feed_dir, feed_by_block[phase1[GAP_AT]], "p2-gap")
    q.processAllAvailable()
    assert phase1[GAP_AT] in blocks_in_final(), "gap re-emission lost"

    pre_reorg_hashes = {h for cb in callbacks for h in cb}

    # ---- phase 3: reorg at order[REORG_AT-5:] — detect, retract, replay
    q.stop()
    reorg_blocks = phase1[-5:]
    replacements = {b: _reorged(feed_by_block[b]) for b in reorg_blocks}
    stored = pipe.read_final("block").select("number", "hash")
    chain_now = spark.createDataFrame(
        [
            (int(b), str(replacements[b].block_hash.iloc[0]) if b in replacements
             else str(feed_by_block[b].block_hash.iloc[0]))
            for b in phase1
        ],
        "number long, hash string",
    )
    diverging = detect_reorg(stored, chain_now, depth=10**7).collect()
    assert len(diverging) == 1
    reorg_block = diverging[0]["reorg_at"]
    assert reorg_block == min(reorg_blocks)

    pipe.retract(reorg_block)
    assert callbacks[-1] == [REORG_MAGIC_HASH]  # K5 deadbeef announced
    assert blocks_in_final() == (want1 | {phase1[GAP_AT]}) - set(reorg_blocks)
    n_cb_at_reorg = len(callbacks)

    for i, b in enumerate(reorg_blocks):
        _emit(feed_dir, replacements[b], f"p3-{i:03d}")
    q = pipe.start_stream(feed_dir, ckpt, available_now=False)
    q.processAllAvailable()
    assert blocks_in_final() >= set(phase1), "reorg replay lost"

    # ---- phase 4: steady state, emit the remaining 40 blocks --------
    phase4 = order[20:]
    t4 = time.time()
    for i, b in enumerate(phase4):
        _emit(feed_dir, feed_by_block[b], f"p4-{i:03d}")
        time.sleep(0.05)
    q.processAllAvailable()
    assert blocks_in_final() >= set(order), "steady phase never caught up"
    t4_wall = time.time() - t4
    q.stop()

    # ---- assertions: state equals a one-shot ingest of the canonical chain
    import pandas as pd

    canonical = pd.concat(
        [replacements.get(b, feed_by_block[b]) for b in order], ignore_index=True
    )
    canon_dir = os.path.join(root, "canonical")
    os.makedirs(canon_dir)
    _emit(canon_dir, canonical, "all")
    ref = IngestPipeline(spark, os.path.join(root, "ref"))
    ref.process_batch(spark.read.schema(FEED_SCHEMA).parquet(canon_dir))

    def tx_state(p):
        return sorted(
            map(tuple,
                p.read_final("transaction")
                .select("hash", "block_number", F.array_join("classification", ","))
                .collect())
        )

    assert tx_state(pipe) == tx_state(ref)
    assert pipe.read_final("block").count() == len(order)
    # exactly-once under gap/reorg/redelivery
    txs = pipe.read_final("transaction")
    assert txs.select("hash").distinct().count() == txs.count()

    # ---- K5 ordering ------------------------------------------------
    all_cb = [h for cb in callbacks for h in cb]
    assert all_cb.count(REORG_MAGIC_HASH) == 1
    replaced_hashes = {h for b in reorg_blocks for h in replacements[b]["hash"]}
    after_reorg = {h for cb in callbacks[n_cb_at_reorg:] for h in cb}
    # every replacement hash is announced only AFTER the deadbeef signal
    assert replaced_hashes <= after_reorg
    assert not (replaced_hashes & pre_reorg_hashes)
    # every canonical tx was announced exactly once post-retract or pre-retract
    canonical_hashes = set(canonical[canonical.hash.notna()]["hash"])
    announced = [h for h in all_cb if h != REORG_MAGIC_HASH]
    retracted_originals = {h for b in reorg_blocks for h in feed_by_block[b]["hash"]}
    block_of = {h: b for b, rows in feed_by_block.items() for h in rows["hash"]}
    block_of.update({h: b for b, rows in replacements.items() for h in rows["hash"]})
    missing = (canonical_hashes | retracted_originals) - set(announced)
    assert not missing, sorted({block_of.get(h) for h in missing})
    assert set(announced) == canonical_hashes | retracted_originals
    surviving = [h for h in announced if h not in retracted_originals]
    assert len(surviving) == len(set(surviving))  # no double-announce

    # ---- cadence record --------------------------------------------
    secs = sorted(pipe.batch_secs)
    p50 = secs[len(secs) // 2]
    p95 = secs[min(len(secs) - 1, int(len(secs) * 0.95))]
    total_live = time.time() - t_live0
    print(
        f"live loop: {len(order)} blocks, {len(secs)} triggers, "
        f"p50={p50:.2f}s p95={p95:.2f}s steady-phase {len(phase4)} blocks in {t4_wall:.1f}s"
    )
    # reference budget is 1 block / 500 ms sustained (2 blocks/s); the
    # asserted floor is half that to absorb the 2-5x wall-clock noise
    # of the shared test host — the measured rate above is the record
    rate = len(phase4) / t4_wall
    assert rate >= 1.0, f"steady phase {rate:.2f} blocks/s (budget 2.0)"
    assert p95 < 30, f"per-trigger p95 {p95:.1f}s"
