"""IntervalSource polling end-to-end (VERDICT r1 missing #2): a
stubbed JSON-RPC gateway → head poll → 24-way block fetch with full
txs (S8) → 96-way receipts (S9) → feed file per poll → the live
500 ms trigger promotes into final tables — the whole reference round
loop driven from the RPC seam instead of pre-built feed files
(IntervalSource.cs:23-79, Indexer.cs:87-175) — and the liveness
watcher stops the drained query as stalled (LiveSource.cs:96-118).
A poll itself runs on the driver: no Spark job, the pool sizes as the
requests in flight, and the fixture's raw rows in the file.
"""

from __future__ import annotations

import os
import threading
import time

import pyarrow.parquet as pq
import pytest

from blockchain_indexer_spark.streaming.feeder import IntervalFeeder
from blockchain_indexer_spark.streaming.health import StreamStalled, watch_liveness
from blockchain_indexer_spark.streaming.runner import IngestPipeline
from tests.chain_fixtures import EXPECTED, build_raw_tables


def make_gateway(spark):
    """A deterministic in-memory JSON-RPC gateway over the fixture
    chain, with a movable head. Built from the same raw tables the
    batch tests use, so classification outcomes are pinned by
    EXPECTED."""
    blocks, txs, logs = build_raw_tables(spark)
    blocks_by_nr = {}
    for b in blocks.collect():
        blocks_by_nr[b["number"]] = {
            "number": hex(b["number"]),
            "hash": b["hash"],
            "timestamp": hex(b["timestamp"]),
            "transactions": [],
        }
    for t in txs.collect():
        blocks_by_nr[t["block_number"]]["transactions"].append(
            {
                "hash": t["hash"],
                "transactionIndex": hex(t["index"]),
                "from": t["from"],
                "to": t["to"],
                "value": hex(int(t["value"])),
                "input": t["input"],
                "nonce": hex(int(t["nonce"])),
                "type": hex(int(t["type"])),
            }
        )
    logs_by_tx: dict[str, list] = {}
    for lg in logs.collect():
        logs_by_tx.setdefault(lg["tx_hash"], []).append(
            {
                "logIndex": hex(lg["log_index"]),
                "address": lg["address"],
                "topics": list(lg["topics"]),
                "data": lg["data"],
            }
        )
    head = {"number": min(blocks_by_nr)}

    def transport(method, params):
        if method == "eth_blockNumber":
            return {"number": hex(head["number"])}
        if method == "eth_getBlockByNumber":
            return blocks_by_nr[int(params[0], 16)]
        if method == "eth_getTransactionReceipt":
            return {"logs": logs_by_tx.get(params[0], [])}
        raise ValueError(method)

    return transport, head, sorted(blocks_by_nr)


def test_interval_polling_to_final_tables(spark, tmp_path):
    transport, head, numbers = make_gateway(spark)
    feed_dir = str(tmp_path / "feed")
    feeder = IntervalFeeder(
        transport, feed_dir, start_block=numbers[0], block_pool=4, receipt_pool=8
    )
    pipe = IngestPipeline(spark, str(tmp_path / "final"))

    # head at the first block: one poll emits exactly one block
    assert feeder.poll_once() == 1
    # head unchanged: the next poll is a no-op, no file written
    assert feeder.poll_once() == 0
    assert len(os.listdir(feed_dir)) == 1

    # advance the head over the rest of the chain, poll in two rounds
    head["number"] = numbers[len(numbers) // 2]
    assert feeder.poll_once() == numbers[len(numbers) // 2] - numbers[0]
    head["number"] = numbers[-1]
    feeder.poll_once()

    # live trigger drains the polled files, one file per micro-batch
    # (T2 backpressure)
    q = pipe.start_stream(
        feed_dir, str(tmp_path / "ckpt"), available_now=False, max_files_per_trigger=1
    )
    try:
        q.processAllAvailable()
        # no further file arrives: the liveness watcher must take the
        # quiet feed for a stalled source, stop the query and raise
        # (the reference's LiveSource stall timeout, scaled down)
        with pytest.raises(StreamStalled):
            watch_liveness(q, stall_timeout_s=3.0, max_wait_s=60)
        assert not q.isActive
    finally:
        q.stop()
    fed = [p["numInputRows"] for p in q.recentProgress if p["numInputRows"] > 0]
    assert len(fed) == len(os.listdir(feed_dir)) == 3

    got_blocks = {r["number"] for r in pipe.read_final("block").select("number").collect()}
    assert got_blocks == set(numbers)
    got = {
        r["hash"]: r["classification"]
        for r in pipe.read_final("transaction").select("hash", "classification").collect()
    }
    assert got == EXPECTED  # full classifier parity through the RPC path

    # the fixture's trailing 0-tx block arrived as a NULL-hash marker
    # row and was imported as an empty block (K4)
    assert numbers[-1] in got_blocks
    assert (
        pipe.read_final("block").filter(f"number = {numbers[-1]}").collect()[0][
            "total_transaction_count"
        ]
        == 0
    )


def _jobs_started(spark) -> int:
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


def test_poll_submits_no_spark_job(spark, tmp_path):
    """A poll that emits a block fetches and writes on the driver: the
    session's job-id counter does not move."""
    transport, _head, numbers = make_gateway(spark)
    feeder = IntervalFeeder(transport, str(tmp_path), start_block=numbers[0])
    jobs = _jobs_started(spark)
    assert feeder.poll_once() == 1
    assert _jobs_started(spark) == jobs


def test_in_flight_calls_equal_pool_sizes(tmp_path):
    """With more blocks than block_pool and more txs than receipt_pool,
    the peak number of concurrent block and receipt calls equals each
    pool's size: one pool per poll, not one per Spark task."""
    lock = threading.Lock()
    live = {"eth_getBlockByNumber": 0, "eth_getTransactionReceipt": 0}
    peak = dict(live)

    def transport(method, params):
        if method == "eth_blockNumber":
            return {"number": hex(8)}
        with lock:
            live[method] += 1
            peak[method] = max(peak[method], live[method])
        time.sleep(0.1)
        with lock:
            live[method] -= 1
        if method == "eth_getBlockByNumber":
            n = int(params[0], 16)
            return {
                "number": hex(n), "hash": f"0xb{n}", "timestamp": hex(n),
                "transactions": [f"0xt{n}a", f"0xt{n}b"],
            }
        return {"logs": []}

    feeder = IntervalFeeder(
        transport, str(tmp_path), start_block=1, block_pool=3, receipt_pool=5
    )
    assert feeder.poll_once() == 8
    assert peak == {"eth_getBlockByNumber": 3, "eth_getTransactionReceipt": 5}


def test_full_range_poll_writes_the_fixture_rows(spark, tmp_path):
    """One poll over the whole fixture chain writes its raw tables row
    for row: the block columns, every tx field, the logs in log_index
    order, and a NULL-hash marker row for the empty block."""
    transport, head, numbers = make_gateway(spark)
    head["number"] = numbers[-1]
    feeder = IntervalFeeder(
        transport, str(tmp_path), start_block=numbers[0], block_pool=4, receipt_pool=8
    )
    assert feeder.poll_once() == len(numbers)
    assert os.listdir(tmp_path) == ["poll-000001.parquet"]
    got = pq.read_table(str(tmp_path / "poll-000001.parquet")).to_pylist()

    blocks, txs, logs = build_raw_tables(spark)
    txs = txs.collect()
    logs_by_tx: dict[str, list] = {}
    for lg in sorted(logs.collect(), key=lambda r: (r["tx_hash"], r["log_index"])):
        logs_by_tx.setdefault(lg["tx_hash"], []).append(
            {k: lg[k] for k in ("log_index", "address", "topics", "data")}
        )
    tx_fields = ("hash", "index", "from", "to", "value", "input", "nonce", "type")
    want = []
    for b in sorted(blocks.collect(), key=lambda r: r["number"]):
        meta = {
            "block_number": b["number"],
            "block_hash": b["hash"],
            "block_timestamp": b["timestamp"],
            "total_transaction_count": b["total_transaction_count"],
        }
        block_txs = sorted(
            (t for t in txs if t["block_number"] == b["number"]),
            key=lambda t: t["index"],
        )
        for t in block_txs:
            want.append(
                {**meta, **{k: t[k] for k in tx_fields}, "logs": logs_by_tx.get(t["hash"], [])}
            )
        if not block_txs:
            want.append({**meta, **dict.fromkeys(tx_fields), "logs": None})
    assert numbers[-1] == want[-1]["block_number"] and want[-1]["hash"] is None
    assert got == want
