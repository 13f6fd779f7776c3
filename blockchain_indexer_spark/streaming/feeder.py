"""IntervalSource → feed bridge: the reference's polling source
(`Sources/IntervalSource.cs:23-79`) plus the block and receipt fetches
(S8/S9), producing the file feed the live trigger tails.

Each poll: `eth_blockNumber` for the head, `eth_getBlockByNumber(n,
true)` for each new block on `block_pool` threads (full transactions,
so no second tx fetch), `eth_getTransactionReceipt` for each of their
txs on `receipt_pool` threads, then one parquet feed file per poll —
the arrival unit the 500 ms `processingTime` trigger picks up
(`runner.start_stream`).

Everything runs on the driver, as the reference runs it in one
process (`Indexer.cs:210-268`): the requests in flight equal the pool
sizes (24 and 96 by default), and there is no distributed download — a
live poll is a handful of blocks, and no Spark job runs until the
trigger reads the file. Empty blocks become NULL-hash marker rows, the
same contract as FEED_SCHEMA.

`LiveFeeder` is the websocket `newHeads` push source (reference
LiveSource.cs:21-130): catch-up via the polling path, then a REAL
RFC 6455 client subscription (sources/ws.py) replaces the head probe —
the fetch/emit path is shared (`emit_through`).
"""

from __future__ import annotations

import os
import time

import pyarrow as pa
import pyarrow.parquet as pq

from blockchain_indexer_spark.sources.rpc import (
    Transport,
    _hex_int,
    _pool_map,
    fetch_block,
    fetch_receipt_logs,
)
from blockchain_indexer_spark.streaming.runner import feed_arrow_schema


def write_feed_file(rows: list[dict], feed_dir: str, tag: str) -> str:
    """Write FEED_SCHEMA row dicts as an atomically renamed parquet file
    (the tailing file source must never list a half-written file)."""
    path = os.path.join(feed_dir, f"{tag}.parquet")
    # dot-prefixed tmp name: Spark's file source ignores hidden files,
    # so a half-written file can never enter a micro-batch
    tmp = os.path.join(feed_dir, f".{tag}.parquet.tmp")
    pq.write_table(pa.Table.from_pylist(rows, schema=feed_arrow_schema()), tmp)
    os.rename(tmp, path)
    return path


class IntervalFeeder:
    """Poll the gateway for new blocks and emit one feed file per poll.

    `transport("eth_blockNumber", [])` must return a dict with a
    `number` member (hex string or int) — the same injectable-callable
    contract as the other RPC calls (sources/rpc.py).
    """

    def __init__(
        self,
        transport: Transport,
        feed_dir: str,
        start_block: int,
        block_pool: int = 24,
        receipt_pool: int = 96,
    ) -> None:
        self.transport = transport
        self.feed_dir = feed_dir
        self.next_block = start_block
        self.block_pool = block_pool
        self.receipt_pool = receipt_pool
        self._poll_no = 0
        os.makedirs(feed_dir, exist_ok=True)

    def poll_once(self) -> int:
        """One IntervalSource round: returns the number of new blocks
        emitted (0 when the head has not advanced)."""
        head = _hex_int(self.transport("eth_blockNumber", [])["number"])
        return self.emit_through(head)

    def emit_through(self, head: int) -> int:
        """Fetch blocks next_block..head and their receipts and emit
        them as one feed file — shared by the polling path and
        LiveFeeder's push path. Each block is fetched once per poll, so
        a mid-poll reorg cannot mix two chain states in the file's tx
        rows."""
        if head < self.next_block:
            return 0
        blocks = _pool_map(
            lambda n: fetch_block(self.transport, n),
            range(self.next_block, head + 1),
            self.block_pool,
        )
        logs = iter(
            _pool_map(
                lambda h: fetch_receipt_logs(self.transport, h),
                [t["hash"] for b in blocks for t in b["transactions"]],
                self.receipt_pool,
            )
        )
        rows = []
        for b in blocks:
            meta = {
                "block_number": b["number"],
                "block_hash": b["hash"],
                "block_timestamp": b["timestamp"],
                "total_transaction_count": b["total_transaction_count"],
            }
            # one row per tx; an empty block is one NULL-hash marker row
            txs = [{**meta, **t, "logs": next(logs)} for t in b["transactions"]]
            rows += txs or [meta]
        self._poll_no += 1
        write_feed_file(rows, self.feed_dir, f"poll-{self._poll_no:06d}")
        n = head + 1 - self.next_block
        self.next_block = head + 1
        return n

    def run(self, interval_s: float = 0.5, stop_when=None) -> None:
        """The reference's poll cadence (IntervalSource period); used by
        deployments — tests drive `poll_once` directly."""
        while stop_when is None or not stop_when():
            self.poll_once()
            time.sleep(interval_s)


class LiveFeeder(IntervalFeeder):
    """LiveSource (S3) with a REAL ``eth_subscribe("newHeads")`` push
    channel — the reference's UnfoldAsync loop
    (`Sources/LiveSource.cs:21-130`) re-expressed:

    1. **catch-up**: while the database trails the chain head, emit
       the next block via the polling path (`LiveSource.cs:32-66`'s
       catchingUp loop; here each catch-up round emits the whole
       remaining range in one poll rather than one block per unfold —
       same rows, fewer RPC round trips);
    2. **subscribe**: open the websocket, ``eth_subscribe`` newHeads,
       and emit one feed round per pushed header; 20 s of silence
       raises TimeoutError (`LiveSource.cs:75-83`) and a head that
       skips a number raises the reference's missed-block error
       (`LiveSource.cs:121-124`) — in both cases the caller restarts
       the round, whose catch-up phase IS the gap repair (the same
       recovery the reference's Indexer round loop performs).

    ``ws_factory`` returns a fresh NewHeadsSubscription (sources.ws);
    injectable so tests run a local stdlib ws server and a deployment
    passes ``lambda: NewHeadsSubscription(WsConnection(url))``.
    """

    def __init__(self, *args, ws_factory=None, **kwargs) -> None:
        super().__init__(*args, **kwargs)
        if ws_factory is None:
            raise ValueError("LiveFeeder requires a ws_factory")
        self.ws_factory = ws_factory

    def run_live(self, stop_when=None, stall_timeout: float = 20.0) -> int:
        """One live round: catch up, then consume pushed heads until
        `stop_when()` is True. Returns the number of blocks emitted.
        TimeoutError (20 s stall) and the missed-block RuntimeError
        propagate — the deployment loop reconnects by calling
        run_live again, which re-enters catch-up."""
        emitted = 0
        while True:  # catchingUp (LiveSource.cs:32)
            n = self.poll_once()
            emitted += n
            if n == 0:
                break
        with self.ws_factory() as sub:
            while stop_when is None or not stop_when():
                head = sub.next_head(timeout=stall_timeout)
                if head > self.next_block:
                    raise RuntimeError(
                        f"The live source missed at least one block. "
                        f"Current block: {head}; Last block: {self.next_block - 1}"
                    )
                emitted += self.emit_through(head)
        return emitted
