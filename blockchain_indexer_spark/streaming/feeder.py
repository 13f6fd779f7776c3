"""IntervalSource → feed bridge: the reference's polling source
(`Sources/IntervalSource.cs:23-79`) plus the download/widening stages
(S8/S9) producing the file feed the live trigger tails.

Each poll: `eth_blockNumber` for the head, 24-way block download WITH
full transactions (`eth_getBlockByNumber(n, true)`), 96-way receipt
download, then one parquet feed file per poll — the arrival unit the
500 ms `processingTime` trigger picks up (`runner.start_stream`).

The downloads run distributed (`mapInPandas` over the number/hash
frames — at production scale a backfill range fans across the
cluster); the per-poll file write is driver-side pyarrow because a
live poll is a handful of blocks (the reference processes them one
round at a time too). Empty blocks become NULL-hash marker rows, the
same contract as FEED_SCHEMA.

`LiveFeeder` is the websocket `newHeads` push source (reference
LiveSource.cs:21-130): catch-up via the polling path, then a REAL
RFC 6455 client subscription (sources/ws.py) replaces the head probe —
the download/assemble/emit path is shared (`emit_through`).
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from blockchain_indexer_spark.sources.rpc import (
    Transport,
    _hex_int,
    download_blocks_with_txs,
    download_receipts,
)
from blockchain_indexer_spark.streaming.runner import FEED_SCHEMA


def assemble_feed_rows(blocks: DataFrame, receipts: DataFrame) -> DataFrame:
    """(blocks with embedded txs) × (tx_hash → logs) → FEED_SCHEMA rows
    (one per tx, NULL-hash marker for empty blocks)."""
    base = blocks.select(
        F.col("number").alias("block_number"),
        F.col("hash").alias("block_hash"),
        F.col("timestamp").alias("block_timestamp"),
        "total_transaction_count",
        F.explode_outer("transactions").alias("tx"),
    )
    flat = base.select(
        "block_number",
        "block_hash",
        "block_timestamp",
        "total_transaction_count",
        F.col("tx.hash").alias("hash"),
        F.col("tx.index").alias("index"),
        F.col("tx.from").alias("from"),
        F.col("tx.to").alias("to"),
        F.col("tx.value").alias("value"),
        F.col("tx.input").alias("input"),
        F.col("tx.nonce").alias("nonce"),
        F.col("tx.type").alias("type"),
    )
    joined = flat.join(receipts.withColumnRenamed("tx_hash", "hash"), "hash", "left")
    return joined.select(*FEED_SCHEMA.fieldNames())


def write_feed_file(rows, feed_dir: str, tag: str) -> str:
    """Write one pandas frame of FEED_SCHEMA rows as an atomically
    renamed parquet file (the tailing file source must never list a
    half-written file). `logs` entries may be Spark Rows or dicts."""
    import pyarrow as pa  # noqa: PLC0415
    import pyarrow.parquet as pq  # noqa: PLC0415
    from pyspark.sql.pandas.types import to_arrow_schema  # noqa: PLC0415

    def _plain(v):
        if v is None:
            return None
        out = []
        for lg in v:
            d = lg.asDict(recursive=True) if hasattr(lg, "asDict") else dict(lg)
            out.append(
                {
                    "log_index": int(d["log_index"]),
                    "address": d["address"],
                    "topics": [str(t) for t in d["topics"]],
                    "data": d["data"],
                }
            )
        return out

    rows = rows.copy()
    rows["logs"] = rows["logs"].apply(_plain)
    path = os.path.join(feed_dir, f"{tag}.parquet")
    # dot-prefixed tmp name: Spark's file source ignores hidden files,
    # so a half-written file can never enter a micro-batch
    tmp = os.path.join(feed_dir, f".{tag}.parquet.tmp")
    pq.write_table(
        pa.Table.from_pandas(
            rows, schema=to_arrow_schema(FEED_SCHEMA), preserve_index=False
        ),
        tmp,
    )
    os.rename(tmp, path)
    return path


class IntervalFeeder:
    """Poll the gateway for new blocks and emit one feed file per poll.

    `transport("eth_blockNumber", [])` must return a dict with a
    `number` member (hex string or int) — the same injectable-callable
    contract as the other RPC stages (sources/rpc.py).
    """

    def __init__(
        self,
        spark: SparkSession,
        transport: Transport,
        feed_dir: str,
        start_block: int,
        block_pool: int = 24,
        receipt_pool: int = 96,
    ) -> None:
        self.spark = spark
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
        """Download/assemble/emit blocks next_block..head as one feed
        file — shared by the polling path and LiveFeeder's push path."""
        if head < self.next_block:
            return 0
        numbers = self.spark.range(self.next_block, head + 1).select(
            F.col("id").alias("number")
        )
        # materialize the download ONCE: the blocks frame feeds both
        # the receipt fan-out and the final assembly — lazily it would
        # appear twice in the plan, doubling every eth_getBlockByNumber
        # call AND letting a mid-poll reorg produce a feed file whose
        # tx rows and receipts come from two different chain states
        blocks = download_blocks_with_txs(
            numbers, self.transport, self.block_pool
        ).localCheckpoint(eager=True)
        tx_hashes = blocks.select(
            F.explode("transactions").alias("tx")
        ).select(F.col("tx.hash").alias("tx_hash"))
        receipts = download_receipts(tx_hashes, self.transport, self.receipt_pool)
        rows = assemble_feed_rows(blocks, receipts).toPandas()
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
       remaining range in one distributed download rather than one
       block per unfold — same rows, fewer RPC round trips);
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
