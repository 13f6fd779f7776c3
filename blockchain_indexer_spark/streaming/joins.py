"""Watermarked stream-stream join of tx headers and their receipts.

The reference splits a block's payload across two concurrent download
pools — block bodies 24-wide (S8, ``BlockDownloader``) and receipts
96-wide (S9) — and reunites them in memory before staging. The live
feeder does the same: ``streaming/feeder.py`` fetches both on the
driver and writes each poll's rows already joined, so no ingest path
runs a join here.

``join_tx_receipts`` is the Structured Streaming form of that reunion
and serves the registered ``stream_reassembly_join`` query: each side
carries an event-time watermark and the join predicate bounds how far
the two arrival times may drift, so the state store buffers only rows
inside the watermark horizon (O(arrival-rate × horizon), independent
of stream length). It works identically on batch frames (watermarks
are no-ops there), which is what the tests use to cross-check
streaming output against plain SQL.

Reference: Sources/BlockDownloader.cs + receipt pool wiring
(Indexer.cs:87-175); SURVEY §2 S8/S9.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def join_tx_receipts(
    txs: DataFrame,
    receipts: DataFrame,
    watermark: str = "10 minutes",
    max_delay: str = "5 minutes",
    how: str = "inner",
) -> DataFrame:
    """Reunite a tx-header stream with its receipt stream.

    ``txs`` needs (hash, block_timestamp:long unix-sec, ...); headers
    only — no logs. ``receipts`` needs (receipt_hash, receipt_timestamp
    :long unix-sec, logs). A receipt matches its tx when it arrives in
    ``[tx event time, tx event time + max_delay]``; both sides are
    watermarked so state for older rows is dropped.

    ``how='left_outer'``: txs whose receipt never lands inside the
    bound emit with NULL logs once the watermark passes — the
    streaming twin of the gap ledger's "requested but not delivered"
    signal (reference requested_blocks, J10/T6). Outer emission
    requires BOTH watermarks and the time-bound predicate; Spark
    rejects the plan otherwise, so the guard is structural.

    Sizing ``watermark``: it bounds BOTH state retention and the
    late-drop cutoff, and the cutoff applies to intra-stream disorder
    too — a row older than (max event time seen − watermark) is
    silently dropped on arrival even if its file was merely listed
    late. Set it to the source's real disorder bound (for the
    download pools: pool depth × per-item timeout), not just the
    expected receipt delay.
    """
    if how not in ("inner", "left_outer"):
        raise ValueError(f"how must be inner or left_outer, got {how!r}")
    t = txs.withColumn(
        "tx_event_time", F.timestamp_seconds(F.col("block_timestamp"))
    ).withWatermark("tx_event_time", watermark)
    r = receipts.withColumn(
        "receipt_event_time", F.timestamp_seconds(F.col("receipt_timestamp"))
    ).withWatermark("receipt_event_time", watermark)
    cond = (
        (F.col("hash") == F.col("receipt_hash"))
        & (F.col("receipt_event_time") >= F.col("tx_event_time"))
        & (
            F.col("receipt_event_time")
            <= F.col("tx_event_time") + F.expr(f"interval {max_delay}")
        )
    )
    return t.join(r, cond, how)
