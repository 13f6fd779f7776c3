"""Block-number sources — the reference's five source kinds
(`Sources/*.cs`) re-expressed for Spark's execution model.

Backfill is a batch range; the live/polling sources reduce to "feed
new block numbers into the ingest job" (driver loop or streaming
source); gap and reorg detection are periodic DataFrame checks. The
mode switch (`DetermineSource`, Indexer.cs:477-509) becomes: backfill
batch while backlog > threshold, then stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

USE_BULK_SOURCE_THRESHOLD = 24  # Settings.cs:166
REORG_DEPTH = 18  # ReorgSource.cs:62


def bulk_range(spark: SparkSession, from_block: int, to_block: int) -> DataFrame:
    """BulkSource.Create (Sources/BulkSource.cs:18-31): contiguous
    backfill range [from, to]."""
    return spark.range(from_block, to_block + 1).select(F.col("id").alias("number"))


def find_gaps(blocks: DataFrame) -> DataFrame:
    """FindMissingBlocks (Sources/GapSource.cs:79-93): holes in the
    stored block numbers via lead(). Returns (gap_start, gap_end).

    The global-order window is fine at block cardinality (one long per
    row); for larger keyspaces range-partition and compare chunk
    boundaries.
    """
    w = W.orderBy("number")
    return (
        blocks.select("number")
        .withColumn("next_nr", F.lead("number").over(w))
        .filter(F.col("next_nr") > F.col("number") + 1)
        .select(
            (F.col("number") + 1).alias("gap_start"),
            (F.col("next_nr") - 1).alias("gap_end"),
        )
    )


def missing_block_numbers(blocks: DataFrame) -> DataFrame:
    """Gap ranges exploded to individual block numbers to re-request
    (GapSource emits one number at a time)."""
    return find_gaps(blocks).select(
        F.explode(F.sequence("gap_start", "gap_end")).alias("number")
    )


def detect_reorg(stored: DataFrame, chain: DataFrame, depth: int = REORG_DEPTH) -> DataFrame:
    """CheckForReorgsInLastBlocks (Sources/ReorgSource.cs:62-97):
    compare the stored hash of the last `depth` blocks against the
    chain's view; emit the OLDEST diverging number (0 or 1 row).

    `chain` is the RPC's (number, hash) — a tiny side input, broadcast.

    CONTRACT: `chain` must be AUTHORITATIVE for the full recent window
    — a stored number entirely ABSENT from it is treated as orphaned
    on a shorter fork and triggers retraction from that number. A
    merely-incomplete snapshot (transient RPC failure on one number)
    must therefore not reach this function row-lessly: callers retry
    absent numbers first (the reference retries on null via its catch,
    ReorgSource.cs:85-91). A chain row PRESENT with a NULL hash is
    handled here: it means "RPC answered but had no hash yet" and the
    number is skipped this round — retried next poll — rather than
    flagged as diverging.
    """
    max_nr = stored.agg(F.max("number").alias("m"))
    recent = stored.join(F.broadcast(max_nr), stored["number"] > F.col("m") - depth).select(
        "number", F.col("hash").alias("stored_hash")
    )
    ch = chain.select("number", F.col("hash").alias("chain_hash"))
    unknown = ch.filter(F.col("chain_hash").isNull()).select("number")
    return (
        # LEFT join: a stored block the chain no longer has at all
        # (reorg onto a SHORTER fork) must count as diverging — an
        # inner join would silently drop it and the orphaned blocks
        # would stay in the final tables as a dead fork. NULL-hash
        # chain rows are excluded FIRST (anti-join) so a transient
        # null answer never masquerades as a missing block.
        recent.join(F.broadcast(unknown), "number", "left_anti")
        .join(F.broadcast(ch.filter(F.col("chain_hash").isNotNull())), "number", "left")
        .filter(
            F.col("chain_hash").isNull()
            | (F.col("stored_hash") != F.col("chain_hash"))
        )
        .agg(F.min("number").alias("reorg_at"))
        .filter(F.col("reorg_at").isNotNull())
    )


def lowest_missing_block(requested: DataFrame, blocks: DataFrame) -> int | None:
    """The lowest requested block number not yet imported, or None.
    Anti-joins against the FULL imported set: the restart point and the
    health query's oldest hole both read it."""
    return (
        requested.join(
            blocks.select("number"), requested["number"] == blocks["number"], "left_anti"
        )
        .agg(F.min(requested["number"]))
        .collect()[0][0]
    )


def last_valid_block(requested: DataFrame, blocks: DataFrame) -> int:
    """GetLastValidBlock (Persistence/BlockTracker.cs:13-36): the round
    restart point — min(requested-but-missing) - 1, else max(stored).

    Driver-side scalar by design: it runs once per round on two
    aggregates, not per row.
    """
    missing = lowest_missing_block(requested, blocks)
    if missing is not None:
        return int(missing) - 1
    row = blocks.agg(F.max("number").alias("m")).collect()[0]
    return int(row["m"]) if row["m"] is not None else 0
