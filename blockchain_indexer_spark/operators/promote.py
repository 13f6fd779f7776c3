"""Staging → final promotion — the batch core of the reference's
`import_from_staging_2` procedure (0.0.64.sql:2040-2379) and its
exactly-once machinery (README.md:85-113).

Stages, same order as the procedure:

1. Block-version disambiguation (:2048-2101) — same number staged with
   different hash/timestamp (reorg residue) ⇒ keep the newest.
2. Completeness gating (:2106-2119) — a block is promoted only when
   its staged distinct tx count equals the declared
   total_transaction_count; incomplete blocks stay staged.
3. Dedup (:2139-2263) — staging allows duplicates (at-least-once
   delivery); promotion inserts DISTINCT rows only.
4. Idempotent merge — `ON CONFLICT DO NOTHING` without unique
   indexes: an anti-join against already-promoted keys.

All state lives in the tables themselves (as in the reference), never
in Spark state — restart-safe by construction. Every step is a keyed
shuffle on block_number or hash; nothing global.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def ready_blocks(block_staging: DataFrame, tx_staging: DataFrame) -> DataFrame:
    """The newest staged version of each block number (A10/T7), kept
    only when it is complete (T3): its staged distinct tx hashes match
    the declared total_transaction_count. Empty blocks (count 0) are
    trivially complete. An incomplete newest version holds the number
    back even when an older version is complete.

    One aggregate per key: max_by picks the version with the largest
    (timestamp, hash), and the staged tx counts are one group-by on
    (block_number, block_hash); the two meet in one join.
    """
    rest = [c for c in block_staging.columns if c != "number"]
    newest = block_staging.groupBy("number").agg(
        F.max_by(F.struct(*rest), F.struct("timestamp", "hash")).alias("_v")
    )
    # size(collect_set) rather than countDistinct: one shuffle, not two
    counts = tx_staging.groupBy(
        F.col("block_number").alias("number"), F.col("block_hash").alias("hash")
    ).agg(F.size(F.collect_set("hash")).alias("_staged"))
    return (
        newest.select("number", "_v.*")
        .join(counts, ["number", "hash"], "left")
        .filter(F.coalesce(F.col("_staged"), F.lit(0)) == F.col("total_transaction_count"))
        .select(*block_staging.columns)
    )


def merge_new(staged: DataFrame, existing: DataFrame | None, keys: list[str]) -> DataFrame:
    """Idempotent append set: staged minus rows whose key already
    exists (T4's ON CONFLICT DO NOTHING as a left anti join)."""
    deduped = staged.dropDuplicates(keys)
    if existing is None:
        return deduped
    return deduped.join(existing.select(*keys), keys, "left_anti")


def promote(
    block_staging: DataFrame,
    tx_staging: DataFrame,
    log_staging: DataFrame,
    existing_blocks: DataFrame | None = None,
    existing_txs: DataFrame | None = None,
) -> dict[str, DataFrame]:
    """One promotion round over raw staging tables.

    Returns {'block', 'transaction_raw', 'log_raw', 'leftover_blocks'}:
    promoted rows (new, complete, deduplicated) plus the staged block
    rows that must be retried next round (incomplete blocks that are
    not yet imported — the reference leaves them in staging and marks
    imported ones, :2265-2270).

    Each promoted frame is an eager localCheckpoint, taken in
    dependency order: transaction_raw builds on the already-
    materialized block result instead of re-running the block
    decision's lineage per output (checkpointing the three returned
    frames after the fact recomputes the pyramid), and classify, the
    appends and the broadcast downstream read the materialized rows.
    """
    ready = ready_blocks(block_staging, tx_staging)
    if existing_blocks is not None:
        ready = ready.join(existing_blocks.select("number"), "number", "left_anti")
    new_blocks = ready.localCheckpoint(eager=True)

    ready_keys = new_blocks.select("number", F.col("hash").alias("block_hash"))
    ready_txs = tx_staging.join(
        F.broadcast(ready_keys),
        (tx_staging["block_number"] == ready_keys["number"])
        & (tx_staging["block_hash"] == ready_keys["block_hash"]),
        "left_semi",
    )
    new_txs = merge_new(ready_txs, existing_txs, ["hash"]).localCheckpoint(eager=True)
    # keyed on the block hash too: a tx staged in two versions of its
    # block keeps only the promoted version's logs
    new_logs = (
        log_staging.join(
            new_txs.select(F.col("hash").alias("tx_hash"), "block_hash"),
            ["tx_hash", "block_hash"],
            "left_semi",
        )
        .dropDuplicates(["tx_hash", "log_index"])
        .localCheckpoint(eager=True)
    )

    # leftovers = rows still awaiting promotion NEXT round: not
    # promoted this round AND not already imported earlier. Without
    # the existing_blocks anti-join, an at-least-once redelivery of an
    # old block would sit in the retry set forever (the anti-join above
    # drops it from new_blocks every round) — the reference instead marks
    # imported staged rows (:2265-2270); this is the same drain.
    leftover_blocks = block_staging.join(new_blocks.select("number"), "number", "left_anti")
    if existing_blocks is not None:
        leftover_blocks = leftover_blocks.join(
            existing_blocks.select("number"), "number", "left_anti"
        )
    return {
        "block": new_blocks,
        "transaction_raw": new_txs,
        "log_raw": new_logs,
        "leftover_blocks": leftover_blocks,
    }


def retract_from(tables: dict[str, DataFrame], reorg_block: int) -> dict[str, DataFrame]:
    """Reorg retraction (T5, Indexer.cs:273-325): drop every final row
    at or above the diverging block; caller re-ingests from there.
    With partitioned storage this is a partition-range delete.

    Every frame must carry its block column (`number` for 'block',
    `block_number` otherwise) — a frame that cannot be range-retracted
    raises instead of silently surviving the reorg (stale rows that
    dodge a retraction would be re-promoted as duplicates on replay).
    Raw per-tx logs never persist in this engine (they flow into the
    typed event tables, which all carry block_number); a deployment
    that does persist them must store the block number alongside.
    """
    out = {}
    for name, df in tables.items():
        col = "number" if name == "block" else "block_number"
        if col not in df.columns:
            raise ValueError(
                f"retract_from: table {name!r} has no {col!r} column and "
                "cannot be range-retracted — persist it with its block number"
            )
        out[name] = df.filter(F.col(col) < reorg_block)
    return out
