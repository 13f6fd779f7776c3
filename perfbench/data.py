"""Seeded inputs: an `events` table the derived chain is built from, the
ingest feed over that chain, the live tail's batch plan, and the
clustered-Gaussian embedding corpus.

Everything here is a pure function of the seed, so the same seed gives
the same inputs (perfbench/test_perfbench.py pins this).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("click", "purchase", "view", "signup", "error")
# plans.chain.derive_chain puts event e in block EVENT_BLOCK_BASE + e // 10
EVENT_BLOCK_BASE = 12_600_000
TX_PER_EVENT_BLOCK = 10
# half the testdata's sf0.01 size: 5k events over its 150 users, so the
# derived chain holds 5,180 tx (150 signups, 30 organisations, 5k
# events). A live round took about as long over 4k as over 9k tx of
# history; the smaller chain keeps a run inside the run-time budget.
N_EVENTS, N_USERS = 5_000, 150


def write_events(dest_dir: str, seed: int) -> str:
    """events.parquet in the testdata schema, N_EVENTS rows, from `seed`."""
    n_events, n_users = N_EVENTS, N_USERS
    rng = np.random.default_rng([seed, 3])
    base_us = 1_704_067_200 * 10**6  # 2024-01-01, as in the testdata
    ts = base_us + np.sort(rng.integers(0, 30 * 86_400 * 10**6, n_events))
    cents = rng.integers(1, 20_000, n_events)
    # every user acts in the first n_users events, so any block prefix
    # that holds them has the full user set (the oracles derive signups
    # from the users seen in events)
    users = np.concatenate(
        [rng.permutation(n_users), rng.integers(0, n_users, n_events - n_users)]
    )
    table = pa.table(
        {
            "event_id": pa.array(np.arange(n_events), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(users, pa.int64()),
            "event_type": pa.array(rng.choice(EVENT_TYPES, n_events).tolist()),
            "value": pa.array(cents / 100.0),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
        }
    )
    os.makedirs(dest_dir, exist_ok=True)
    pq.write_table(table, os.path.join(dest_dir, "events.parquet"))
    return dest_dir


def feed_frame(spark, sf_dir: str):
    """The derived chain as FEED_SCHEMA rows (streaming.runner), one per
    tx, each carrying its block's metadata and tx count."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from blockchain_indexer_spark.plans.chain import derive_chain

    chain = derive_chain(spark, sf_dir)
    return chain.select(
        "block_number",
        "block_hash",
        F.unix_timestamp("timestamp").alias("block_timestamp"),
        F.count("*").over(W.partitionBy("block_number")).cast("int").alias(
            "total_transaction_count"
        ),
        "hash", "index", "from", "to", "value", "input", "nonce", "type", "logs",
    )


def event_blocks() -> list[int]:
    return [EVENT_BLOCK_BASE + b for b in range(-(-N_EVENTS // TX_PER_EVENT_BLOCK))]


def live_plan(seed: int, tail_blocks: int = 100, mean_blocks: int = 10):
    """Batch plan for the live tail: the last `tail_blocks` event blocks
    cut into ~`mean_blocks`-block (~100-tx) micro-batches at seeded
    points. Each batch redelivers the last 1-3 blocks before it, as the
    reference's reorg and gap sources do. One seeded block of the first
    batch arrives truncated (its index-0 tx missing), so the
    completeness gate holds it back, and arrives whole in the second.
    Returns (history_last_block, batches); a batch is a dict of its
    delivered range [lo, hi], its first new block and the truncated
    block or None."""
    rng = np.random.default_rng([seed, 7])
    blocks = event_blocks()
    first = blocks[-tail_blocks]
    batches, lo_new = [], first
    while lo_new <= blocks[-1]:
        hi = min(lo_new + int(rng.integers(mean_blocks - 2, mean_blocks + 3)) - 1, blocks[-1])
        lo = lo_new - int(rng.integers(1, 4))
        batches.append({"lo": lo, "hi": hi, "new_lo": lo_new, "truncated": None})
        lo_new = hi + 1
    t = int(rng.integers(batches[0]["new_lo"], batches[0]["hi"] + 1))
    batches[0]["truncated"] = t
    batches[1]["lo"] = min(batches[1]["lo"], t)
    return first - 1, batches


def write_embeddings(dest_dir: str, seed: int, n: int, dim: int = 64, k: int = 16) -> str:
    """Clustered-Gaussian corpus (tools/gen_stress.py recipe):
    embeddings.parquet with vec_id, embedding (float32 list), label."""
    rng = np.random.default_rng([seed, 13])
    centers = rng.normal(0, 1, (k, dim))
    label = rng.integers(0, k, n)
    emb = (centers[label] + rng.normal(0, 0.35, (n, dim))).astype(np.float32)
    table = pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": pa.array(label.astype(np.int32)),
        }
    )
    os.makedirs(dest_dir, exist_ok=True)
    path = os.path.join(dest_dir, "embeddings.parquet")
    pq.write_table(table, path, row_group_size=max(1, n // 8))
    return path
