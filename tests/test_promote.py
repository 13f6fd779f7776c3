"""Promotion semantics: completeness gating, duplicate handling,
block-version disambiguation, idempotent re-delivery, reorg retract,
gap detection and restart point."""

from __future__ import annotations

import pytest

from blockchain_indexer_spark.operators.promote import promote, retract_from
from blockchain_indexer_spark.schemas import (
    RAW_BLOCK_SCHEMA,
    RAW_LOG_SCHEMA,
    RAW_TRANSACTION_SCHEMA,
)
from blockchain_indexer_spark.sources.blocks import (
    bulk_range,
    last_valid_block,
    missing_block_numbers,
    detect_reorg,
)


def _tx(block, bhash, h, idx):
    return (block, bhash, h, idx, "0xaa", "0xbb", "1", "0x", "1", "0")


@pytest.fixture(scope="module")
def staged(spark):
    blocks = [
        (100, "0xb100", 1000, 2),   # complete
        (101, "0xb101", 1005, 1),   # incomplete: declared 1, staged 0
        (102, "0xb102", 1010, 0),   # empty block: trivially complete
        (103, "0xb103a", 1015, 1),  # older version...
        (103, "0xb103b", 1016, 1),  # ...newer version wins
    ]
    txs = [
        _tx(100, "0xb100", "0xt1", 0),
        _tx(100, "0xb100", "0xt1", 0),  # duplicate staged row
        _tx(100, "0xb100", "0xt2", 1),
        _tx(103, "0xb103a", "0xt3a", 0),  # tx of the stale version
        _tx(103, "0xb103b", "0xt3b", 0),
    ]
    logs = [
        ("0xt1", "0xb100", 0, "0xc0", ["0xtopic"], "0x00"),
        ("0xt1", "0xb100", 0, "0xc0", ["0xtopic"], "0x00"),  # duplicate log
    ]
    return (
        spark.createDataFrame(blocks, RAW_BLOCK_SCHEMA),
        spark.createDataFrame(txs, RAW_TRANSACTION_SCHEMA),
        spark.createDataFrame(logs, RAW_LOG_SCHEMA),
    )


def test_promote_gates_and_dedups(spark, staged):
    b, t, l = staged
    out = promote(b, t, l)
    promoted = {r["number"]: r["hash"] for r in out["block"].collect()}
    # incomplete 101 held back; 103 resolved to the newer version
    assert promoted == {100: "0xb100", 102: "0xb102", 103: "0xb103b"}
    tx_hashes = {r["hash"] for r in out["transaction_raw"].collect()}
    assert tx_hashes == {"0xt1", "0xt2", "0xt3b"}  # dup removed, stale version of the tx gone
    assert out["log_raw"].count() == 1  # duplicate log removed
    leftovers = {r["number"] for r in out["leftover_blocks"].collect()}
    # 101 awaits its txs; 103's stale version counts as already
    # available once 103b imported (0.0.64.sql:2123-2135) → cleaned
    assert leftovers == {101}


def test_promote_idempotent_on_redelivery(spark, staged):
    b, t, l = staged
    first = promote(b, t, l)
    again = promote(
        b, t, l, existing_blocks=first["block"], existing_txs=first["transaction_raw"]
    )
    assert again["block"].count() == 0
    assert again["transaction_raw"].count() == 0


def test_retract_from(spark, staged):
    b, t, l = staged
    out = promote(b, t, l)
    final = {"block": out["block"], "transaction_raw": out["transaction_raw"]}
    after = retract_from(final, 103)
    assert {r["number"] for r in after["block"].collect()} == {100, 102}
    assert {r["hash"] for r in after["transaction_raw"].collect()} == {"0xt1", "0xt2"}


def test_reorg_replay_reaches_identical_state(spark, staged):
    # the full T5 cycle: promote → retract from the reorg block →
    # re-ingest the same staged data → final state must equal the
    # original promote bit-for-bit (replay idempotence, SURVEY §5c)
    b, t, l = staged
    first = promote(b, t, l)
    after = retract_from(
        {"block": first["block"], "transaction_raw": first["transaction_raw"]}, 103
    )
    replay = promote(
        b, t, l, existing_blocks=after["block"], existing_txs=after["transaction_raw"]
    )
    blocks = {tuple(r) for r in after["block"].unionByName(replay["block"]).collect()}
    assert blocks == {tuple(r) for r in first["block"].collect()}
    txs = {
        tuple(r)
        for r in after["transaction_raw"].unionByName(replay["transaction_raw"]).collect()
    }
    assert txs == {tuple(r) for r in first["transaction_raw"].collect()}


def test_gap_detection_and_restart_point(spark, staged):
    b, t, l = staged
    blocks = promote(b, t, l)["block"]  # 100, 102, 103
    gaps = [tuple(r) for r in missing_block_numbers(blocks).collect()]
    assert gaps == [(101,)]
    requested = bulk_range(spark, 100, 103)
    assert last_valid_block(requested, blocks) == 100  # 101 missing → restart at 100


def test_reorg_detection(spark):
    stored = spark.createDataFrame(
        [(n, f"0xh{n}") for n in range(100, 120)], "number long, hash string"
    )
    chain = spark.createDataFrame(
        [(n, f"0xh{n}" if n < 115 else f"0xH{n}") for n in range(100, 120)],
        "number long, hash string",
    )
    rows = detect_reorg(stored, chain).collect()
    assert len(rows) == 1 and rows[0]["reorg_at"] == 115
    # no divergence → no rows
    assert detect_reorg(stored, stored.withColumnRenamed("hash", "h").withColumnRenamed("h", "hash")).count() == 0


def test_detect_reorg_null_hash_is_skipped_not_diverging(spark):
    """A chain row present with NULL hash (transient RPC answer) must
    not trigger retraction; absence still does (shorter fork)."""
    from pyspark.sql import functions as F

    stored = spark.createDataFrame(
        [(n, f"h{n}") for n in range(1, 6)], "number long, hash string"
    )
    # number 4 answered with NULL hash → skip; everything else matches
    chain = spark.createDataFrame(
        [(1, "h1"), (2, "h2"), (3, "h3"), (5, "h5")], "number long, hash string"
    ).unionByName(
        spark.createDataFrame([(4,)], "number long").withColumn(
            "hash", F.lit(None).cast("string")
        )
    )
    assert detect_reorg(stored, chain, depth=10).count() == 0
    # number 4 absent entirely → orphaned on a shorter fork → retract at 4
    chain_short = spark.createDataFrame(
        [(1, "h1"), (2, "h2"), (3, "h3"), (5, "h5")], "number long, hash string"
    )
    assert detect_reorg(stored, chain_short, depth=10).collect()[0]["reorg_at"] == 4


def test_incomplete_newest_version_holds_back_a_complete_older_one(spark):
    """Disambiguation comes before the completeness gate: when the
    newest version of a number is incomplete, the block waits, even
    though an older version of it is complete, and none of either
    version's txs is promoted."""
    blocks = spark.createDataFrame(
        [(200, "0xold", 1000, 1), (200, "0xnew", 1001, 2)], RAW_BLOCK_SCHEMA
    )
    txs = spark.createDataFrame(
        [_tx(200, "0xold", "0xo1", 0), _tx(200, "0xnew", "0xn1", 0)],
        RAW_TRANSACTION_SCHEMA,
    )
    logs = spark.createDataFrame([], RAW_LOG_SCHEMA)
    out = promote(blocks, txs, logs)
    assert out["block"].count() == 0
    assert out["transaction_raw"].count() == 0
    assert {r["number"] for r in out["leftover_blocks"].collect()} == {200}


def test_remined_tx_keeps_only_the_promoted_versions_logs(spark):
    """A tx staged in two versions of its block (re-mined at another
    log index in the newer one) keeps only the promoted version's logs:
    two would give it two Transfer rows downstream."""
    blocks = spark.createDataFrame(
        [(103, "0xb103a", 1015, 1), (103, "0xb103b", 1016, 2)], RAW_BLOCK_SCHEMA
    )
    txs = spark.createDataFrame(
        [
            _tx(103, "0xb103a", "0xX", 0),
            _tx(103, "0xb103b", "0xY", 0),
            _tx(103, "0xb103b", "0xX", 1),
        ],
        RAW_TRANSACTION_SCHEMA,
    )
    logs = spark.createDataFrame(
        [
            ("0xX", "0xb103a", 0, "0xc0", ["0xtopic"], "0x00"),
            ("0xX", "0xb103b", 1, "0xc0", ["0xtopic"], "0x00"),
        ],
        RAW_LOG_SCHEMA,
    )
    out = promote(blocks, txs, logs)
    assert [(r["number"], r["hash"]) for r in out["block"].collect()] == [(103, "0xb103b")]
    assert [(r["tx_hash"], r["log_index"]) for r in out["log_raw"].collect()] == [("0xX", 1)]


def test_equal_timestamps_pick_the_higher_hash(spark):
    """Two complete versions with the same timestamp: the higher block
    hash wins, and only its txs are promoted."""
    blocks = spark.createDataFrame(
        [(300, "0xaaa", 1000, 1), (300, "0xbbb", 1000, 1)], RAW_BLOCK_SCHEMA
    )
    txs = spark.createDataFrame(
        [_tx(300, "0xaaa", "0xta", 0), _tx(300, "0xbbb", "0xtb", 0)],
        RAW_TRANSACTION_SCHEMA,
    )
    logs = spark.createDataFrame([], RAW_LOG_SCHEMA)
    out = promote(blocks, txs, logs)
    assert [(r["number"], r["hash"]) for r in out["block"].collect()] == [(300, "0xbbb")]
    assert [r["hash"] for r in out["transaction_raw"].collect()] == ["0xtb"]
