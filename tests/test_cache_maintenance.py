"""T8 wiring: IngestPipeline.process_batch maintains the two reference
cache tables incrementally, and after EVERY micro-batch the cache
equals a from-scratch recompute of the authoritative view
(import_from_staging_2, 0.0.64.sql:2272-2376).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from blockchain_indexer_spark.operators.views import (
    crc_all_signups,
    crc_balances_by_safe_and_token,
    crc_current_trust,
    crc_ledger,
)
from blockchain_indexer_spark.streaming.runner import (
    CACHE_BALANCES,
    CACHE_TRUST,
    IngestPipeline,
)
from tests.test_streaming import _feed_rows

_BAL_COLS = ["safe_address", "token", "token_owner", "balance", "last_change_at", "last_change_at_block"]
_TRUST_COLS = ["user", "can_send_to", "limit", "last_change_at_block"]


def _sorted(df, cols):
    return sorted(map(tuple, df.select(*cols).collect()))


def _scratch_views(pipe):
    signup = pipe.read_final("crc_signup")
    org = pipe.read_final("crc_organisation_signup")
    erc20 = pipe.read_final("erc20_transfer")
    trust = pipe.read_final("crc_trust")
    if org is None:
        org = signup.select(
            "hash", "block_number", "index", "timestamp",
            F.col("user").alias("organisation"),
        ).limit(0)
    signups = crc_all_signups(signup, org)
    return (
        crc_balances_by_safe_and_token(crc_ledger(erc20, signup)),
        crc_current_trust(trust, signups) if trust is not None else None,
    )


@pytest.mark.slowe2e
def test_cache_equals_scratch_recompute_after_each_batch(spark, tmp_path):
    feed = _feed_rows(spark).cache()
    pipe = IngestPipeline(spark, str(tmp_path / "final"))

    # three micro-batches split by block parity/thirds — each touches a
    # different subset of accounts, so the stale sets are real subsets
    chunks = [feed.filter(F.col("block_number") % 3 == i) for i in range(3)]
    for i, chunk in enumerate(chunks):
        pipe.process_batch(chunk, epoch_id=i)
        bal_cache = pipe.read_cache(CACHE_BALANCES)
        trust_cache = pipe.read_cache(CACHE_TRUST)
        assert bal_cache is not None, f"batch {i}: balance cache missing"
        bal_fresh, trust_fresh = _scratch_views(pipe)
        assert _sorted(bal_cache, _BAL_COLS) == _sorted(bal_fresh, _BAL_COLS), i
        if trust_fresh is not None:
            assert trust_cache is not None
            assert _sorted(trust_cache, _TRUST_COLS) == _sorted(trust_fresh, _TRUST_COLS), i

    # a duplicate redelivery imports zero rows and must leave the
    # caches untouched-but-correct (exactly-once composes with T8)
    before = _sorted(pipe.read_cache(CACHE_BALANCES), _BAL_COLS)
    pipe.process_batch(chunks[0], epoch_id=99)
    assert _sorted(pipe.read_cache(CACHE_BALANCES), _BAL_COLS) == before
    bal_fresh, _ = _scratch_views(pipe)
    assert before == _sorted(bal_fresh, _BAL_COLS)


def test_first_caches_wait_for_signups_and_transfers(spark, tmp_path):
    """No cache is written until crc_signup and erc20_transfer hold
    data. A batch with an organisation signup and a trust edge but no
    erc20 transfer writes neither cache (the classifier cannot emit a
    crc_signup without its mint transfer). The next batch brings
    signups and transfers: both caches appear, equal to a scratch
    recompute over the trust row already in the sink plus the batch."""
    from tests.chain_fixtures import tx_hash

    feed = _feed_rows(spark)
    first = feed.filter(
        F.col("hash").isin(tx_hash("org_pos"), tx_hash("trust_pos"))
    ).withColumn("total_transaction_count", F.lit(1))
    base = feed.agg(F.min("block_number")).first()[0]
    second = feed.filter(F.col("block_number").isin(base + 6, base + 7))
    pipe = IngestPipeline(spark, str(tmp_path / "final"))

    pipe.process_batch(first, epoch_id=0)
    assert pipe.read_final("crc_trust") is not None
    assert pipe.read_final("crc_organisation_signup") is not None
    assert pipe.read_final("erc20_transfer") is None
    assert pipe.read_cache(CACHE_BALANCES) is None
    assert pipe.read_cache(CACHE_TRUST) is None

    pipe.process_batch(second, epoch_id=1)
    bal_fresh, trust_fresh = _scratch_views(pipe)
    assert _sorted(pipe.read_cache(CACHE_BALANCES), _BAL_COLS) == _sorted(bal_fresh, _BAL_COLS)
    assert _sorted(pipe.read_cache(CACHE_TRUST), _TRUST_COLS) == _sorted(trust_fresh, _TRUST_COLS)


def test_stale_rule_covers_non_signed_up_endpoints(spark):
    """A CRC-token transfer to an address that never signed up still
    books ledger rows for it (views.crc_ledger has no endpoint signup
    filter), so the staleness rule MUST include it — the reference's
    signup semi-join (0.0.64.sql:2275-2290) leaves such rows
    permanently stale; this engine deliberately widens the rule."""
    from blockchain_indexer_spark.operators.caches import stale_balance_addresses

    erc20 = spark.createDataFrame(
        [("0xalice", "0xexchange")], "`from` string, `to` string"
    )
    hub = spark.createDataFrame([], "`from` string, `to` string")
    stale = {r["safe_address"] for r in stale_balance_addresses(erc20, hub).collect()}
    assert stale == {"0xalice", "0xexchange"}


def test_promote_leftovers_drain_redelivered_blocks(spark):
    """An at-least-once redelivery of an already-imported block must
    NOT sit in the retry set forever."""
    from blockchain_indexer_spark.operators.promote import promote

    blocks = spark.createDataFrame(
        [(100, "0xb100", 1_600_000_000, 0)],
        "number long, hash string, timestamp long, total_transaction_count int",
    )
    txs = spark.createDataFrame(
        [], "hash string, block_number long, block_hash string, `index` int"
    )
    logs = spark.createDataFrame([], "tx_hash string, block_hash string, log_index int")
    first = promote(blocks, txs, logs)
    assert first["block"].count() == 1
    # redelivery: the block is now in existing_blocks
    second = promote(
        blocks, txs, logs, existing_blocks=first["block"].select("number", "hash")
    )
    assert second["block"].count() == 0
    assert second["leftover_blocks"].count() == 0  # drained, not retried forever
