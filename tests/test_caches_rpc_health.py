"""T8 incremental cache maintenance, S8-S10 RPC calls and J14 health
predicates."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from blockchain_indexer_spark.operators.caches import (
    all_addresses,
    refresh_balance_cache,
    refresh_trust_cache,
    stale_balance_addresses,
    stale_trust_addresses,
)
from blockchain_indexer_spark.operators.classify import classify
from blockchain_indexer_spark.operators.extract import assemble_transactions, extract_all
from blockchain_indexer_spark.operators.views import (
    crc_all_signups,
    crc_balances_by_safe_and_token,
    crc_current_trust,
    crc_ledger,
)
from blockchain_indexer_spark.sources.rpc import (
    fetch_block,
    fetch_receipt_logs,
    fetch_safe_owners,
)
from blockchain_indexer_spark.streaming.health import (
    backlog_distances,
    is_healthy,
)
from tests.chain_fixtures import build_raw_tables


@pytest.fixture(scope="module")
def tables(spark):
    blocks, txs, logs = build_raw_tables(spark)
    classified = classify(assemble_transactions(blocks, txs, logs))
    return {k: v.cache() for k, v in extract_all(classified).items()}


def _views(tables):
    signups = crc_all_signups(tables["crc_signup"], tables["crc_organisation_signup"])
    ledger = crc_ledger(tables["erc20_transfer"], tables["crc_signup"])
    balances = crc_balances_by_safe_and_token(ledger)
    trust = crc_current_trust(tables["crc_trust"], signups)
    return signups, balances, trust


def _sorted_rows(df, keys):
    return sorted(
        (tuple(r[k] for k in keys) for r in df.collect()),
    )


@pytest.mark.slowe2e
def test_incremental_balance_refresh_equals_full(spark, tables):
    """Split event history in two batches: refreshing only stale keys
    after batch 2 must equal a from-scratch rebuild (T8 invariant)."""
    _, full_balances, _ = _views(tables)
    erc20 = tables["erc20_transfer"]
    cut = 12_529_461
    old_erc20 = erc20.filter(F.col("block_number") < cut)
    new_erc20 = erc20.filter(F.col("block_number") >= cut)
    assert new_erc20.count() > 0 and old_erc20.count() > 0

    cache_v1 = crc_balances_by_safe_and_token(
        crc_ledger(old_erc20, tables["crc_signup"])
    )
    stale = stale_balance_addresses(new_erc20, tables["crc_hub_transfer"].limit(0))
    refreshed = refresh_balance_cache(cache_v1, full_balances, stale)

    keys = ["safe_address", "token", "balance"]
    # non-signup endpoints (e.g. the zero address) are never refreshed —
    # the reference's stale set is signup-filtered, so compare on keys
    # that were either stale or unchanged
    full = full_balances
    changed = {r["safe_address"] for r in stale.collect()}
    lhs = _sorted_rows(refreshed.filter(F.col("safe_address").isin(changed)), keys)
    rhs = _sorted_rows(full.filter(F.col("safe_address").isin(changed)), keys)
    assert lhs == rhs
    # untouched signup accounts keep their v1 rows
    untouched = refreshed.join(
        stale.withColumnRenamed("safe_address", "s"),
        refreshed["safe_address"] == F.col("s"),
        "left_anti",
    )
    v1_untouched = cache_v1.join(
        stale.withColumnRenamed("safe_address", "s"),
        cache_v1["safe_address"] == F.col("s"),
        "left_anti",
    )
    assert _sorted_rows(untouched, keys) == _sorted_rows(v1_untouched, keys)


def test_incremental_trust_refresh_equals_full(spark, tables):
    signups, _, full_trust = _views(tables)
    trust = tables["crc_trust"]
    cut = 12_529_461
    old_trust = trust.filter(F.col("block_number") < cut)
    new_trust = trust.filter(F.col("block_number") >= cut)
    assert new_trust.count() > 0

    cache_v1 = crc_current_trust(old_trust, signups)
    stale = stale_trust_addresses(new_trust)
    refreshed = refresh_trust_cache(cache_v1, full_trust, stale)
    keys = ["user", "can_send_to", "limit"]
    assert _sorted_rows(refreshed, keys) == _sorted_rows(full_trust, keys)


@pytest.mark.slowe2e
def test_all_addresses_covers_every_column(tables):
    addrs = {r["address"] for r in all_addresses(tables).collect()}
    for r in tables["erc20_transfer"].select("from", "to", "token").collect():
        assert {r["from"], r["to"], r["token"]} <= addrs


def make_transport():
    """Self-contained fake transport: built inside a closure so
    cloudpickle ships it (and its data) by value to the workers of
    fetch_safe_owners."""
    chain = {
        1: {"hash": "0xb1", "timestamp": 1000, "txs": ["0xt1", "0xt2"]},
        2: {"hash": "0xb2", "timestamp": 1005, "txs": []},
        3: {"hash": "0xb3", "timestamp": 1010, "txs": ["0xt3"]},
    }
    receipts = {
        "0xt1": [{"logIndex": "0x0", "address": "0xaaa", "topics": ["0x1"], "data": "0x01"}],
        "0xt2": [],
        "0xt3": [
            {"logIndex": "0x0", "address": "0xbbb", "topics": ["0x2", "0x3"], "data": "0x02"},
            {"logIndex": "0x1", "address": "0xccc", "topics": [], "data": "0x"},
        ],
    }

    def transport(method, params):
        if method == "eth_getBlockByNumber":
            n = int(params[0], 16)
            b = chain[n]
            return {
                "number": hex(n),
                "hash": b["hash"],
                "timestamp": hex(b["timestamp"]),
                "transactions": [{"hash": h} for h in b["txs"]],
            }
        if method == "eth_getTransactionReceipt":
            return {"logs": receipts[params[0]]}
        if method == "eth_call":
            return {"owners": ["0xOWNER1", "0xowner2"]}
        raise AssertionError(method)

    return transport


def test_fetch_block():
    transport = make_transport()
    got = {n: fetch_block(transport, n) for n in (1, 2, 3)}
    assert got[1]["total_transaction_count"] == 2
    assert [t["hash"] for t in got[1]["transactions"]] == ["0xt1", "0xt2"]
    assert got[2]["total_transaction_count"] == 0
    assert got[3]["hash"] == "0xb3" and got[3]["timestamp"] == 1010


def test_fetch_receipt_logs():
    transport = make_transport()
    got = {h: fetch_receipt_logs(transport, h) for h in ("0xt1", "0xt2", "0xt3")}
    assert [lg["address"] for lg in got["0xt3"]] == ["0xbbb", "0xccc"]
    assert got["0xt3"][1]["log_index"] == 1
    assert got["0xt2"] == []


def test_fetch_safe_owners_lowercases(spark):
    safes = spark.createDataFrame([("0xSAFE",)], "safe_address string")
    row = fetch_safe_owners(safes, make_transport()).collect()[0]
    assert row["owners"] == ["0xowner1", "0xowner2"]


def test_rpc_pool_actually_concurrent():
    """The bounded pool must overlap requests (the reference's 24/96
    way concurrency), tested on the pool primitive directly."""
    import time as _time

    from blockchain_indexer_spark.sources.rpc import _pool_map

    def fetch(n):
        _time.sleep(0.3)
        return n * 2

    t0 = _time.time()
    out = _pool_map(fetch, list(range(8)), pool_size=8)
    elapsed = _time.time() - t0
    assert out == [n * 2 for n in range(8)]
    assert elapsed < 1.2, f"pool did not overlap requests ({elapsed:.1f}s)"
    # and the serial path stays serial
    t0 = _time.time()
    _pool_map(fetch, list(range(3)), pool_size=1)
    assert _time.time() - t0 >= 0.9


@pytest.mark.slowe2e
def test_health_predicates(spark):
    blocks = spark.createDataFrame([(n,) for n in (1, 2, 3, 5)], "number long")
    staging = spark.createDataFrame([(6,), (7, )], "number long")
    requested = spark.createDataFrame([(n,) for n in (1, 2, 3, 4, 5, 6, 7)], "number long")
    d = backlog_distances(blocks, staging, requested)
    # oldest hole: block 4 => imported_distance = 5 - (4-1) = 2
    assert d["imported_distance"] == 2
    assert d["staging_distance"] == 2
    assert is_healthy(blocks, staging, requested, max_healthy_backlog=3)
    assert not is_healthy(blocks, staging, requested, max_healthy_backlog=2)
    # fully caught up: no hole, no phantom 1-block distance from the
    # head block being excluded from its own imported set
    caught = spark.createDataFrame([(n,) for n in (1, 2, 3)], "number long")
    req3 = spark.createDataFrame([(n,) for n in (1, 2, 3)], "number long")
    d2 = backlog_distances(caught, caught, req3)
    assert d2["imported_distance"] is None
    assert d2["staging_distance"] == 0


def test_fetch_block_full_and_hash_only():
    """S8 full-tx variant: dict transactions map to the widening tuple;
    a hash-only gateway reply (strings) degrades to NULL tx fields
    rather than crashing (the reference refetches those separately)."""
    def transport(method, params):
        assert method == "eth_getBlockByNumber" and params[1] is True
        n = int(params[0], 16)
        if n == 1:
            return {
                "number": "0x1", "hash": "0xb1", "timestamp": "0x64",
                "transactions": [
                    {"hash": "0xt1", "transactionIndex": "0x0", "from": "0xa",
                     "to": "0xb", "value": "0x2a", "input": "0x", "nonce": "0x1",
                     "type": "0x2"},
                ],
            }
        return {"number": hex(n), "hash": f"0xb{n}", "timestamp": "0x65",
                "transactions": ["0xt2"]}  # hash-only reply

    got = {n: fetch_block(transport, n) for n in (1, 2)}
    t1 = got[1]["transactions"][0]
    assert (t1["hash"], t1["index"], t1["from"], t1["value"], t1["type"]) == (
        "0xt1", 0, "0xa", "42", "2"
    )
    t2 = got[2]["transactions"][0]
    assert t2["hash"] == "0xt2" and t2["from"] is None and t2["value"] == "0"
    assert got[2]["total_transaction_count"] == 1


def test_watch_liveness_stall_and_drain():
    """Clock-injected unit test of the LiveSource stall contract."""
    from blockchain_indexer_spark.streaming.health import StreamStalled, watch_liveness

    class FakeQuery:
        def __init__(self):
            self.isActive = True
            self.recentProgress = []
            self.status = {"isDataAvailable": False}
            self.stopped = False
            self.t = 0.0

        def stop(self):
            self.stopped = True
            self.isActive = False

    q = FakeQuery()

    def clock():
        q.t += 0.5
        # rows keep arriving until t=5, then silence
        if q.t < 5:
            q.recentProgress = [
                {"id": "x", "batchId": int(q.t * 2), "numInputRows": 3}
            ]
        return q.t

    try:
        watch_liveness(q, stall_timeout_s=2.0, poll_s=0.0, clock=clock)
        raise AssertionError("expected StreamStalled")
    except StreamStalled:
        pass
    assert q.stopped
    # stall fired only after the 2 s quiet window beyond the last rows
    assert q.t >= 7.0

    # mid-batch (data available, no progress rows) is NOT a stall
    q2 = FakeQuery()
    q2.status = {"isDataAvailable": True}

    def clock2():
        q2.t += 0.5
        if q2.t >= 10:
            q2.isActive = False  # query finishes normally
        return q2.t

    elapsed = watch_liveness(q2, stall_timeout_s=2.0, poll_s=0.0, clock=clock2)
    assert not q2.stopped and elapsed >= 10
