"""Incremental view maintenance (T8) — the reference's stale key cache
refresh (`import_from_staging_2`, 0.0.64.sql:2272-2376) as DataFrame
set algebra.

The reference keeps two hand-maintained materializations —
cache_crc_balances_by_safe_and_token and cache_crc_current_trust —
and after each import refreshes ONLY the keys touched by the batch:
build the stale address set from the staging rows, delete matching
cache rows, reinsert those keys from the authoritative view. At 100 TB
that is the difference between an O(batch) and an O(history) refresh,
so the shape is preserved exactly: the stale sets are small per batch
and broadcast into the anti/semi joins; nothing rescans history except
the view recompute restricted to stale keys (which Catalyst prunes by
the pushed-down semi join).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def stale_balance_addresses(erc20_batch: DataFrame, hub_batch: DataFrame) -> DataFrame:
    """Addresses whose balance may have changed (0.0.64.sql:2275-2290):
    each endpoint of the batch's erc20/hub transfers. Returns one
    column `safe_address`, distinct.

    One deliberate widening over the reference's staleness rule: the
    reference semi-joins endpoints against crc_all_signups, but the
    ledger (0.0.64.sql:743-780) books rows for EVERY endpoint of a
    CRC-token transfer — the zero address on mints, and any
    never-signed-up recipient (an exchange, a plain EOA). Under the
    reference rule those cache rows go permanently stale the moment
    they change. Taking every endpoint is a strict superset: refreshing
    an unaffected address just recomputes identical rows, while
    missing an affected one silently breaks cache == view — the exact
    invariant tests/test_cache_maintenance.py pins."""
    endpoints = None
    for batch in (erc20_batch, hub_batch):
        for side in ("from", "to"):
            part = batch.select(F.col(side).alias("safe_address"))
            endpoints = part if endpoints is None else endpoints.unionByName(part)
    return endpoints.distinct()


def stale_trust_addresses(trust_batch: DataFrame) -> DataFrame:
    """0.0.64.sql:2327-2332 — both endpoints of the batch's trust
    events (no signup filter on this one, as in the reference)."""
    return (
        trust_batch.select(F.col("address").alias("safe_address"))
        .unionByName(trust_batch.select(F.col("can_send_to").alias("safe_address")))
        .distinct()
    )


def refresh_balance_cache(
    cache: DataFrame | None, fresh_view: DataFrame, stale: DataFrame
) -> DataFrame:
    """delete-where-stale + reinsert-from-view (0.0.64.sql:2294-2323).

    `cache` is the previous materialization (None on first run ⇒ full
    build); `fresh_view` the authoritative crc_balances view over the
    post-import tables. Keyed on safe_address.
    """
    if cache is None:
        return fresh_view
    stale_b = F.broadcast(stale)
    kept = cache.join(stale_b, "safe_address", "left_anti")
    recomputed = fresh_view.join(stale_b, "safe_address", "left_semi")
    return kept.unionByName(recomputed)


def refresh_trust_cache(
    cache: DataFrame | None, fresh_view: DataFrame, stale: DataFrame
) -> DataFrame:
    """Same, but trust rows are stale when EITHER endpoint is touched
    (0.0.64.sql:2336-2340): user OR can_send_to in the stale set."""
    if cache is None:
        return fresh_view
    a = F.broadcast(stale.select(F.col("safe_address").alias("user")))
    b = F.broadcast(stale.select(F.col("safe_address").alias("can_send_to")))
    kept = cache.join(a, "user", "left_anti").join(b, "can_send_to", "left_anti")
    re_a = fresh_view.join(a, "user", "left_semi")
    re_b = fresh_view.join(b, "can_send_to", "left_semi")
    # a row touched on both endpoints must come back once
    recomputed = re_a.unionByName(re_b).dropDuplicates(["user", "can_send_to"])
    return kept.unionByName(recomputed)


def all_addresses(tables: dict[str, DataFrame]) -> DataFrame:
    """cache_all_addresses (0.0.64.sql:263-276, filled :2200-2209):
    every address observed anywhere, deduplicated — the reference's
    integer-id dictionary for address columns."""
    cols = {
        "transaction": ("from", "to"),
        "crc_signup": ("user", "token"),
        "crc_organisation_signup": ("organisation",),
        "erc20_transfer": ("from", "to", "token"),
        "crc_trust": ("address", "can_send_to"),
        "crc_hub_transfer": ("from", "to"),
        "eth_transfer": ("from", "to"),
        "gnosis_safe_eth_transfer": ("initiator", "from", "to"),
    }
    out = None
    for name, cs in cols.items():
        if name not in tables:
            continue
        for c in cs:
            part = tables[name].select(F.col(c).alias("address"))
            out = part if out is None else out.unionByName(part)
    return out.filter(F.col("address").isNotNull()).distinct()
