"""RPC calls (S8/S9/S10) — the reference's bounded-parallelism async
downloads (`Indexer.cs:210-268`, 24-way blocks / 96-way receipts;
`Indexer.cs:404-439` getOwners).

`fetch_block` and `fetch_receipt_logs` are one plain call each; the
live feeder runs them on the driver through `_pool_map`, so the
requests in flight equal the pool size (24 and 96 by default), as in
the reference's one indexer process. There is no distributed download:
a poll is a handful of blocks. `fetch_safe_owners` stays a
``mapInPandas`` stage because it enriches a DataFrame of safes; there
each task runs its own pool.

The transport is injectable (any ``fetch(method, params) -> dict``
callable): tests and offline runs plug a deterministic fake; a
deployment wraps an HTTP JSON-RPC client. No network library is
imported here.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from concurrent.futures import ThreadPoolExecutor

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

Transport = Callable[[str, list], dict]


def _pool_map(fn, items, pool_size: int) -> list:
    if pool_size <= 1:
        return [fn(x) for x in items]
    with ThreadPoolExecutor(max_workers=pool_size) as pool:
        return list(pool.map(fn, items))


def _hex_int(v) -> int:
    return int(v, 16) if isinstance(v, str) else int(v)


def fetch_block(transport: Transport, n: int) -> dict:
    """S8: `eth_getBlockByNumber(n, true)` → the block with its full
    widening tuple per tx. The call returns complete transaction
    objects (Indexer.cs:210-217 requests exactly that), so a feed needs
    no second tx fetch, only receipts (S9). A hash-only gateway reply
    degrades to NULL tx fields."""
    b = transport("eth_getBlockByNumber", [hex(int(n)), True])
    txs = []
    for i, t in enumerate(b.get("transactions", [])):
        if not isinstance(t, dict):  # hash-only gateway reply
            t = {"hash": t}
        txs.append(
            {
                "hash": t.get("hash"),
                "index": _hex_int(t.get("transactionIndex", i)),
                "from": t.get("from"),
                "to": t.get("to"),
                "value": str(_hex_int(t.get("value", "0x0"))),
                "input": t.get("input", "0x"),
                "nonce": str(_hex_int(t.get("nonce", "0x0"))),
                "type": str(_hex_int(t.get("type", "0x0"))),
            }
        )
    return {
        "number": _hex_int(b["number"]),
        "hash": b["hash"],
        "timestamp": _hex_int(b["timestamp"]),
        "total_transaction_count": len(txs),
        "transactions": txs,
    }


def fetch_receipt_logs(transport: Transport, tx_hash: str) -> list[dict]:
    """S9: a tx's receipt logs via `eth_getTransactionReceipt`
    (Indexer.cs:252-268)."""
    r = transport("eth_getTransactionReceipt", [tx_hash])
    if r is None:
        # pending or reorged-out tx: the node answers null — emit no
        # logs rather than failing the poll (the gap/reorg machinery
        # re-requests the block)
        return []
    return [
        {
            "log_index": int(lg["logIndex"], 16)
            if isinstance(lg.get("logIndex"), str)
            else lg.get("logIndex", i),
            "address": lg["address"],
            "topics": list(lg.get("topics", [])),
            "data": lg.get("data", "0x"),
        }
        for i, lg in enumerate(r.get("logs", []))
    ]


OWNERS_SCHEMA = T.StructType(
    [
        T.StructField("safe_address", T.StringType()),
        T.StructField("owners", T.ArrayType(T.StringType())),
    ]
)


def fetch_safe_owners(
    safes: DataFrame, transport: Transport, pool_size: int = 2
) -> DataFrame:
    """S10: signup enrichment — `getOwners()` eth_call per safe
    (Indexer.cs:404-439; ABI GnosisSafeABI.cs:5). Owners lowercased
    like Indexer.cs:416,433. Output feeds
    operators.extract.extract_crc_signups(safe_owners=...)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def fetch(addr: str) -> dict:
            r = transport("eth_call", [{"to": addr, "data": "getOwners"}])
            return {
                "safe_address": addr,
                "owners": [o.lower() for o in r.get("owners", [])],
            }

        for pdf in it:
            rows = _pool_map(fetch, pdf["safe_address"].tolist(), pool_size)
            yield pd.DataFrame(rows, columns=["safe_address", "owners"])

    return safes.mapInPandas(batches, OWNERS_SCHEMA)
