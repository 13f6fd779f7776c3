"""RPC enrichment stages (S8/S9/S10) — the reference's bounded-
parallelism async downloads (`Indexer.cs:210-268`, 24-way blocks /
96-way receipts; `Indexer.cs:404-439` getOwners) as Arrow-batched
``mapInPandas`` stages with a per-task thread pool.

Spark supplies inter-partition parallelism; the thread pool supplies
the reference's intra-connection concurrency. Total in-flight requests
= partitions x pool_size, so the reference's 24/96 budgets map to
pool_size = budget / partitions.

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


RECEIPT_FETCH_SCHEMA = T.StructType(
    [
        T.StructField("tx_hash", T.StringType()),
        T.StructField(
            "logs",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("log_index", T.IntegerType()),
                        T.StructField("address", T.StringType()),
                        T.StructField("topics", T.ArrayType(T.StringType())),
                        T.StructField("data", T.StringType()),
                    ]
                )
            ),
        ),
    ]
)


def download_receipts(
    tx_hashes: DataFrame, transport: Transport, pool_size: int = 96
) -> DataFrame:
    """S9: tx hash stream → receipt logs via `eth_getTransactionReceipt`
    (Indexer.cs:252-268, 96-way)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def fetch(h: str) -> dict:
            r = transport("eth_getTransactionReceipt", [h])
            if r is None:
                # pending or reorged-out tx: the node answers null —
                # emit no logs rather than AttributeError-ing the task
                # (the gap/reorg machinery re-requests the block)
                return {"tx_hash": h, "logs": []}
            logs = [
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
            return {"tx_hash": h, "logs": logs}

        for pdf in it:
            rows = _pool_map(fetch, pdf["tx_hash"].tolist(), pool_size)
            yield pd.DataFrame(rows, columns=["tx_hash", "logs"])

    return tx_hashes.mapInPandas(batches, RECEIPT_FETCH_SCHEMA)


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


BLOCK_TX_SCHEMA = T.StructType(
    [
        T.StructField("number", T.LongType()),
        T.StructField("hash", T.StringType()),
        T.StructField("timestamp", T.LongType()),
        T.StructField("total_transaction_count", T.IntegerType()),
        T.StructField(
            "transactions",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("hash", T.StringType()),
                        T.StructField("index", T.IntegerType()),
                        T.StructField("from", T.StringType()),
                        T.StructField("to", T.StringType()),
                        T.StructField("value", T.StringType()),
                        T.StructField("input", T.StringType()),
                        T.StructField("nonce", T.StringType()),
                        T.StructField("type", T.StringType()),
                    ]
                )
            ),
        ),
    ]
)


def _hex_int(v) -> int:
    return int(v, 16) if isinstance(v, str) else int(v)


def download_blocks_with_txs(
    numbers: DataFrame, transport: Transport, pool_size: int = 24
) -> DataFrame:
    """S8: block-number stream → blocks with the full widening tuple
    (24-way). `eth_getBlockByNumber(n, true)` returns complete
    transaction objects (Indexer.cs:210-217 requests exactly that), so
    the feed assembly needs no second tx fetch — only receipts (S9)
    remain."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def fetch(n: int) -> dict:
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

        for pdf in it:
            rows = _pool_map(fetch, pdf["number"].tolist(), pool_size)
            yield pd.DataFrame(rows, columns=[f.name for f in BLOCK_TX_SCHEMA.fields])

    return numbers.mapInPandas(batches, BLOCK_TX_SCHEMA)
