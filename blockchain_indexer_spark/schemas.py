"""Declared schemas + chain constants for the blockchain domain.

Constants mirror the reference's `Settings.cs:47-67,182-183`
(event-topic hashes, hub address, method ids — these are public
on-chain values). Schemas mirror the raw Ethereum JSON shapes consumed
by `Indexer.cs:210-268` and the final tables of
`DbMigrations/0.0.64.sql` (block :240, transaction_2 :358, event
tables :379-667).

uint256 policy (SURVEY §1.2): canonical numeric value is
DecimalType(38,0) — covers every realistic CRC/xDai amount (< 1e38);
values ≥ 1e38 overflow to NULL, and the lossless original is always
retained in a sibling `*_hex`/string column.
"""

from __future__ import annotations

from pyspark.sql import types as T

# --- chain constants (public on-chain values; Settings.cs:47-67) -------
ADDRESS_EMPTY_BYTES_PREFIX = "0x000000000000000000000000"
CRC_HUB_TRANSFER_TOPIC = "0x8451019aab65b4193860ef723cb0d56b475a26a72b7bfc55c1dbd6121015285a"
CRC_TRUST_TOPIC = "0xe60c754dd8ab0b1b5fccba257d6ebcd7d09e360ab7dd7a6e58198ca1f57cdcec"
TRANSFER_TOPIC = "0xddf252ad1be2c89b69c2b068fc378daa952ba7f163c4a11628f55a4df523b3ef"
CRC_SIGNUP_TOPIC = "0x358ba8f768af134eb5af120e9a61dc1ef29b29f597f047b555fc3675064a0342"
CRC_ORGANISATION_SIGNUP_TOPIC = (
    "0xb0b94cff8b84fc67513b977d68a5cdd67550bd9b8d99a34b570e3367b7843786"
)
EXECUTION_SUCCESS_TOPIC = "0x442e715f626346e8c54381002da614f62bee8d27386535b2521ec8540898556e"
EMPTY_UINT256 = "0x0000000000000000000000000000000000000000000000000000000000000000"
EMPTY_ADDRESS = "0x0000000000000000000000000000000000000000"
EXEC_TRANSACTION_METHOD_ID = "0x6a761202"
# Default hub address / deployment block (Settings.cs:182-183)
HUB_ADDRESS = "0x29b9a7fbb8995b2423a71cc17cf9810798f6c543"
START_FROM_BLOCK = 12529458
CRC_SIGNUP_MINT_WEI = "50000000000000000000"  # TransactionClassifier.cs:120-123

# Flag labels in enum-value order (TransactionClass.cs:5-16); the
# classification column persists these labels, as the reference does.
CLASS_ERC20_TRANSFER = "Erc20Transfer"
CLASS_CRC_SIGNUP = "CrcSignup"
CLASS_CRC_ORGANISATION_SIGNUP = "CrcOrganisationSignup"
CLASS_CRC_HUB_TRANSFER = "CrcHubTransfer"
CLASS_CRC_TRUST = "CrcTrust"
CLASS_EOA_ETH_TRANSFER = "EoaEthTransfer"
CLASS_SAFE_ETH_TRANSFER = "SafeEthTransfer"
CLASS_UNKNOWN = "Unknown"
ALL_CLASS_LABELS = (
    CLASS_ERC20_TRANSFER,
    CLASS_CRC_SIGNUP,
    CLASS_CRC_ORGANISATION_SIGNUP,
    CLASS_CRC_HUB_TRANSFER,
    CLASS_CRC_TRUST,
    CLASS_EOA_ETH_TRANSFER,
    CLASS_SAFE_ETH_TRANSFER,
)

DECIMAL_WEI = T.DecimalType(38, 0)

# --- raw input schemas (FIXTURES.md §1) --------------------------------

RAW_BLOCK_SCHEMA = T.StructType(
    [
        T.StructField("number", T.LongType(), False),
        T.StructField("hash", T.StringType(), False),
        T.StructField("timestamp", T.LongType(), False),  # unix seconds
        T.StructField("total_transaction_count", T.IntegerType(), False),
    ]
)

RAW_TRANSACTION_SCHEMA = T.StructType(
    [
        T.StructField("block_number", T.LongType(), False),
        T.StructField("block_hash", T.StringType(), False),
        T.StructField("hash", T.StringType(), False),
        T.StructField("index", T.IntegerType(), False),
        T.StructField("from", T.StringType(), False),
        T.StructField("to", T.StringType(), True),
        T.StructField("value", T.StringType(), False),  # decimal wei string
        T.StructField("input", T.StringType(), False),
        T.StructField("nonce", T.StringType(), True),
        T.StructField("type", T.StringType(), True),
    ]
)

LOG_STRUCT = T.StructType(
    [
        T.StructField("log_index", T.IntegerType(), False),
        T.StructField("address", T.StringType(), False),
        T.StructField("topics", T.ArrayType(T.StringType()), False),
        T.StructField("data", T.StringType(), True),
    ]
)

RAW_LOG_SCHEMA = T.StructType(
    [T.StructField("tx_hash", T.StringType(), False)] + list(LOG_STRUCT.fields)
)

# tx enriched with its receipt logs — the classify/extract input
TX_WITH_LOGS_SCHEMA = T.StructType(
    list(RAW_TRANSACTION_SCHEMA.fields)
    + [T.StructField("logs", T.ArrayType(LOG_STRUCT), False)]
)

SAFE_OWNERS_SCHEMA = T.StructType(
    [
        T.StructField("safe_address", T.StringType(), False),
        T.StructField("owners", T.ArrayType(T.StringType()), False),
    ]
)

# --- final table schemas (0.0.64.sql) ----------------------------------

BLOCK_SCHEMA = T.StructType(
    [
        T.StructField("number", T.LongType(), False),
        T.StructField("hash", T.StringType(), False),
        T.StructField("timestamp", T.TimestampType(), False),
        T.StructField("total_transaction_count", T.IntegerType(), False),
    ]
)

TRANSACTION_SCHEMA = T.StructType(
    [
        T.StructField("block_number", T.LongType(), False),
        T.StructField("timestamp", T.TimestampType(), False),
        T.StructField("hash", T.StringType(), False),
        T.StructField("index", T.IntegerType(), False),
        T.StructField("from", T.StringType(), False),
        T.StructField("to", T.StringType(), True),
        T.StructField("value", DECIMAL_WEI, True),
        T.StructField("value_string", T.StringType(), False),
        T.StructField("input", T.StringType(), True),
        T.StructField("nonce", T.StringType(), True),
        T.StructField("type", T.StringType(), True),
        T.StructField("classification", T.ArrayType(T.StringType()), False),
    ]
)

_EVENT_COMMON = [
    T.StructField("block_number", T.LongType(), False),
    T.StructField("timestamp", T.TimestampType(), False),
    T.StructField("hash", T.StringType(), False),
    T.StructField("index", T.IntegerType(), False),
]


def _event_schema(*fields: T.StructField) -> T.StructType:
    return T.StructType(_EVENT_COMMON + list(fields))


CRC_SIGNUP_SCHEMA = _event_schema(
    T.StructField("user", T.StringType(), False),
    T.StructField("token", T.StringType(), True),
    T.StructField("owners", T.ArrayType(T.StringType()), True),
)

ERC20_TRANSFER_SCHEMA = _event_schema(
    T.StructField("from", T.StringType(), False),
    T.StructField("to", T.StringType(), False),
    T.StructField("token", T.StringType(), False),
    T.StructField("value", DECIMAL_WEI, True),
    T.StructField("value_string", T.StringType(), False),
)

CRC_ORGANISATION_SIGNUP_SCHEMA = _event_schema(
    T.StructField("organisation", T.StringType(), False),
)

CRC_TRUST_SCHEMA = _event_schema(
    T.StructField("address", T.StringType(), False),
    T.StructField("can_send_to", T.StringType(), False),
    T.StructField("limit", T.LongType(), True),
)

CRC_HUB_TRANSFER_SCHEMA = _event_schema(
    T.StructField("from", T.StringType(), False),
    T.StructField("to", T.StringType(), False),
    T.StructField("value", DECIMAL_WEI, True),
    T.StructField("value_string", T.StringType(), False),
)

ETH_TRANSFER_SCHEMA = _event_schema(
    T.StructField("from", T.StringType(), False),
    T.StructField("to", T.StringType(), False),
    T.StructField("value", DECIMAL_WEI, True),
    T.StructField("value_string", T.StringType(), False),
)

GNOSIS_SAFE_ETH_TRANSFER_SCHEMA = _event_schema(
    T.StructField("initiator", T.StringType(), False),
    T.StructField("from", T.StringType(), False),
    T.StructField("to", T.StringType(), False),
    T.StructField("value", DECIMAL_WEI, True),
    T.StructField("value_string", T.StringType(), False),
)

EVENT_TABLE_SCHEMAS = {
    "crc_signup": CRC_SIGNUP_SCHEMA,
    "erc20_transfer": ERC20_TRANSFER_SCHEMA,
    "crc_organisation_signup": CRC_ORGANISATION_SIGNUP_SCHEMA,
    "crc_trust": CRC_TRUST_SCHEMA,
    "crc_hub_transfer": CRC_HUB_TRANSFER_SCHEMA,
    "eth_transfer": ETH_TRANSFER_SCHEMA,
    "gnosis_safe_eth_transfer": GNOSIS_SAFE_ETH_TRANSFER_SCHEMA,
}

# --- cache tables (0.0.64.sql:2272-2376), as operators.caches writes them
CACHE_CRC_BALANCES_SCHEMA = T.StructType(
    [
        T.StructField("safe_address", T.StringType(), True),
        T.StructField("token", T.StringType(), True),
        T.StructField("token_owner", T.StringType(), True),
        T.StructField("balance", DECIMAL_WEI, True),
        T.StructField("last_change_at", T.TimestampType(), True),
        T.StructField("last_change_at_block", T.LongType(), True),
    ]
)

CACHE_CRC_CURRENT_TRUST_SCHEMA = T.StructType(
    [
        T.StructField("can_send_to", T.StringType(), True),
        T.StructField("user", T.StringType(), True),
        T.StructField("user_token", T.StringType(), True),
        T.StructField("can_send_to_token", T.StringType(), True),
        T.StructField("limit", T.LongType(), True),
        T.StructField("history_count", T.LongType(), True),
        T.StructField("last_change", T.TimestampType(), True),
        T.StructField("last_change_at_block", T.LongType(), True),
    ]
)
