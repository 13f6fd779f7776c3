"""Deterministic synthetic chain data covering every classifier class,
its negative, and the poison (multi-log SingleOrDefault) edge — the
local replacement for the reference's 7 pinned live transactions
(CirclesLand.BlockchainIndexer.Tests/TransactionClassifierTests.cs).
Recipes follow FIXTURES.md §2.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from blockchain_indexer_spark.schemas import (
    CRC_HUB_TRANSFER_TOPIC,
    CRC_ORGANISATION_SIGNUP_TOPIC,
    CRC_SIGNUP_MINT_WEI,
    CRC_SIGNUP_TOPIC,
    CRC_TRUST_TOPIC,
    EMPTY_ADDRESS,
    EXECUTION_SUCCESS_TOPIC,
    HUB_ADDRESS,
    RAW_BLOCK_SCHEMA,
    RAW_LOG_SCHEMA,
    RAW_TRANSACTION_SCHEMA,
    TRANSFER_TOPIC,
)


def addr(i: int) -> str:
    return "0x" + f"{i:040x}"


def topic_addr(a: str) -> str:
    return "0x" + "0" * 24 + a[2:]


def hex256(n: int) -> str:
    return "0x" + f"{n:064x}"


def exec_transaction_input(to: str, value: int, data_len: int = 0, operation: int = 0) -> str:
    """ABI-encode execTransaction calldata by hand (10 head slots +
    dynamic tails for `data` and `signatures`)."""
    head = [
        topic_addr(to)[2:],          # address to
        f"{value:064x}",             # uint256 value
        f"{320:064x}",               # offset of data (10 slots * 32)
        f"{operation:064x}",         # uint8 operation
        f"{0:064x}", f"{0:064x}", f"{0:064x}",  # gas params
        f"{0:064x}", f"{0:064x}",    # gasToken, refundReceiver
        f"{320 + 32 + data_len:064x}",  # offset of signatures
    ]
    tail = f"{data_len:064x}" + "00" * data_len + f"{0:064x}"
    return "0x6a761202" + "".join(head) + tail


MINT = int(CRC_SIGNUP_MINT_WEI)

USER1, USER2, ORG1, TOKEN1, TOKEN2, SAFE1, DEST1 = (
    addr(0x101), addr(0x102), addr(0x103), addr(0x201), addr(0x202), addr(0x301), addr(0x302)
)
TOKEN3 = addr(0x203)  # never signed up — non-CRC

# (tx_hash_id, to, value, input, logs[(address, topics, data)], expected_classes)
CASES: list[tuple[str, str | None, str, str, list, list[str]]] = [
    # C1 positive: plain ERC-20 transfer
    ("erc20_pos", TOKEN2, "0", "0xabcdef", [
        (TOKEN2, [TRANSFER_TOPIC, topic_addr(USER1), topic_addr(USER2)], hex256(1234)),
    ], ["Erc20Transfer"]),
    # C1 negative: only 2 topics
    ("erc20_neg_topics", TOKEN2, "0", "0xabcdef", [
        (TOKEN2, [TRANSFER_TOPIC, topic_addr(USER1)], hex256(1234)),
    ], ["Unknown"]),
    # two valid transfer logs in one tx → still Erc20Transfer, 2 rows
    ("erc20_two_logs", TOKEN2, "0", "0xabcdef", [
        (TOKEN2, [TRANSFER_TOPIC, topic_addr(USER1), topic_addr(USER2)], hex256(10)),
        (TOKEN1, [TRANSFER_TOPIC, topic_addr(USER2), topic_addr(USER1)], hex256(20)),
    ], ["Erc20Transfer"]),
    # C2 positive: signup = Signup + self-Trust + 50e18 mint
    ("signup_pos", HUB_ADDRESS, "0", "0x01", [
        (HUB_ADDRESS, [CRC_SIGNUP_TOPIC, topic_addr(USER1)], topic_addr(TOKEN1)),
        (HUB_ADDRESS, [CRC_TRUST_TOPIC, topic_addr(USER1), topic_addr(USER1)], hex256(100)),
        (TOKEN1, [TRANSFER_TOPIC, topic_addr(EMPTY_ADDRESS), topic_addr(USER1)], hex256(MINT)),
    ], ["Erc20Transfer", "CrcSignup", "CrcTrust"]),
    # C2 negative: wrong mint value ⇒ no CrcSignup, but transfer+trust remain
    ("signup_neg_mint", HUB_ADDRESS, "0", "0x01", [
        (HUB_ADDRESS, [CRC_SIGNUP_TOPIC, topic_addr(USER2)], topic_addr(TOKEN2)),
        (HUB_ADDRESS, [CRC_TRUST_TOPIC, topic_addr(USER2), topic_addr(USER2)], hex256(100)),
        (TOKEN2, [TRANSFER_TOPIC, topic_addr(EMPTY_ADDRESS), topic_addr(USER2)], hex256(MINT - 1)),
    ], ["Erc20Transfer", "CrcTrust"]),
    # C3 positive / negative (wrong emitting address)
    ("org_pos", HUB_ADDRESS, "0", "0x01", [
        (HUB_ADDRESS, [CRC_ORGANISATION_SIGNUP_TOPIC, topic_addr(ORG1)], "0x"),
    ], ["CrcOrganisationSignup"]),
    ("org_neg_hub", HUB_ADDRESS, "0", "0x01", [
        (TOKEN1, [CRC_ORGANISATION_SIGNUP_TOPIC, topic_addr(ORG1)], "0x"),
    ], ["Unknown"]),
    # C5 positive / negative (limit out of bounds)
    ("trust_pos", HUB_ADDRESS, "0", "0x01", [
        (HUB_ADDRESS, [CRC_TRUST_TOPIC, topic_addr(USER2), topic_addr(USER1)], hex256(50)),
    ], ["CrcTrust"]),
    ("trust_neg_limit", HUB_ADDRESS, "0", "0x01", [
        (HUB_ADDRESS, [CRC_TRUST_TOPIC, topic_addr(USER2), topic_addr(USER1)], hex256(101)),
    ], ["Unknown"]),
    # C4 positive: HubTransfer + accompanying ERC-20 transfer
    ("hub_pos", HUB_ADDRESS, "0", "0x01", [
        (HUB_ADDRESS, [CRC_HUB_TRANSFER_TOPIC, topic_addr(USER1), topic_addr(USER2)], hex256(777)),
        (TOKEN1, [TRANSFER_TOPIC, topic_addr(USER1), topic_addr(USER2)], hex256(777)),
    ], ["Erc20Transfer", "CrcHubTransfer"]),
    # C4 negative: no ERC-20 transfer alongside
    ("hub_neg_noerc20", HUB_ADDRESS, "0", "0x01", [
        (HUB_ADDRESS, [CRC_HUB_TRANSFER_TOPIC, topic_addr(USER1), topic_addr(USER2)], hex256(777)),
    ], ["Unknown"]),
    # C7 positive / negatives
    ("eoa_pos", USER2, "1000000000000000000", "0x", [], ["EoaEthTransfer"]),
    ("eoa_neg_value", USER2, "0", "0x", [], ["Unknown"]),
    ("eoa_neg_input", USER2, "5", "0xdead", [], ["Unknown"]),
    # C6 positive: execTransaction, empty data, op 0, one ExecutionSuccess
    ("safe_pos", SAFE1, "0", exec_transaction_input(DEST1, 42 * 10**18), [
        (SAFE1, [EXECUTION_SUCCESS_TOPIC], hex256(0)),
    ], ["SafeEthTransfer"]),
    # C6 negative: non-empty data payload
    ("safe_neg_data", SAFE1, "0", exec_transaction_input(DEST1, 5, data_len=4), [
        (SAFE1, [EXECUTION_SUCCESS_TOPIC], hex256(0)),
    ], ["Unknown"]),
    # C6 negative: operation != 0
    ("safe_neg_op", SAFE1, "0", exec_transaction_input(DEST1, 5, operation=1), [
        (SAFE1, [EXECUTION_SUCCESS_TOPIC], hex256(0)),
    ], ["Unknown"]),
    # poison: two HubTransfer-topic logs ⇒ SingleOrDefault throw ⇒ the
    # otherwise-valid Erc20Transfer flag is dropped too
    ("poison_two_hub", HUB_ADDRESS, "0", "0x01", [
        (HUB_ADDRESS, [CRC_HUB_TRANSFER_TOPIC, topic_addr(USER1), topic_addr(USER2)], hex256(1)),
        (HUB_ADDRESS, [CRC_HUB_TRANSFER_TOPIC, topic_addr(USER2), topic_addr(USER1)], hex256(2)),
        (TOKEN1, [TRANSFER_TOPIC, topic_addr(USER1), topic_addr(USER2)], hex256(3)),
    ], ["Unknown"]),
    # --- denser CRC activity so the analytics views are non-trivial ---
    # USER2 signs up with TOKEN2
    ("signup2", HUB_ADDRESS, "0", "0x01", [
        (HUB_ADDRESS, [CRC_SIGNUP_TOPIC, topic_addr(USER2)], topic_addr(TOKEN2)),
        (HUB_ADDRESS, [CRC_TRUST_TOPIC, topic_addr(USER2), topic_addr(USER2)], hex256(100)),
        (TOKEN2, [TRANSFER_TOPIC, topic_addr(EMPTY_ADDRESS), topic_addr(USER2)], hex256(MINT)),
    ], ["Erc20Transfer", "CrcSignup", "CrcTrust"]),
    # later update of the trust_pos edge (USER1 → canSendTo USER2): 50 → 80
    ("trust_update", HUB_ADDRESS, "0", "0x01", [
        (HUB_ADDRESS, [CRC_TRUST_TOPIC, topic_addr(USER2), topic_addr(USER1)], hex256(80)),
    ], ["CrcTrust"]),
    # reverse trust edge (USER2 → canSendTo USER1), limit 100
    ("trust_back", HUB_ADDRESS, "0", "0x01", [
        (HUB_ADDRESS, [CRC_TRUST_TOPIC, topic_addr(USER1), topic_addr(USER2)], hex256(100)),
    ], ["CrcTrust"]),
    # org as trust receiver (USER1's tokens accepted by ORG1, limit 60):
    # exercises the capacity graph's can_send_to_is_orga branch, where
    # the edge capacity is the holder's FULL balance (0.0.64.sql:919-938
    # orga short-circuit), not the limit-clamped ladder
    ("trust_org", HUB_ADDRESS, "0", "0x01", [
        (HUB_ADDRESS, [CRC_TRUST_TOPIC, topic_addr(ORG1), topic_addr(USER1)], hex256(60)),
    ], ["CrcTrust"]),
    # a CRC token transfer USER1 → USER2 of 5e18 on TOKEN1
    ("transfer_crc", TOKEN1, "0", "0xabcdef", [
        (TOKEN1, [TRANSFER_TOPIC, topic_addr(USER1), topic_addr(USER2)], hex256(5 * 10**18)),
    ], ["Erc20Transfer"]),
    # non-CRC (TOKEN3 has no signup) transfers for the erc20 balances
    # view: both endpoints signed up → reference double-counts it;
    # then only one endpoint signed up
    ("transfer_noncrc_both", TOKEN3, "0", "0xabcdef", [
        (TOKEN3, [TRANSFER_TOPIC, topic_addr(USER1), topic_addr(USER2)], hex256(9 * 10**17)),
    ], ["Erc20Transfer"]),
    ("transfer_noncrc_one", TOKEN3, "0", "0xabcdef", [
        (TOKEN3, [TRANSFER_TOPIC, topic_addr(USER1), topic_addr(DEST1)], hex256(10**17)),
    ], ["Erc20Transfer"]),
]


def tx_hash(case_id: str) -> str:
    return "0x" + case_id.encode().hex().ljust(64, "0")


def build_raw_tables(spark: SparkSession) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(blocks, transactions, logs) — 3 txs per block, timestamps 5 s
    apart from a fixed epoch, plus one empty block."""
    blocks, txs, logs = [], [], []
    base_ts = 1_650_000_000
    per_block = 3
    n_blocks = (len(CASES) + per_block - 1) // per_block
    for b in range(n_blocks):
        number = 12_529_458 + b
        bhash = "0x" + f"b{b:063x}"
        case_slice = CASES[b * per_block : (b + 1) * per_block]
        blocks.append((number, bhash, base_ts + 5 * b, len(case_slice)))
        for i, (cid, to, value, inp, lgs, _exp) in enumerate(case_slice):
            h = tx_hash(cid)
            txs.append((number, bhash, h, i, addr(0x900 + b * per_block + i), to, value, inp, "1", "0"))
            for li, (laddr, topics, data) in enumerate(lgs):
                logs.append((h, bhash, li, laddr, topics, data))
    blocks.append((12_529_458 + n_blocks, "0x" + f"b{n_blocks:063x}", base_ts + 5 * n_blocks, 0))
    return (
        spark.createDataFrame(blocks, RAW_BLOCK_SCHEMA),
        spark.createDataFrame(txs, RAW_TRANSACTION_SCHEMA),
        spark.createDataFrame(logs, RAW_LOG_SCHEMA),
    )


EXPECTED = {tx_hash(cid): exp for cid, _to, _v, _i, _lgs, exp in CASES}
