"""Transaction classification — the 7 predicates of
`DetailExtractors/TransactionClassifier.cs`, re-expressed as Catalyst
column expressions over a `logs` array<struct> column.

Semantics ported exactly (file:line cites are /root/reference):

- C1 Erc20Transfer  — any log with Transfer topic and exactly 3
  topics (TransactionClassifier.cs:241-275).
- C2 CrcSignup      — ≥3 logs; exactly one Signup log from the hub
  with 2 topics; exactly one valid self-Trust log (canSendTo == user
  == signup user, 0 ≤ limit ≤ 100); exactly one Transfer log minting
  exactly 50e18 from the zero address to the user on the signup token
  (:25-126).
- C3 CrcOrganisationSignup — any OrgSignup log from hub with 2 topics
  (:128-155).
- C4 CrcHubTransfer — exactly one HubTransfer-topic log, from hub,
  3 topics, plus ≥1 Transfer log (:157-198).
- C5 CrcTrust       — any Trust log from hub with 3 topics and
  0 ≤ limit ≤ 100 (:200-239).
- C6 SafeEthTransfer — input starts with 0x6a761202; ABI-decoded
  `data` empty and `operation` == 0; exactly one ExecutionSuccess log
  (:277-337). Pure hex slicing — no UDF needed.
- C7 EoaEthTransfer — value > 0, zero logs, input == "0x", to not
  null (:339-375).

Poisoning: the reference classifies inside try/catch — a
`SingleOrDefault` over ≥2 matching logs, or a malformed safe-transfer
ABI payload, throws and the WHOLE transaction collapses to Unknown
(:377-444). That is replicated as the `_poisoned` predicate; when it
fires, every flag is dropped and classification == ["Unknown"].
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from blockchain_indexer_spark.functions.hex import (
    hex_slot,
    hex_slot_address,
    hex_to_decimal,
    strip_topic_address,
)
from blockchain_indexer_spark.schemas import (
    ALL_CLASS_LABELS,
    CLASS_CRC_HUB_TRANSFER,
    CLASS_CRC_ORGANISATION_SIGNUP,
    CLASS_CRC_SIGNUP,
    CLASS_CRC_TRUST,
    CLASS_EOA_ETH_TRANSFER,
    CLASS_ERC20_TRANSFER,
    CLASS_SAFE_ETH_TRANSFER,
    CLASS_UNKNOWN,
    CRC_HUB_TRANSFER_TOPIC,
    CRC_ORGANISATION_SIGNUP_TOPIC,
    CRC_SIGNUP_MINT_WEI,
    CRC_SIGNUP_TOPIC,
    CRC_TRUST_TOPIC,
    EMPTY_ADDRESS,
    EXEC_TRANSACTION_METHOD_ID,
    EXECUTION_SUCCESS_TOPIC,
    HUB_ADDRESS,
    TRANSFER_TOPIC,
)

# Log predicates read the PARSED log struct (`_lp`, built once per log
# in classify's parse() below) — never the raw topic/data strings, so
# the hex decode is derived exactly once per log.


def parsed_erc20_transfer_p(l: Column) -> Column:
    """Valid Transfer log (TransactionClassifier.cs:241-275 — no
    address restriction, exactly 3 topics)."""
    return l["has_transfer"] & (l["n_topics"] == 3)


def parsed_crc_trust_p(l: Column, hub: str) -> Column:
    """Valid Trust log (TransactionClassifier.cs:200-239 — from the
    hub, 3 topics, 0 <= limit <= 100)."""
    d = l["data_dec"]
    return (
        l["has_trust"]
        & (l["address"] == hub)
        & (l["n_topics"] == 3)
        & d.isNotNull()
        & (d >= 0)
        & (d <= 100)
    )


def parsed_org_signup_p(l: Column, hub: str) -> Column:
    """Valid OrganizationSignup log (TransactionClassifier.cs:128-155
    — from the hub, 2 topics)."""
    return l["has_org"] & (l["address"] == hub) & (l["n_topics"] == 2)




_STAGE_CACHE: dict[tuple[str, str], tuple] = {}


def classify(df: DataFrame, hub: str = HUB_ADDRESS) -> DataFrame:
    """Append per-class boolean flags, extraction payloads and the
    `classification` label array to a TX_WITH_LOGS_SCHEMA DataFrame.

    Projections only over the scan; no shuffle, no UDF.

    Perf note: every log is parsed ONCE up front (one `transform`
    building typed fields: topic flags, decoded data, stripped
    addresses), and all predicates run over the parsed structs.
    Letting each `exists`/`filter` re-derive hex decodes inline
    multiplies the regex+conv work ~8x per log and blows the codegen
    method size — measured ~5x slower at sf0.1.

    The classifier is a DAG of named stages (_classify_stages): every
    intermediate with more than one consumer — the 5 filtered log
    arrays, their sizes and first elements, the ABI checks, the signup
    stages, `poisoned` — is a temp column computed once in an earlier
    `withColumns` and referenced by name, and the temps are dropped at
    the end. Built as one nested Column tree instead, Catalyst got a
    copy of each shared subtree per use: a 184 KB analyzed plan whose
    5 log filters appeared over 130 times in the optimized plan,
    re-analyzed and re-optimized every micro-batch (0.8-1.0 s in
    classify() plus 0.6-0.8 s in the optimizer at any data size, on a
    4-core x86-64 VM). Staged, the analyzed plan is 10 KB and the two
    steps take ~0.15 s and ~0.1 s: CollapseProject never inlines a
    non-cheap expression with more than one consumer, so each filter
    stays computed once.

    The stages are built from unresolved F.col references only, so
    they are DataFrame-independent and cached per (session, hub).
    """
    key = (df.sparkSession.sparkContext.applicationId, hub)
    if key not in _STAGE_CACHE:
        _STAGE_CACHE[key] = _classify_stages(hub)
    stages, temps = _STAGE_CACHE[key]
    for stage in stages:
        df = df.withColumns(stage)
    return df.drop(*temps)


def _classify_stages(hub: str) -> tuple[list[dict[str, Column]], list[str]]:
    """(ordered withColumns stages, temp columns to drop) — see
    classify(). A stage reads input columns and earlier stages' columns
    only."""

    def parse(l: Column) -> Column:
        return F.struct(
            l["address"].alias("address"),
            l["data"].alias("data"),
            F.size(l["topics"]).alias("n_topics"),
            hex_to_decimal(l["data"]).alias("data_dec"),
            strip_topic_address(l["data"]).alias("data_addr"),
            strip_topic_address(F.get(l["topics"], 1)).alias("t1"),
            strip_topic_address(F.get(l["topics"], 2)).alias("t2"),
            F.array_contains(l["topics"], TRANSFER_TOPIC).alias("has_transfer"),
            F.array_contains(l["topics"], CRC_TRUST_TOPIC).alias("has_trust"),
            F.array_contains(l["topics"], CRC_SIGNUP_TOPIC).alias("has_signup"),
            F.array_contains(l["topics"], CRC_ORGANISATION_SIGNUP_TOPIC).alias("has_org"),
            F.array_contains(l["topics"], CRC_HUB_TRANSFER_TOPIC).alias("has_hub"),
            F.array_contains(l["topics"], EXECUTION_SUCCESS_TOPIC).alias("has_exec"),
        )

    temps: list[str] = []

    def stage(**cols: Column) -> dict[str, Column]:
        named = {f"_cls_{k}": v for k, v in cols.items()}
        temps.extend(named)
        return named

    def c(name: str) -> Column:
        return F.col(f"_cls_{name}")

    def _trust_p(l: Column) -> Column:
        return parsed_crc_trust_p(l, hub)

    LOGS = F.col("_lp")
    _erc20_p = parsed_erc20_transfer_p
    log_kinds = ("signup", "trust", "transfer", "ht", "exec")

    # --- 1: one pass per distinct log filter / exists; ABI head -------
    s1 = stage(
        n_logs=F.size(F.col("logs")),
        # C1 / C5 / C3: simple exists() predicates
        is_erc20=F.exists(LOGS, _erc20_p),
        is_trust=F.exists(LOGS, _trust_p),
        is_org=F.exists(LOGS, lambda l: parsed_org_signup_p(l, hub)),
        signup_logs=F.filter(LOGS, lambda l: l["has_signup"]),
        trust_logs=F.filter(LOGS, _trust_p),
        transfer_logs=F.filter(LOGS, _erc20_p),
        ht_logs=F.filter(LOGS, lambda l: l["has_hub"]),
        exec_logs=F.filter(LOGS, lambda l: l["has_exec"]),
        # C6: safe eth transfer, ABI via hex slicing (:277-337)
        has_method=F.coalesce(F.col("input"), F.lit("")).startswith(
            EXEC_TRANSACTION_METHOD_ID
        ),
        raw_offset=hex_to_decimal(F.concat(F.lit("0x"), hex_slot(F.col("input"), 2))),
        operation_zero=(
            hex_to_decimal(F.concat(F.lit("0x"), hex_slot(F.col("input"), 3))) == 0
        ),
    )

    # --- 2: sizes and first matches; the gated ABI data offset --------
    # The data length word sits at input[2 + 8 + offset*2 .. +64].
    # An adversarial offset word anywhere in [2^31, 1e38) would throw
    # under ANSI mode — CAST_OVERFLOW on the int position, or decimal
    # overflow on offset*2 near the decimal(38,0) ceiling — killing
    # the whole batch where the reference's DecodeFunctionInput throw
    # is caught into Unknown (:439-443). The magnitude gate NULLs any
    # offset that could not possibly address a real input string, so
    # the arithmetic of stages 3-4 never sees an ungated value, and
    # such txs fail decode_ok and poison to Unknown exactly like the
    # reference.
    s2 = stage(
        **{f"n_{k}": F.size(c(f"{k}_logs")) for k in log_kinds},
        **{f"{k}_log": F.get(c(f"{k}_logs"), 0) for k in ("signup", "trust", "transfer", "ht")},
        data_offset=F.when(
            c("raw_offset") < F.lit(1_000_000_000).cast("decimal(38,0)"), c("raw_offset")
        ),
    )

    # --- 3-4: C2 signup staged like the reference (:25-126); ABI decode
    s_log, t_log, tr_log, h_log = (c(f"{k}_log") for k in ("signup", "trust", "transfer", "ht"))
    signup_user = s_log["t1"]
    signup_token = s_log["data_addr"]
    data_offset = c("data_offset")
    s3 = stage(
        signup_stage1=(
            (c("n_logs") >= 3)
            & (c("n_signup") == 1)
            & (s_log["address"] == hub)
            & (s_log["n_topics"] == 2)
        ),
        data_len_pos=(F.lit(2 + 8).cast("decimal(38,0)") + data_offset * 2 + 1).try_cast("int"),
    )
    data_len_word = F.substring(F.col("input"), F.coalesce(c("data_len_pos"), F.lit(1)), 64)
    s4 = stage(
        signup_trust_ok=(
            c("signup_stage1")
            & (c("n_trust") == 1)
            & (t_log["t1"] == t_log["t2"])
            & (t_log["t1"] == signup_user)
        ),
        # 0x + 8 method chars + 10 * 64 head chars
        decode_ok=(
            (F.length(F.col("input")) >= 2 + 8 + 640)
            & data_offset.isNotNull()
            & c("data_len_pos").isNotNull()
            & (
                F.length(F.col("input")).cast("decimal(38,0)")
                >= F.lit(2 + 8).cast("decimal(38,0)") + data_offset * 2 + 64
            )
        ),
        data_empty=hex_to_decimal(F.concat(F.lit("0x"), data_len_word)) == 0,
    )

    # --- 5: poisoning — each SingleOrDefault / decode throw (:377-444)
    safe_ok = c("has_method") & c("decode_ok") & c("data_empty") & c("operation_zero")
    s5 = stage(
        poisoned=(
            ((c("n_logs") >= 3) & (c("n_signup") >= 2))
            | (c("signup_stage1") & (c("n_trust") >= 2))
            | (c("signup_trust_ok") & (c("n_transfer") >= 2))
            | (c("n_ht") >= 2)  # :166
            | (c("has_method") & ~c("decode_ok"))  # DecodeFunctionInput throw
            | (safe_ok & (c("n_exec") >= 2))
        )
    )

    # try_cast: a malformed/out-of-range wei string must classify as
    # not-EOA (reference: a parse failure lands the tx in Unknown via
    # the catch, TransactionClassifier.cs:439-443), never abort the
    # job with an ANSI CAST_OVERFLOW
    tx_value = F.col("value").try_cast("decimal(38,0)")
    flags = {
        CLASS_ERC20_TRANSFER: c("is_erc20"),
        CLASS_CRC_SIGNUP: (
            c("signup_trust_ok")
            & (c("n_transfer") == 1)
            & (tr_log["address"] == signup_token)
            & (tr_log["t1"] == EMPTY_ADDRESS)
            & (tr_log["t2"] == signup_user)
            & (tr_log["data_dec"] == F.lit(CRC_SIGNUP_MINT_WEI).cast("decimal(38,0)"))
        ),
        CLASS_CRC_ORGANISATION_SIGNUP: c("is_org"),
        CLASS_CRC_HUB_TRANSFER: (
            (c("n_ht") == 1)
            & (h_log["address"] == hub)
            & (h_log["n_topics"] == 3)
            & c("is_erc20")  # ":197 hub transfers always come with ≥1 ERC-20 transfer"
        ),
        CLASS_CRC_TRUST: c("is_trust"),
        CLASS_EOA_ETH_TRANSFER: (
            (tx_value > 0)
            & (c("n_logs") == 0)
            & (F.col("input") == "0x")
            & F.col("to").isNotNull()
        ),
        # to.isNotNull: the reference dereferences transaction.To
        # (:311) — a NULL `to` (contract creation) throws into Unknown
        CLASS_SAFE_ETH_TRANSFER: (
            safe_ok & (c("n_exec") == 1) & F.col("to").isNotNull()
        ),
    }
    flag_cols = {
        f"is_{label}": F.when(c("poisoned"), F.lit(False)).otherwise(flags[label])
        for label in ALL_CLASS_LABELS
    }
    label_array = F.filter(
        F.array(
            *[
                F.when(F.col(f"is_{label}"), F.lit(label)).otherwise(F.lit(None))
                for label in ALL_CLASS_LABELS
            ]
        ),
        lambda x: x.isNotNull(),
    )
    # Extraction payloads reused by operators.extract (computed once,
    # pruned by Catalyst if unused downstream).
    payloads = {
        "classification": F.when(
            F.size(label_array) == 0, F.array(F.lit(CLASS_UNKNOWN))
        ).otherwise(label_array),
        "_signup_user": F.when(F.col(f"is_{CLASS_CRC_SIGNUP}"), signup_user),
        "_signup_token": F.when(F.col(f"is_{CLASS_CRC_SIGNUP}"), signup_token),
        "_hub_from": F.when(F.col(f"is_{CLASS_CRC_HUB_TRANSFER}"), h_log["t1"]),
        "_hub_to": F.when(F.col(f"is_{CLASS_CRC_HUB_TRANSFER}"), h_log["t2"]),
        "_hub_value_hex": F.when(F.col(f"is_{CLASS_CRC_HUB_TRANSFER}"), h_log["data"]),
        "_safe_to": F.when(
            F.col(f"is_{CLASS_SAFE_ETH_TRANSFER}"), hex_slot_address(F.col("input"), 0)
        ),
        "_safe_value_hex": F.when(
            F.col(f"is_{CLASS_SAFE_ETH_TRANSFER}"),
            F.concat(F.lit("0x"), hex_slot(F.col("input"), 1)),
        ),
    }
    stages = [
        {"_lp": F.transform(F.col("logs"), parse)},
        s1, s2, s3, s4, s5, flag_cols, payloads,
    ]
    return stages, temps
