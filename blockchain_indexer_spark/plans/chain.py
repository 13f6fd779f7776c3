"""Blockchain-domain queries for the driver correctness gate.

The harness tables have no chain data, so each query first derives a
deterministic synthetic chain FROM the events table — one signup tx
per distinct user plus one tx per event (purchase → CRC transfer,
view → non-CRC transfer, click → EOA eth transfer, signup → trust
event, error → unknown) — then ingests it through the engine's REAL
pipeline, the production IngestPipeline.process_batch (promote →
classify → extract → appends → cache refresh), once per session and
sf_dir, and runs operators.views over the sink's tables.

The DuckDB oracle derives the EXPECTED outputs directly from events
(never simulating logs), so the classifier/extractor/view stack is
validated against an independent computation, not a SQL port of
itself.

Derivation contract (identical on both sides):
- addr(u)    = '0x' || %040x of (u+1)
- token(u)   = '0x' || %040x of (u+1 + 2^24)      (CRC tokens)
- nctoken(u) = '0x' || %040x of (u+1 + 2^25)      (non-CRC tokens)
- org(u)     = '0x' || %040x of (u+1 + 2^26)      (organisations)
- init(u)    = '0x' || %040x of (u+1 + 2^27)      (safe initiators)
- cents(v)   = CAST(round(v*100) AS BIGINT)        (exact: v is 2dp)
- signup tx of user u: block 12_529_458+u (Signup + self-Trust(100) +
  50e18 mint on token(u))
- org signup tx for users with u%5==0: block 11_000_000+u, org(u)
- event tx of event e: block 12_600_000 + e/10, index e%10
- purchase → CrcHubTransfer: HubTransfer(addr(u)→addr(u+8), cents)
  log + the CRC token hop on token(u)
- view → non-CRC transfer addr(u)→addr(u+4) on nctoken(u)
- click → EOA eth transfer addr(u)→addr(u+2) of cents wei
- signup → trust event addr(u+14) may not be a signed-up user, so
  the current-trust both-endpoints join has real negatives
- error, odd event_id → safe eth transfer: execTransaction calldata
  (to=addr(u+22), value=cents, empty data, op 0) from safe addr(u),
  initiator init(u), one ExecutionSuccess log; even → Unknown
"""

from __future__ import annotations

import atexit
import datetime as _dt
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from blockchain_indexer_spark.operators.views import (
    crc_alive_accounts,
    crc_all_signups,
    crc_capacity_graph,
    crc_dead_accounts,
    crc_hub_transfers_per_day,
    crc_ledger,
    crc_safe_accepted_crc,
    crc_safe_timeline,
    crc_token_transfer,
    crc_total_minted_amount,
    erc20_balances_by_safe_and_token,
)
from blockchain_indexer_spark.plans.registry import register
from blockchain_indexer_spark.schemas import (
    ADDRESS_EMPTY_BYTES_PREFIX,
    CRC_HUB_TRANSFER_TOPIC,
    CRC_ORGANISATION_SIGNUP_TOPIC,
    CRC_SIGNUP_MINT_WEI,
    CRC_SIGNUP_TOPIC,
    CRC_TRUST_TOPIC,
    EMPTY_ADDRESS,
    EMPTY_UINT256,
    EXEC_TRANSACTION_METHOD_ID,
    EXECUTION_SUCCESS_TOPIC,
    HUB_ADDRESS,
    LOG_STRUCT,
    TRANSFER_TOPIC,
)
from blockchain_indexer_spark.sources.parquet import load_table, spread
from blockchain_indexer_spark.streaming.runner import (
    CACHE_BALANCES,
    CACHE_TRUST,
    EVENT_TABLES,
    SINK_READ_SCHEMAS,
    IngestPipeline,
)

MINT_HEX = "0x" + format(int(CRC_SIGNUP_MINT_WEI), "064x")
ADDR_SPACE, TOKEN_SPACE, NCTOKEN_SPACE = 1, 1 + 2**24, 1 + 2**25
ORG_SPACE, INIT_SPACE = 1 + 2**26, 1 + 2**27
SIGNUP_BLOCK_BASE, EVENT_BLOCK_BASE, EPOCH = 12_529_458, 12_600_000, 1_600_000_000
ORG_BLOCK_BASE = 11_000_000
# execTransaction head slots 2..9 + empty data/signatures tail words:
# data offset 320 (10 slots), operation 0, 5 zero gas/address slots,
# signatures offset 352, then len(data)=0 and len(signatures)=0
_SAFE_INPUT_CONST = (
    format(320, "064x") + "0" * 64 * 6 + format(352, "064x") + "0" * 128
)


def _addr(offset: int, col):
    return F.concat(F.lit("0x"), F.format_string("%040x", col + F.lit(offset)))


def _topic(offset: int, col):
    return F.concat(F.lit(ADDRESS_EMPTY_BYTES_PREFIX), F.format_string("%040x", col + F.lit(offset)))


def _hex256(col):
    return F.concat(F.lit("0x"), F.format_string("%064x", col))


def _log(idx, address, topics, data):
    return F.struct(
        F.lit(idx).cast("int").alias("log_index"),
        address.alias("address"),
        topics.alias("topics"),
        data.alias("data"),
    )


def derive_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → TX_WITH_LOGS rows (signup txs + one tx per event).

    Events missing event_id, user_id, or value are dropped up front:
    every derived address, tx hash, and log payload is a function of
    those columns, and Spark's format_string renders a NULL argument
    as the literal string "null" where SQL would propagate NULL
    (round-6 NULL sweep) — there is no meaningful transaction for an
    unknown user or amount. The oracle CTE (_D's evsrc) mirrors this
    filter exactly."""
    # single-split scan + the classifier's large expression tree =
    # one-core execution without the spread
    ev = spread(load_table(spark, sf_dir, "events"), "event_id").filter(
        F.col("event_id").isNotNull()
        & F.col("user_id").isNotNull()
        & F.col("value").isNotNull()
    )
    cents = F.round(F.col("value") * 100).cast("bigint")
    u = F.col("user_id")

    users = ev.select("user_id").distinct()
    su = users.select(
        (F.lit(SIGNUP_BLOCK_BASE) + F.col("user_id")).alias("block_number"),
        F.concat(F.lit("0xb"), F.format_string("%063x", F.col("user_id"))).alias("block_hash"),
        F.concat(F.lit("0x"), F.md5(F.concat(F.lit("signup-"), F.col("user_id").cast("string")))).alias("hash"),
        F.lit(0).cast("int").alias("index"),
        _addr(ADDR_SPACE, F.col("user_id")).alias("from"),
        F.lit(HUB_ADDRESS).alias("to"),
        F.lit("0").alias("value"),
        F.lit("0x01").alias("input"),
        F.lit("1").alias("nonce"),
        F.lit("0").alias("type"),
        F.array(
            _log(
                0,
                F.lit(HUB_ADDRESS),
                F.array(F.lit(CRC_SIGNUP_TOPIC), _topic(ADDR_SPACE, F.col("user_id"))),
                _topic(TOKEN_SPACE, F.col("user_id")),
            ),
            _log(
                1,
                F.lit(HUB_ADDRESS),
                F.array(
                    F.lit(CRC_TRUST_TOPIC),
                    _topic(ADDR_SPACE, F.col("user_id")),
                    _topic(ADDR_SPACE, F.col("user_id")),
                ),
                _hex256(F.lit(100)),
            ),
            _log(
                2,
                _addr(TOKEN_SPACE, F.col("user_id")),
                F.array(
                    F.lit(TRANSFER_TOPIC),
                    F.lit(ADDRESS_EMPTY_BYTES_PREFIX + EMPTY_ADDRESS[2:]),
                    _topic(ADDR_SPACE, F.col("user_id")),
                ),
                F.lit(MINT_HEX),
            ),
        ).alias("logs"),
    )

    # organisation signups: every 5th user also registers an org
    orgs = users.filter(F.col("user_id") % 5 == 0).select(
        (F.lit(ORG_BLOCK_BASE) + F.col("user_id")).alias("block_number"),
        F.concat(F.lit("0xc"), F.format_string("%063x", F.col("user_id"))).alias("block_hash"),
        F.concat(F.lit("0x"), F.md5(F.concat(F.lit("org-"), F.col("user_id").cast("string")))).alias("hash"),
        F.lit(0).cast("int").alias("index"),
        _addr(ADDR_SPACE, F.col("user_id")).alias("from"),
        F.lit(HUB_ADDRESS).alias("to"),
        F.lit("0").alias("value"),
        F.lit("0x01").alias("input"),
        F.lit("1").alias("nonce"),
        F.lit("0").alias("type"),
        F.array(
            _log(
                0,
                F.lit(HUB_ADDRESS),
                F.array(
                    F.lit(CRC_ORGANISATION_SIGNUP_TOPIC),
                    _topic(ORG_SPACE, F.col("user_id")),
                ),
                F.lit(EMPTY_UINT256),
            )
        ).alias("logs"),
    )

    def _transfer_log(idx, token_offset, to_offset):
        return _log(
            idx,
            _addr(token_offset, u),
            F.array(F.lit(TRANSFER_TOPIC), _topic(ADDR_SPACE, u), _topic(to_offset, u)),
            _hex256(cents),
        )

    # purchases are CRC hub transfers: HubTransfer log + the token hop
    hub_logs = F.array(
        _log(
            0,
            F.lit(HUB_ADDRESS),
            F.array(
                F.lit(CRC_HUB_TRANSFER_TOPIC),
                _topic(ADDR_SPACE, u),
                _topic(ADDR_SPACE + 7, u),
            ),
            _hex256(cents),
        ),
        _transfer_log(1, TOKEN_SPACE, ADDR_SPACE + 7),
    )
    transfer_logs = lambda token_offset, to_offset: F.array(  # noqa: E731
        _transfer_log(0, token_offset, to_offset)
    )
    trust_logs = F.array(
        _log(
            0,
            F.lit(HUB_ADDRESS),
            F.array(F.lit(CRC_TRUST_TOPIC), _topic(ADDR_SPACE + 13, u), _topic(ADDR_SPACE, u)),
            _hex256(cents % 101),
        )
    )
    empty_logs = F.array().cast(f"array<{LOG_STRUCT.simpleString()}>")

    et = F.col("event_type")
    # odd-id error events are Gnosis-safe eth transfers (C6); even stay Unknown
    is_safe_tx = (et == "error") & (F.col("event_id") % 2 == 1)
    safe_input = F.concat(
        F.lit(EXEC_TRANSACTION_METHOD_ID),
        F.format_string("%064x", u + F.lit(ADDR_SPACE + 21)),  # to = addr(u+22)
        F.format_string("%064x", cents),
        F.lit(_SAFE_INPUT_CONST),
    )
    safe_logs = F.array(
        _log(
            0,
            _addr(ADDR_SPACE, u),
            F.array(F.lit(EXECUTION_SUCCESS_TOPIC)),
            F.lit(EMPTY_UINT256),
        )
    )
    evtx = ev.select(
        (F.lit(EVENT_BLOCK_BASE) + (F.col("event_id") / 10).cast("long")).alias("block_number"),
        F.concat(
            F.lit("0xe"), F.format_string("%063x", (F.col("event_id") / 10).cast("long"))
        ).alias("block_hash"),
        F.concat(F.lit("0x"), F.md5(F.concat(F.lit("tx-"), F.col("event_id").cast("string")))).alias("hash"),
        (F.col("event_id") % 10).cast("int").alias("index"),
        F.when(is_safe_tx, _addr(INIT_SPACE, u)).otherwise(_addr(ADDR_SPACE, u)).alias("from"),
        F.when(et == "click", _addr(ADDR_SPACE + 1, u))
        .when(is_safe_tx, _addr(ADDR_SPACE, u))  # the user's own safe executes
        .otherwise(_addr(ADDR_SPACE + 99, u))
        .alias("to"),
        F.when(et == "click", cents.cast("string")).otherwise(F.lit("0")).alias("value"),
        F.when(et == "click", F.lit("0x"))
        .when(is_safe_tx, safe_input)
        .when(et == "error", F.lit("0xdead"))
        .otherwise(F.lit("0x01"))
        .alias("input"),
        F.lit("1").alias("nonce"),
        F.lit("0").alias("type"),
        F.when(et == "purchase", hub_logs)
        .when(et == "view", transfer_logs(NCTOKEN_SPACE, ADDR_SPACE + 3))
        .when(et == "signup", trust_logs)
        .when(is_safe_tx, safe_logs)
        .otherwise(empty_logs)
        .alias("logs"),
    )

    chain = su.unionByName(orgs).unionByName(evtx)
    return chain.withColumn(
        "timestamp", F.timestamp_seconds(F.lit(EPOCH) + F.col("block_number"))
    )


def chain_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The derived chain as FEED_SCHEMA rows (streaming.runner), one per
    tx, each carrying its block's metadata and tx count — the batch form
    of what the live source delivers."""
    return derive_chain(spark, sf_dir).select(
        "block_number",
        "block_hash",
        F.unix_timestamp("timestamp").alias("block_timestamp"),
        F.count("*").over(Window.partitionBy("block_number")).cast("int").alias(
            "total_transaction_count"
        ),
        "hash", "index", "from", "to", "value", "input", "nonce", "type", "logs",
    )


def _backfill(spark: SparkSession, sf_dir: str, out_dir: str) -> IngestPipeline:
    """Ingest sf_dir's derived chain into a sink at out_dir as one batch."""
    pipe = IngestPipeline(spark, out_dir)
    pipe.process_batch(chain_feed(spark, sf_dir))
    return pipe


def _sink_table(pipe: IngestPipeline, name: str) -> DataFrame:
    """A sink table without its partition column; a table the chain
    never produced rows for reads as empty."""
    df = pipe.read_final(name)
    if df is None:
        df = pipe.spark.createDataFrame([], SINK_READ_SCHEMAS[name])
    return df.drop("block_group")


# The reference never re-runs the indexer per query: ingest promotes
# event tables once and every analytics view reads those tables
# (ImportProcedure.cs:17-27, 0.0.64.sql cache tables 280-327). Here the
# derived chain is backfilled once per (session, sf_dir) into a
# temporary sink through the production IngestPipeline.process_batch,
# and every chain query reads the sink.
_SINKS: dict[tuple[str, str], IngestPipeline] = {}
_PIPELINE_CACHE: dict[tuple[str, str], dict[str, DataFrame]] = {}


def _sink(spark: SparkSession, sf_dir: str) -> IngestPipeline:
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _SINKS:
        out = tempfile.mkdtemp(prefix="chain_sink_")
        atexit.register(shutil.rmtree, out, True)
        _SINKS[key] = _backfill(spark, sf_dir, out)
    return _SINKS[key]


def _pipeline_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """The 8 final event tables of the sf_dir's sink."""
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _PIPELINE_CACHE:
        pipe = _sink(spark, sf_dir)
        _PIPELINE_CACHE[key] = {name: _sink_table(pipe, name) for name in EVENT_TABLES}
    return _PIPELINE_CACHE[key]


_VIEW_CACHE: dict[tuple[str, str], dict[str, DataFrame]] = {}


def _derived_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Signups, current trust, ledger and balances, shared by 8+ chain
    queries. Trust and balances are the sink's refreshed twins of the
    reference's cache tables (cache_crc_current_trust 0.0.64.sql:316-327,
    cache_crc_balances_by_safe_and_token :280-289). Signups and ledger
    are localCheckpointed: each query's N branches then analyze a
    one-node LogicalRDD instead of re-deriving them (~6 s of plan
    construction + analysis per un-shared rebuild, measured sf0.1).
    """
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _VIEW_CACHE:
        t = _pipeline_tables(spark, sf_dir)
        pipe = _sink(spark, sf_dir)
        _VIEW_CACHE[key] = {
            "signups": crc_all_signups(
                t["crc_signup"], t["crc_organisation_signup"]
            ).localCheckpoint(eager=True),
            "trust": _sink_table(pipe, CACHE_TRUST),
            "ledger": crc_ledger(t["erc20_transfer"], t["crc_signup"]).localCheckpoint(
                eager=True
            ),
            "balances": _sink_table(pipe, CACHE_BALANCES),
        }
    return _VIEW_CACHE[key]


def ingest_spine(spark: SparkSession, sf_dir: str) -> int:
    """Backfill sf_dir's derived chain into a fresh sink through
    IngestPipeline.process_batch (promote → classify → extract → 9
    appends → cache refresh) and return the number of txs imported.

    This is the ingest-throughput measurement bench.py reports (the
    reference's budget: 2000-tx batch / 10 s serial flush ≈ 200 tx/s,
    Settings.cs:170,179-180).
    """
    out = tempfile.mkdtemp(prefix="ingest_spine_")
    try:
        return _backfill(spark, sf_dir, out).read_final("transaction").count()
    finally:
        shutil.rmtree(out, ignore_errors=True)


# Shared oracle derivation CTEs (DuckDB SQL). The evsrc filter mirrors
# derive_chain's: an event missing its id, user, or value cannot form a
# transaction (the addresses, tx hash, and log data are functions of
# those columns — Spark's format_string would print a literal "null"
# where SQL propagates NULL; round-6 NULL sweep).
_D = """
    WITH evsrc AS (
      SELECT * FROM events
      WHERE event_id IS NOT NULL AND user_id IS NOT NULL
        AND value IS NOT NULL
    ),
    users AS (SELECT DISTINCT user_id FROM evsrc),
    ev AS (SELECT *, CAST(round(value*100) AS BIGINT) AS cents FROM evsrc)
"""


@register(
    "chain_classification_counts",
    oracle=_D
    + """
    , labels AS (
        SELECT 'Erc20Transfer,CrcSignup,CrcTrust' AS label FROM users
        UNION ALL
        SELECT 'CrcOrganisationSignup' FROM users WHERE user_id % 5 = 0
        UNION ALL
        SELECT CASE event_type
                   WHEN 'purchase' THEN 'Erc20Transfer,CrcHubTransfer'
                   WHEN 'view' THEN 'Erc20Transfer'
                   -- C7 requires tx.value > 0 (TransactionClassifier.cs:
                   -- 339-375): a zero-cents click stays Unknown
                   WHEN 'click' THEN CASE WHEN cents > 0 THEN 'EoaEthTransfer'
                                          ELSE 'Unknown' END
                   WHEN 'signup' THEN 'CrcTrust'
                   ELSE CASE WHEN event_id % 2 = 1 THEN 'SafeEthTransfer'
                             ELSE 'Unknown' END
               END
        FROM ev
    )
    SELECT label, COUNT(*) AS n FROM labels GROUP BY label
    """,
    doc="End-to-end classifier check: the derived chain runs through "
    "operators.classify; the oracle knows each tx's class by "
    "construction (C1-C8, TransactionClassifier.cs semantics).",
    survey_refs=("C1", "C2", "C3", "C4", "C5", "C6", "C7", "C8"),
)
def chain_classification_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    transactions = _pipeline_tables(spark, sf_dir)["transaction"]
    return transactions.groupBy(
        F.array_join("classification", ",").alias("label")
    ).agg(F.count("*").alias("n"))


@register(
    "chain_crc_balances",
    oracle=_D
    + """
    , ledger AS (
        SELECT '0x' || printf('%040x', user_id + 1) AS safe_address,
               '0x' || printf('%040x', user_id + 1 + 16777216) AS token,
               CAST('50000000000000000000' AS HUGEINT) AS v
        FROM users
        UNION ALL
        -- mint debit side: the reference ledger (0.0.64.sql:756-767)
        -- does NOT exclude the zero address, so each mint also books
        -- -50e18 against 0x000...0
        SELECT '0x0000000000000000000000000000000000000000',
               '0x' || printf('%040x', user_id + 1 + 16777216),
               -CAST('50000000000000000000' AS HUGEINT)
        FROM users
        UNION ALL
        SELECT '0x' || printf('%040x', user_id + 1),
               '0x' || printf('%040x', user_id + 1 + 16777216),
               -CAST(cents AS HUGEINT)
        FROM ev WHERE event_type = 'purchase'
        UNION ALL
        SELECT '0x' || printf('%040x', user_id + 8),
               '0x' || printf('%040x', user_id + 1 + 16777216),
               CAST(cents AS HUGEINT)
        FROM ev WHERE event_type = 'purchase'
    )
    SELECT safe_address, token, CAST(SUM(v) AS VARCHAR) AS balance
    FROM ledger GROUP BY safe_address, token
    """,
    doc="Full spine: derive → classify → extract erc20 → ledger "
    "(double-entry) → balances (0.0.64.sql:743-805); oracle computes "
    "balances directly from events. uint256 values compared as exact "
    "decimal strings.",
    survey_refs=("E1", "A1", "A3", "J1", "J3"),
)
def chain_crc_balances(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _derived_views(spark, sf_dir)["balances"].select(
        "safe_address", "token", F.col("balance").cast("string").alias("balance")
    )


@register(
    "chain_current_trust",
    oracle=_D
    + """
    , trust_events AS (
        -- self-trust from each signup tx
        SELECT '0x' || printf('%040x', user_id + 1) AS address,
               '0x' || printf('%040x', user_id + 1) AS can_send_to,
               CAST(100 AS BIGINT) AS "limit",
               12529458 + user_id AS block_number, 0 AS idx
        FROM users
        UNION ALL
        -- trust events from 'signup'-type events
        SELECT '0x' || printf('%040x', user_id + 1),
               '0x' || printf('%040x', user_id + 14),
               cents % 101,
               12600000 + event_id // 10, CAST(event_id % 10 AS INT)
        FROM ev WHERE event_type = 'signup'
    ), signed AS (SELECT '0x' || printf('%040x', user_id + 1) AS a FROM users)
    SELECT address AS "user", can_send_to, "limit"
    FROM (SELECT t.*, row_number() OVER (PARTITION BY t.address, t.can_send_to
                                         ORDER BY t.block_number DESC, t.idx DESC) AS rn
          FROM trust_events t
          JOIN signed sa ON t.address = sa.a
          JOIN signed sb ON t.can_send_to = sb.a)
    WHERE rn = 1
    """,
    doc="Latest-trust-per-pair through extract + crc_current_trust "
    "(0.0.64.sql:1074-1100): ranking window + double signup semi "
    "join; receiver addr(u+13) creates genuine not-signed-up drops.",
    survey_refs=("E4", "J4", "J9", "W1"),
)
def chain_current_trust(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _derived_views(spark, sf_dir)["trust"].select("user", "can_send_to", "limit")


@register(
    "chain_eth_transfer_stats",
    oracle=_D
    + """
    SELECT COUNT(*) AS n_transfers,
           CAST(SUM(cents) AS BIGINT) AS total_wei
    -- cents > 0: C7 excludes zero-value txs (value>0 predicate)
    FROM ev WHERE event_type = 'click' AND cents > 0
    """,
    doc="EOA eth-transfer extraction (C7/E6) aggregated; click events "
    "become value-bearing 0x-input zero-log txs.",
    survey_refs=("C7", "E6", "A5"),
)
def chain_eth_transfer_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _pipeline_tables(spark, sf_dir)
    return t["eth_transfer"].agg(
        F.count("*").alias("n_transfers"),
        F.sum("value").cast("bigint").alias("total_wei"),
    )


@register(
    "chain_hub_transfers_per_day",
    oracle=_D
    + """
    SELECT CAST(DATE '1970-01-01'
               + CAST((1600000000 + 12600000 + event_id // 10) // 86400 AS INT)
               AS VARCHAR) AS day,
           COUNT(*) AS transfers
    FROM ev WHERE event_type = 'purchase'
    GROUP BY 1
    """,
    doc="Hub-transfer extraction (C4/E3) + per-day tumbling count "
    "(0.0.64.sql:1253-1259); purchases carry a HubTransfer log.",
    survey_refs=("C4", "E3", "A4", "P7"),
)
def chain_hub_transfers_per_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _pipeline_tables(spark, sf_dir)
    per_day = crc_hub_transfers_per_day(t["crc_hub_transfer"])
    return per_day.select(F.col("day").cast("string").alias("day"), "transfers")


@register(
    "chain_safe_eth_transfers",
    oracle=_D
    + """
    SELECT '0x' || printf('%040x', user_id + 1 + 134217728) AS initiator,
           '0x' || printf('%040x', user_id + 1) AS "from",
           '0x' || printf('%040x', user_id + 22) AS "to",
           cents AS value_wei
    FROM ev WHERE event_type = 'error' AND event_id % 2 = 1
    """,
    doc="execTransaction ABI decode (C6/P12) + detail extraction (E7): "
    "to/value recovered from calldata head slots, initiator=tx.from, "
    "from=the safe (tx.to), all lowercase.",
    survey_refs=("C6", "P12", "E7"),
)
def chain_safe_eth_transfers(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _pipeline_tables(spark, sf_dir)
    return t["gnosis_safe_eth_transfer"].select(
        "initiator", "from", "to", F.col("value").cast("bigint").alias("value_wei")
    )


@register(
    "chain_org_signups",
    oracle=_D
    + """
    SELECT '0x' || printf('%040x', user_id + 1 + 67108864) AS organisation,
           CAST(11000000 + user_id AS BIGINT) AS block_number
    FROM users WHERE user_id % 5 = 0
    """,
    doc="Organisation-signup classification (C3) + extraction (E5).",
    survey_refs=("C3", "E5"),
)
def chain_org_signups(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _pipeline_tables(spark, sf_dir)
    return t["crc_organisation_signup"].select("organisation", "block_number")


@register(
    "chain_total_minted",
    oracle=_D
    + """
    SELECT CAST(COUNT(*) * CAST('50000000000000000000' AS HUGEINT) AS VARCHAR)
               AS crc_total_minted_amount
    FROM users
    """,
    doc="Zero-address minting filter (P2) + global scalar sum (A5), "
    "0.0.64.sql:1575-1578; exact uint256 compare via decimal strings.",
    survey_refs=("P2", "A5"),
)
def chain_total_minted(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _pipeline_tables(spark, sf_dir)
    return crc_total_minted_amount(t["erc20_transfer"], t["crc_signup"]).select(
        F.col("crc_total_minted_amount").cast("string").alias("crc_total_minted_amount")
    )


@register(
    "chain_erc20_balances",
    oracle=_D
    + """
    , alls AS (
        SELECT '0x' || printf('%040x', user_id + 1) AS a FROM users
        UNION ALL
        SELECT '0x' || printf('%040x', user_id + 1 + 67108864)
        FROM users WHERE user_id % 5 = 0
    ), tr AS (
        SELECT '0x' || printf('%040x', user_id + 1) AS f,
               '0x' || printf('%040x', user_id + 4) AS t,
               '0x' || printf('%040x', user_id + 1 + 33554432) AS token,
               CAST(cents AS HUGEINT) AS cents
        FROM ev WHERE event_type = 'view'
    ), nct AS (
        SELECT tr.* FROM tr JOIN alls ON alls.a = tr.f OR alls.a = tr.t
    ), led AS (
        SELECT alls.a AS safe_address, nct.token,
               CASE WHEN nct.f = alls.a THEN -nct.cents ELSE nct.cents END AS v
        FROM alls JOIN nct ON alls.a = nct.f OR alls.a = nct.t
    )
    SELECT safe_address, token, CAST(SUM(v) AS VARCHAR) AS balance
    FROM led GROUP BY safe_address, token
    """,
    doc="Non-CRC balances (0.0.64.sql:1584-1637): anti-join against "
    "signup tokens (J7) + the reference's double OR-join multiplicity "
    "+ signed in/out sum (A6). View-type events are the non-CRC "
    "transfers; receiver addr(u+4) is signed up only when user u+3 "
    "exists, so the endpoint-multiplicity path (k=1 vs k=2) is real.",
    survey_refs=("A6", "J7", "J6"),
)
def chain_erc20_balances(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _pipeline_tables(spark, sf_dir)
    return erc20_balances_by_safe_and_token(
        t["erc20_transfer"], t["crc_signup"], t["crc_organisation_signup"]
    ).select("safe_address", "token", F.col("balance").cast("string").alias("balance"))


@register(
    "chain_timeline_counts",
    oracle=_D
    + """
    , u AS (SELECT user_id FROM users),
    t AS (
        SELECT 'CrcSignup' AS type, 'self' AS direction FROM users
        UNION ALL SELECT 'CrcSignup', 'self' FROM users WHERE user_id % 5 = 0
        UNION ALL SELECT 'CrcHubTransfer', 'out' FROM ev WHERE event_type = 'purchase'
        UNION ALL SELECT 'CrcHubTransfer', 'in' FROM ev e
                  JOIN u ON e.user_id + 7 = u.user_id WHERE e.event_type = 'purchase'
        UNION ALL SELECT 'CrcTrust', 'self' FROM users
        UNION ALL SELECT 'CrcTrust', 'in' FROM ev WHERE event_type = 'signup'
        UNION ALL SELECT 'CrcTrust', 'out' FROM ev e
                  JOIN u ON e.user_id + 13 = u.user_id WHERE e.event_type = 'signup'
        UNION ALL SELECT 'CrcMinting', 'in' FROM users
        UNION ALL SELECT 'EthTransfer', 'out' FROM ev
                  WHERE event_type = 'click' AND cents > 0
        UNION ALL SELECT 'EthTransfer', 'in' FROM ev e
                  JOIN u ON e.user_id + 1 = u.user_id
                  WHERE e.event_type = 'click' AND e.cents > 0
        UNION ALL SELECT 'Erc20Transfer', 'out' FROM ev WHERE event_type = 'view'
        UNION ALL SELECT 'Erc20Transfer', 'in' FROM ev e
                  JOIN u ON e.user_id + 3 = u.user_id WHERE e.event_type = 'view'
        UNION ALL SELECT 'GnosisSafeEthTransfer', 'out' FROM ev
                  WHERE event_type = 'error' AND event_id % 2 = 1
        UNION ALL SELECT 'GnosisSafeEthTransfer', 'in' FROM ev e
                  JOIN u ON e.user_id + 21 = u.user_id
                  WHERE e.event_type = 'error' AND e.event_id % 2 = 1
    )
    SELECT type, direction, COUNT(*) AS n FROM t GROUP BY type, direction
    """,
    doc="The 7-branch unified timeline (0.0.64.sql:1397-1557): OR-equi "
    "join rewritten as explode+equi-join (J6), JSON payloads (P9), "
    "UNION ALL of all event classes; the oracle derives each branch's "
    "row multiplicity and direction from events alone.",
    survey_refs=("J6", "P9", "P11"),
)
def chain_timeline_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _pipeline_tables(spark, sf_dir)
    tl = crc_safe_timeline(t, signups=_derived_views(spark, sf_dir)["signups"])
    return tl.groupBy("type", "direction").agg(F.count("*").alias("n"))


@register(
    "chain_accepted_crc",
    oracle=_D
    + """
    , tr AS (
        SELECT '0x' || printf('%040x', user_id + 1) AS safe_address,
               '0x' || printf('%040x', user_id + 1 + 16777216) AS accepted_token,
               '0x' || printf('%040x', user_id + 1) AS accepted_token_owner,
               CAST(100 AS BIGINT) AS "limit",
               CAST(12529458 + user_id AS BIGINT) AS bn, 0 AS idx
        FROM users
        UNION ALL
        SELECT '0x' || printf('%040x', user_id + 14),
               '0x' || printf('%040x', user_id + 1 + 16777216),
               '0x' || printf('%040x', user_id + 1),
               cents % 101,
               CAST(12600000 + event_id // 10 AS BIGINT),
               CAST(event_id % 10 AS INT)
        FROM ev WHERE event_type = 'signup'
    )
    SELECT safe_address, accepted_token, accepted_token_owner, "limit"
    FROM (SELECT *, row_number() OVER (PARTITION BY safe_address, accepted_token,
                                       accepted_token_owner
                                       ORDER BY bn DESC, idx DESC) AS rn
          FROM tr)
    WHERE rn = 1
    """,
    doc="crc_safe_accepted_crc (0.0.64.sql:1296-1319): argmax-by-self-"
    "join rewritten as one ranking window (J8→W1 rewrite).",
    survey_refs=("J8", "W1"),
)
def chain_accepted_crc(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _pipeline_tables(spark, sf_dir)
    return crc_safe_accepted_crc(t["crc_trust"], t["crc_signup"]).select(
        "safe_address", "accepted_token", "accepted_token_owner", "limit"
    )


# now() for the alive/dead split: between the derived signup blocks and
# the event blocks + 90 days, so mint-only accounts are dead and
# purchase receivers are alive — both branches non-empty.
_AS_OF = _dt.datetime.fromtimestamp(
    EPOCH + 12_590_000 + 90 * 86_400, _dt.timezone.utc
).replace(tzinfo=None)


@register(
    "chain_alive_accounts",
    oracle=_D
    + """
    SELECT DISTINCT '0x' || printf('%040x', user_id + 8) AS "to"
    FROM ev WHERE event_type = 'purchase'
    """,
    doc="crc_alive_accounts (0.0.64.sql:704-714): last CRC inflow per "
    "account vs now()-90d (J2 join chain + A9 max-HAVING), now() "
    "parameterized for determinism.",
    survey_refs=("J2", "A9"),
)
def chain_alive_accounts(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _pipeline_tables(spark, sf_dir)
    tt = crc_token_transfer(t["erc20_transfer"], t["crc_signup"])
    return crc_alive_accounts(tt, _AS_OF)


@register(
    "chain_dead_accounts",
    oracle=_D
    + """
    SELECT '0x' || printf('%040x', user_id + 1) AS "to"
    FROM users
    WHERE user_id NOT IN (SELECT user_id + 7 FROM ev WHERE event_type = 'purchase')
    """,
    doc="crc_dead_accounts (0.0.64.sql:1241-1251): mint-only accounts "
    "whose last inflow predates the cutoff.",
    survey_refs=("J2", "A9"),
)
def chain_dead_accounts(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _pipeline_tables(spark, sf_dir)
    tt = crc_token_transfer(t["erc20_transfer"], t["crc_signup"])
    return crc_dead_accounts(tt, _AS_OF)


@register(
    "chain_capacity_graph",
    oracle=_D
    + """
    , purch AS (
        SELECT user_id, SUM(CAST(cents AS HUGEINT)) AS s
        FROM ev WHERE event_type = 'purchase' GROUP BY user_id
    ), bal AS (
        -- (token index, holder address, balance): mint - outgoing,
        -- incoming at addr(u+8), and the zero-address debit
        SELECT u.user_id AS tok, '0x' || printf('%040x', u.user_id + 1) AS safe,
               CAST('50000000000000000000' AS HUGEINT) - COALESCE(p.s, 0) AS b
        FROM users u LEFT JOIN purch p ON p.user_id = u.user_id
        UNION ALL
        SELECT p.user_id, '0x' || printf('%040x', p.user_id + 8), p.s FROM purch p
        UNION ALL
        SELECT u.user_id, '0x0000000000000000000000000000000000000000',
               -CAST('50000000000000000000' AS HUGEINT)
        FROM users u
    ), sev_latest AS (
        SELECT user_id, lim FROM (
            SELECT user_id, cents % 101 AS lim,
                   row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
            FROM ev WHERE event_type = 'signup')
        WHERE rn = 1
    ), trust AS (
        SELECT user_id AS owner, user_id AS receiver, CAST(100 AS BIGINT) AS lim FROM users
        UNION ALL
        SELECT s.user_id, s.user_id + 13, s.lim
        FROM sev_latest s JOIN users r ON r.user_id = s.user_id + 13
    ), holdings AS (
        SELECT t.owner, t.receiver, t.lim, h.safe AS holder, h.b AS balance
        FROM trust t JOIN bal h ON h.tok = t.owner
        WHERE t.lim > 0 AND h.b > 0
          AND h.safe != '0x0000000000000000000000000000000000000000'
          AND h.safe != '0x0000000000000000000000000000000000000001'
          AND h.safe != '0x' || printf('%040x', t.receiver + 1)
    ), enriched AS (
        SELECT h.*, COALESCE(ob.b, 0) AS ob, COALESCE(rb.b, 0) AS rb
        FROM holdings h
        LEFT JOIN bal ob ON ob.tok = h.owner
                        AND ob.safe = '0x' || printf('%040x', h.owner + 1)
        LEFT JOIN bal rb ON rb.tok = h.owner
                        AND rb.safe = '0x' || printf('%040x', h.receiver + 1)
    )
    SELECT holder AS token_holder,
           '0x' || printf('%040x', owner + 1 + 16777216) AS token,
           '0x' || printf('%040x', owner + 1) AS token_owner,
           CAST(balance AS VARCHAR) AS balance,
           '0x' || printf('%040x', receiver + 1) AS can_send_to,
           FALSE AS can_send_to_is_orga,
           CAST(CASE WHEN owner = receiver THEN balance
                     WHEN rb > 0 AND ob * lim < rb * 100 THEN 0
                     ELSE LEAST((ob * lim - rb * (100 - lim)) // 100, balance)
                END AS VARCHAR) AS capacity_wei
    FROM enriched
    """,
    doc="The pathfinder capacity graph (0.0.64.sql:815-939, J5): "
    "current-trust x balances x signups left-join chain with the "
    "clamp ladder. Capacity canonicalized to floor(wei) on both sides "
    "so decimal-division scale differences cannot drift; floor(min(a/"
    "100, b)) == min(a//100, b) for the non-negative else-branch.",
    survey_refs=("J5", "J4", "P11"),
)
def chain_capacity_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = _derived_views(spark, sf_dir)
    g = crc_capacity_graph(v["trust"], v["balances"], v["signups"])
    return g.select(
        "token_holder",
        "token",
        "token_owner",
        F.col("balance").cast("string").alias("balance"),
        "can_send_to",
        "can_send_to_is_orga",
        F.floor("capacity").cast("decimal(38,0)").cast("string").alias("capacity_wei"),
    )


@register(
    "chain_capacity_changes",
    oracle=_D
    + """
    , purch AS (
        SELECT user_id, SUM(CAST(cents AS HUGEINT)) AS s,
               MAX(12600000 + event_id // 10) AS last_block
        FROM ev WHERE event_type = 'purchase' GROUP BY user_id
    ), bal AS (
        SELECT u.user_id AS tok, '0x' || printf('%040x', u.user_id + 1) AS safe,
               CAST('50000000000000000000' AS HUGEINT) - COALESCE(p.s, 0) AS b,
               COALESCE(p.last_block, 12529458 + u.user_id) AS chg
        FROM users u LEFT JOIN purch p ON p.user_id = u.user_id
        UNION ALL
        SELECT p.user_id, '0x' || printf('%040x', p.user_id + 8), p.s, p.last_block
        FROM purch p
    ), sev_latest AS (
        SELECT user_id, lim, blk FROM (
            SELECT user_id, cents % 101 AS lim, 12600000 + event_id // 10 AS blk,
                   row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
            FROM ev WHERE event_type = 'signup')
        WHERE rn = 1
    ), trust AS (
        SELECT user_id AS owner, user_id AS receiver, CAST(100 AS BIGINT) AS lim,
               CAST(12529458 + user_id AS BIGINT) AS chg
        FROM users
        UNION ALL
        SELECT s.user_id, s.user_id + 13, s.lim, CAST(s.blk AS BIGINT)
        FROM sev_latest s JOIN users r ON r.user_id = s.user_id + 13
    ), holdings AS (
        SELECT t.owner, t.receiver, t.lim, h.safe AS holder, h.b AS balance
        FROM trust t JOIN bal h ON h.tok = t.owner
        WHERE t.lim > 0 AND h.b > 0
          AND h.safe != '0x0000000000000000000000000000000000000001'
          AND h.safe != '0x' || printf('%040x', t.receiver + 1)
          AND (h.chg >= 12600000 OR t.chg >= 12600000)
    ), enriched AS (
        SELECT h.*, COALESCE(ob.b, 0) AS ob, COALESCE(rb.b, 0) AS rb
        FROM holdings h
        LEFT JOIN bal ob ON ob.tok = h.owner
                        AND ob.safe = '0x' || printf('%040x', h.owner + 1)
        LEFT JOIN bal rb ON rb.tok = h.owner
                        AND rb.safe = '0x' || printf('%040x', h.receiver + 1)
    )
    SELECT holder AS token_holder,
           '0x' || printf('%040x', owner + 1 + 16777216) AS token,
           '0x' || printf('%040x', owner + 1) AS token_owner,
           CAST(balance AS VARCHAR) AS balance,
           '0x' || printf('%040x', receiver + 1) AS can_send_to,
           CAST(CASE WHEN owner = receiver THEN balance
                     WHEN rb > 0 AND ob * lim < rb * 100 THEN 0
                     ELSE LEAST((ob * lim - rb * (100 - lim)) // 100, balance)
                END AS VARCHAR) AS capacity_wei
    FROM enriched
    """,
    doc="Pull-based change feed get_capacity_changes_since_block_2 "
    "(0.0.64.sql:1902-2034, T9): the capacity graph restricted to "
    "edges whose holder balance or trust edge changed at or after the "
    "cursor (here the first event block, so mint-only/self-trust-only "
    "edges are genuinely excluded). The zero-address ledger row is "
    "dropped by its own filter, not the cursor.",
    survey_refs=("T9", "J5"),
)
def chain_capacity_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = _derived_views(spark, sf_dir)
    g = crc_capacity_graph(v["trust"], v["balances"], v["signups"], since_block=EVENT_BLOCK_BASE)
    return g.select(
        "token_holder",
        "token",
        "token_owner",
        F.col("balance").cast("string").alias("balance"),
        "can_send_to",
        F.floor("capacity").cast("decimal(38,0)").cast("string").alias("capacity_wei"),
    )


@register(
    "chain_get_capacity",
    oracle=_D
    + """
    , u0 AS (SELECT MIN(user_id) AS uid FROM users),
    purch AS (
        SELECT SUM(CAST(cents AS HUGEINT)) AS s
        FROM ev, u0 WHERE event_type = 'purchase' AND user_id = u0.uid
    ),
    v AS (SELECT CAST('50000000000000000000' AS HUGEINT) - COALESCE((SELECT s FROM purch), 0)
                 AS own_bal)
    SELECT id, label, CAST(val AS VARCHAR) AS value
    FROM (
        SELECT 1 AS id, 'token_owner''s balance of token_owner''s own tokens' AS label,
               own_bal AS val FROM v
        UNION ALL SELECT 2, 'receiver''s balance of token_owner''s tokens', own_bal FROM v
        UNION ALL SELECT 3, 'senders''s balance of token_owner''s tokens', own_bal FROM v
        UNION ALL SELECT 4, 'receiver''s trust in token_owner''s token (%)', 100 FROM v
        UNION ALL SELECT 5, 'receiver''s balance of receiver''s own tokens', own_bal FROM v
        UNION ALL SELECT 6, 'max', own_bal * 100 // 100 FROM v
        UNION ALL SELECT 7, 'destBalanceScaled', 0 FROM v
        UNION ALL SELECT 8, 'max < receiver''s balance of token_owner''s tokens',
                  CASE WHEN own_bal * 100 // 100 < own_bal THEN 1 ELSE 0 END FROM v
        UNION ALL SELECT 9, 'sendLimit', own_bal * 100 // 100 - 0 FROM v
    )
    """,
    doc="The get_capacity explain UDTF (0.0.64.sql:1674-1739): the "
    "calc unrolled into 9 labeled steps for the self-trust edge of "
    "the smallest user (present at every sf). Values floor-"
    "canonicalized like the capacity graph.",
    survey_refs=("UDTF", "J5"),
)
def chain_get_capacity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blockchain_indexer_spark.operators.views import get_capacity

    t = _pipeline_tables(spark, sf_dir)
    uid = t["crc_signup"].agg(F.min("user")).collect()[0][0]
    v = _derived_views(spark, sf_dir)
    steps = get_capacity(v["balances"], v["trust"], from_=uid, to=uid, token_owner=uid)
    return steps.select(
        "id", "label", F.floor("value").cast("decimal(38,0)").cast("string").alias("value")
    )


@register(
    "chain_signups_per_day",
    oracle=_D
    + """
    SELECT CAST(DATE '1970-01-01'
               + CAST((1600000000 + 12529458 + user_id) // 86400 AS INT)
               AS VARCHAR) AS day,
           COUNT(*) AS signups
    FROM users GROUP BY 1
    """,
    doc="crc_signups_per_day view (0.0.64.sql:1563-1569): per-day "
    "tumbling count over the extracted person signups (one per "
    "distinct user, at block 12529458+u).",
    survey_refs=("E2", "A4", "P7"),
)
def chain_signups_per_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blockchain_indexer_spark.operators.views import crc_signups_per_day

    t = _pipeline_tables(spark, sf_dir)
    per_day = crc_signups_per_day(t["crc_signup"])
    return per_day.select(F.col("day").cast("string").alias("day"), "signups")


@register(
    "chain_balances_by_safe",
    oracle=_D
    + """
    , ledger AS (
        SELECT '0x' || printf('%040x', user_id + 1) AS safe_address,
               CAST('50000000000000000000' AS HUGEINT) AS v
        FROM users
        UNION ALL
        SELECT '0x0000000000000000000000000000000000000000',
               -CAST('50000000000000000000' AS HUGEINT)
        FROM users
        UNION ALL
        SELECT '0x' || printf('%040x', user_id + 1), -CAST(cents AS HUGEINT)
        FROM ev WHERE event_type = 'purchase'
        UNION ALL
        SELECT '0x' || printf('%040x', user_id + 8), CAST(cents AS HUGEINT)
        FROM ev WHERE event_type = 'purchase'
    )
    SELECT safe_address, CAST(SUM(v) AS VARCHAR) AS balance
    FROM ledger GROUP BY safe_address
    """,
    doc="crc_balances_by_safe view (0.0.64.sql:786-791): the per-safe "
    "rollup of the double-entry ledger (token axis summed away); "
    "uint256 sums compared as exact decimal strings.",
    survey_refs=("A2", "A1"),
)
def chain_balances_by_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blockchain_indexer_spark.operators.views import crc_balances_by_safe

    ledger = _derived_views(spark, sf_dir)["ledger"]
    return crc_balances_by_safe(ledger).select(
        "safe_address", F.col("balance").cast("string").alias("balance")
    )


@register(
    "chain_crc_minting",
    oracle=_D
    + """
    SELECT '0x' || md5('signup-' || CAST(user_id AS VARCHAR)) AS hash,
           '0x0000000000000000000000000000000000000000' AS "from",
           '0x' || printf('%040x', user_id + 1) AS "to",
           '0x' || printf('%040x', user_id + 1 + 16777216) AS token,
           '50000000000000000000' AS value
    FROM users
    """,
    doc="crc_minting view (0.0.64.sql:1281-1292): zero-address "
    "transfers (erc20_minting, :1265-1275) semi-joined to signup "
    "tokens via the broadcast token dimension; one 50e18 mint per "
    "signup in the derived chain.",
    survey_refs=("P2", "J1"),
)
def chain_crc_minting(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blockchain_indexer_spark.operators.views import crc_minting

    t = _pipeline_tables(spark, sf_dir)
    rows = crc_minting(t["erc20_transfer"], t["crc_signup"])
    return rows.select(
        "hash", "from", "to", "token", F.col("value").cast("string").alias("value")
    )


@register(
    "chain_formatted_transfers",
    oracle=_D
    + """
    SELECT '0x' || md5('signup-' || CAST(user_id AS VARCHAR)) AS hash,
           '0x0000000000000000000000000000000000000000' AS "from",
           '0x' || printf('%040x', user_id + 1) AS "to",
           '0x' || printf('%040x', user_id + 1 + 16777216) AS token,
           '50000000000000000000' AS value
    FROM users
    UNION ALL
    -- purchase: the CRC token hop addr(u) -> addr(u+8) on token(u)
    SELECT '0x' || md5('tx-' || CAST(event_id AS VARCHAR)),
           '0x' || printf('%040x', user_id + 1),
           '0x' || printf('%040x', user_id + 8),
           '0x' || printf('%040x', user_id + 1 + 16777216),
           CAST(cents AS VARCHAR)
    FROM ev WHERE event_type = 'purchase'
    UNION ALL
    -- view: the non-CRC transfer addr(u) -> addr(u+4) on nctoken(u)
    SELECT '0x' || md5('tx-' || CAST(event_id AS VARCHAR)),
           '0x' || printf('%040x', user_id + 1),
           '0x' || printf('%040x', user_id + 4),
           '0x' || printf('%040x', user_id + 1 + 33554432),
           CAST(cents AS VARCHAR)
    FROM ev WHERE event_type = 'view'
    """,
    doc="formatted_* views (P1, 0.0.64.sql:1324-1382): numeric value "
    "-> text cast over the full erc20_transfer table (mints + CRC "
    "hops + non-CRC transfers), the API-facing projection.",
    survey_refs=("P1",),
)
def chain_formatted_transfers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blockchain_indexer_spark.operators.views import formatted

    t = _pipeline_tables(spark, sf_dir)
    return formatted(t["erc20_transfer"]).select("hash", "from", "to", "token", "value")


@register(
    "chain_trust_reachability",
    oracle=_D
    + """
    , sev AS (
        SELECT user_id AS u, cents % 101 AS lim, event_id
        FROM ev WHERE event_type = 'signup'
    ), latest AS (
        -- latest trust event per (truster, trustee) pair; the pair is
        -- keyed by u alone because the derived chain always trusts
        -- addr(u+14) (block/idx ordering == event_id ordering)
        SELECT u, lim FROM (
            SELECT s.*, row_number() OVER (PARTITION BY u ORDER BY event_id DESC) AS rn
            FROM sev s) WHERE rn = 1
    ), e AS (
        SELECT '0x' || printf('%040x', l.u + 1) AS a,
               '0x' || printf('%040x', l.u + 14) AS b
        FROM latest l
        JOIN users s1 ON s1.user_id = l.u
        JOIN users s2 ON s2.user_id = l.u + 13
        WHERE l.lim > 0
    ), r1 AS (SELECT DISTINCT a, b FROM e),
    s2 AS (SELECT DISTINCT r1.a, e.b FROM r1 JOIN e ON r1.b = e.a WHERE r1.a <> e.b),
    r2 AS (SELECT a, b FROM r1 UNION SELECT a, b FROM s2),
    s3 AS (SELECT DISTINCT r2.a, e.b FROM r2 JOIN e ON r2.b = e.a WHERE r2.a <> e.b),
    r3 AS (SELECT a, b FROM r2 UNION SELECT a, b FROM s3)
    SELECT c1.a AS "user", c1.n AS n_reach_1, c2.n AS n_reach_2, c3.n AS n_reach_3
    FROM (SELECT a, COUNT(*) AS n FROM r1 GROUP BY a) c1
    JOIN (SELECT a, COUNT(*) AS n FROM r2 GROUP BY a) c2 ON c1.a = c2.a
    JOIN (SELECT a, COUNT(*) AS n FROM r3 GROUP BY a) c3 ON c1.a = c3.a
    """,
    doc="Bounded-depth trust reachability (operators.cluster."
    "khop_reachability): per user, distinct addresses reachable in "
    "<=1/2/3 hops along positive current-trust edges — the multi-hop "
    "closure of the reference's 1-hop capacity graph "
    "(transitive-transfer path planning). Semi-naive BFS: each round "
    "expands only the new frontier. Oracle recomputes the closure "
    "with explicit bounded self-joins from the events table.",
    survey_refs=("J5", "J4"),
)
def chain_trust_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blockchain_indexer_spark.operators.cluster import khop_reachability

    trust = _derived_views(spark, sf_dir)["trust"]
    edges = trust.filter(F.col("limit") > 0).select("user", "can_send_to")
    return khop_reachability(edges, "user", "can_send_to", k=3)
