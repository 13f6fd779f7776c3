"""View parity: our DataFrame views vs the reference's view SQL
(0.0.64.sql, adapted to DuckDB) executed over the SAME extracted event
tables — the FIXTURES.md §3 oracle strategy."""

from __future__ import annotations

import datetime as dt

import duckdb
import pytest

from blockchain_indexer_spark.operators.classify import classify
from blockchain_indexer_spark.operators.extract import assemble_transactions, extract_all
from blockchain_indexer_spark.operators.views import build_all
from tests.chain_fixtures import build_raw_tables
from tools.check_correctness import compare

AS_OF = dt.datetime(2100, 1, 1)


@pytest.fixture(scope="module")
def ctx(spark):
    blocks, txs, logs = build_raw_tables(spark)
    classified = classify(assemble_transactions(blocks, txs, logs))
    tables = {k: v.cache() for k, v in extract_all(classified).items()}
    views = build_all(tables, as_of=AS_OF)
    con = duckdb.connect()
    for name, df in tables.items():
        # Arrow keeps decimal128 columns as decimals inside DuckDB;
        # pandas would degrade object-Decimals to float64.
        con.register(name, df.toArrow())
    return tables, views, con


# Reference view SQL adapted: table names without the _2 suffix,
# now() → fixed AS_OF, Postgres-isms → DuckDB. Semantics untouched.
ORACLE_SQL = {
    "crc_all_signups": """
        SELECT hash, block_number, index, timestamp, "user", token FROM crc_signup
        UNION ALL
        SELECT hash, block_number, index, timestamp, organisation AS "user", NULL AS token
        FROM crc_organisation_signup
    """,
    "crc_token_transfer": """
        SELECT t.timestamp, t.block_number, t.index, t.hash, t."from", t."to", t.token, t.value
        FROM erc20_transfer t JOIN (SELECT DISTINCT token FROM crc_signup) s ON t.token = s.token
    """,
    "crc_ledger": """
        SELECT t.timestamp, t.hash AS transaction_id, 'add' AS verb,
               CAST(sum(t.value) AS DECIMAL(38,0)) AS value, t.token, cs."user" AS token_owner,
               'to' AS predicate, t."to" AS safe_address, t.block_number
        FROM erc20_transfer t JOIN crc_signup cs ON t.token = cs.token
        GROUP BY t.hash, t.block_number, t.timestamp, t."to", t.token, cs."user"
        UNION
        SELECT t.timestamp, t.hash, 'remove',
               CAST(-sum(t.value) AS DECIMAL(38,0)), t.token, cs."user",
               'from', t."from", t.block_number
        FROM erc20_transfer t JOIN crc_signup cs ON t.token = cs.token
        GROUP BY t.hash, t.block_number, t.timestamp, t."from", t.token, cs."user"
    """,
    "crc_balances_by_safe_and_token": """
        WITH ledger AS (
            SELECT t."to" AS safe_address, t.token, cs."user" AS token_owner,
                   t.value, t.timestamp, t.block_number
            FROM erc20_transfer t JOIN crc_signup cs ON t.token = cs.token
            UNION ALL
            SELECT t."from", t.token, cs."user", -t.value, t.timestamp, t.block_number
            FROM erc20_transfer t JOIN crc_signup cs ON t.token = cs.token
        )
        SELECT safe_address, token, token_owner,
               CAST(sum(value) AS DECIMAL(38,0)) AS balance,
               max(timestamp) AS last_change_at,
               max(block_number) AS last_change_at_block
        FROM ledger GROUP BY safe_address, token, token_owner
    """,
    "crc_current_trust": """
        WITH all_signups AS (
            SELECT "user", token FROM crc_signup
            UNION ALL SELECT organisation, NULL FROM crc_organisation_signup
        ), cte AS (
            SELECT t.address AS "user", a.token AS user_token, t.can_send_to,
                   b.token AS can_send_to_token, t."limit",
                   CAST(0 AS BIGINT) AS history_count, t.timestamp AS last_change,
                   t.block_number AS last_change_at_block,
                   row_number() OVER (PARTITION BY t.address, t.can_send_to
                                      ORDER BY t.block_number DESC, t.index DESC) AS row_no
            FROM crc_trust t
            JOIN all_signups a ON t.address = a."user"
            JOIN all_signups b ON t.can_send_to = b."user"
        )
        SELECT "user", user_token, can_send_to, can_send_to_token, "limit",
               history_count, last_change, last_change_at_block
        FROM cte WHERE row_no = 1
    """,
    "crc_minting": """
        SELECT m.timestamp, m.block_number, m.index, m.hash, m."from", m."to", m.token, m.value
        FROM (SELECT * FROM erc20_transfer
              WHERE "from" = '0x0000000000000000000000000000000000000000') m
        JOIN (SELECT DISTINCT token FROM crc_signup) s ON m.token = s.token
    """,
    "crc_safe_accepted_crc": """
        WITH all_events AS (
            SELECT t.timestamp, t.block_number, t.index, t.can_send_to AS safe_address,
                   s.token AS accepted_token, s."user" AS accepted_token_owner, t."limit"
            FROM crc_trust t JOIN crc_signup s ON s."user" = t.address
        )
        SELECT timestamp, safe_address, accepted_token, accepted_token_owner, "limit"
        FROM (SELECT *, row_number() OVER (PARTITION BY safe_address, accepted_token,
                                           accepted_token_owner
                                           ORDER BY timestamp DESC, block_number DESC,
                                                    index DESC) AS rn
              FROM all_events)
        WHERE rn = 1
    """,
    "erc20_balances_by_safe_and_token": """
        WITH alls AS (
            SELECT "user" FROM crc_signup
            UNION ALL SELECT organisation FROM crc_organisation_signup
        ), nct AS (
            SELECT et.* FROM erc20_transfer et
            JOIN alls ON alls."user" = et."from" OR alls."user" = et."to"
            LEFT JOIN (SELECT DISTINCT token FROM crc_signup) s ON s.token = et.token
            WHERE s.token IS NULL
        ), led AS (
            SELECT alls."user" AS safe_address, nct.token,
                   CASE WHEN nct."from" = alls."user" THEN -nct.value
                        ELSE nct.value END AS v,
                   nct.timestamp
            FROM alls JOIN nct ON alls."user" = nct."from" OR alls."user" = nct."to"
        )
        SELECT safe_address, token, CAST(sum(v) AS DECIMAL(38,0)) AS balance,
               max(timestamp) AS last_changed_at
        FROM led GROUP BY safe_address, token
    """,
    "crc_capacity_graph": """
        WITH all_signups AS (
            SELECT "user", token FROM crc_signup
            UNION ALL SELECT organisation, NULL FROM crc_organisation_signup
        ), current_trust AS (
            SELECT "user", user_token, can_send_to, can_send_to_token, "limit"
            FROM (SELECT t.address AS "user", a.token AS user_token, t.can_send_to,
                         b.token AS can_send_to_token, t."limit",
                         row_number() OVER (PARTITION BY t.address, t.can_send_to
                                            ORDER BY t.block_number DESC, t.index DESC) AS rn
                  FROM crc_trust t
                  JOIN all_signups a ON t.address = a."user"
                  JOIN all_signups b ON t.can_send_to = b."user")
            WHERE rn = 1
        ), balances AS (
            SELECT safe_address, token, token_owner, CAST(sum(value) AS DECIMAL(38,0)) AS balance
            FROM (SELECT t."to" AS safe_address, t.token, cs."user" AS token_owner, t.value
                  FROM erc20_transfer t JOIN crc_signup cs ON t.token = cs.token
                  UNION ALL
                  SELECT t."from", t.token, cs."user", -t.value
                  FROM erc20_transfer t JOIN crc_signup cs ON t.token = cs.token)
            GROUP BY safe_address, token, token_owner
        ), accepted_tokens AS (
            SELECT ct.can_send_to AS potential_token_receiver, ct.user_token AS accepted_token,
                   ct."user" AS accepted_token_owner, cas.token AS receivers_own_token,
                   cas.token IS NULL AS receiver_is_orga, ct."limit"
            FROM current_trust ct JOIN all_signups cas ON ct.can_send_to = cas."user"
            WHERE ct."limit" > 0
        ), total_holdings AS (
            SELECT b.safe_address AS token_holder, b.balance, a.accepted_token AS token,
                   a.accepted_token_owner AS token_owner,
                   a.potential_token_receiver AS can_send_to,
                   a.receiver_is_orga AS can_send_to_is_orga,
                   a.receivers_own_token = b.token AS is_receivers_own_token, a."limit"
            FROM accepted_tokens a JOIN balances b ON a.accepted_token = b.token
            WHERE b.safe_address != '0x0000000000000000000000000000000000000000'
              AND b.safe_address != '0x0000000000000000000000000000000000000001'
              AND b.balance > 0 AND b.safe_address != a.potential_token_receiver
        ), enriched AS (
            SELECT h.*,
                   COALESCE(ob.balance, 0) AS token_owners_own_balance,
                   COALESCE(rb.balance, 0) AS receiver_token_balance
            FROM total_holdings h
            LEFT JOIN balances ob ON h.token_owner = ob.safe_address AND h.token = ob.token
            LEFT JOIN balances rb ON h.can_send_to = rb.safe_address AND h.token = rb.token
        ), final AS (
            SELECT *,
                   token_owners_own_balance * "limit" / 100 AS max_transferable_amount,
                   receiver_token_balance * (100 - "limit") / 100 AS receiver_token_balance_scaled
            FROM enriched
        )
        SELECT token_holder, token, token_owner, balance, can_send_to, can_send_to_is_orga,
               CAST(CASE WHEN is_receivers_own_token OR can_send_to_is_orga THEN balance
                    ELSE CASE WHEN receiver_token_balance > 0
                              AND max_transferable_amount < receiver_token_balance THEN 0
                         ELSE CASE WHEN max_transferable_amount - receiver_token_balance_scaled
                                        < balance
                                   THEN max_transferable_amount - receiver_token_balance_scaled
                              ELSE balance END
                         END
                    END AS DOUBLE) AS capacity
        FROM final
    """,
}


VIEW_NAMES = sorted(ORACLE_SQL)


@pytest.mark.parametrize("name", VIEW_NAMES)
def test_view_matches_reference_sql(ctx, name):
    _tables, views, con = ctx
    spark_pdf = views[name].toPandas()
    if name == "crc_capacity_graph":
        # decimal division scales differ across engines; compare as double
        spark_pdf["capacity"] = spark_pdf["capacity"].astype(float)
    # Arrow fetch keeps decimal128 exact (duckdb's pandas path degrades
    # wide decimals to float64)
    duck_pdf = con.sql(ORACLE_SQL[name]).arrow().to_pandas()
    problems = compare(name, spark_pdf, duck_pdf)
    assert not problems, f"{name}: {problems}"
    assert len(spark_pdf) > 0, f"{name}: empty view proves nothing"


def test_timeline_invariants(ctx):
    _tables, views, _con = ctx
    tl = views["crc_safe_timeline"].toPandas()
    assert len(tl) > 0
    # every branch type present given the fixture activity
    assert {"CrcSignup", "CrcTrust", "CrcMinting", "CrcHubTransfer"} <= set(tl["type"])
    # directions are only in/out/self and self ⇒ contact == safe
    assert set(tl["direction"]) <= {"in", "out", "self"}
    selfs = tl[tl["direction"] == "self"]
    assert (selfs["safe_address"] == selfs["contact_address"]).all()
    # the CRC transfer appears for both endpoints of the hub-less transfer
    mint = tl[tl["type"] == "CrcMinting"]
    assert (mint["direction"] == "in").all()


def test_balances_match_ledger_sum(ctx):
    _tables, views, _con = ctx
    led = views["crc_ledger"].toPandas()
    bal = views["crc_balances_by_safe"].toPandas()
    by_safe = led.groupby("safe_address")["value"].sum()
    for _, row in bal.iterrows():
        assert by_safe[row["safe_address"]] == row["balance"]
    # double-entry: ledger sums to zero per transaction
    per_tx = led.groupby("transaction_id")["value"].sum()
    assert (per_tx == 0).all()


@pytest.mark.slowe2e
def test_register_all_sql_surface(spark, ctx):
    """Every view is reachable as a plain spark.sql name — the surface a
    reference user queries after switching."""
    from blockchain_indexer_spark.operators.views import register_all

    tables, views, _ = ctx
    register_all(tables, as_of=AS_OF)
    for name in views:
        df = spark.sql(f"SELECT * FROM {name} LIMIT 1")
        assert df.schema.fields, f"view {name} has no schema"


@pytest.mark.slowe2e
def test_uint256_overflow_value_through_ledger(spark):
    """Overflow policy end-to-end (VERDICT r1 #7): a transfer whose
    uint256 value exceeds DecimalType(38,0) decodes to value=NULL with
    the raw hex retained in value_string (hex.py:33, extract.py:95);
    the ledger keeps the row (NULL value) and balance SUMs skip it —
    over-range transfers are excluded from aggregates, never poison
    them, and stay auditable via value_string."""
    from decimal import Decimal

    from pyspark.sql import functions as F

    from blockchain_indexer_spark.operators.views import (
        crc_balances_by_safe_and_token,
        crc_ledger,
    )
    from blockchain_indexer_spark.schemas import (
        RAW_BLOCK_SCHEMA,
        RAW_LOG_SCHEMA,
        RAW_TRANSACTION_SCHEMA,
        TRANSFER_TOPIC,
    )
    from tests.chain_fixtures import (
        CRC_SIGNUP_TOPIC,
        CRC_TRUST_TOPIC,
        HUB_ADDRESS,
        MINT,
        TOKEN1,
        USER1,
        USER2,
        addr,
        hex256,
        topic_addr,
    )
    from tests.chain_fixtures import EMPTY_ADDRESS as ZERO

    over = 10**38  # smallest value that overflows decimal(38,0)
    bhash = "0x" + "c" * 64
    blocks = [(1, bhash, 1_650_000_000, 3)]
    txs = [
        (1, bhash, "0x" + "01".ljust(64, "0"), 0, USER1, HUB_ADDRESS, "0", "0x01", "1", "0"),
        (1, bhash, "0x" + "02".ljust(64, "0"), 1, USER1, TOKEN1, "0", "0xab", "1", "0"),
        (1, bhash, "0x" + "03".ljust(64, "0"), 2, USER1, TOKEN1, "0", "0xab", "1", "0"),
    ]
    logs = [
        # signup: mints 50e18 of TOKEN1 to USER1
        ("0x" + "01".ljust(64, "0"), bhash, 0, HUB_ADDRESS, [CRC_SIGNUP_TOPIC, topic_addr(USER1)], topic_addr(TOKEN1)),
        ("0x" + "01".ljust(64, "0"), bhash, 1, HUB_ADDRESS, [CRC_TRUST_TOPIC, topic_addr(USER1), topic_addr(USER1)], hex256(100)),
        ("0x" + "01".ljust(64, "0"), bhash, 2, TOKEN1, [TRANSFER_TOPIC, topic_addr(ZERO), topic_addr(USER1)], hex256(MINT)),
        # over-range transfer USER1 -> USER2
        ("0x" + "02".ljust(64, "0"), bhash, 0, TOKEN1, [TRANSFER_TOPIC, topic_addr(USER1), topic_addr(USER2)], hex256(over)),
        # in-range transfer USER1 -> USER2 of 100
        ("0x" + "03".ljust(64, "0"), bhash, 0, TOKEN1, [TRANSFER_TOPIC, topic_addr(USER1), topic_addr(USER2)], hex256(100)),
    ]
    classified = classify(
        assemble_transactions(
            spark.createDataFrame(blocks, RAW_BLOCK_SCHEMA),
            spark.createDataFrame(txs, RAW_TRANSACTION_SCHEMA),
            spark.createDataFrame(logs, RAW_LOG_SCHEMA),
        )
    )
    tables = extract_all(classified)
    erc20 = tables["erc20_transfer"].cache()

    over_row = erc20.filter(F.col("hash") == "0x" + "02".ljust(64, "0")).collect()[0]
    assert over_row["value"] is None  # overflow → NULL decimal
    assert over_row["value_string"] == hex256(over)  # raw hex retained

    ledger = crc_ledger(erc20, tables["crc_signup"])
    over_ledger = ledger.filter(F.col("transaction_id") == "0x" + "02".ljust(64, "0")).collect()
    assert len(over_ledger) == 2  # row kept on both sides...
    assert all(r["value"] is None for r in over_ledger)  # ...with NULL value

    bal = {
        (r["safe_address"], r["token"]): r["balance"]
        for r in crc_balances_by_safe_and_token(ledger).collect()
    }
    # aggregates skip the NULL: only mint and the in-range 100 count
    assert bal[(USER1, TOKEN1)] == Decimal(MINT) - 100
    assert bal[(USER2, TOKEN1)] == Decimal(100)
    assert bal[(ZERO, TOKEN1)] == Decimal(-MINT)
