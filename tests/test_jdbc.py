"""JDBC sink parity against a REAL database (embedded Derby, shipped
in Spark's jars): the reference's whole sink is Postgres
(Persistence/*.cs, ImportProcedure.cs:17-27), so the JDBC branch must
carry the full contract — append, exactly-once redelivery, reorg
retraction (Indexer.cs:273-325) and T8 cache maintenance — not just
dispatch. Derby stands in for Postgres: same JDBC surface, runs
in-process with zero setup; array columns ride as JSON text
(JDBC_ARRAY_COLS) and Derby's dialect caps DECIMAL at 31 digits —
both documented target deltas, neither touched by these fixtures."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from blockchain_indexer_spark.streaming.runner import (
    CACHE_BALANCES,
    CACHE_TRUST,
    EVENT_TABLES,
    IngestPipeline,
)
from tests.chain_fixtures import EXPECTED
from tests.test_cache_maintenance import _BAL_COLS, _TRUST_COLS, _scratch_views, _sorted
from tests.test_streaming import feed_df  # noqa: F401 — module fixture


def _derby_pipe(spark, root) -> IngestPipeline:
    return IngestPipeline(
        spark,
        str(root / "lockdir"),
        jdbc_url=f"jdbc:derby:{root}/db;create=true",
    )


def _tx_rows(pipe):
    return sorted(
        (r["hash"], r["block_number"], r["from"], r["to"], r["value_string"],
         tuple(r["classification"]))
        for r in pipe.read_final("transaction").collect()
    )


@pytest.fixture(scope="module")
def derby(spark, tmp_path_factory, feed_df):  # noqa: F811
    """One ingested Derby database shared by the read-only assertions;
    mutating tests build their own."""
    root = tmp_path_factory.mktemp("derby-shared")
    pipe = _derby_pipe(spark, root)
    pipe.process_batch(feed_df)
    return pipe


def test_jdbc_ingest_matches_parquet_sink(spark, tmp_path_factory, feed_df, derby):  # noqa: F811
    """The same feed through the Derby sink and the parquet sink lands
    identical final tables — sink choice cannot change semantics."""
    pq_root = tmp_path_factory.mktemp("pq-twin")
    pq = IngestPipeline(spark, str(pq_root / "final"))
    pq.process_batch(feed_df)

    assert _tx_rows(derby) == _tx_rows(pq)
    got = {
        r["hash"]: r["classification"]
        for r in derby.read_final("transaction").select("hash", "classification").collect()
    }
    assert got == EXPECTED  # arrays survive the JSON round-trip
    for name in ("block", *EVENT_TABLES):
        d, p = derby.read_final(name), pq.read_final(name)
        assert (d.count() if d is not None else None) == (
            p.count() if p is not None else None
        ), name
    # crc_signup.owners (the second array column) round-trips too
    d_own = sorted(
        (r["user"], tuple(r["owners"]) if r["owners"] is not None else None)
        for r in derby.read_final("crc_signup").collect()
    )
    p_own = sorted(
        (r["user"], tuple(r["owners"]) if r["owners"] is not None else None)
        for r in pq.read_final("crc_signup").collect()
    )
    assert d_own == p_own


def test_jdbc_exactly_once_redelivery(spark, tmp_path_factory, feed_df):  # noqa: F811
    """A full duplicate delivery lands zero new rows: the anti-join
    reads the Derby tables back and dedups, exactly like parquet."""
    root = tmp_path_factory.mktemp("derby-dedup")
    pipe = _derby_pipe(spark, root)
    pipe.process_batch(feed_df)
    n_tx = pipe.read_final("transaction").count()
    n_blk = pipe.read_final("block").count()
    pipe.process_batch(feed_df)  # duplicate delivery
    assert pipe.read_final("transaction").count() == n_tx
    assert pipe.read_final("block").count() == n_blk
    txs = pipe.read_final("transaction")
    assert txs.select("hash").distinct().count() == n_tx


def test_jdbc_cache_maintenance_equals_recompute(spark, derby):
    """T8 under JDBC: after the batch, both cache tables exist in Derby
    and equal a from-scratch recompute of the authoritative views."""
    bal_fresh, trust_fresh = _scratch_views(derby)
    assert _sorted(derby.read_cache(CACHE_BALANCES), _BAL_COLS) == _sorted(
        bal_fresh, _BAL_COLS
    )
    if trust_fresh is not None:
        assert _sorted(derby.read_cache(CACHE_TRUST), _TRUST_COLS) == _sorted(
            trust_fresh, _TRUST_COLS
        )


def test_jdbc_caches_equal_recompute_after_each_batch(
    spark, tmp_path_factory, feed_df  # noqa: F811
):
    """T8 under JDBC across batches: the even blocks, then the odd ones.
    The second batch's refreshed caches order their columns otherwise
    than the tables the first batch created (a using-join puts its key
    first), and the commit must copy them by name: after each batch
    both caches equal a from-scratch recompute."""
    pipe = _derby_pipe(spark, tmp_path_factory.mktemp("derby-caches"))
    for parity in (0, 1):
        pipe.process_batch(feed_df.filter(F.col("block_number") % 2 == parity))
        bal_fresh, trust_fresh = _scratch_views(pipe)
        assert trust_fresh is not None
        assert _sorted(pipe.read_cache(CACHE_BALANCES), _BAL_COLS) == _sorted(
            bal_fresh, _BAL_COLS
        ), parity
        assert _sorted(pipe.read_cache(CACHE_TRUST), _TRUST_COLS) == _sorted(
            trust_fresh, _TRUST_COLS
        ), parity


@pytest.mark.slowe2e
def test_jdbc_retract_replay_identical(spark, tmp_path_factory, feed_df):  # noqa: F811
    """T5 under JDBC: retract(reorg_block) deletes every row at or
    above the block server-side and drops the caches; replaying the
    feed restores the exact pre-retract state (the reference's
    delete-then-reimport loop, Indexer.cs:273-325)."""
    root = tmp_path_factory.mktemp("derby-retract")
    pipe = _derby_pipe(spark, root)
    reorg_events = []
    pipe.on_imported = lambda hashes: reorg_events.append(list(hashes))
    pipe.process_batch(feed_df)
    before_tx = _tx_rows(pipe)
    before_bal = _sorted(pipe.read_cache(CACHE_BALANCES), _BAL_COLS)

    numbers = sorted(r["block_number"] for r in feed_df.select("block_number").distinct().collect())
    mid = numbers[len(numbers) // 2]
    pipe.retract(mid)

    assert pipe.read_final("block").filter(F.col("number") >= mid).count() == 0
    assert pipe.read_final("transaction").filter(F.col("block_number") >= mid).count() == 0
    for name in EVENT_TABLES:
        tbl = pipe.read_final(name)
        if tbl is not None:
            assert tbl.filter(F.col("block_number") >= mid).count() == 0, name
    # caches dropped → next batch rebuilds from scratch
    assert pipe.read_cache(CACHE_BALANCES) is None
    assert pipe.read_cache(CACHE_TRUST) is None
    # K5: the deadbeef reorg magic was broadcast
    assert any("0xdeadbeef" in h[0] for h in reorg_events if h)

    pipe.process_batch(feed_df)  # replay from the feed
    assert _tx_rows(pipe) == before_tx
    assert _sorted(pipe.read_cache(CACHE_BALANCES), _BAL_COLS) == before_bal


# ---------------------------------------------------------------------
# pg-dialect contract (VERDICT r4 item #6): no live Postgres exists in
# the sandbox, so the GENERATED SQL text is the tested surface — the
# DDL the writer would issue on a jdbc:postgresql: target must carry
# the reference's actual column types (0.0.64.sql:358-377): REAL
# text[] for the array columns (not the generic-JDBC JSON-text
# fallback) and UNBOUNDED numeric for decimals, with value_string as
# text so >38-digit uint256 wei survive exactly.
# ---------------------------------------------------------------------


def test_pg_dialect_ddl_pins_text_array_and_unbounded_numeric(spark):
    from blockchain_indexer_spark.streaming.runner import pg_create_table_sql

    signup = spark.createDataFrame(
        [(1, "0xsafe", ["0xowner1", "0xowner2"])],
        "block_number long, safe_address string, owners array<string>",
    )
    ddl = pg_create_table_sql("crc_signup", signup.schema)
    assert ddl == (
        'CREATE TABLE "crc_signup" ("block_number" bigint, '
        '"safe_address" text, "owners" text[])'
    )

    tx = spark.createDataFrame(
        [
            (
                1,
                "0xhash",
                __import__("decimal").Decimal(10**37),
                "1" + "0" * 38,  # 39 digits: exceeds every DECIMAL cap
                ["Erc20Transfer"],
            )
        ],
        "block_number long, hash string, value decimal(38,0), "
        "value_string string, classification array<string>",
    )
    ddl = pg_create_table_sql("transaction", tx.schema)
    assert ddl == (
        'CREATE TABLE "transaction" ("block_number" bigint, '
        '"hash" text, "value" numeric, "value_string" text, '
        '"classification" text[])'
    )
    # the unbounded-numeric + text pair is the exactness contract:
    # numeric has no precision cap, and the 39-digit value rides
    # value_string verbatim (extract.py builds it losslessly)
    assert '"value" numeric,' in ddl and "numeric(" not in ddl


def test_pg_target_skips_json_array_fallback(spark, tmp_path):
    """On a Postgres url the encode/decode seam must pass arrays
    through untouched (the table has real text[] and Spark's
    PostgresDialect writes ArrayType natively); a >38-digit
    value_string survives both directions as plain text."""
    from blockchain_indexer_spark.streaming.runner import IngestPipeline

    pipe = IngestPipeline(
        spark,
        str(tmp_path / "pgdir"),
        jdbc_url="jdbc:postgresql://db.invalid:5432/index",
    )
    big = "9" * 45
    df = spark.createDataFrame(
        [(1, ["0xa", "0xb"], big)],
        "block_number long, owners array<string>, value_string string",
    )
    out = pipe._jdbc_encode("crc_signup", df)
    assert dict(out.dtypes)["owners"] == "array<string>"  # NOT json text
    row = pipe._jdbc_decode("crc_signup", out).collect()[0]
    assert row["owners"] == ["0xa", "0xb"]
    assert row["value_string"] == big

    # generic (Derby) targets keep the documented JSON-text fallback
    generic = IngestPipeline(
        spark, str(tmp_path / "derbydir"), jdbc_url="jdbc:derby:memory:x"
    )
    enc = generic._jdbc_encode("crc_signup", df)
    assert dict(enc.dtypes)["owners"] == "string"
    dec = generic._jdbc_decode("crc_signup", enc).collect()[0]
    assert dec["owners"] == ["0xa", "0xb"]
