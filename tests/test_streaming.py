"""End-to-end streaming ingest: chain feed files → Structured
Streaming foreachBatch → partitioned parquet final tables, with
exactly-once semantics under overlapping redelivery."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from blockchain_indexer_spark.plans.chain import (
    _sink,
    _sink_table,
    chain_feed,
    derive_chain,
    ingest_spine,
)
from blockchain_indexer_spark.streaming.runner import (
    BLOCK_GROUP_SIZE,
    CACHE_BALANCES,
    CACHE_TRUST,
    EVENT_TABLES,
    FEED_SCHEMA,
    SINK_TABLES,
    IngestPipeline,
    jdbc_commit_sql,
)
from tests.chain_fixtures import EXPECTED, build_raw_tables


def _feed_rows(spark):
    """Fixture chain flattened to the feed layout (tx rows with logs +
    empty-block markers)."""
    blocks, txs, logs = build_raw_tables(spark)
    log_structs = logs.groupBy("tx_hash").agg(
        F.sort_array(F.collect_list(F.struct("log_index", "address", "topics", "data"))).alias(
            "logs"
        )
    )
    b = blocks.select(
        F.col("number").alias("block_number"),
        F.col("hash").alias("block_hash"),
        F.col("timestamp").alias("block_timestamp"),
        "total_transaction_count",
    )
    tx_rows = (
        txs.join(b, ["block_number", "block_hash"])
        .join(log_structs, txs["hash"] == log_structs["tx_hash"], "left")
        .drop("tx_hash")
    )
    empty_blocks = b.join(
        txs.select("block_number").distinct(), "block_number", "left_anti"
    ).select(
        "block_number",
        "block_hash",
        "block_timestamp",
        "total_transaction_count",
        *[F.lit(None).alias(c) for c in ["hash", "index", "from", "to", "value", "input", "nonce", "type"]],
        F.lit(None).cast(FEED_SCHEMA["logs"].dataType).alias("logs"),
    )
    cols = [f.name for f in FEED_SCHEMA.fields]
    return tx_rows.select(*cols).unionByName(empty_blocks.select(*cols))


@pytest.fixture(scope="module")
def feed_df(spark):
    return _feed_rows(spark).cache()


@pytest.mark.slowe2e
def test_streaming_ingest_exactly_once(spark, tmp_path_factory, feed_df):
    root = str(tmp_path_factory.mktemp("stream"))
    feed_dir, ckpt, out = (os.path.join(root, d) for d in ("feed", "ckpt", "final"))
    os.makedirs(feed_dir)

    n_txs = feed_df.filter(F.col("hash").isNotNull()).count()
    split = feed_df.filter(F.col("block_number") % 2 == 0)
    rest_plus_overlap = feed_df  # second delivery contains EVERYTHING again

    pipe = IngestPipeline(spark, out)

    # chunk 1: half the blocks
    split.coalesce(1).write.mode("append").parquet(os.path.join(feed_dir))
    q = pipe.start_stream(feed_dir, ckpt)
    q.awaitTermination(120)

    mid_blocks = pipe.read_final("block").count()
    assert 0 < mid_blocks < feed_df.select("block_number").distinct().count()

    # chunk 2: full redelivery (overlap with chunk 1)
    rest_plus_overlap.coalesce(1).write.mode("append").parquet(os.path.join(feed_dir))
    q = pipe.start_stream(feed_dir, ckpt)
    q.awaitTermination(120)

    blocks_final = pipe.read_final("block")
    txs_final = pipe.read_final("transaction")
    assert blocks_final.count() == feed_df.select("block_number").distinct().count()
    assert txs_final.count() == n_txs
    # no duplicate keys despite overlapping delivery
    assert txs_final.select("hash").distinct().count() == n_txs
    assert blocks_final.select("number").distinct().count() == blocks_final.count()
    # classification survived the trip
    got = {
        r["hash"]: r["classification"]
        for r in txs_final.select("hash", "classification").collect()
    }
    assert got == EXPECTED
    # partition pruning layout exists
    assert any("block_group=" in p for p in os.listdir(os.path.join(out, "transaction")))


@pytest.mark.slowe2e
def test_micro_batch_promote_latency(spark, tmp_path_factory, feed_df, sf_dir):
    """BASELINE live-mode proxy: a 2000-row micro-batch must promote
    well inside the reference's 10 s serial-flush budget (Settings.cs:
    169-170). Generous 20 s bound absorbs test-host jitter; the
    measured value is printed for the record."""
    import time

    out = str(tmp_path_factory.mktemp("latency"))
    # the whole derived chain (~1k txs at sf0.001) as one feed
    feed = chain_feed(spark, sf_dir).cache()
    n = feed.count()
    assert n >= 1000
    pipe = IngestPipeline(spark, out)
    t0 = time.time()
    pipe.process_batch(feed)
    elapsed = time.time() - t0
    print(f"micro-batch promote of {n} txs (cold): {elapsed:.2f}s")
    assert pipe.read_final("transaction").count() == n
    assert elapsed < 20, f"2000-row micro-batch took {elapsed:.1f}s (budget 10s, bound 20s)"
    # Steady state is what the reference's 500 ms live cadence actually
    # exercises: warm codegen cache AND the deeper plan where the
    # exactly-once anti-join runs against non-empty final tables. A
    # duplicate redelivery of the same feed must land as zero new rows
    # and do so faster than the cold batch.
    t0 = time.time()
    pipe.process_batch(feed)
    warm = time.time() - t0
    print(f"micro-batch promote of {n} txs (warm, duplicate): {warm:.2f}s")
    assert pipe.read_final("transaction").count() == n  # idempotent
    assert warm < 15, f"warm duplicate micro-batch took {warm:.1f}s"


@pytest.fixture
def fake_jdbc(spark, tmp_path_factory, monkeypatch):
    """A recording JDBC stub that spools each table to a parquet dir:
    yields the sink root, the spool dir, the (url, table) lists written
    and read, and the statements of each committed transaction that ran
    any, which it also applies to the spool."""
    import shutil

    import pyspark.sql.readwriter as rw

    root = str(tmp_path_factory.mktemp("jdbc"))
    spool = os.path.join(root, "spool")
    written, read, commits = [], [], []

    def unq(table):
        assert table.startswith('"') and table.endswith('"'), table
        return table.strip('"')

    def fake_write_jdbc(self, url, table, mode=None, properties=None):
        written.append((url, unq(table)))
        self.parquet(os.path.join(spool, unq(table)), mode="append")

    def fake_read_jdbc(self, url, table, **kw):
        read.append((url, unq(table)))
        return spark.read.parquet(os.path.join(spool, unq(table)))

    monkeypatch.setattr(rw.DataFrameWriter, "jdbc", fake_write_jdbc)
    monkeypatch.setattr(rw.DataFrameReader, "jdbc", fake_read_jdbc)

    # the missing-table probe and raw SQL would dial the (nonexistent)
    # server — answer from the spool and apply each statement to it

    class FakeStatement:
        def __init__(self, conn):
            self.conn = conn

        def executeUpdate(self, sql):
            self.conn.run.append(sql)
            words = sql.split()
            table = os.path.join(spool, unq(words[2]))
            if sql.startswith("INSERT INTO"):  # INSERT INTO t (..) SELECT .. FROM s
                src = os.path.join(spool, unq(words[-1]))
                for f in os.listdir(src):
                    if f.endswith(".parquet"):
                        os.replace(os.path.join(src, f), os.path.join(table, f))
            elif sql.startswith(("DROP TABLE", "DELETE FROM")):
                shutil.rmtree(table)
            if sql.startswith(("CREATE TABLE", "DELETE FROM")):
                os.makedirs(table)
            return 0

    class FakeConn:
        def __init__(self):
            self.run = []

        def setAutoCommit(self, on):
            assert on is False

        def createStatement(self):
            return FakeStatement(self)

        def commit(self):
            if self.run:
                commits.append(self.run)

        def rollback(self):
            pass

        def close(self):
            pass

    monkeypatch.setattr(IngestPipeline, "_jdbc_connection", lambda self: FakeConn())
    monkeypatch.setattr(
        IngestPipeline,
        "_jdbc_table_exists",
        staticmethod(lambda conn, name: os.path.isdir(os.path.join(spool, name))),
    )
    monkeypatch.setattr(
        IngestPipeline,
        "_jdbc_staged",
        staticmethod(
            lambda conn: {
                name: spark.read.parquet(os.path.join(spool, f"{name}__pending")).columns
                for name in SINK_TABLES
                if os.path.isdir(os.path.join(spool, f"{name}__pending"))
            }
        ),
    )
    return root, spool, written, read, commits


def test_jdbc_sink_dispatch(spark, feed_df, fake_jdbc):
    """The JDBC branch stages every write through DataFrameWriter.jdbc
    into a `<table>__pending` table (quoted identifiers — `transaction`
    is an SQL reserved word), moves them into the final tables in one
    transaction, and reads finals back via DataFrameReader.jdbc —
    verified with a recording stub that spools to parquet (the
    real-database twin is tests/test_jdbc.py against embedded Derby)."""
    root, spool, written, read, commits = fake_jdbc
    url = "jdbc:postgresql://db/indexer"
    pipe = IngestPipeline(spark, root, jdbc_url=url, jdbc_properties={"user": "u"})
    pipe.process_batch(feed_df)
    assert {t for _, t in written} == {f"{name}__pending" for name in SINK_TABLES}
    assert all(u == url for u, _ in written)
    # the pg target got real-dialect DDL on each staged event table
    # before its append: text[] for the array columns, never the
    # JSON-text fallback
    created = {
        s.split('"')[1]: s
        for run in commits
        for s in run
        if s.startswith("CREATE TABLE") and " (LIKE " not in s
    }
    assert set(created) == {f"{name}__pending" for name in ("block", *EVENT_TABLES)}
    assert '"owners" text[]' in created["crc_signup__pending"]
    assert '"classification" text[]' in created["transaction__pending"]
    def columns(name):
        return spark.read.parquet(os.path.join(spool, name)).columns

    # one transaction creates each final table and moves its rows in
    assert commits[-1] == [
        sql
        for name in SINK_TABLES
        for sql in jdbc_commit_sql(name, columns(name), False, False, postgres=True)
    ]
    assert {t for _, t in read} <= {"block", "transaction"}
    # second batch: anti-join reads the spooled tables back via jdbc;
    # nothing new, so the caches are not rewritten
    n = spark.read.parquet(os.path.join(spool, "transaction")).count()
    pipe.process_batch(feed_df)  # duplicate delivery
    assert spark.read.parquet(os.path.join(spool, "transaction")).count() == n
    assert ("jdbc:postgresql://db/indexer", "transaction") in read
    assert commits[-1] == [
        sql
        for name in ("block", *EVENT_TABLES)
        for sql in jdbc_commit_sql(name, columns(name), True, False, postgres=True)
    ]
    assert not [f for f in os.listdir(spool) if f.endswith("__pending")]


def test_concurrent_importers_serialize(spark, tmp_path_factory, feed_df):
    """Two indexer instances racing the SAME rows into one sink must
    not double-import: the import lock serializes the read-merge-append
    round (the reference's Serializable promote transaction,
    ImportProcedure.cs:17-27)."""
    from concurrent.futures import ThreadPoolExecutor as TPE

    out = str(tmp_path_factory.mktemp("multiwriter"))
    n_txs = feed_df.filter(F.col("hash").isNotNull()).count()
    pipes = [IngestPipeline(spark, out) for _ in range(2)]
    with TPE(max_workers=2) as pool:
        futs = [pool.submit(p.process_batch, feed_df) for p in pipes]
        for f in futs:
            f.result()
    txs = pipes[0].read_final("transaction")
    assert txs.count() == n_txs  # second writer saw the first's commit
    assert txs.select("hash").distinct().count() == n_txs
    blocks = pipes[0].read_final("block")
    assert blocks.count() == blocks.select("number").distinct().count()


@pytest.mark.slowe2e
def test_compaction_preserves_data_and_shrinks_files(spark, tmp_path_factory, feed_df):
    root = str(tmp_path_factory.mktemp("compact"))
    pipe = IngestPipeline(spark, os.path.join(root, "final"))
    # many tiny appends: one promote round per block parity slice
    for mod in range(4):
        pipe.process_batch(feed_df.filter(F.col("block_number") % 4 == mod))

    table_dir = os.path.join(root, "final", "transaction")
    parts = [p for p in os.listdir(table_dir) if p.startswith("block_group=")]
    files_before = {
        p: len([f for f in os.listdir(os.path.join(table_dir, p)) if f.endswith(".parquet")])
        for p in parts
    }
    before = pipe.read_final("transaction").toPandas().sort_values("hash").reset_index(drop=True)

    stats = pipe.compact("transaction", min_files=1)
    assert stats, f"nothing compacted; files per part: {files_before}"
    for part, (n_b, n_a) in stats.items():
        assert n_a < n_b
        assert n_a == 1  # tiny partitions bin-pack to one file

    after = pipe.read_final("transaction").toPandas().sort_values("hash").reset_index(drop=True)
    assert before.equals(after)
    # idempotent: nothing left above the threshold
    assert pipe.compact("transaction", min_files=1) == {}


def _janino_compiles(spark) -> int:
    """Janino compiles so far in this JVM (CodegenMetrics histogram)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


@pytest.fixture(scope="module")
def same_shape_rounds(spark, tmp_path_factory, feed_df):
    """Three rounds of the fixture chain, each shifted to fresh block
    numbers and hashes: the first creates the tables and caches, the
    last two run the same plans over non-empty tables. Yields the
    pipeline and the Janino compiles of each round."""
    pipe = IngestPipeline(spark, str(tmp_path_factory.mktemp("same_shape")))
    compiles = []
    for k in range(3):
        batch = (
            feed_df.withColumn("block_number", F.col("block_number") + k * 1000)
            .withColumn("block_hash", F.concat("block_hash", F.lit(f"-{k}")))
            .withColumn("hash", F.concat("hash", F.lit(f"-{k}")))
        )
        before = _janino_compiles(spark)
        pipe.process_batch(batch, k)
        compiles.append(_janino_compiles(spark) - before)
    return pipe, compiles


def test_warm_round_reuses_compiled_classes(same_shape_rounds):
    """A round generates ~270 classes; Spark's default 100-entry
    codegen cache thrashed and recompiled them all every round.
    session.py sizes the cache to hold a round."""
    _, compiles = same_shape_rounds
    assert compiles[2] <= 10, compiles


def test_sink_read_schemas_equal_what_the_sink_writes(spark, same_shape_rounds):
    """read_final/read_cache pass SINK_READ_SCHEMAS instead of running
    a footer-inference job per read: each must equal the schema Spark
    infers from the files the sink wrote (names, order, types,
    nullability, block_group)."""
    from blockchain_indexer_spark.streaming.runner import SINK_READ_SCHEMAS

    pipe, _ = same_shape_rounds
    assert set(SINK_READ_SCHEMAS) == {"block", *EVENT_TABLES, CACHE_BALANCES, CACHE_TRUST}
    for name, declared in SINK_READ_SCHEMAS.items():
        inferred = spark.read.parquet(pipe._table_path(name)).schema
        assert inferred == declared, name
        assert pipe._read_parquet(name).schema == declared


def test_caches_equal_scratch_recompute_after_same_shape_rounds(same_shape_rounds):
    """The parquet refresh unions tables read before the appends with
    the batch's rows: after three rounds both caches must equal the
    views recomputed from the final tables."""
    from tests.test_cache_maintenance import _BAL_COLS, _TRUST_COLS, _scratch_views, _sorted

    pipe, _ = same_shape_rounds
    bal_fresh, trust_fresh = _scratch_views(pipe)
    assert _sorted(pipe.read_cache(CACHE_BALANCES), _BAL_COLS) == _sorted(bal_fresh, _BAL_COLS)
    assert _sorted(pipe.read_cache(CACHE_TRUST), _TRUST_COLS) == _sorted(trust_fresh, _TRUST_COLS)


def test_read_final_frame_keeps_its_file_list_across_an_append(spark, tmp_path):
    """A parquet frame lists its files when it is read: a frame taken
    before an append still reads the old rows afterwards. The cache
    refresh relies on it to read its inputs before the appends."""
    pipe = IngestPipeline(spark, str(tmp_path))

    def blocks(lo):
        return spark.createDataFrame(
            [(n, f"0x{n:x}", n, 0) for n in range(lo, lo + 5)],
            "number long, hash string, timestamp long, total_transaction_count int",
        ).withColumn("timestamp", F.timestamp_seconds("timestamp"))

    pipe._append("block", blocks(0), "number")
    pipe._commit()
    before = pipe.read_final("block")
    pipe._append("block", blocks(5), "number")
    pipe._commit()
    assert before.count() == 5
    assert pipe.read_final("block").count() == 10


def test_empty_table_still_reads_as_absent(spark, tmp_path):
    """An append of zero rows leaves only _SUCCESS; the sink reports
    'no table' for it as the schema-inferring read did."""
    pipe = IngestPipeline(spark, str(tmp_path))
    empty = spark.createDataFrame([], "block_number long, hash string")
    pipe._append("crc_trust", empty, "block_number")
    pipe._commit()
    assert os.listdir(pipe._table_path("crc_trust"))
    assert pipe.read_final("crc_trust") is None


def test_chain_queries_read_an_absent_table_as_empty(spark, tmp_path):
    """A chain without, say, hub transfers leaves that sink table
    without files; the chain queries read it as an empty table of its
    declared columns."""
    from blockchain_indexer_spark.streaming.runner import SINK_READ_SCHEMAS

    pipe = IngestPipeline(spark, str(tmp_path))
    for name in ("crc_hub_transfer", CACHE_TRUST):
        df = _sink_table(pipe, name)
        assert df.count() == 0
        assert df.columns == [c for c in SINK_READ_SCHEMAS[name].names if c != "block_group"]


def test_classifier_plan_computes_each_log_filter_once(spark):
    """The staged classifier: each distinct filter over the parsed
    logs appears once in the optimized plan (the nested Column tree
    repeated them 138 times)."""
    import re
    from collections import Counter

    from blockchain_indexer_spark.operators.classify import classify
    from blockchain_indexer_spark.operators.extract import assemble_transactions

    plan = (
        classify(assemble_transactions(*build_raw_tables(spark)))
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )

    def call_at(i: int) -> str:
        depth = 0
        for j in range(i, len(plan)):
            depth += {"(": 1, ")": -1}.get(plan[j], 0)
            if depth == 0 and plan[j] == ")":
                return re.sub(r"#\d+|x_\d+", "", plan[i:j + 1])
        raise AssertionError("unbalanced plan string")

    filters = Counter(call_at(m.start()) for m in re.finditer(r"filter\(_lp#", plan))
    assert len(filters) == 5, list(filters)
    assert set(filters.values()) == {1}, filters


def test_ingest_spine_counts_all_txs(spark, sf_dir):
    """Backfill path: ingest_spine imports every derived tx through
    process_batch, and redelivering the same feed into an already
    backfilled sink (the chain queries' one, built once per session)
    adds no row to any final table."""
    assert ingest_spine(spark, sf_dir) == derive_chain(spark, sf_dir).count()
    pipe = _sink(spark, sf_dir)
    tables = ("block", *EVENT_TABLES)
    before = {name: pipe.read_final(name).count() for name in tables}
    pipe.process_batch(chain_feed(spark, sf_dir))
    assert {name: pipe.read_final(name).count() for name in tables} == before


def test_retract_rewrites_only_the_affected_block_groups(spark, sf_dir, tmp_path):
    """The derived chain spans block_groups 110, 125 and 126. A retract
    inside group 126 rewrites only that group: every part file of the
    older groups keeps its path and inode, both caches are dropped, and
    the tables equal a clean run of the blocks below the reorg block."""
    out_dir = str(tmp_path / "final")
    shutil.copytree(_sink(spark, sf_dir).out_dir, out_dir)
    reorg_block = 12_600_050
    group = reorg_block // BLOCK_GROUP_SIZE

    def older_files():
        out = {}
        for table in ("block", *EVENT_TABLES):
            table_dir = os.path.join(out_dir, table)
            for part in os.listdir(table_dir) if os.path.isdir(table_dir) else ():
                if part.startswith("block_group=") and int(part.split("=")[1]) < group:
                    for f in os.listdir(os.path.join(table_dir, part)):
                        path = os.path.join(table_dir, part, f)
                        out[os.path.relpath(path, out_dir)] = os.stat(path).st_ino
        return out

    def rows(pipe, name):
        df = pipe.read_final(name)
        return None if df is None else sorted(map(repr, df.collect()))

    before = older_files()
    assert {p.split(os.sep)[1] for p in before} == {"block_group=110", "block_group=125"}
    pipe = IngestPipeline(spark, out_dir)
    pipe.retract(reorg_block)
    assert older_files() == before
    assert pipe.read_final(CACHE_BALANCES) is None and pipe.read_final(CACHE_TRUST) is None
    clean = IngestPipeline(spark, str(tmp_path / "clean"))
    clean.process_batch(chain_feed(spark, sf_dir).filter(F.col("block_number") < reorg_block))
    for name in ("block", *EVENT_TABLES):
        assert rows(pipe, name) == rows(clean, name), name
