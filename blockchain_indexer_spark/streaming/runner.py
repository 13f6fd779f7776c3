"""Streaming ingest — the reference's round loop (`Indexer.cs:87-175`)
as Structured Streaming + foreachBatch.

Stream element = one transaction WITH its receipt logs and block
metadata embedded (the reference's widening tuple, Indexer.cs:149-150,
flattened); empty blocks ride along as a row with NULL tx hash
(BlockTracker.InsertEmptyBlock, Persistence/BlockTracker.cs:49-66).

Each micro-batch runs the same idempotent promote→classify→extract→
append round the batch path uses (operators.promote); exactly-once
comes from the anti-join merge against the already-promoted tables,
not from Spark state — a duplicate delivery (redeployed feed files,
overlapping backfill) lands as zero new rows (T4, README.md:85-87).
Completeness gating works across batches because incomplete blocks
simply fail the gate again until their missing txs arrive (T3).

Sink layout: one parquet directory per final table, partitioned by
block range (`block_group = block_number div 100_000`) so reorg
retraction (T5) and block-range queries prune partitions.

Every write (a batch's nine appends and two cache refreshes, a
retract, a compact) commits once, like the reference's one
Serializable import transaction (ImportProcedure.cs:17-27). New rows
are staged first: under a hidden `.pending/` inside each parquet table
dir, or in a `<table>__pending` table on JDBC. `_commit` then moves
them in at once. On parquet, renaming one `.commit` marker (the list of
the files they replace) into the sink root is the commit point, and
`_settle` applies it; readers never see `.pending/`, which Spark skips.
On JDBC one transaction copies each staged table into its final table,
drops it, and queues the write's announcement in an `_announce` table
that `_settle` drains. A write that fails before its commit leaves only
staged rows, which the next `_settle` drops, so a retried batch runs
against the tables as they were.
"""

from __future__ import annotations

import contextlib
import fcntl
import json
import os
import shutil
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from blockchain_indexer_spark.operators.classify import classify
from blockchain_indexer_spark.operators.extract import extract_all
from blockchain_indexer_spark.operators.promote import promote
from blockchain_indexer_spark.schemas import (
    BLOCK_SCHEMA,
    CACHE_CRC_BALANCES_SCHEMA,
    CACHE_CRC_CURRENT_TRUST_SCHEMA,
    EVENT_TABLE_SCHEMAS,
    HUB_ADDRESS,
    LOG_STRUCT,
    RAW_TRANSACTION_SCHEMA,
    TRANSACTION_SCHEMA,
)

FEED_SCHEMA = T.StructType(
    [
        T.StructField("block_number", T.LongType(), False),
        T.StructField("block_hash", T.StringType(), False),
        T.StructField("block_timestamp", T.LongType(), False),
        T.StructField("total_transaction_count", T.IntegerType(), False),
        # tx fields; NULL hash ⇒ empty-block marker row
        T.StructField("hash", T.StringType(), True),
        T.StructField("index", T.IntegerType(), True),
        T.StructField("from", T.StringType(), True),
        T.StructField("to", T.StringType(), True),
        T.StructField("value", T.StringType(), True),
        T.StructField("input", T.StringType(), True),
        T.StructField("nonce", T.StringType(), True),
        T.StructField("type", T.StringType(), True),
        T.StructField("logs", T.ArrayType(LOG_STRUCT), True),
    ]
)


def feed_arrow_schema():
    """FEED_SCHEMA as the pyarrow schema feed files are written with."""
    from pyspark.sql.pandas.types import to_arrow_schema  # noqa: PLC0415

    return to_arrow_schema(FEED_SCHEMA)


EVENT_TABLES = (
    "transaction",
    "crc_signup",
    "erc20_transfer",
    "crc_organisation_signup",
    "crc_trust",
    "crc_hub_transfer",
    "eth_transfer",
    "gnosis_safe_eth_transfer",
)

# The reference's two hand-maintained materializations, refreshed
# per import batch on stale keys only (0.0.64.sql:2272-2376, T8)
CACHE_BALANCES = "cache_crc_balances_by_safe_and_token"
CACHE_TRUST = "cache_crc_current_trust"

# the final tables the two caches' views read
CACHE_INPUTS = ("crc_signup", "crc_organisation_signup", "erc20_transfer", "crc_trust")

# every table of the sink, caches included
SINK_TABLES = ("block", *EVENT_TABLES, CACHE_BALANCES, CACHE_TRUST)

BLOCK_GROUP_SIZE = 100_000


def _as_read_back(schema: T.StructType, partitioned: bool) -> T.StructType:
    """A declared table schema as the parquet sink reads it back:
    every column nullable (Spark writes parquet columns optional) and
    the partition column last, typed as partition discovery infers it
    (int while block_number < 2^31 * BLOCK_GROUP_SIZE)."""
    fields = [T.StructField(f.name, f.dataType, True) for f in schema.fields]
    if partitioned:
        fields.append(T.StructField("block_group", T.IntegerType(), True))
    return T.StructType(fields)


# Parquet-sink read schemas. Passing them to spark.read skips the
# footer-inference job each schema-less read submits (8 per live round:
# 6 read_final + 2 read_cache). tests/test_streaming.py pins that they
# equal what the sink writes.
SINK_READ_SCHEMAS: dict[str, T.StructType] = {
    **{
        name: _as_read_back(schema, partitioned=True)
        for name, schema in {
            "block": BLOCK_SCHEMA,
            "transaction": TRANSACTION_SCHEMA,
            **EVENT_TABLE_SCHEMAS,
        }.items()
    },
    CACHE_BALANCES: _as_read_back(CACHE_CRC_BALANCES_SCHEMA, partitioned=False),
    CACHE_TRUST: _as_read_back(CACHE_CRC_CURRENT_TRUST_SCHEMA, partitioned=False),
}


def _with_block_group(df: DataFrame, block_col: str) -> DataFrame:
    return df.withColumn("block_group", (F.col(block_col) / BLOCK_GROUP_SIZE).cast("long"))


def _as_sink_rows(df: DataFrame, schema: T.StructType) -> DataFrame:
    """A batch's rows of an event table cast to `schema`, the read
    schema of the final table they are unioned with: SINK_READ_SCHEMAS
    on parquet, the target's column types on JDBC."""
    if "block_group" in schema.fieldNames():
        df = _with_block_group(df, "block_number")
    return df.select(*[F.col(f.name).cast(f.dataType).alias(f.name) for f in schema.fields])


def _has_data_files(path: str) -> bool:
    """True once any file Spark would read sits under `path` (it skips
    names starting with '.', and with '_' unless they hold '='). An
    empty append leaves only _SUCCESS, which a schema-less read rejects
    as UNABLE_TO_INFER_SCHEMA — the sink keeps treating that as 'no
    table' now that reads carry their schema."""

    def visible(n: str) -> bool:
        return not (n.startswith(".") or (n.startswith("_") and "=" not in n))

    for _, dirs, files in os.walk(path):
        if any(visible(f) for f in files):
            return True
        dirs[:] = [d for d in dirs if visible(d)]
    return False


# A write's staged files, inside each table dir it touches, and the
# commit marker in the sink root; on JDBC, the suffix of the table a
# write stages its rows in, and the table a commit queues its
# announcement in (see the module docstring). Last, the import lock's
# file in the sink root (see _import_lock).
_PENDING = ".pending"
_MARKER = ".commit"
_STAGED = "__pending"
_ANNOUNCE = "_announce"
_LOCK = ".import.lck"


# K5: the reference broadcasts this magic hash to websocket consumers
# when a reorg invalidated previously announced transactions
# (Indexer.cs:37-38, Api/TransactionHashBroadcastService.cs:41-57)
REORG_MAGIC_HASH = "0xdeadbeef" + "0" * 56

# Array-typed columns in the final tables, JSON-encoded on generic
# JDBC targets (the reference's Postgres stores them as text[],
# 0.0.64.sql:358-377; embedded Derby — the in-sandbox test target —
# has no array type at all). Encoded with to_json on write, decoded
# with from_json on read, so every consumer above read_final sees the
# parquet-identical schema.
JDBC_ARRAY_COLS: dict[str, dict[str, str]] = {
    "transaction": {"classification": "array<string>"},
    "crc_signup": {"owners": "array<string>"},
}


def is_postgres_url(url: str | None) -> bool:
    """True for the reference's actual target dialect (Settings.cs
    CONNECTION_STRING is Npgsql; the JDBC twin is jdbc:postgresql:)."""
    return bool(url) and url.startswith("jdbc:postgresql:")


def _quote(name: str) -> str:
    """A double-quoted SQL identifier: `transaction` is reserved on most
    targets (Derby rejects it outright), and quoting pins the exact
    lowercase names the parquet sink uses."""
    return '"' + name.replace('"', '""') + '"'


def pg_create_table_sql(name: str, schema) -> str:
    """Postgres-dialect CREATE TABLE for a table of the sink — the
    mapping the reference's DDL uses (0.0.64.sql:358-377): array<string>
    columns are REAL text[] (Postgres frames keep their ArrayType; the
    JSON-text fallback is for generic targets only) and every decimal
    is UNBOUNDED numeric, so uint256 wei values that overflow Derby's
    precision-31 DECIMAL (and even Spark's own 38-digit DecimalType
    ceiling) are preserved exactly via their value_string text twin
    while the numeric column holds what Spark can represent. Pinned by
    tests/test_jdbc.py's pg-dialect contract test and executed against
    a throwaway PostgreSQL server in tests/test_pg_live.py.
    """

    def pg_type(field) -> str:
        dt = field.dataType
        if isinstance(dt, T.DecimalType):
            return "numeric"  # unbounded: Postgres numeric has no cap
        if isinstance(dt, T.ArrayType) and isinstance(dt.elementType, T.StringType):
            return "text[]"
        return {
            T.StringType: "text",
            T.LongType: "bigint",
            T.IntegerType: "integer",
            T.ShortType: "smallint",
            T.BooleanType: "boolean",
            T.DoubleType: "double precision",
            T.FloatType: "real",
            T.TimestampType: "timestamp",
            T.DateType: "date",
            T.BinaryType: "bytea",
        }[type(dt)]

    cols = ", ".join(
        f"{_quote(f.name)} {pg_type(f)}" + ("" if f.nullable else " NOT NULL")
        for f in schema.fields
    )
    return f"CREATE TABLE {_quote(name)} ({cols})"


def jdbc_commit_sql(
    name: str, columns: list[str], exists: bool, replace: bool, postgres: bool = False
) -> list[str]:
    """The statements of a JDBC commit's transaction that move staged
    table `<name>__pending`, with `columns`, into table `name`: create
    `name` if it is missing (on Postgres with LIKE, which keeps the NOT
    NULLs that CREATE TABLE AS drops), empty it if the write replaces it
    (the caches), copy the rows by column name (a refreshed cache's
    using-joins put the join key first), drop the staged table."""
    final, staged = _quote(name), _quote(name + _STAGED)
    if exists:
        first = [f"DELETE FROM {final}"] if replace else []
    elif postgres:
        first = [f"CREATE TABLE {final} (LIKE {staged})"]
    else:
        first = [f"CREATE TABLE {final} AS SELECT * FROM {staged} WITH NO DATA"]
    cols = ", ".join(map(_quote, columns))
    copy = f"INSERT INTO {final} ({cols}) SELECT {cols} FROM {staged}"
    return [*first, copy, f"DROP TABLE {staged}"]


class IngestPipeline:
    """Batch-or-streaming ingest into partitioned parquet final tables.

    `on_imported` (K5) is called with each committed batch's newly
    imported tx hashes — the reference's websocket broadcast seam
    (RoundContext.OnBatchSuccessNotify); a retract announces
    [REORG_MAGIC_HASH]. The list is batch-sized, not a scan. Delivery
    is at least once on both sinks: the commit carries the list (in the
    parquet marker, or in the `_announce` table the JDBC transaction
    writes), and whichever `_settle` finds it announces it before
    removing it. A callback that raises fails that call and keeps the
    list, so the next process_batch, retract or compact announces again
    before it writes anything; while the callback keeps raising, the
    sink takes no writes.
    """

    def __init__(
        self,
        spark: SparkSession,
        out_dir: str,
        hub: str = HUB_ADDRESS,
        safe_owners: DataFrame | None = None,
        on_imported=None,
        on_batch=None,
        jdbc_url: str | None = None,
        jdbc_properties: dict[str, str] | None = None,
    ) -> None:
        """`jdbc_url` switches the final-table sink/source from
        partitioned parquet to JDBC tables — the reference's Postgres
        import (Settings.cs CONNECTION_STRING, README.md:80-84), staged
        and committed like it (see the module docstring). The promote
        semantics are sink-agnostic: exactly-once still comes from the
        anti-join against the read-back table, so the target needs no
        unique indexes (the reference dropped them too,
        README.md:85-87). Parquet remains the default; the JDBC branch
        is end-to-end tested against embedded Derby (tests/test_jdbc.py,
        tests/test_import_lock.py). Target caveats vs the reference's
        Postgres: array columns are JSON text (JDBC_ARRAY_COLS) instead
        of text[], and Derby's dialect caps DECIMAL at precision 31
        (uint256 wei values above 1e31-1 overflow the TEST target only;
        value_string always preserves the exact value, and Postgres
        numeric is unbounded).
        """
        self.spark = spark
        self.out_dir = out_dir
        self.hub = hub
        self.safe_owners = safe_owners
        self.on_imported = on_imported
        # liveness heartbeat, fired after EVERY successful batch — even
        # one of empty blocks or pure redeliveries, which import
        # correctly but announce no hashes (wire to BroadcastLog.touch
        # so /health doesn't 503 a healthy indexer on a quiet chain)
        self.on_batch = on_batch
        self.jdbc_url = jdbc_url
        self.jdbc_properties = jdbc_properties or {}

    def _announce(self, hashes: list[str] | None) -> None:
        if hashes and self.on_imported is not None:
            self.on_imported(hashes)

    def retract(self, reorg_block: int) -> None:
        """T5: drop every final row at or above the diverging block and
        announce the reorg (Indexer.cs:273-325); the caller re-ingests
        from `reorg_block`. On the partitioned parquet sink only the
        block_group partitions at or above `reorg_block`'s group
        change: each table's kept rows of that group are staged, and
        one commit replaces only those partition dirs and drops both
        cache tables, which rebuild in full on the next batch. Older
        partitions keep their files. A crash before
        the commit leaves the old branch whole. JDBC targets run the
        reference's SQL delete server-side: one transaction issuing
        DELETE .. WHERE block_number >= ? over block + the 8 event
        tables, dropping the two cache tables and queueing the
        announcement (Indexer.cs:273-325 runs the same ordered deletes
        inside a single Serializable transaction via
        ImportProcedure.cs:17-27) — atomic on the server, so a crash
        mid-retract rolls back instead of leaving a half-retracted
        database.
        """
        from blockchain_indexer_spark.operators.promote import retract_from  # noqa: PLC0415

        # under the import lock: the rewrite deletes part files a
        # concurrent promote's anti-join may be scanning, and a batch
        # committed between the filter (or the DELETE) and the commit
        # would dodge the retraction entirely (same serialization the
        # reference gets from its Serializable transaction)
        with self._import_lock():
            self._settle()
            if self.jdbc_url is not None:
                with self._jdbc_transaction() as (conn, st):
                    for name in ("block", *EVENT_TABLES):
                        if not self._jdbc_table_exists(conn, name):
                            continue  # pre-first-batch target
                        block_col = "number" if name == "block" else "block_number"
                        st.executeUpdate(
                            f"DELETE FROM {_quote(name)} "
                            f"WHERE {_quote(block_col)} >= {int(reorg_block)}"
                        )
                    for cache in (CACHE_BALANCES, CACHE_TRUST):
                        if self._jdbc_table_exists(conn, cache):
                            st.executeUpdate(f"DROP TABLE {_quote(cache)}")
                    self._jdbc_queue_announce(conn, st, [REORG_MAGIC_HASH])
                self._settle()
                return
            group = int(reorg_block) // BLOCK_GROUP_SIZE
            replaced = []
            for name in ("block", *EVENT_TABLES):
                table_dir = self._table_path(name)
                parts = [
                    p
                    for p in (os.listdir(table_dir) if os.path.isdir(table_dir) else ())
                    if p.startswith("block_group=") and int(p.split("=", 1)[1]) >= group
                ]
                df = self.read_final(name) if f"block_group={group}" in parts else None
                if df is not None:
                    # every higher group lies wholly at or above reorg_block,
                    # so only reorg_block's own group keeps rows; the old
                    # files stay until the commit, so the rewrite reads them
                    # where they are
                    own = df.filter(F.col("block_group") == group)
                    kept = retract_from({name: own}, reorg_block)[name]
                    self._append(name, kept, "number" if name == "block" else "block_number")
                replaced += [os.path.join(name, p) for p in parts]
            self._commit(*replaced, CACHE_BALANCES, CACHE_TRUST, announce=[REORG_MAGIC_HASH])

    def _staged(self):
        """(staged file, its final path) for each file under a table's
        .pending/ dir; the final path is the same relative path in the
        table."""
        for entry in sorted(os.listdir(self.out_dir)):
            pending = os.path.join(self.out_dir, entry, _PENDING)
            for root, _dirs, files in os.walk(pending):
                for f in files:
                    src = os.path.join(root, f)
                    yield src, os.path.join(self.out_dir, entry, os.path.relpath(src, pending))

    def _commit(self, *replaced: str, announce: list[str] | None = None) -> None:
        """Commit every staged write, replacing all current rows of the
        `replaced` tables (names relative to the sink: a table, or one
        partition dir of it for compact), then announce `announce`.

        Parquet: the current files under the `replaced` dirs and
        `announce` are written to .commit.tmp, renamed to .commit (the
        commit point), and _settle applies them. A staged file that
        lands on a current file's path (_SUCCESS) replaces it, so that
        path is not listed.

        JDBC: one transaction runs jdbc_commit_sql for each staged
        table and queues `announce` in the `_announce` table, and
        _settle announces it."""
        if self.jdbc_url is not None:
            postgres = is_postgres_url(self.jdbc_url)
            with self._jdbc_transaction() as (conn, st):
                for name, cols in self._jdbc_staged(conn).items():
                    exists = self._jdbc_table_exists(conn, name)
                    for sql in jdbc_commit_sql(name, cols, exists, name in replaced, postgres):
                        st.executeUpdate(sql)
                self._jdbc_queue_announce(conn, st, announce)
        else:
            staged = {dst for _src, dst in self._staged()}
            old = []
            for rel in replaced:
                for root, dirs, files in os.walk(os.path.join(self.out_dir, rel)):
                    dirs[:] = [d for d in dirs if d != _PENDING]
                    old += [os.path.join(root, f) for f in files]
            gone = [os.path.relpath(p, self.out_dir) for p in old if p not in staged]
            tmp = os.path.join(self.out_dir, _MARKER + ".tmp")
            with open(tmp, "w") as f:
                json.dump({"replaced": gone, "announce": announce}, f)
            os.replace(tmp, os.path.join(self.out_dir, _MARKER))
        self._settle()

    def _settle(self) -> None:
        """Apply the commit the last write left, or drop what a write
        staged without committing. Runs first under the import lock in
        process_batch, retract and compact, and last in _commit. On JDBC
        a commit is one transaction, so only staged tables and queued
        hashes can be left: one transaction drops the tables, announces
        the hashes and deletes them. On parquet every step can run again
        after a crash: staged files move to their final paths, the
        replaced files go (with a partition or cache dir they leave
        empty), the commit's hashes are announced, then the marker goes.
        A callback that raises leaves the hashes (and the marker)."""
        if self.jdbc_url is not None:
            with self._jdbc_transaction() as (conn, st):
                for name in self._jdbc_staged(conn):
                    st.executeUpdate(f"DROP TABLE {_quote(name + _STAGED)}")
                if self._jdbc_table_exists(conn, _ANNOUNCE):
                    rs = st.executeQuery(f"SELECT * FROM {_quote(_ANNOUNCE)}")
                    hashes = []
                    while rs.next():
                        hashes.append(rs.getString(1))
                    self._announce(hashes)
                    st.executeUpdate(f"DELETE FROM {_quote(_ANNOUNCE)}")
            return
        if not os.path.isdir(self.out_dir):
            return
        marker = os.path.join(self.out_dir, _MARKER)
        commit = None
        if os.path.exists(marker):
            with open(marker) as f:
                commit = json.load(f)
            if isinstance(commit, list):  # an older marker: replaced files only
                commit = {"replaced": commit, "announce": None}
            for src, dst in self._staged():
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                os.replace(src, dst)
            for rel in commit["replaced"]:
                path = os.path.join(self.out_dir, rel)
                with contextlib.suppress(FileNotFoundError):
                    os.remove(path)
                with contextlib.suppress(OSError):
                    os.rmdir(os.path.dirname(path))
        for entry in os.listdir(self.out_dir):
            shutil.rmtree(os.path.join(self.out_dir, entry, _PENDING), ignore_errors=True)
        if commit is not None:
            self._announce(commit["announce"])
            os.remove(marker)

    def _table_path(self, name: str) -> str:
        return os.path.join(self.out_dir, name)

    # ---- JDBC sink plumbing -------------------------------------------
    # Table identifiers are always double-quoted (_quote). Spark itself
    # quotes COLUMN identifiers through the dialect, so raw statements
    # below must quote columns too ("number").

    def _jdbc_connection(self):
        """Raw java.sql connection to the sink via py4j — for the SQL
        Spark's DataFrame JDBC writer cannot express (the commit, DELETE,
        DROP, metadata probes). Driver resolution rides the JVM's service
        loader, same classpath as the DataFrame reader."""
        jvm = self.spark._sc._jvm
        props = jvm.java.util.Properties()
        for k, v in self.jdbc_properties.items():
            props.setProperty(k, v)
        return jvm.java.sql.DriverManager.getConnection(self.jdbc_url, props)

    @contextlib.contextmanager
    def _jdbc_transaction(self):
        """One transaction on the sink: yields (connection, statement),
        commits when the body returns and rolls back when it raises.
        Closing the connection closes the statement."""
        with contextlib.closing(self._jdbc_connection()) as conn:
            conn.setAutoCommit(False)
            st = conn.createStatement()
            try:
                yield conn, st
                conn.commit()
            except BaseException:
                conn.rollback()
                raise

    @staticmethod
    def _jdbc_table_exists(conn, name: str) -> bool:
        rs = conn.getMetaData().getTables(None, None, name, None)
        try:
            return bool(rs.next())
        finally:
            rs.close()

    def _jdbc_queue_announce(self, conn, st, hashes: list[str] | None) -> None:
        """Queue `hashes` for _settle to announce, inside the transaction
        of `conn` (a tx hash is 66 characters)."""
        if not hashes:
            return
        if not self._jdbc_table_exists(conn, _ANNOUNCE):
            st.executeUpdate(f'CREATE TABLE {_quote(_ANNOUNCE)} ("hash" VARCHAR(256))')
        insert = conn.prepareStatement(f"INSERT INTO {_quote(_ANNOUNCE)} VALUES (?)")
        for h in hashes:
            insert.setString(1, h)
            insert.addBatch()
        insert.executeBatch()

    @staticmethod
    def _jdbc_staged(conn) -> dict[str, list[str]]:
        """The tables with a staged `<name>__pending` table, each mapped
        to the staged table's columns, from one metadata query ('_' is
        a wildcard in its pattern, hence the exact match below)."""
        rs = conn.getMetaData().getColumns(None, None, "%" + _STAGED, None)
        cols: dict[str, list[str]] = {}
        try:
            while rs.next():
                cols.setdefault(rs.getString("TABLE_NAME"), []).append(rs.getString("COLUMN_NAME"))
        finally:
            rs.close()
        return {n: cols[n + _STAGED] for n in SINK_TABLES if n + _STAGED in cols}

    def _jdbc_encode(self, name: str, df: DataFrame) -> DataFrame:
        """Array columns → JSON text for targets without array types
        (see JDBC_ARRAY_COLS). Lossless: from_json inverts to_json for
        array<string> exactly (NULL stays NULL, [] stays []). On a
        POSTGRES target the columns pass through untouched: the table
        is created with real text[] (pg_create_table_sql) and Spark's
        PostgresDialect writes ArrayType natively."""
        if is_postgres_url(self.jdbc_url):
            return df
        for col in JDBC_ARRAY_COLS.get(name, {}):
            df = df.withColumn(col, F.to_json(F.col(col)))
        return df

    def _jdbc_decode(self, name: str, df: DataFrame) -> DataFrame:
        if is_postgres_url(self.jdbc_url):
            return df  # text[] reads back as ArrayType already
        for col, typ in JDBC_ARRAY_COLS.get(name, {}).items():
            if col in df.columns:
                df = df.withColumn(col, F.from_json(F.col(col), typ))
        return df

    def read_final(self, name: str) -> DataFrame | None:
        """None means 'table not created yet' (first batch). Only a
        POSITIVE missing-table signal is treated that way — the parquet
        isdir probe, or a successful JDBC metadata query reporting no
        such table. A transient connection/auth failure in JDBC mode
        PROPAGATES (from getConnection/read), because swallowing it
        would make the exactly-once anti-join run against existing=None
        and re-import every staged row as a duplicate.
        """
        from pyspark.errors.exceptions.captured import AnalysisException

        try:
            if self.jdbc_url is not None:
                with contextlib.closing(self._jdbc_connection()) as conn:
                    if not self._jdbc_table_exists(conn, name):
                        return None
                return self._jdbc_decode(
                    name,
                    self.spark.read.jdbc(
                        self.jdbc_url, _quote(name), properties=self.jdbc_properties
                    ),
                )
            return self._read_parquet(name)
        except AnalysisException:
            return None

    def _read_parquet(self, name: str) -> DataFrame | None:
        """Parquet-sink read with the table's declared schema (see
        SINK_READ_SCHEMAS); None while the table holds no data files.
        Probed locally first: letting spark.read throw on a missing
        dir works, but the JVM logs a full stack trace per probe (one
        per table on the first batch) — noise that reads like a
        failure in bench/driver output."""
        path = self._table_path(name)
        if not _has_data_files(path):
            return None
        return self.spark.read.schema(SINK_READ_SCHEMAS[name]).parquet(path)

    def _append(self, name: str, df: DataFrame, block_col: str) -> None:
        if self.jdbc_url is None:
            writer = _with_block_group(df, block_col).write.partitionBy("block_group")
            self._stage(name, writer.mode("append"))
            return
        if is_postgres_url(self.jdbc_url):
            # pg-dialect DDL first (text[] / unbounded numeric,
            # pg_create_table_sql): Spark's generic CREATE would fall
            # back to the JSON-text mapping, and the commit's CREATE
            # TABLE .. (LIKE ..) copies the staged table's columns
            with self._jdbc_transaction() as (_conn, st):
                st.executeUpdate(pg_create_table_sql(name + _STAGED, df.schema))
        self._stage(name, self._jdbc_encode(name, df).write.mode("append"))

    def _stage(self, name: str, writer) -> None:
        """Run `writer` into the staging location _commit moves into
        table `name`: `<name>/.pending/`, or table `<name>__pending`."""
        if self.jdbc_url is not None:
            writer.jdbc(self.jdbc_url, _quote(name + _STAGED), properties=self.jdbc_properties)
        else:
            writer.parquet(os.path.join(self._table_path(name), _PENDING))

    def compact(
        self, name: str, target_file_bytes: int = 128 << 20, min_files: int = 8
    ) -> dict[str, tuple[int, int]]:
        """Bin-pack the small files a live trigger accumulates.

        The 500 ms cadence appends one file set per micro-batch per
        partition; after hours of live tail a block_group holds
        thousands of KB-sized files and every scan pays their open
        cost (the classic streaming-sink small-file problem — the
        reference's Postgres heap never has it, so this is the
        parquet-sink twin of its autovacuum). Each block_group
        partition with more than ``min_files`` files is rewritten to
        ``ceil(bytes / target_file_bytes)`` files, staged, and swapped
        in by one commit for the whole table. Runs under the import
        lock, so it cannot race a concurrent promote; run it between
        batches or from a cron, like any maintenance window. Parquet
        sink only (JDBC targets compact server-side). Returns
        {partition: (files_before, files_after)}.

        Scale note: each partition rewrite is an independent
        coalesce-and-write job over one block_group — embarrassingly
        parallel across partitions and bounded by partition size, so
        the operation stays O(touched partitions) regardless of total
        table size; old block_groups stop being touched by ingest and
        never need recompacting.
        """
        if self.jdbc_url is not None:
            raise ValueError("compact() applies to the parquet sink only")
        table_dir = self._table_path(name)
        results: dict[str, tuple[int, int]] = {}
        if not os.path.isdir(table_dir):
            return results
        with self._import_lock():
            self._settle()
            for part in sorted(os.listdir(table_dir)):
                part_dir = os.path.join(table_dir, part)
                if not (part.startswith("block_group=") and os.path.isdir(part_dir)):
                    continue
                files = [f for f in os.listdir(part_dir) if f.endswith(".parquet")]
                if len(files) <= min_files:
                    continue
                total = sum(os.path.getsize(os.path.join(part_dir, f)) for f in files)
                n_out = max(1, -(-total // target_file_bytes))
                staged = os.path.join(table_dir, _PENDING, part)
                (
                    self.spark.read.parquet(part_dir)
                    .coalesce(int(n_out))
                    .write.mode("overwrite")
                    .parquet(staged)
                )
                n_after = len([f for f in os.listdir(staged) if f.endswith(".parquet")])
                results[part] = (len(files), n_after)
            if results:
                self._commit(*(os.path.join(name, part) for part in results))
        return results

    @contextlib.contextmanager
    def _import_lock(self):
        """Cross-process import mutex: an exclusive flock on one file in
        the sink root, for the reference's Serializable promote
        transaction (Persistence/ImportProcedure.cs:17-27). The
        exactly-once anti-join reads the final tables, so unserialized
        writers racing the same rows would both import them. Closing the
        file releases the lock, also when the body raises, and the kernel
        releases it when its holder dies, so a restart after a crash gets
        in at once. A flock belongs to its open file description, so two
        opens conflict even inside one process; Python opens files
        non-inheritable, so no child process (the JVM, Spark's workers)
        keeps it.

        Every writer must see the same flock: a sink shared across hosts
        needs a cluster-wide flock, and on NFS, where Linux emulates
        flock with per-process byte-range locks, run one pipeline per
        process. On JDBC a batch's anti-join reads the final tables
        before its commit's transaction, so instances sharing a database
        must share this lock too, or run the round SERIALIZABLE
        server-side like the reference (SCALE.md)."""
        os.makedirs(self.out_dir, exist_ok=True)
        with open(os.path.join(self.out_dir, _LOCK), "a") as f:
            fcntl.flock(f, fcntl.LOCK_EX)
            yield

    def process_batch(self, feed: DataFrame, epoch_id: int = 0) -> None:
        """foreachBatch body: staging split → promote → classify →
        extract → idempotent append. Also usable directly in batch
        mode. The whole read-merge-append round runs under the import
        lock so concurrent indexer instances serialize (T4 composes
        with multi-writer safety).
        """
        feed.persist()
        try:
            with self._import_lock():
                self._process_batch_locked(feed)
        finally:
            feed.unpersist()

    def _process_batch_locked(self, feed: DataFrame) -> None:
        # settle the last write FIRST: a commit it left unapplied holds
        # rows the anti-join must see, and a failed batch's staged files
        # must not land with this one
        self._settle()
        block_staging = feed.select(
            F.col("block_number").alias("number"),
            F.col("block_hash").alias("hash"),
            F.col("block_timestamp").alias("timestamp"),
            "total_transaction_count",
        )
        tx_rows = feed.filter(F.col("hash").isNotNull())
        tx_staging = tx_rows.select(*[f.name for f in RAW_TRANSACTION_SCHEMA.fields])
        log_staging = tx_rows.select(
            F.col("hash").alias("tx_hash"), "block_hash", F.explode("logs").alias("l")
        ).select("tx_hash", "block_hash", "l.log_index", "l.address", "l.topics", "l.data")

        # promote returns eager local checkpoints: classify, the
        # appends and the broadcast read the merge results without
        # recomputing the promote
        promoted = promote(
            block_staging,
            tx_staging,
            log_staging,
            existing_blocks=self.read_final("block"),
            existing_txs=self.read_final("transaction"),
        )
        new_blocks = promoted["block"]
        new_txs = promoted["transaction_raw"]
        new_logs = promoted["log_raw"]

        from blockchain_indexer_spark.operators.extract import assemble_transactions

        assembled = assemble_transactions(new_blocks, new_txs, new_logs)
        # Checkpoint the classified frame: the 8 table appends below
        # would otherwise each re-run the assemble shuffle, the log
        # parse and the classifier's hex decodes (and each plan its
        # own AQE re-optimization) inside the reference's 500 ms
        # cadence (Settings.cs:180). On 4 cores the checkpoint job
        # takes ~0.5 s for a ~100-tx batch.
        # raw `logs` dropped: the extractors read the parsed `_lp`
        # structs, so only the slimmer frame is materialized
        classified = (
            classify(assembled, self.hub).drop("logs").localCheckpoint(eager=True)
        )
        tables = extract_all(classified, self.safe_owners, self.hub)
        block_final = new_blocks.select(
            "number",
            "hash",
            F.timestamp_seconds("timestamp").alias("timestamp"),
            "total_transaction_count",
        )
        # one pass over the checkpointed new_txs serves both the
        # cache-refresh gate and the broadcast payload —
        # limit(1).count() plus a separate collect would submit two
        # Spark jobs per 500 ms trigger
        hashes = None
        if self.on_imported is not None:
            hashes = [r["hash"] for r in new_txs.select("hash").collect()]
        has_new = (
            bool(hashes)
            if hashes is not None
            else new_txs.limit(1).count() > 0
        )
        # the refresh reads its inputs now and runs next to the appends
        # (see _cache_inputs)
        finals = self._cache_inputs(tables) if has_new else None
        # The appends and the cache writes target disjoint staging
        # locations — run them as concurrent Spark jobs so scheduling
        # latency overlaps instead of summing.
        with ThreadPoolExecutor(max_workers=2 + len(EVENT_TABLES)) as pool:
            appends = [pool.submit(self._append, "block", block_final, "number")]
            appends += [
                pool.submit(self._append, name, tables[name], "block_number")
                for name in EVENT_TABLES
            ]
            refreshed = pool.submit(self.refresh_caches, tables, finals) if finals else None
            for fut in appends:
                fut.result()
            caches = refreshed.result() if refreshed else []
        # the batch's one commit: nine appends and both caches
        self._commit(*caches, announce=hashes)
        if self.on_batch is not None:
            self.on_batch()

    # Current materialization of CACHE_BALANCES / CACHE_TRUST: a cache
    # table reads like any final table.
    read_cache = read_final

    def _cache_inputs(
        self, batch_tables: dict[str, DataFrame]
    ) -> dict[str, DataFrame | None] | None:
        """The final tables the cache refresh reads (CACHE_INPUTS), as
        they will stand once this batch commits: each table as it is
        now, unioned with the batch's rows. None while crc_signup or
        erc20_transfer holds no data (no views to materialize yet);
        crc_trust maps to None until it holds data.

        No row of the batch reaches a final table before its commit, so
        the refresh can run next to the appends on either sink. A table
        not created yet is the batch's rows alone, and only then is a
        batch table tested for emptiness, so a steady-state round pays
        no job for the gate."""
        out = {}
        for name in CACHE_INPUTS:
            df = self.read_final(name)
            rows = _as_sink_rows(
                batch_tables[name], SINK_READ_SCHEMAS[name] if df is None else df.schema
            )
            if df is not None:
                df = df.unionByName(rows)
            elif name == "crc_organisation_signup" or not rows.isEmpty():
                # an empty organisation table needs no gate: the
                # signup views read it as it is
                df = rows
            out[name] = df
        if out["crc_signup"] is None or out["erc20_transfer"] is None:
            return None
        return out

    def refresh_caches(
        self, batch_tables: dict[str, DataFrame], finals: dict[str, DataFrame | None]
    ) -> list[str]:
        """Stale-key incremental refresh of the two reference cache
        tables for one batch (import_from_staging_2,
        0.0.64.sql:2272-2376; T8). `finals` are the post-commit tables
        from _cache_inputs. Each refreshed cache is staged (_stage) and
        replaces the old one, which the refresh reads, at the batch's
        commit. Returns the names of the caches written; the trust
        cache waits until crc_trust holds data.

        The stale sets come from THIS batch's extracted rows (small,
        broadcast); the fresh views run over the full post-commit
        tables but Catalyst pushes the stale semi-join into their
        scans, so refresh cost is O(batch), not O(history).
        """
        from blockchain_indexer_spark.operators.caches import (
            refresh_balance_cache,
            refresh_trust_cache,
            stale_balance_addresses,
            stale_trust_addresses,
        )
        from blockchain_indexer_spark.operators.views import (
            crc_all_signups,
            crc_balances_by_safe_and_token,
            crc_current_trust,
            crc_ledger,
        )

        signup_full = finals["crc_signup"]
        erc20_full = finals["erc20_transfer"]
        trust_full = finals["crc_trust"]
        org_full = finals["crc_organisation_signup"]
        if org_full is None:
            org_full = signup_full.select(
                "hash", "block_number", "index", "timestamp",
                F.col("user").alias("organisation"),
            ).limit(0)
        stale_b = stale_balance_addresses(
            batch_tables["erc20_transfer"], batch_tables["crc_hub_transfer"]
        )

        def _refresh_balances() -> None:
            fresh_b = crc_balances_by_safe_and_token(crc_ledger(erc20_full, signup_full))
            cache = refresh_balance_cache(self.read_cache(CACHE_BALANCES), fresh_b, stale_b)
            self._stage(CACHE_BALANCES, cache.write.mode("overwrite"))

        refreshes = {CACHE_BALANCES: _refresh_balances}
        if trust_full is not None:
            stale_t = stale_trust_addresses(batch_tables["crc_trust"])

            def _refresh_trust() -> None:
                fresh_t = crc_current_trust(trust_full, crc_all_signups(signup_full, org_full))
                cache = refresh_trust_cache(self.read_cache(CACHE_TRUST), fresh_t, stale_t)
                self._stage(CACHE_TRUST, cache.write.mode("overwrite"))

            refreshes[CACHE_TRUST] = _refresh_trust

        # independent materializations — overlap their Spark jobs
        with ThreadPoolExecutor(max_workers=len(refreshes)) as pool:
            for fut in [pool.submit(fn) for fn in refreshes.values()]:
                fut.result()
        return list(refreshes)

    def start_stream(
        self,
        feed_dir: str,
        checkpoint_dir: str,
        available_now: bool = True,
        max_files_per_trigger: int | None = None,
    ):
        """File-fed Structured Streaming ingest, the one live ingest
        path: new parquet files in feed_dir are one-shot processed
        (Trigger.AvailableNow) or continuously tailed — the reference's
        bulk vs live modes (T11) with the same batch body. The feed
        files come from `streaming.feeder` (IntervalFeeder polls,
        LiveFeeder turns each pushed newHeads header into a file).
        `max_files_per_trigger` bounds a micro-batch (T2 backpressure:
        a backlog drains in bounded chunks instead of one giant
        catch-up batch).

        The file source is replayable, so a restart from
        `checkpoint_dir` re-reads every file not yet committed, and the
        promote anti-join makes the replay land once. Supervise a
        tailing query with ``streaming.health.watch_liveness`` for the
        reference's 20 s stall timeout (LiveSource.cs:96-118): it stops
        the query and raises StreamStalled once no micro-batch has
        ingested a row for that long."""
        reader = self.spark.readStream.schema(FEED_SCHEMA)
        if max_files_per_trigger is not None:
            reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
        stream = reader.parquet(feed_dir)
        writer = (
            stream.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", checkpoint_dir)
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        else:
            writer = writer.trigger(processingTime="500 milliseconds")
        return writer.start()
