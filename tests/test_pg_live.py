"""LIVE-Postgres smoke for the pg-dialect DDL and the JDBC commit: the
pinned-SQL contract tests in test_jdbc.py and test_streaming.py check
the generated TEXT; this module executes it against a real throwaway
PostgreSQL server and round-trips the exactness-critical shapes through
psql:

- array columns as REAL text[] (the reference's 0.0.64.sql:358-377
  mapping, not the generic-JDBC JSON-text fallback);
- UNBOUNDED numeric + the value_string text twin, so a 45-digit
  uint256 wei value survives exactly past every DECIMAL cap;
- the commit's statements (jdbc_commit_sql) moving a pg-DDL staging
  table into its final table inside one transaction, and leaving no
  final table when that transaction rolls back.

The server runs initdb/pg_ctl as an unprivileged user on a unix
socket in a temp dir (Postgres refuses root); everything is skipped
cleanly when the binaries or the user switch are unavailable, so the
suite stays green on hosts without Postgres. No JDBC driver jar
ships in-sandbox, so the wire client is psql itself — the DDL and
the type semantics are what this smoke pins, not Spark's JDBC
writer (that seam is covered by the Derby twins in test_jdbc.py and
the dialect-routing unit tests).
"""

from __future__ import annotations

import shutil
import subprocess

import pytest

pytestmark = pytest.mark.skipif(
    not (shutil.which("initdb") and shutil.which("pg_ctl") and shutil.which("psql")),
    reason="PostgreSQL binaries not installed",
)


def _run(cmd: list[str], **kw) -> subprocess.CompletedProcess:
    return subprocess.run(cmd, capture_output=True, text=True, timeout=120, **kw)


def _su_available() -> bool:
    import os

    if os.geteuid() != 0:
        return True  # can run postgres directly
    p = _run(["su", "-s", "/bin/true", "nobody"])
    return p.returncode == 0


@pytest.fixture(scope="module")
def pg():
    """A throwaway single-user-trust PostgreSQL on a unix socket.
    Yields a psql runner: psql(sql) -> stdout (tuples-only). The
    cluster lives in a world-traversable /tmp dir (NOT pytest's
    tmp_path: its root-owned 0700 parents block the unprivileged
    postgres user)."""
    import os
    import pathlib
    import tempfile

    if not _su_available():
        pytest.skip("cannot drop root for postgres")
    base = pathlib.Path(tempfile.mkdtemp(prefix="pglive-", dir="/tmp"))
    os.chmod(base, 0o777)
    data = base / "data"
    as_root = os.geteuid() == 0

    def user_run(cmd: str) -> subprocess.CompletedProcess:
        if as_root:
            return _run(["su", "-s", "/bin/bash", "nobody", "-c", cmd])
        return _run(["bash", "-c", cmd])

    r = user_run(f"initdb -D {data} -A trust")
    if r.returncode != 0:
        pytest.skip(f"initdb failed: {r.stderr[-200:]}")
    r = user_run(
        f"pg_ctl -D {data} -l {base}/log -o '-k {base} -c listen_addresses=' start"
    )
    if r.returncode != 0:
        pytest.skip(f"pg_ctl start failed: {r.stderr[-200:]}")

    user = "nobody" if as_root else os.environ.get("USER", "postgres")

    def psql(sql: str) -> str:
        p = _run(["psql", "-h", str(base), "-U", user, "-v", "ON_ERROR_STOP=1",
                  "-tA", "postgres", "-c", sql])
        assert p.returncode == 0, f"psql failed: {p.stderr}\nSQL: {sql}"
        return p.stdout.strip()

    try:
        yield psql
    finally:
        user_run(f"pg_ctl -D {data} -m immediate stop")
        shutil.rmtree(base, ignore_errors=True)


def test_generated_ddl_is_valid_postgres(pg):
    """Every final-table schema's generated CREATE TABLE executes on a
    real server — including the reserved-word table name
    \"transaction\", the text[] columns, and unbounded numeric."""
    from blockchain_indexer_spark.schemas import (
        BLOCK_SCHEMA,
        EVENT_TABLE_SCHEMAS,
        TRANSACTION_SCHEMA,
    )
    from blockchain_indexer_spark.streaming.runner import pg_create_table_sql

    tables = {"block": BLOCK_SCHEMA, "transaction": TRANSACTION_SCHEMA}
    tables.update(EVENT_TABLE_SCHEMAS)
    for name, schema in tables.items():
        pg(pg_create_table_sql(name, schema))
        cols = pg(
            "SELECT count(*) FROM information_schema.columns "
            f"WHERE table_name = '{name}'"
        )
        assert int(cols) == len(schema.fields), name


def test_text_array_and_unbounded_numeric_round_trip(pg):
    """The two exactness-critical dialect choices hold on a live
    server: text[] stores and returns real arrays (element order and
    values intact, including the reserved \"user\" column name), and
    unbounded numeric + the value_string twin carry a 45-digit value
    exactly."""
    from blockchain_indexer_spark.schemas import CRC_SIGNUP_SCHEMA, TRANSACTION_SCHEMA
    from blockchain_indexer_spark.streaming.runner import pg_create_table_sql

    big = "9" * 45  # exceeds DECIMAL(38) and Derby's precision 31
    pg(pg_create_table_sql("crc_signup", CRC_SIGNUP_SCHEMA).replace(
        "crc_signup", "crc_signup_rt"))
    pg(
        'INSERT INTO "crc_signup_rt" '
        '("block_number", "timestamp", "hash", "index", "user", "owners") '
        "VALUES (7, '2024-01-01 00:00:00', '0xh', 0, '0xuser', "
        "ARRAY['0xowner1','0xowner2'])"
    )
    assert pg(
        'SELECT "owners"[1] || \',\' || "owners"[2] FROM "crc_signup_rt"'
    ) == "0xowner1,0xowner2"
    assert pg(
        'SELECT pg_typeof("owners")::text FROM "crc_signup_rt"'
    ) == "text[]"

    pg(pg_create_table_sql("transaction", TRANSACTION_SCHEMA).replace(
        '"transaction"', '"transaction_rt"'))
    num_cols = pg(
        "SELECT column_name || ':' || data_type || ':' || "
        "COALESCE(numeric_precision::text, 'unbounded') "
        "FROM information_schema.columns "
        "WHERE table_name = 'transaction_rt' AND data_type = 'numeric'"
    )
    # every numeric column is precision-unbounded on the live server
    assert num_cols and all(line.endswith(":unbounded") for line in num_cols.splitlines())
    pg(
        'INSERT INTO "transaction_rt" '
        '("block_number", "timestamp", "hash", "index", "from", '
        '"value", "value_string", "classification") '
        f"VALUES (1, '2024-01-01 00:00:00', '0xh', 0, '0xfrom', "
        f"{big}::numeric, '{big}', ARRAY['Erc20Transfer'])"
    )
    got_num, got_str = pg(
        'SELECT "value"::text || \'|\' || "value_string" FROM "transaction_rt"'
    ).split("|")
    assert got_num == big  # unbounded numeric holds all 45 digits
    assert got_str == big

def test_commit_statements_move_a_staged_table(pg):
    """The JDBC commit's statements, run inside BEGIN/COMMIT, create the
    final table from a pg-DDL staging table with its text[] and
    unbounded numeric types and its NOT NULL columns, copy the rows by
    column name and drop the staging table;
    a second commit that replaces the table leaves only its own rows.
    Inside BEGIN/ROLLBACK they leave no final table and the staging
    table as it was."""
    from blockchain_indexer_spark.schemas import TRANSACTION_SCHEMA
    from blockchain_indexer_spark.streaming.runner import jdbc_commit_sql, pg_create_table_sql

    big = "9" * 45

    def stage(name: str, tx_hash: str) -> None:
        pg(pg_create_table_sql(name + "__pending", TRANSACTION_SCHEMA))
        pg(
            f'INSERT INTO "{name}__pending" '
            '("block_number", "timestamp", "hash", "index", "from", '
            '"value", "value_string", "classification") '
            f"VALUES (1, '2024-01-01 00:00:00', '{tx_hash}', 0, '0xfrom', "
            f"{big}::numeric, '{big}', ARRAY['Erc20Transfer','CrcHubTransfer'])"
        )

    def exists(table: str) -> bool:
        return pg(f"SELECT to_regclass('\"{table}\"') IS NOT NULL") == "t"

    def transaction(statements: list[str], end: str) -> None:
        pg("BEGIN; " + "; ".join(statements) + f"; {end};")

    def commit_sql(name: str, exists: bool, replace: bool) -> list[str]:
        return jdbc_commit_sql(name, cols, exists, replace, postgres=True)

    # the staged table's columns in another order than its DDL's: the
    # copy must match them by name
    cols = [f.name for f in reversed(TRANSACTION_SCHEMA.fields)]
    stage("transaction_commit", "0xa")
    transaction(commit_sql("transaction_commit", False, False), "COMMIT")
    assert not exists("transaction_commit__pending")
    assert pg('SELECT pg_typeof("classification")::text FROM "transaction_commit"') == "text[]"
    not_null = pg(
        "SELECT string_agg(attname, ',' ORDER BY attnum) FROM pg_attribute "
        "WHERE attrelid = '\"transaction_commit\"'::regclass AND attnum > 0 AND attnotnull"
    )
    assert not_null == ",".join(f.name for f in TRANSACTION_SCHEMA.fields if not f.nullable)
    assert pg(
        'SELECT "hash" || \'|\' || "value"::text || \'|\' || "value_string" || \'|\' || '
        'array_to_string("classification", \',\') FROM "transaction_commit"'
    ) == f"0xa|{big}|{big}|Erc20Transfer,CrcHubTransfer"
    stage("transaction_commit", "0xb")
    transaction(commit_sql("transaction_commit", True, True), "COMMIT")
    assert pg('SELECT string_agg("hash", \',\') FROM "transaction_commit"') == "0xb"

    stage("transaction_rollback", "0xc")
    transaction(commit_sql("transaction_rollback", False, False), "ROLLBACK")
    assert not exists("transaction_rollback")
    assert pg('SELECT "hash" FROM "transaction_rollback__pending"') == "0xc"
