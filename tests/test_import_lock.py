"""The import lock (one holder at a time, freed when its holder dies)
and each sink's one commit per write: a failed batch, a crash inside a
commit (raised in-process, or a real SIGKILL of the indexer's
processes), a crash before it, and an announcement callback that raises.

The lock and the commit stand in for the reference's Serializable
promote transaction (Persistence/ImportProcedure.cs:17-27): the
exactly-once anti-join is only exact if promotes serialize and each
commits whole."""

from __future__ import annotations

import contextlib
import fcntl
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

import pytest
from pyspark.sql import functions as F

from blockchain_indexer_spark.streaming import runner
from blockchain_indexer_spark.streaming.runner import (
    BLOCK_GROUP_SIZE,
    CACHE_BALANCES,
    CACHE_TRUST,
    EVENT_TABLES,
    FEED_SCHEMA,
    REORG_MAGIC_HASH,
    SINK_TABLES,
    IngestPipeline,
)
from tests.test_streaming import feed_df  # noqa: F401 — module fixture


def test_racing_waiters_admit_one_holder_at_a_time(tmp_path):
    """Six threads, each with its own open of the lock file, race for
    the import lock: it admits one holder at a time."""
    pipe = IngestPipeline(None, str(tmp_path / "final"))
    active = 0
    peak = 0
    guard = threading.Lock()
    errors = []

    def worker():
        nonlocal active, peak
        try:
            with pipe._import_lock():
                with guard:
                    active += 1
                    peak = max(peak, active)
                time.sleep(0.05)
                with guard:
                    active -= 1
        except Exception as e:  # noqa: BLE001
            errors.append(e)

    threads = [threading.Thread(target=worker) for _ in range(6)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(30)
    assert not any(t.is_alive() for t in threads)
    assert not errors
    assert peak == 1, f"lock admitted {peak} holders concurrently"


# Run in a child process by test_killed_holder_frees_the_lock_at_once:
# hold the import lock until stdin closes (no Spark session).
_HOLDER = r"""
import sys
from blockchain_indexer_spark.streaming.runner import IngestPipeline

with IngestPipeline(None, sys.argv[1])._import_lock():
    print("held", flush=True)
    sys.stdin.read()
"""


def test_killed_holder_frees_the_lock_at_once(tmp_path):
    """A holder in another process blocks a waiter for as long as it
    holds the lock, with no timeout to steal it after; its SIGKILL
    frees the lock at once. A body that raises releases the lock."""
    out_dir = str(tmp_path / "final")
    lock_file = os.path.join(out_dir, ".import.lck")
    pipe = IngestPipeline(None, out_dir)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    entered = threading.Event()

    def waiter():
        with pipe._import_lock():
            entered.set()

    with subprocess.Popen(
        [sys.executable, "-c", _HOLDER, out_dir],
        cwd=repo, stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
    ) as holder:
        try:
            assert holder.stdout.readline() == "held\n"
            t = threading.Thread(target=waiter, daemon=True)
            t.start()
            assert not entered.wait(3), "the waiter got in while the holder held the lock"
            holder.kill()
            holder.wait()
            killed = time.monotonic()
            assert entered.wait(30)
            assert time.monotonic() - killed < 2
            t.join(30)
            assert not t.is_alive()
        finally:
            holder.kill()
    with pytest.raises(RuntimeError, match="body failed"), pipe._import_lock():
        raise RuntimeError("body failed")
    with open(lock_file) as f:
        fcntl.flock(f, fcntl.LOCK_EX | fcntl.LOCK_NB)


def _rows(pipe):
    """Every table of the sink, caches included, as sorted row reprs."""
    out = {}
    for name in SINK_TABLES:
        df = pipe.read_final(name)
        out[name] = None if df is None else sorted(map(repr, df.collect()))
    return out


def _visible(out_dir):
    """{path: mtime} of each file a reader of the sink's tables sees."""
    out = {}
    for table in os.listdir(out_dir):
        if table.startswith("."):
            continue
        for root, dirs, files in os.walk(os.path.join(out_dir, table)):
            dirs[:] = [d for d in dirs if d != ".pending"]
            for f in files:
                path = os.path.join(root, f)
                out[os.path.relpath(path, out_dir)] = os.stat(path).st_mtime_ns
    return out


def _halves(feed):
    return [feed.filter(F.col("block_number") % 2 == mod) for mod in range(2)]


def _spread(feed):
    """The fixture chain with each block in its own block_group, so a
    commit moves enough files for a crash after 20 moves."""
    base = feed.agg(F.min("block_number")).first()[0]
    shift = (F.col("block_number") - base) * BLOCK_GROUP_SIZE
    return feed.withColumn("block_number", F.col("block_number") + shift)


def _remined(feed, reorg_block):
    """The re-mined branch a reorg re-ingests: every block from
    reorg_block on, empty and with a new hash."""
    return (
        feed.filter(F.col("block_number") >= reorg_block)
        .select(
            "block_number",
            F.concat("block_hash", F.lit("-remined")).alias("block_hash"),
            "block_timestamp",
            F.lit(0).alias("total_transaction_count"),
            *[F.lit(None).cast(f.dataType).alias(f.name) for f in FEED_SCHEMA.fields[4:]],
        )
        .distinct()
    )


@pytest.fixture(scope="module")
def sinks(spark, tmp_path_factory, feed_df):  # noqa: F811
    """Sinks the cases copy instead of ingesting again, and the tables
    of the clean runs they must equal. For the fixture chain and the
    spread one: "even" ingests the even blocks and "full" then the odd
    ones, whose tables are "clean". "reorg" is full retracted at its
    sixth block with the re-mined branch ingested: the fixture chain
    sits in one block_group, so the retract rewrites that group's kept
    rows, where on the spread chain a retract at a block stages none."""
    root = str(tmp_path_factory.mktemp("sinks"))
    spread = _spread(feed_df).cache()
    out = {}
    for tag, feed in (("", feed_df), ("spread_", spread)):
        even, out[tag + "odd"] = _halves(feed)
        for d in ("even", "full"):
            out[tag + d] = os.path.join(root, tag + d)
        IngestPipeline(spark, out[tag + "even"]).process_batch(even)
        shutil.copytree(out[tag + "even"], out[tag + "full"])
        pipe = IngestPipeline(spark, out[tag + "full"])
        pipe.process_batch(out[tag + "odd"])
        out[tag + "clean"] = _rows(pipe)
    blocks = sorted(r[0] for r in feed_df.select("block_number").distinct().collect())
    out["reorg_block"] = blocks[5]
    out["branch"] = _remined(feed_df, out["reorg_block"])
    shutil.copytree(out["full"], os.path.join(root, "reorg"))
    pipe = IngestPipeline(spark, os.path.join(root, "reorg"))
    pipe.retract(out["reorg_block"])
    pipe.process_batch(out["branch"])
    out["reorg"] = _rows(pipe)
    return out


def _derby_url(db: str) -> str:
    return f"jdbc:derby:{db};create=true"


def _shutdown_derby(spark, db: str) -> None:
    """Shut the embedded database down so its files can be copied
    (Derby reports a clean shutdown as an SQLException)."""
    from py4j.protocol import Py4JJavaError

    with contextlib.suppress(Py4JJavaError):
        spark._sc._jvm.java.sql.DriverManager.getConnection(f"jdbc:derby:{db};shutdown=true")


def _derby_copy(spark, db: str, root) -> IngestPipeline:
    """A Derby-sink pipeline over a copy of the shut-down database `db`."""
    copy = os.path.join(root, "db")
    shutil.copytree(db, copy)
    return IngestPipeline(spark, os.path.join(root, "lock"), jdbc_url=_derby_url(copy))


@pytest.fixture(scope="module")
def derby_sinks(spark, tmp_path_factory, feed_df):  # noqa: F811
    """The Derby twin of `sinks` for the fixture chain: "even" is a
    shut-down database holding the even blocks, whose tables are
    "even_rows", and "clean" the tables once the odd ones follow."""
    root = tmp_path_factory.mktemp("derby-sinks")
    even, odd = _halves(feed_df)
    db = str(root / "even")
    pipe = IngestPipeline(spark, str(root / "lock"), jdbc_url=_derby_url(db))
    pipe.process_batch(even)
    out = {"even": db, "odd": odd, "even_rows": _rows(pipe)}
    _shutdown_derby(spark, db)
    pipe = _derby_copy(spark, db, root / "full")
    pipe.process_batch(odd)
    out["clean"] = _rows(pipe)
    return out


RETRY_CASES = [
    pytest.param(sink, fails, id=fails if sink == "parquet" else f"derby-{fails}")
    for sink in ("parquet", "derby")
    for fails in ("block", *EVENT_TABLES, "caches")
]


@pytest.mark.parametrize(("sink", "fails"), RETRY_CASES)
def test_failed_write_then_retry_equals_clean_run(spark, tmp_path, request, sink, fails):
    """One write of a batch fails once (one of the nine appends, or the
    cache write) and the batch is retried, as foreachBatch does. The
    failure changes no table, caches included (on parquet, file for
    file), and after the retry all eleven tables equal a clean run row
    for row. Runs on the parquet sink and on embedded Derby."""
    if sink == "parquet":
        src = request.getfixturevalue("sinks")
        out_dir = str(tmp_path / "final")
        shutil.copytree(src["even"], out_dir)
        files = _visible(out_dir)
        pipe = IngestPipeline(spark, out_dir)
    else:
        src = request.getfixturevalue("derby_sinks")
        pipe = _derby_copy(spark, src["even"], tmp_path)
    before = _rows(pipe)
    assert before[CACHE_BALANCES] and before[CACHE_TRUST]
    seam = "_stage" if fails == "caches" else "_append"
    write = getattr(pipe, seam)
    failing = (CACHE_BALANCES, CACHE_TRUST) if fails == "caches" else (fails,)
    failed = []

    def fail_once(name, *args):
        if not failed and name in failing:
            failed.append(name)
            raise OSError("injected write failure")
        return write(name, *args)

    setattr(pipe, seam, fail_once)
    with pytest.raises(OSError, match="injected write failure"):
        pipe.process_batch(src["odd"])
    assert _rows(pipe) == before
    if sink == "parquet":
        assert _visible(out_dir) == files
    pipe.process_batch(src["odd"])
    assert _rows(pipe) == src["clean"]


def _crash_moves_after(monkeypatch, k):
    """Make the commit's (k+1)-th staged-file move raise."""
    replace = os.replace
    moves = []

    def crashing_replace(src, dst):
        if ".pending" in str(src).split(os.sep):
            if len(moves) == k:
                raise OSError("injected crash")
            moves.append(src)
        replace(src, dst)

    monkeypatch.setattr(runner.os, "replace", crashing_replace)


@pytest.mark.parametrize("k", [0, 3, 20])
@pytest.mark.parametrize("op", ["process_batch", "retract", "compact"])
def test_crash_inside_commit_heals_on_next_call(spark, tmp_path, sinks, monkeypatch, op, k):
    """A crash after the commit marker, k staged files into the moves.
    The next batch must finish the commit before it reads: the retried
    batch for process_batch, the re-mined branch for retract, a
    redelivery for compact. The tables must then equal a clean run, and
    the commit's announcement must have gone out once, from the call
    that finished it: the odd blocks' hashes, the reorg's deadbeef hash,
    nothing for compact."""
    odd_hashes = sorted(
        r[0] for r in sinks["spread_odd"].filter(F.col("hash").isNotNull()).select("hash").collect()
    )
    # (sink it starts from, the op, the next batch, the clean run, the
    # announcement)
    start, run, nxt, want, announce = {
        "process_batch": (
            "spread_even",
            lambda p: p.process_batch(sinks["spread_odd"]),
            "spread_odd",
            "spread_clean",
            [odd_hashes],
        ),
        "retract": (
            "full",
            lambda p: p.retract(sinks["reorg_block"]),
            "branch",
            "reorg",
            [[REORG_MAGIC_HASH]],
        ),
        "compact": (
            "spread_full",
            lambda p: p.compact("transaction", min_files=0),
            "spread_odd",
            "spread_clean",
            [],
        ),
    }[op]
    out_dir = str(tmp_path / "final")
    shutil.copytree(sinks[start], out_dir)
    announced = []
    pipe = IngestPipeline(spark, out_dir, on_imported=lambda h: announced.append(sorted(h)))
    _crash_moves_after(monkeypatch, k)
    with pytest.raises(OSError, match="injected crash"):
        run(pipe)
    monkeypatch.undo()
    marker = os.path.join(out_dir, ".commit")
    assert os.path.exists(marker)
    assert announced == []
    pipe.process_batch(sinks[nxt])
    assert not os.path.exists(marker)
    assert _rows(pipe) == sinks[want]
    assert announced == announce


def _queued(pipe) -> list[str]:
    """The hashes a commit left for _settle to announce, sorted: the
    parquet marker's, or the rows of the JDBC `_announce` table."""
    if pipe.jdbc_url is None:
        marker = os.path.join(pipe.out_dir, ".commit")
        if not os.path.exists(marker):
            return []
        with open(marker) as f:
            return sorted(json.load(f)["announce"] or [])
    df = pipe.spark.read.jdbc(pipe.jdbc_url, '"_announce"')
    return sorted(r[0] for r in df.collect())


@pytest.mark.parametrize("sink", ["parquet", "derby"])
def test_raising_announcement_keeps_the_commit_until_it_succeeds(
    spark, tmp_path, request, sink
):
    """on_imported raises once, after the batch committed: the call
    fails and the batch's hashes stay queued (in the parquet marker, or
    in the JDBC `_announce` table). The next call, a redelivery of the
    same batch, announces them before it reads and then drops them. The
    tables equal a clean run throughout. Runs on the parquet sink and on
    embedded Derby."""
    if sink == "parquet":
        src = request.getfixturevalue("sinks")
        out_dir = str(tmp_path / "final")
        shutil.copytree(src["even"], out_dir)
        pipe = IngestPipeline(spark, out_dir)
    else:
        src = request.getfixturevalue("derby_sinks")
        pipe = _derby_copy(spark, src["even"], tmp_path)
    odd_hashes = sorted(
        r[0] for r in src["odd"].filter(F.col("hash").isNotNull()).select("hash").collect()
    )
    announced = []

    def on_imported(hashes):
        if not announced:
            announced.append(None)
            raise RuntimeError("injected callback failure")
        announced.append(sorted(hashes))

    pipe.on_imported = on_imported
    with pytest.raises(RuntimeError, match="injected callback failure"):
        pipe.process_batch(src["odd"])
    assert _queued(pipe) == odd_hashes
    assert _rows(pipe) == src["clean"]
    pipe.process_batch(src["odd"])
    assert _queued(pipe) == []
    assert announced == [None, odd_hashes]
    assert _rows(pipe) == src["clean"]


def test_older_list_marker_heals_on_next_call(spark, tmp_path, sinks, monkeypatch):
    """A commit marker in its older form, a bare list of the replaced
    files, is applied like the current one, with nothing to announce: a
    retract crashes 3 files into its moves, its marker is rewritten in
    that form, and the re-mined branch then equals a clean retract."""
    out_dir = str(tmp_path / "final")
    shutil.copytree(sinks["full"], out_dir)
    announced = []
    pipe = IngestPipeline(spark, out_dir, on_imported=announced.append)
    _crash_moves_after(monkeypatch, 3)
    with pytest.raises(OSError, match="injected crash"):
        pipe.retract(sinks["reorg_block"])
    monkeypatch.undo()
    marker = os.path.join(out_dir, ".commit")
    with open(marker) as f:
        replaced = json.load(f)["replaced"]
    assert replaced
    with open(marker, "w") as f:
        json.dump(replaced, f)
    pipe.process_batch(sinks["branch"])
    assert not os.path.exists(marker)
    assert _rows(pipe) == sinks["reorg"]
    assert announced == []


def test_retract_crash_recovery_restores_table(spark, tmp_path, sinks, monkeypatch):
    """A retract that crashes before its commit marker leaves the old
    branch whole, file for file; a second retract plus the re-mined
    branch then equals a clean retract. (The next reorg check compares
    the chain against `block`, so a half-retracted sink would never be
    retracted again.)"""
    out_dir = str(tmp_path / "final")
    shutil.copytree(sinks["full"], out_dir)
    before = _visible(out_dir)
    pipe = IngestPipeline(spark, out_dir)
    replace = os.replace

    def no_marker(src, dst):
        if os.path.basename(dst) == ".commit":
            raise OSError("injected crash")
        replace(src, dst)

    monkeypatch.setattr(runner.os, "replace", no_marker)
    with pytest.raises(OSError, match="injected crash"):
        pipe.retract(sinks["reorg_block"])
    monkeypatch.undo()
    assert _visible(out_dir) == before
    assert _rows(pipe) == sinks["clean"]
    pipe.retract(sinks["reorg_block"])
    pipe.process_batch(sinks["branch"])
    assert _rows(pipe) == sinks["reorg"]


# Run in a child process by test_kill_9_inside_commit_then_retry_equals_clean_run:
# ingest the fixture chain's odd blocks into a sink holding the even ones,
# and SIGKILL the whole process group (python and its JVM) inside the
# commit.
_KILLED_CHILD = r"""
import contextlib, os, signal, sys
from pyspark.sql import functions as F
from blockchain_indexer_spark.session import get_spark
from blockchain_indexer_spark.streaming import runner
from tests.test_streaming import _feed_rows

sink, out_dir, db = sys.argv[1:]
spark = get_spark("killed-commit", master="local[2]")
odd = _feed_rows(spark).filter(F.col("block_number") % 2 == 1)
url = f"jdbc:derby:{db}" if sink == "derby" else None
pipe = runner.IngestPipeline(spark, out_dir, jdbc_url=url)


def die():
    os.killpg(0, signal.SIGKILL)


if sink == "parquet":  # after 3 staged-file moves in _settle
    replace, moves = os.replace, []

    def dying_replace(src, dst):
        if ".pending" in str(src).split(os.sep):
            if len(moves) == 3:
                die()
            moves.append(src)
        replace(src, dst)

    runner.os.replace = dying_replace
else:  # after the commit transaction's first INSERT ... SELECT
    transaction = runner.IngestPipeline._jdbc_transaction

    class DyingStatement:
        def __init__(self, st):
            self.st = st

        def executeUpdate(self, sql):
            n = self.st.executeUpdate(sql)
            if sql.startswith("INSERT"):
                die()
            return n

    @contextlib.contextmanager
    def dying_transaction(self):
        with transaction(self) as (conn, st):
            yield conn, DyingStatement(st)

    runner.IngestPipeline._jdbc_transaction = dying_transaction
pipe.process_batch(odd)
sys.exit("the commit was not killed")
"""


def _wait_for_group_exit(pgid: int, timeout: float = 30) -> None:
    deadline = time.time() + timeout
    while time.time() < deadline:
        try:
            os.killpg(pgid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.2)


@pytest.mark.parametrize("sink", ["parquet", "derby"])
def test_kill_9_inside_commit_then_retry_equals_clean_run(spark, tmp_path, request, sink):
    """A child indexer ingests the odd blocks into a copy of a sink
    holding the even ones and is SIGKILLed, JVM included, inside the
    commit: on parquet after 3 staged files moved, on Derby after the
    commit transaction's first INSERT ... SELECT. Its import lock is
    free as soon as its processes are gone. This session then retries
    the odd blocks over what the child left, and the tables must equal
    a clean run. Derby must also have rolled the killed transaction
    back."""
    out_dir, db = str(tmp_path / "final"), str(tmp_path / "db")
    if sink == "parquet":
        src = request.getfixturevalue("sinks")
        shutil.copytree(src["even"], out_dir)
    else:
        src = request.getfixturevalue("derby_sinks")
        shutil.copytree(src["even"], db)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    child = subprocess.Popen(
        [sys.executable, "-c", _KILLED_CHILD, sink, out_dir, db],
        cwd=repo,
        env={**os.environ, "SPARK_GRAFT_DRIVER_MEM": "1g"},
        start_new_session=True,
        stdout=subprocess.DEVNULL,
        stderr=subprocess.PIPE,
        text=True,
    )
    try:
        _, err = child.communicate(timeout=600)
    finally:  # the JVM too, also when the child outlived the timeout
        with contextlib.suppress(ProcessLookupError):
            os.killpg(child.pid, signal.SIGKILL)
        _wait_for_group_exit(child.pid)
    assert child.returncode == -signal.SIGKILL, err[-3000:]
    with open(os.path.join(out_dir, ".import.lck")) as f:
        fcntl.flock(f, fcntl.LOCK_EX | fcntl.LOCK_NB)
    if sink == "parquet":
        assert os.path.exists(os.path.join(out_dir, ".commit"))
        pipe = IngestPipeline(spark, out_dir)
    else:
        pipe = IngestPipeline(spark, out_dir, jdbc_url=_derby_url(db))
        assert _rows(pipe) == src["even_rows"]
    pipe.process_batch(src["odd"])
    assert _rows(pipe) == src["clean"]
