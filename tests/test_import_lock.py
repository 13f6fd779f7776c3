"""Import-lock steal semantics and each sink's one commit per write: a
failed batch, a crash inside a commit (raised in-process, or a real
SIGKILL of the indexer's processes) and a crash before it.

The lock and the commit stand in for the reference's Serializable
promote transaction (Persistence/ImportProcedure.cs:17-27): the
exactly-once anti-join is only exact if promotes serialize and each
commits whole."""

from __future__ import annotations

import contextlib
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


def test_stale_lock_steal_has_single_winner(spark, tmp_path_factory, monkeypatch):
    """N waiters racing a crashed holder's stale lock: the rename-based
    steal admits exactly one at a time (the old rmdir-based steal let a
    second stealer delete the first's freshly created lock)."""
    root = str(tmp_path_factory.mktemp("lock"))
    monkeypatch.setenv("SPARK_GRAFT_IMPORT_LOCK_TIMEOUT", "1")
    pipe = IngestPipeline(spark, os.path.join(root, "final"))
    os.makedirs(pipe.out_dir, exist_ok=True)
    stale = os.path.join(pipe.out_dir, ".import.lock")
    os.mkdir(stale)
    old = time.time() - 3600
    os.utime(stale, (old, old))  # a crashed holder

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
    assert not errors
    assert peak == 1, f"lock admitted {peak} holders concurrently"
    assert not os.path.exists(stale)


def test_heartbeat_protects_long_legitimate_import(spark, tmp_path_factory, monkeypatch):
    """A holder whose work exceeds the steal timeout keeps the lock:
    the heartbeat refreshes mtime, so a waiter must wait for release
    instead of stealing mid-import."""
    root = str(tmp_path_factory.mktemp("beat"))
    # timeout 4 → heartbeat every 1 s with a 4 s staleness margin, so
    # even a loaded CI host can't slip the refresh past the steal gate
    monkeypatch.setenv("SPARK_GRAFT_IMPORT_LOCK_TIMEOUT", "4")
    pipe = IngestPipeline(spark, os.path.join(root, "final"))
    entered_second = threading.Event()
    released_first = threading.Event()

    def holder():
        with pipe._import_lock():
            time.sleep(6)  # > timeout; heartbeat at timeout/4 keeps it live
            released_first.set()

    def waiter():
        time.sleep(0.2)
        with pipe._import_lock():
            entered_second.set()
            assert released_first.is_set(), "waiter stole a live lock"

    t1 = threading.Thread(target=holder)
    t2 = threading.Thread(target=waiter)
    t1.start(); t2.start()
    t1.join(30); t2.join(30)
    assert entered_second.is_set()


def test_token_write_failure_does_not_leak_lock(spark, tmp_path_factory, monkeypatch):
    """If the ownership-token write fails at acquire, release must still
    free the lock (the mkdir proved ownership): a leaked lock would stall
    every later batch for the full steal timeout."""
    import builtins

    root = str(tmp_path_factory.mktemp("tokfail"))
    pipe = IngestPipeline(spark, os.path.join(root, "final"))
    real_open = builtins.open

    def flaky_open(path, mode="r", *a, **kw):
        if "w" in mode and str(path).endswith(os.path.join(".import.lock", "owner")):
            raise OSError("disk full")
        return real_open(path, mode, *a, **kw)

    monkeypatch.setattr(builtins, "open", flaky_open)
    lock_path = os.path.join(pipe.out_dir, ".import.lock")
    with pipe._import_lock():
        assert os.path.isdir(lock_path)
        assert not os.path.exists(os.path.join(lock_path, "owner"))
    assert not os.path.exists(lock_path), "token-IO failure leaked the lock"


def test_robbed_holder_leaves_thief_lock_alone(spark, tmp_path_factory):
    """A holder whose lock was (wrongly) stolen and re-acquired must not
    delete the thief's lock at release — its own token no longer reads
    back, which is the robbery signal."""
    root = str(tmp_path_factory.mktemp("robbed"))
    pipe = IngestPipeline(spark, os.path.join(root, "final"))
    lock_path = os.path.join(pipe.out_dir, ".import.lock")
    with pipe._import_lock():
        # simulate a steal: our dir vanishes, a thief re-creates it
        shutil.rmtree(lock_path)
        os.mkdir(lock_path)
        with open(os.path.join(lock_path, "owner"), "w") as f:
            f.write("thief")
    assert os.path.isdir(lock_path), "release deleted the thief's lock"
    with open(os.path.join(lock_path, "owner")) as f:
        assert f.read() == "thief"
    shutil.rmtree(lock_path)


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
    ones, whose tables are "clean". "spread_reorg" is spread_full
    retracted at its sixth block with the re-mined branch ingested."""
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
    blocks = sorted(r[0] for r in spread.select("block_number").distinct().collect())
    out["reorg_block"] = blocks[5]
    out["branch"] = _remined(spread, out["reorg_block"])
    shutil.copytree(out["spread_full"], os.path.join(root, "reorg"))
    pipe = IngestPipeline(spark, os.path.join(root, "reorg"))
    pipe.retract(out["reorg_block"])
    pipe.process_batch(out["branch"])
    out["spread_reorg"] = _rows(pipe)
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
            "spread_full",
            lambda p: p.retract(sinks["reorg_block"]),
            "branch",
            "spread_reorg",
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


def test_raising_announcement_keeps_the_commit_until_it_succeeds(spark, tmp_path, sinks):
    """on_imported raises once, after the batch's files moved in: the
    call fails and the marker stays. The next call, a redelivery of the
    same batch, announces the batch's hashes before it reads and then
    removes the marker. The tables equal a clean run throughout."""
    odd_hashes = sorted(
        r[0] for r in sinks["odd"].filter(F.col("hash").isNotNull()).select("hash").collect()
    )
    out_dir = str(tmp_path / "final")
    shutil.copytree(sinks["even"], out_dir)
    announced = []

    def on_imported(hashes):
        if not announced:
            announced.append(None)
            raise RuntimeError("injected callback failure")
        announced.append(sorted(hashes))

    pipe = IngestPipeline(spark, out_dir, on_imported=on_imported)
    with pytest.raises(RuntimeError, match="injected callback failure"):
        pipe.process_batch(sinks["odd"])
    marker = os.path.join(out_dir, ".commit")
    assert os.path.exists(marker)
    assert _rows(pipe) == sinks["clean"]
    pipe.process_batch(sinks["odd"])
    assert not os.path.exists(marker)
    assert announced == [None, odd_hashes]
    assert _rows(pipe) == sinks["clean"]


def test_older_list_marker_heals_on_next_call(spark, tmp_path, sinks, monkeypatch):
    """A commit marker in its older form, a bare list of the replaced
    files, is applied like the current one, with nothing to announce: a
    retract crashes 3 files into its moves, its marker is rewritten in
    that form, and the re-mined branch then equals a clean retract."""
    out_dir = str(tmp_path / "final")
    shutil.copytree(sinks["spread_full"], out_dir)
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
    assert _rows(pipe) == sinks["spread_reorg"]
    assert announced == []


def test_retract_crash_recovery_restores_table(spark, tmp_path, sinks, monkeypatch):
    """A retract that crashes before its commit marker leaves the old
    branch whole, file for file; a second retract plus the re-mined
    branch then equals a clean retract. (The next reorg check compares
    the chain against `block`, so a half-retracted sink would never be
    retracted again.)"""
    out_dir = str(tmp_path / "final")
    shutil.copytree(sinks["spread_full"], out_dir)
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
    assert _rows(pipe) == sinks["spread_clean"]
    pipe.retract(sinks["reorg_block"])
    pipe.process_batch(sinks["branch"])
    assert _rows(pipe) == sinks["spread_reorg"]


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
def test_kill_9_inside_commit_then_retry_equals_clean_run(
    spark, tmp_path, request, monkeypatch, sink
):
    """A child indexer ingests the odd blocks into a copy of a sink
    holding the even ones and is SIGKILLed, JVM included, inside the
    commit: on parquet after 3 staged files moved, on Derby after the
    commit transaction's first INSERT ... SELECT. This session then
    retries the odd blocks over what the child left, a stale import
    lock included, and the tables must equal a clean run. Derby must
    also have rolled the killed transaction back."""
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
    assert os.path.isdir(os.path.join(out_dir, ".import.lock"))
    monkeypatch.setenv("SPARK_GRAFT_IMPORT_LOCK_TIMEOUT", "1")
    if sink == "parquet":
        assert os.path.exists(os.path.join(out_dir, ".commit"))
        pipe = IngestPipeline(spark, out_dir)
    else:
        pipe = IngestPipeline(spark, out_dir, jdbc_url=_derby_url(db))
        assert _rows(pipe) == src["even_rows"]
    pipe.process_batch(src["odd"])
    assert _rows(pipe) == src["clean"]
