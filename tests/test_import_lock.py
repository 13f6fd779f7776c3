"""Import-lock steal semantics and the parquet sink's one commit per
write: a failed batch, a crash inside a commit and a crash before it.

The lock and the commit are the parquet-sink stand-in for the
reference's Serializable promote transaction
(Persistence/ImportProcedure.cs:17-27): the exactly-once anti-join is
only exact if promotes serialize and each commits whole."""

from __future__ import annotations

import os
import shutil
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


SINK_TABLES = ("block", *EVENT_TABLES, CACHE_BALANCES, CACHE_TRUST)


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


@pytest.mark.parametrize("fails", ["block", *EVENT_TABLES, "caches"])
def test_failed_write_then_retry_equals_clean_run(spark, tmp_path, sinks, fails):
    """One write of a batch fails once (one of the nine appends, or the
    cache write) and the batch is retried, as foreachBatch does. The
    failure leaves every table's files as they were, file for file, and
    after the retry all eleven tables, caches included, equal a clean
    run row for row."""
    out_dir = str(tmp_path / "final")
    shutil.copytree(sinks["even"], out_dir)
    before = _visible(out_dir)
    assert {path.split(os.sep)[0] for path in before} >= {CACHE_BALANCES, CACHE_TRUST}
    pipe = IngestPipeline(spark, out_dir)
    seam = "_publish_caches" if fails == "caches" else "_append"
    write = getattr(pipe, seam)
    failed = []

    def fail_once(*args):
        if not failed and fails in ("caches", args[0]):
            failed.append(fails)
            raise OSError("injected write failure")
        return write(*args)

    setattr(pipe, seam, fail_once)
    with pytest.raises(OSError, match="injected write failure"):
        pipe.process_batch(sinks["odd"])
    assert _visible(out_dir) == before
    pipe.process_batch(sinks["odd"])
    assert _rows(pipe) == sinks["clean"]


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
    redelivery for compact. The tables must then equal a clean run."""
    # (sink it starts from, the op, the next batch, the clean run)
    start, run, nxt, want = {
        "process_batch": (
            "spread_even",
            lambda p: p.process_batch(sinks["spread_odd"]),
            "spread_odd",
            "spread_clean",
        ),
        "retract": (
            "spread_full",
            lambda p: p.retract(sinks["reorg_block"]),
            "branch",
            "spread_reorg",
        ),
        "compact": (
            "spread_full",
            lambda p: p.compact("transaction", min_files=0),
            "spread_odd",
            "spread_clean",
        ),
    }[op]
    out_dir = str(tmp_path / "final")
    shutil.copytree(sinks[start], out_dir)
    pipe = IngestPipeline(spark, out_dir)
    _crash_moves_after(monkeypatch, k)
    with pytest.raises(OSError, match="injected crash"):
        run(pipe)
    monkeypatch.undo()
    marker = os.path.join(out_dir, ".commit")
    assert os.path.exists(marker)
    pipe.process_batch(sinks[nxt])
    assert not os.path.exists(marker)
    assert _rows(pipe) == sinks[want]


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
