"""Import-lock steal semantics and compact crash recovery.

The lock is the parquet-sink stand-in for the reference's Serializable
promote transaction (Persistence/ImportProcedure.cs:17-27): the
exactly-once anti-join is only exact if promotes serialize."""

from __future__ import annotations

import os
import threading
import time

import pytest
from pyspark.sql import functions as F

from blockchain_indexer_spark.streaming.runner import CACHE_BALANCES, CACHE_TRUST, IngestPipeline
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
    import shutil

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


def test_compact_recovers_orphaned_partition(spark, tmp_path_factory, feed_df):  # noqa: F811
    """Crash between compact's two swap renames leaves the partition
    only under .compact-old-<part>; the next compact run must restore
    it before doing anything else."""
    root = str(tmp_path_factory.mktemp("recover"))
    pipe = IngestPipeline(spark, os.path.join(root, "final"))
    for mod in range(2):
        pipe.process_batch(feed_df.filter(F.col("block_number") % 2 == mod))
    before = (
        pipe.read_final("transaction").toPandas().sort_values("hash").reset_index(drop=True)
    )
    table_dir = os.path.join(root, "final", "transaction")
    part = sorted(p for p in os.listdir(table_dir) if p.startswith("block_group="))[0]
    # simulate the crash window: partition renamed away, tmp lost
    os.rename(
        os.path.join(table_dir, part), os.path.join(table_dir, f".compact-old-{part}")
    )
    assert not os.path.isdir(os.path.join(table_dir, part))
    pipe.compact("transaction", min_files=10_000)  # high threshold: recovery only
    after = (
        pipe.read_final("transaction").toPandas().sort_values("hash").reset_index(drop=True)
    )
    assert before.equals(after)
    assert os.path.isdir(os.path.join(table_dir, part))
    assert not os.path.isdir(os.path.join(table_dir, f".compact-old-{part}"))


def test_retract_crash_recovery_restores_table(spark, tmp_path_factory, feed_df):  # noqa: F811
    """A crash between retract's two renames leaves the only copy in
    .retract-old-<table>; the next batch (or retract) must restore it
    instead of treating the table as empty and double-importing."""
    root = str(tmp_path_factory.mktemp("rr"))
    pipe = IngestPipeline(spark, os.path.join(root, "final"))
    pipe.process_batch(feed_df)
    before = (
        pipe.read_final("transaction").toPandas().sort_values("hash").reset_index(drop=True)
    )
    # simulate the crash window
    os.rename(
        os.path.join(root, "final", "transaction"),
        os.path.join(root, "final", ".retract-old-transaction"),
    )
    assert pipe.read_final("transaction") is None
    pipe.process_batch(feed_df)  # heals first, then dedups to zero new
    after = (
        pipe.read_final("transaction").toPandas().sort_values("hash").reset_index(drop=True)
    )
    assert before.equals(after)


def test_append_restores_compact_orphan_before_writing(spark, tmp_path_factory, feed_df):  # noqa: F811
    """A crash between compact's renames, then a live batch appending
    into the same block_group: the batch must restore the orphaned
    partition before it appends. Otherwise the append recreates the
    partition directory, the next compact() takes the orphan for
    post-swap residue and deletes the only copy of its rows."""
    root = str(tmp_path_factory.mktemp("orphan"))
    halves = [feed_df.filter(F.col("block_number") % 2 == mod) for mod in range(2)]

    def transactions(pipe):
        return pipe.read_final("transaction").toPandas().sort_values("hash").reset_index(drop=True)

    clean = IngestPipeline(spark, os.path.join(root, "clean"))
    for half in halves:
        clean.process_batch(half)

    pipe = IngestPipeline(spark, os.path.join(root, "final"))
    pipe.process_batch(halves[0])
    table_dir = os.path.join(root, "final", "transaction")
    part = sorted(p for p in os.listdir(table_dir) if p.startswith("block_group="))[-1]
    orphan = os.path.join(table_dir, f".compact-old-{part}")
    os.rename(os.path.join(table_dir, part), orphan)  # the crash window
    orphan_files = set(os.listdir(orphan))
    pipe.process_batch(halves[1])
    assert not os.path.exists(orphan)
    assert orphan_files <= set(os.listdir(os.path.join(table_dir, part)))
    pipe.compact("transaction", min_files=10_000)
    assert transactions(pipe).equals(transactions(clean))


def test_failed_append_publishes_no_cache(spark, tmp_path_factory, feed_df):  # noqa: F811
    """The cache refresh runs next to the appends, but the caches are
    overwritten only once every append has returned: a batch whose
    erc20_transfer append fails leaves both cache directories as they
    were, file for file."""
    root = str(tmp_path_factory.mktemp("failed-append"))
    pipe = IngestPipeline(spark, os.path.join(root, "final"))
    pipe.process_batch(feed_df.filter(F.col("block_number") % 2 == 0))

    def files(name):
        path = pipe._table_path(name)
        return {f: os.stat(os.path.join(path, f)).st_mtime_ns for f in os.listdir(path)}

    before = {name: files(name) for name in (CACHE_BALANCES, CACHE_TRUST)}
    assert all(before.values())
    append = pipe._append

    def failing_append(name, df, block_col):
        if name == "erc20_transfer":
            raise OSError("injected append failure")
        append(name, df, block_col)

    pipe._append = failing_append
    with pytest.raises(OSError, match="injected append failure"):
        pipe.process_batch(feed_df.filter(F.col("block_number") % 2 == 1))
    assert {name: files(name) for name in (CACHE_BALANCES, CACHE_TRUST)} == before
