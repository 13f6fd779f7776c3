"""Snapshot diff (operators/diff.py): change detection semantics and
the T5 retract-replay invariant it exists to check."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from blockchain_indexer_spark.operators.diff import snapshot_diff


def test_diff_added_removed_changed_and_null_semantics(spark):
    before = spark.createDataFrame(
        [(1, "a", 10), (2, "b", None), (3, "c", 30), (4, None, 40)],
        "k long, s string, v int",
    )
    after = spark.createDataFrame(
        [(2, "b", None), (3, "c", 31), (4, "x", 40), (5, "new", 50)],
        "k long, s string, v int",
    )
    got = {r["k"]: r["change_type"] for r in snapshot_diff(before, after, ["k"]).collect()}
    assert got == {
        1: "removed",
        3: "changed",   # 30 -> 31
        4: "changed",   # NULL -> 'x' counts as a change
        5: "added",
        # 2 absent: NULL == NULL under null-safe compare
    }


def test_diff_compare_cols_subset(spark):
    before = spark.createDataFrame([(1, "a", 10)], "k long, s string, v int")
    after = spark.createDataFrame([(1, "a", 99)], "k long, s string, v int")
    assert snapshot_diff(before, after, ["k"], compare_cols=["s"]).count() == 0
    assert snapshot_diff(before, after, ["k"]).count() == 1


def test_retract_replay_diff_is_empty(spark, tmp_path_factory):
    """T5 closed with its own audit tool: retract + replay must leave
    every final table identical — snapshot_diff returns ZERO rows,
    checked distributedly (the invariant the operator exists for)."""
    from blockchain_indexer_spark.streaming.runner import EVENT_TABLES, IngestPipeline
    from tests.test_streaming import _feed_rows

    root = str(tmp_path_factory.mktemp("diffreplay"))
    feed = _feed_rows(spark).cache()
    pipe = IngestPipeline(spark, os.path.join(root, "final"))
    pipe.process_batch(feed)
    snap_dir = os.path.join(root, "snap")
    tables = {}
    for name in ("block", *EVENT_TABLES):
        df = pipe.read_final(name)
        if df is not None:
            df.write.mode("overwrite").parquet(os.path.join(snap_dir, name))
            tables[name] = "number" if name == "block" else "hash"
    numbers = sorted(
        r["block_number"] for r in feed.select("block_number").distinct().collect()
    )
    pipe.retract(numbers[len(numbers) // 2])
    pipe.process_batch(feed)  # replay
    for name, key in tables.items():
        before = spark.read.parquet(os.path.join(snap_dir, name)).drop("block_group")
        after = pipe.read_final(name).drop("block_group")
        if name in ("block", "transaction"):
            keys = [key]  # genuinely unique keys — exercises 'changed'
        else:
            # event tables emit one row PER LOG, so (hash, index) is
            # not unique (a tx with two Transfer logs yields two
            # rows); diff on the full row instead — added/removed
            # still catch any replay divergence
            keys = list(after.columns)
        d = snapshot_diff(before, after, keys)
        assert d.count() == 0, (name, d.collect()[:5])
