"""The benchmark's own tests: seeded inputs repeat, the live plan has the
redelivery and truncation it promises, the row, file and pair counts
repeat exactly across traced runs with one seed, and a checkout without
the indexer fails cleanly.

Run from the repository root: python -m pytest perfbench -q
(the two traced-run tests take a few minutes).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

from perfbench import data
from perfbench.workloads import _expected_new

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_same_seed_same_inputs(tmp_path):
    a = data.write_events(str(tmp_path / "a"), 5)
    b = data.write_events(str(tmp_path / "b"), 5)
    c = data.write_events(str(tmp_path / "c"), 6)
    ta, tb, tc = (pq.read_table(os.path.join(d, "events.parquet")) for d in (a, b, c))
    assert ta.equals(tb)
    assert not ta.equals(tc)
    assert data.live_plan(5) == data.live_plan(5)
    assert data.live_plan(5) != data.live_plan(6)
    ea = data.write_embeddings(str(tmp_path / "ea"), 5, 64)
    eb = data.write_embeddings(str(tmp_path / "eb"), 5, 64)
    assert pq.read_table(ea).equals(pq.read_table(eb))


def test_every_user_in_the_first_events(tmp_path):
    n_users = data.N_USERS
    d = data.write_events(str(tmp_path), 3)
    users = pq.read_table(os.path.join(d, "events.parquet"))["user_id"].to_pylist()
    assert sorted(users[:n_users]) == list(range(n_users))


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_live_plan_redelivers_and_truncates(seed):
    history_last, batches = data.live_plan(seed)
    blocks = data.event_blocks()
    assert history_last == blocks[-100] - 1
    new = [blk for b in batches for blk in range(b["new_lo"], b["hi"] + 1)]
    assert new == blocks[-100:]  # the tail, each block new exactly once
    for b in batches:
        assert b["lo"] < b["new_lo"]  # redelivers blocks it has seen
        assert 8 <= b["hi"] - b["new_lo"] + 1 <= 12 or b is batches[-1]
    t = batches[0]["truncated"]
    assert batches[0]["new_lo"] <= t <= batches[0]["hi"]
    assert batches[1]["lo"] <= t  # arrives whole in the next batch
    assert all(b["truncated"] is None for b in batches[1:])


def test_expected_new_holds_back_the_truncated_block():
    hashes = {blk: [f"h{blk}-{i}" for i in range(2)] for blk in range(10, 20)}
    first = {"lo": 9, "hi": 13, "new_lo": 10, "truncated": 12}
    second = {"lo": 12, "hi": 16, "new_lo": 14, "truncated": None}
    want, pending = _expected_new(hashes, first, None)
    assert pending == 12
    assert want == sorted(h for blk in (10, 11, 13) for h in hashes[blk])
    want, pending = _expected_new(hashes, second, pending)
    assert pending is None
    assert want == sorted(h for blk in (12, 14, 15, 16) for h in hashes[blk])


def _run(workload: str, seed: int, trace: int, cwd: str = ROOT):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    return proc


@pytest.mark.parametrize(
    "workload, counts",
    [
        (
            "live_tail",
            [
                "promote.rows_out",
                "append.files_out",
                "cache_refresh.stale_keys",
                "views.trust_reachability.rows_out",
            ],
        ),
        ("embedding_scan", ["near_dup.pairs_out", "knn_graph.edges_out"]),
    ],
)
def test_counts_repeat_with_one_seed(workload, counts):
    seen = []
    for _ in range(2):
        proc = _run(workload, 7, 1)
        assert proc.returncode == 0, proc.stderr[-2000:]
        result = json.loads(proc.stdout.strip().splitlines()[-1])
        assert result["correct"] and result["failed"] == 0
        seen.append({k: v["value"] for k, v in result["metrics"].items()})
    assert all(seen[0][k] > 0 for k in counts)
    assert {k: seen[0][k] for k in counts} == {k: seen[1][k] for k in counts}
    if workload == "live_tail":
        # job counts do not repeat exactly: one round of one seed has
        # started 55 and 58 jobs (the difference was inside promote)
        a, b = seen[0]["runner.round_jobs"], seen[1]["runner.round_jobs"]
        assert abs(a - b) <= 0.1 * max(a, b)


def test_fails_without_the_indexer(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench")
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    proc = _run("live_tail", 1, 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
