"""Pins bench.py's output: one JSON line carrying every benched query
and the ingest extras, and no file written. No Spark needed — the
line is built in pure Python."""

from __future__ import annotations

import json
import os

import bench


def test_line_holds_every_query_and_writes_no_file(tmp_path, monkeypatch):
    repo = os.path.dirname(os.path.abspath(bench.__file__))
    before = set(os.listdir(repo))
    monkeypatch.chdir(tmp_path)
    timings = {name: 123.456 for name in bench.BENCH_QUERIES}
    raw = {k: [123.456, 124.567] for k in timings}
    extra = {
        "ingest_tx": 101800,
        "ingest_sec": 123.456,
        "ingest_tx_per_sec": 16138.4,
        "microbatch_tx": 508,
        "microbatch_round_sec": 4.912,
    }
    line = bench.bench_line(timings, raw, 1234.567, 0.1, 2, extra)
    assert "\n" not in line
    payload = json.loads(line)
    assert payload["metric"] == "headline_queries_total"
    assert payload["value"] == 1234.567
    assert payload["sf"] == 0.1
    assert set(payload["queries"]) == set(bench.BENCH_QUERIES)
    assert payload["runs"]["pricing_summary"] == [123.456, 124.567]
    assert {k: payload[k] for k in extra} == extra
    assert os.listdir(tmp_path) == []
    assert set(os.listdir(repo)) == before


def test_headline_and_bench_sets_are_consistent():
    assert len(set(bench.BENCH_QUERIES)) == len(bench.BENCH_QUERIES)
    from blockchain_indexer_spark.plans import REGISTRY

    missing = [q for q in bench.BENCH_QUERIES if q not in REGISTRY]
    assert not missing, missing
