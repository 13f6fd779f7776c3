"""Generate COVERAGE.md: SURVEY.md §2 inventory → where each item is
implemented, which oracle-checked gate query exercises it, and which
test covers it. Run: python tools/gen_coverage.py > COVERAGE.md
"""

from __future__ import annotations

import os
import sys
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from blockchain_indexer_spark.plans import REGISTRY

# SURVEY §2 id → (implementation, test) for items whose coverage is not
# (only) a registry query. Registry queries contribute the third column
# automatically via their survey_refs.
STATIC: dict[str, tuple[str, str]] = {
    "S1": ("sources/blocks.py bulk_range", "tests/test_streaming.py"),
    "S2": ("streaming/feeder.py IntervalFeeder (eth_blockNumber poll → S8/S9 → feed file) + runner ProcessingTime trigger", "tests/test_feeder.py"),
    "S3": ("streaming/feeder.py LiveFeeder: catch-up via the S2 poll, then a sources/ws.py eth_subscribe(newHeads) websocket; one feed file per pushed head into runner start_stream (the one live ingest path)", "tests/test_ws_live.py"),
    "S4": ("sources/blocks.py find_gaps/missing_block_numbers; live re-emission exercised", "tests/test_live_loop.py"),
    "S5": ("sources/blocks.py detect_reorg; live retract+replay exercised", "tests/test_live_loop.py"),
    "S6": ("streaming/runner.py available_now flag (bulk vs live)", "tests/test_streaming.py"),
    "S7": ("unionByName of sources (runner feed)", "tests/test_streaming.py"),
    "S8": ("sources/rpc.py fetch_block, run by streaming/feeder.py on a 24-thread driver pool", "tests/test_caches_rpc_health.py"),
    "S9": ("sources/rpc.py fetch_receipt_logs, run by streaming/feeder.py on a 96-thread driver pool; streaming reunion via streaming/joins.py join_tx_receipts (watermarked stream-stream interval join, left_outer = undelivered-receipt signal)", "tests/test_stream_join.py"),
    "S10": ("sources/rpc.py fetch_safe_owners → extract_crc_signups(safe_owners)", "tests/test_caches_rpc_health.py"),
    "K1": ("streaming/runner.py _append (staged under .pending/ on parquet, in <table>__pending on JDBC; one _commit per write: a .commit marker, or one JDBC transaction)", "tests/test_import_lock.py"),
    "K2": ("streaming/runner.py process_batch per-table appends", "tests/test_streaming.py"),
    "K3": ("sources/blocks.py last_valid_block ledger (requested_blocks)", "tests/test_streaming.py"),
    "K4": ("runner FEED_SCHEMA empty-block marker rows", "tests/test_streaming.py"),
    "K5": ("runner on_imported → streaming/api.py BroadcastLog + ApiHost: RFC 6455 /ws push (frame codec shared with the client in sources/ws.py) and the /events cursor long-poll, reorg magic included", "tests/test_api_host.py"),
    "K6": ("streaming/api.py /events cursor long-poll — the stdlib pub/sub channel standing in for publish_event→pg_notify", "tests/test_api_host.py"),
    "C1": ("operators/classify.py", "tests/test_classify.py"),
    "C2": ("operators/classify.py", "tests/test_classify.py"),
    "C3": ("operators/classify.py", "tests/test_classify.py"),
    "C4": ("operators/classify.py", "tests/test_classify.py"),
    "C5": ("operators/classify.py", "tests/test_classify.py"),
    "C6": ("operators/classify.py (hex-slicing ABI decode)", "tests/test_classify.py"),
    "C7": ("operators/classify.py", "tests/test_classify.py"),
    "C8": ("operators/classify.py classify() label array + poison", "tests/test_classify.py"),
    "E1": ("operators/extract.py extract_erc20_transfers", "tests/test_extract.py"),
    "E2": ("operators/extract.py extract_crc_signups", "tests/test_extract.py"),
    "E3": ("operators/extract.py extract_crc_hub_transfers", "tests/test_extract.py"),
    "E4": ("operators/extract.py extract_crc_trusts", "tests/test_extract.py"),
    "E5": ("operators/extract.py extract_crc_organisation_signups", "tests/test_extract.py"),
    "E6": ("operators/extract.py extract_eth_transfers", "tests/test_extract.py"),
    "E7": ("operators/extract.py extract_gnosis_safe_eth_transfers", "tests/test_extract.py"),
    "P3": ("functions/hex.py strip_topic_address", "tests/test_classify.py"),
    "P4": ("functions/hex.py hex_to_decimal (two-limb conv)", "tests/test_classify.py"),
    "P5": ("F.lower at extract/classify sites", "tests/test_extract.py"),
    "P6": ("F.timestamp_seconds at assemble/derive sites", "tests/test_views.py"),
    "P8": ("classify() classification label array", "tests/test_classify.py"),
    "P12": ("classify() C6 calldata slots (functions/hex.py hex_slot*)", "tests/test_classify.py"),
    "J4": ("operators/views.py crc_current_trust", "tests/test_views.py"),
    "J5": ("operators/views.py crc_capacity_graph", "tests/test_views.py"),
    "J6": ("operators/views.py crc_safe_timeline (explode+equi rewrite)", "tests/test_views.py"),
    "J10": ("sources/blocks.py last_valid_block", "tests/test_streaming.py"),
    "J11": ("operators/promote.py promote (ready_blocks: staged distinct tx count == declared)", "tests/test_promote.py"),
    "J12": ("operators/promote.py merge_new (already-imported check)", "tests/test_promote.py"),
    "J13": ("operators/promote.py leftover_blocks (CleanImported survivors)", "tests/test_promote.py"),
    "J14": ("streaming/health.py backlog_distances/is_healthy, served at ApiHost /health", "tests/test_api_host.py"),
    "J15": ("operators/caches.py refresh_* (stale-key semi-joins)", "tests/test_caches_rpc_health.py"),
    "A10": ("operators/promote.py promote (ready_blocks: max_by newest version per number)", "tests/test_promote.py"),
    "A12": ("sources/blocks.py scalar aggs", "tests/test_streaming.py"),
    "W1": ("ranking windows (views/current_trust, accepted_crc)", "tests/test_views.py"),
    "W2": ("sources/blocks.py find_gaps lead window", "tests/test_streaming.py"),
    "T1": ("runner trigger config (ProcessingTime / AvailableNow)", "tests/test_streaming.py"),
    "T2": ("micro-batch model; backpressure via runner start_stream(max_files_per_trigger=...)", "tests/test_feeder.py"),
    "T3": ("operators/promote.py promote (ready_blocks completeness gate)", "tests/test_promote.py"),
    "T4": ("operators/promote.py merge_new anti-join over the replayable file feed (runner start_stream)", "tests/test_promote.py"),
    "T5": ("operators/promote.py retract_from + IngestPipeline.retract (partitioned-sink rewrite + cache drop in one commit + deadbeef)", "tests/test_live_loop.py"),
    "T6": ("sources/blocks.py find_gaps + last_valid_block", "tests/test_streaming.py"),
    "T7": ("operators/promote.py promote (ready_blocks: max_by newest version per number)", "tests/test_promote.py"),
    "T8": ("operators/caches.py wired into IngestPipeline.refresh_caches — per-batch stale-key refresh of both cache tables, staged inside the append pool and committed with the batch on either sink", "tests/test_cache_maintenance.py"),
    "T9": ("views crc_capacity_graph(since_block=...)", "tests/test_views.py"),
    "T10": ("per-day tumbling (A4) via F.window + gaps-and-islands sessionization (batch queries; no watermarks, like the reference)", "tests/test_oracle_parity.py"),
    "T11": ("runner available_now (bulk) vs processing-time (live)", "tests/test_streaming.py"),
    "UDTF": ("operators/views.py get_capacity", "gate query"),
    "LLM-dedup": ("operators/dedup.py (exact/jaccard/minhash/simhash)", "tests/test_dedup.py"),
    "LLM-sim": ("operators/similarity.py (flat + LSH ANN)", "tests/test_similarity.py"),
    "LLM-text": ("functions/text.py", "tests/test_text_functions.py"),
    "LLM-multimodal": ("operators/multimodal.py (mapInPandas stages)", "tests/test_multimodal.py"),
    "LLM-governance": ("operators/governance.py (k-anonymity release gate)", "tests/test_governance.py"),
}


def main() -> None:
    by_ref: dict[str, list[str]] = defaultdict(list)
    for q in REGISTRY.values():
        tag = "oracle" if q.oracle else "rows-only"
        for ref in q.survey_refs:
            by_ref[ref].append(f"`{q.name}` ({tag})")

    print("# COVERAGE — SURVEY.md §2 inventory → implementation map")
    print()
    print("Generated by tools/gen_coverage.py. 'Gate queries' are entries in")
    print("`__spark_entry__.queries()`; 'oracle' means the driver hash-compares")
    print("the result against the DuckDB oracle SQL at sf0.01.")
    print()
    print("| §2 id | Implementation | Gate queries | Tests |")
    print("|---|---|---|---|")
    ids = sorted(set(STATIC) | set(by_ref), key=lambda s: (s[0], s))
    for ref in ids:
        impl, test = STATIC.get(ref, ("(see gate query)", "tests/test_oracle_parity.py"))
        qs = ", ".join(by_ref.get(ref, [])) or "—"
        print(f"| {ref} | {impl} | {qs} | {test} |")


if __name__ == "__main__":
    main()
