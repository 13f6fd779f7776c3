"""Health / backlog predicates (J14) — `Persistence/HealthCheck.cs:
8-40` and the HealthService staleness rule (`Api/HealthService.cs:
52-60`) as DataFrame scalar aggregates.

All three distances are cheap scalar aggs over indexed/partitioned
columns — max() over the block-number partition column prunes to the
last partition at scale.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from blockchain_indexer_spark.sources.blocks import lowest_missing_block


def backlog_distances(
    blocks: DataFrame, block_staging: DataFrame, requested: DataFrame
) -> dict[str, int | None]:
    """The health query's two distances (HealthCheck.cs:14-31):

    - staging_distance: max staged number - max imported number
    - imported_distance: max imported number - (min requested-but-
      never-imported number - 1)  — how far back the oldest hole is

    ``requested`` uses the K3 ledger's `number` column, and the oldest
    hole is sources.blocks.lowest_missing_block, the query behind
    last_valid_block. It anti-joins against the FULL imported set:
    filtering imported blocks to `< max imported` would mark the head
    block itself as a hole and report a phantom imported_distance of 1
    on a fully caught-up chain.
    """
    max_imported = blocks.agg(F.max("number")).collect()[0][0]
    max_staging = block_staging.agg(F.max("number")).collect()[0][0]
    missing = lowest_missing_block(requested, blocks)
    staging_distance = (
        max_staging - max_imported
        if max_staging is not None and max_imported is not None
        else None
    )
    imported_distance = (
        max_imported - (missing - 1)
        if missing is not None and max_imported is not None
        else None
    )
    return {
        "staging_distance": staging_distance,
        "imported_distance": imported_distance,
    }


def is_healthy(
    blocks: DataFrame,
    block_staging: DataFrame,
    requested: DataFrame,
    max_healthy_backlog: int,
) -> bool:
    """Healthy iff neither distance reaches the backlog bound
    (HealthCheck.cs:29-31 returns unhealthy rows; None == healthy)."""
    d = backlog_distances(blocks, block_staging, requested)
    for v in d.values():
        if v is not None and v >= max_healthy_backlog:
            return False
    return True


def batch_is_fresh(
    last_completed_batch: dt.datetime, now: dt.datetime, max_age_seconds: int = 30
) -> bool:
    """HealthService.cs:52-60 — a batch older than 30 s flags the
    instance unhealthy."""
    return last_completed_batch >= now - dt.timedelta(seconds=max_age_seconds)


class StreamStalled(RuntimeError):
    """Raised by watch_liveness when a live stream stops receiving
    input — the reference's LiveSource stall timeout
    (`Sources/LiveSource.cs:96-118`: no newHeads for 20 s ⇒ throw so
    the supervisor reconnects)."""


def watch_liveness(
    query,
    stall_timeout_s: float = 20.0,
    poll_s: float = 0.25,
    max_wait_s: float | None = None,
    clock=None,
) -> float:
    """Supervise a live StreamingQuery: block until it stops (returns
    seconds supervised), ``max_wait_s`` elapses, or no micro-batch
    ingests a row for ``stall_timeout_s`` — then stop the query and
    raise StreamStalled.

    Mirrors the reference's liveness contract: the push channel is
    assumed hot (a mainnet head every ~5 s), so silence means a dead
    socket, and the fix is teardown + resubscribe (+ gap repair for
    anything missed), not waiting. ``clock`` is injectable for tests.
    """
    import time as _time  # noqa: PLC0415

    clock = clock or _time.monotonic
    start = clock()
    last_input = start
    seen_batches: set[str] = set()
    while query.isActive:
        progress = query.recentProgress
        for p in progress:
            key = f"{p['id']}:{p['batchId']}"
            if key not in seen_batches:
                seen_batches.add(key)
                if p["numInputRows"] > 0:
                    last_input = clock()
        if len(seen_batches) > 1024:
            # recentProgress only ever exposes the last ~100 entries;
            # keys older than that can never reappear, so cap the set
            # instead of leaking one entry per 500 ms trigger forever
            current = {f"{p['id']}:{p['batchId']}" for p in progress}
            seen_batches &= current if current else set()
        # Delivered-but-unprocessed data is not a stall: the channel
        # is hot, the engine is just mid-batch. Only silent AND
        # drained counts (matches the reference: the timeout guards
        # the subscription, not batch latency).
        if query.status.get("isDataAvailable"):
            last_input = clock()
        now = clock()
        if now - last_input >= stall_timeout_s:
            query.stop()
            raise StreamStalled(
                f"no input rows for {now - last_input:.1f}s "
                f"(stall timeout {stall_timeout_s}s)"
            )
        if max_wait_s is not None and now - start >= max_wait_s:
            break
        _time.sleep(poll_s)
    return clock() - start
