"""Parquet source helpers for the driver testdata layout.

One parquet file per table under ``{sf_dir}/{name}.parquet``. Loads are
plain ``spark.read.parquet`` so Catalyst keeps predicate pushdown and
column pruning; never cache here — callers decide materialization.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# The driver testdata arrives as ONE parquet file with ONE rowgroup per
# table, so every scan is a single task: one core decodes 600k lineitem
# rows while 31 idle, and that serial decode is re-paid by every query.
# At production scale the ingest pipeline writes right-sized files
# (SCALE.md) and scan parallelism is native; RESPLIT reproduces that
# layout locally — once per (sf_dir, table), the file is sliced into
# defaultParallelism CONTIGUOUS one-rowgroup files (order preserved:
# the generator's natural key/time clustering keeps rowgroup min/max
# stats selective and keeps sort-heavy windows on near-sorted input; a
# hash re-shuffle measurably regressed those). Written under
# SPARK_GRAFT_CACHE_DIR, reused across sessions. Scans stay plain
# parquet, so predicate pushdown and column pruning are untouched
# (tests/test_plans.py pins this), and the `spread()` repartition at
# compute-heavy call sites becomes a no-op.
RESPLIT_MIN_ROWS = 50_000
_CACHE_DIR = os.environ.get(
    "SPARK_GRAFT_CACHE_DIR", os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))), ".table_cache")
)
_RESPLIT_DONE: dict[tuple[str, str], str | None] = {}
_RESPLIT_LOCK = __import__("threading").Lock()


def _raw_load(spark: SparkSession, path: str) -> DataFrame:
    df = spark.read.parquet(path)
    # TIMESTAMP(NANOS) parquet columns arrive as long (ns since epoch)
    # under spark.sql.legacy.parquet.nanosAsLong; restore timestamp at
    # microsecond precision — integer `div`, never float division (ns
    # epoch values exceed double's 2^53 exact-integer range). DuckDB
    # truncates ns→us identically (its TIMESTAMP is us-precision).
    for field in df.schema.fields:
        if field.name == "ts" and field.dataType.simpleString() == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif field.name == "ts" and field.dataType.simpleString() == "timestamp_ntz":
            # The resplit cache rewrites ns-timestamps with pyarrow, which
            # stores isAdjustedToUTC=false → Spark reads TIMESTAMP_NTZ.
            # Session tz is pinned UTC, so the cast is a pure type change.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def _resplit_path(spark: SparkSession, sf_dir: str, name: str) -> str | None:
    """Return the multi-file copy of the table (building it if absent),
    or None when the source is small enough that one split is fine.
    """
    src = os.path.join(sf_dir, f"{name}.parquet")
    key = (src, name)
    with _RESPLIT_LOCK:
        if key in _RESPLIT_DONE:
            return _RESPLIT_DONE[key]
        dest = os.path.join(_CACHE_DIR, os.path.basename(sf_dir.rstrip("/")), name)
        marker = os.path.join(dest, "_SUCCESS")
        try:
            import pyarrow.parquet as pq  # noqa: PLC0415

            n_rows = pq.ParquetFile(src).metadata.num_rows
            if n_rows < RESPLIT_MIN_ROWS:
                _RESPLIT_DONE[key] = None
                return None
            if not (
                os.path.exists(marker) and os.path.getmtime(marker) >= os.path.getmtime(src)
            ):
                import shutil  # noqa: PLC0415

                # Right-size splits by rows, not a blanket fan-out: a
                # 100k-row table as 32 splits pays more in task launch
                # + shuffle-block overhead than the parallel decode
                # saves (measured ~0.3 s/query); compute-heavy paths
                # get full parallelism from spread() downstream.
                n_parts = min(
                    spark.sparkContext.defaultParallelism, -(-n_rows // 25_000)
                )
                tbl = pq.read_table(src)
                # build in a tmp dir, then swap: an in-place rebuild
                # would (a) leave stale part files behind when the new
                # build has fewer parts — every later scan silently
                # reads a mix of generations — and (b) expose
                # half-written files to concurrent PROCESSES, which
                # the in-process _RESPLIT_LOCK cannot serialize
                tmp = f"{dest}.tmp-{os.getpid()}"
                shutil.rmtree(tmp, ignore_errors=True)
                os.makedirs(tmp)
                step = -(-n_rows // n_parts)
                for i in range(n_parts):
                    chunk = tbl.slice(i * step, step)
                    if chunk.num_rows:
                        pq.write_table(
                            chunk,
                            os.path.join(tmp, f"part-{i:05d}.parquet"),
                            row_group_size=step,
                        )
                with open(os.path.join(tmp, "_SUCCESS"), "w"):
                    pass
                old = f"{dest}.old-{os.getpid()}"
                shutil.rmtree(old, ignore_errors=True)
                if os.path.isdir(dest):
                    os.rename(dest, old)
                os.rename(tmp, dest)
                shutil.rmtree(old, ignore_errors=True)
            _RESPLIT_DONE[key] = dest
        except Exception:  # unwritable cache dir, odd file — serve the source
            _RESPLIT_DONE[key] = None
        return _RESPLIT_DONE[key]


#: DataFrame-OBJECT memo, keyed (applicationId, resolved path). This
#: caches the logical plan handle only — scans still read parquet at
#: every action, nothing is persisted — but reusing one DataFrame per
#: table makes the JVM queryExecution (schema resolution, file index,
#: spread()'s partition probe) warm after the first build instead of
#: re-paid by all ~2 builds × 100+ queries of a bench run (round 9,
#: guide §5: measured ~160 ms cold probe + footer read per call).
#:
#: IMMUTABILITY ASSUMPTION (ADVICE r9): the memo pins the analyzed
#: plan's FILE INDEX for the application's lifetime, so parquet files
#: under a memoized path must not be rewritten within one session —
#: true for the driver fixtures (TABLES name immutable testdata) and
#: the resplit cache (rebuilt only under a fresh mtime, which changes
#: the resolved path decision before any memo hit).
_DF_MEMO: dict[tuple[str, str], DataFrame] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise ValueError(f"unknown table {name!r}; expected one of {TABLES}")
    resplit = _resplit_path(spark, sf_dir, name)
    path = resplit if resplit is not None else os.path.join(sf_dir, f"{name}.parquet")
    key = (spark.sparkContext.applicationId, path)
    df = _DF_MEMO.get(key)
    if df is None:
        df = _DF_MEMO[key] = _raw_load(spark, path)
    return df


def spread(df: DataFrame, key: str | None = None) -> DataFrame:
    """Distribute a narrow scan across the cluster before CPU-heavy
    per-row work (shingling, hashing, vector math).

    A small table arriving as one parquet split would otherwise run
    the whole expression pipeline on a single core; the repartition
    costs one tiny shuffle and buys full parallelism. At production
    scale the scan already has >= defaultParallelism splits and this
    is a no-op.

    Pass `key` (a unique id column) when the spread subplan appears
    several times in one query: hash partitioning is deterministic, so
    Catalyst canonicalizes the copies and ReusedExchange computes the
    expensive stage once (round-robin blocks that).

    Probe caveat (ADVICE r9): the fast partition probe goes through the
    JVM queryExecution and assumes the input is a RAW SCAN (every call
    site here) — on a plan containing exchanges, ``toRdd()`` would
    trigger stage execution, so do not point spread() at a shuffled
    frame. Under Spark Connect ``_jdf`` is absent; the probe falls back
    to the public (slower) ``df.rdd`` path.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    # probe via the JVM-side InternalRow RDD: `df.rdd` builds the whole
    # Python RDD wrapper (serializer setup included) and measured
    # ~360 ms per cold call — at ~2 spread sites per query build the
    # probe alone taxed every bench run by tens of driver seconds.
    # toRdd() returns the same partition count for ~160 ms cold / ~1 ms
    # warm (round 9, guide §5: the driver should do almost no work).
    try:
        nparts = df._jdf.queryExecution().toRdd().getNumPartitions()
    except AttributeError:  # Spark Connect: no _jdf — public RDD probe
        nparts = df.rdd.getNumPartitions()
    if nparts < target:
        return df.repartition(target, F.col(key)) if key else df.repartition(target)
    return df


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> tuple[DataFrame, ...]:
    return tuple(load_table(spark, sf_dir, n) for n in names)
