"""Relational operator library over the driver testdata.

Every query here re-expresses one operator shape from the reference
(cited as ``file:line`` under /root/reference) as idiomatic PySpark with
a DuckDB oracle. The blockchain-domain versions of these operators live
in ``operators/`` and run on chain-shaped tables; this module proves the
same shapes on the harness tables (SURVEY.md §2 inventory).

Scale notes (100 TB design intent), per shape:

- Aggregations are plain ``groupBy`` → map-side partial agg + one
  shuffle on the group keys; AQE coalesces post-shuffle partitions.
- Dimension joins (part/nation/region/customer at TPC-H ratios)
  broadcast explicitly — no shuffle of the fact table.
- Window "latest per key" partitions by the key — shuffle is on the
  high-cardinality key, so it scales linearly; no global sort.
- Gap detection is the one intrinsically order-dependent op; the
  reference runs it over block numbers (``Sources/GapSource.cs:79-93``).
  Here it's a lead() window; at 100 TB you'd range-partition by key
  chunk and check chunk boundaries separately (noted in sources/blocks).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from blockchain_indexer_spark.plans.registry import register
from blockchain_indexer_spark.sources.parquet import load_table


def _dec(c: str | Column) -> Column:
    """Lossless decimal view of an exact-2dp double (see registry doc)."""
    col = F.col(c) if isinstance(c, str) else c
    return col.cast("decimal(18,2)")


def _dsum(c: str | Column) -> Column:
    """Order-independent exact sum of 2dp doubles, returned as double."""
    return F.sum(_dec(c)).cast("double")


CREDIT_TYPES = ("purchase", "signup")  # ledger "in" side; rest are "out"


# ---------------------------------------------------------------------------
# Aggregations
# ---------------------------------------------------------------------------


@register(
    "pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)       AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)  AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)      AS avg_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="TPC-H Q1 shape: multi-agg groupBy (reference balance views, "
    "0.0.64.sql:786-805). Map-side partial agg; shuffle only on the "
    "2-col low-cardinality key.",
    survey_refs=("A2", "A3", "P7"),
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dsum("l_quantity").alias("sum_qty"),
            _dsum("l_extendedprice").alias("sum_base_price"),
            F.sum(_dec("l_extendedprice") * (F.lit(1) - _dec("l_discount")))
            .cast("double")
            .alias("sum_disc_price"),
            (F.sum(_dec("l_quantity")).cast("double") / F.count("*")).alias("avg_qty"),
            (F.sum(_dec("l_extendedprice")).cast("double") / F.count("*")).alias("avg_price"),
            F.count("*").alias("count_order"),
        )
    )


@register(
    "per_day_counts",
    oracle="""
    SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS event_day, event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
    doc="Per-day tumbling aggregate (crc_signups_per_day 0.0.64.sql:1563-1569, "
    "crc_hub_transfers_per_day :1253-1259).",
    survey_refs=("A4", "P7"),
)
def per_day_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("event_day"), "event_type")
        .agg(F.count("*").alias("n_events"), _dsum("value").alias("total_value"))
    )


@register(
    "scalar_total",
    oracle="""
    SELECT CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_purchase_value,
           COUNT(*) AS n_purchases
    FROM events WHERE event_type = 'purchase'
    """,
    doc="Global scalar aggregate with filter (crc_total_minted_amount "
    "0.0.64.sql:1575-1578; mint filter erc20_minting_2 :1265-1275).",
    survey_refs=("A5", "P2"),
)
def scalar_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.filter(F.col("event_type") == "purchase").agg(
        _dsum("value").alias("total_purchase_value"), F.count("*").alias("n_purchases")
    )


@register(
    "double_entry_ledger",
    oracle=f"""
    SELECT user_id,
           CAST(SUM(CASE WHEN event_type IN {CREDIT_TYPES}
                         THEN CAST(value AS DECIMAL(18,2))
                         ELSE -CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS balance,
           COUNT(*) AS n_events
    FROM events
    GROUP BY user_id
    """,
    doc="Signed double-entry sum (crc_ledger_2 add/remove branches "
    "0.0.64.sql:743-780; signed CASE direction erc20_balances "
    ":1584-1637). Single pass instead of the reference's UNION of +/- "
    "subqueries.",
    survey_refs=("A1", "A6", "P11"),
)
def double_entry_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    signed = F.when(F.col("event_type").isin(*CREDIT_TYPES), _dec("value")).otherwise(
        -_dec("value")
    )
    return ev.groupBy("user_id").agg(
        F.sum(signed).cast("double").alias("balance"), F.count("*").alias("n_events")
    )


@register(
    "dedup_first_seen",
    oracle="""
    SELECT user_id, event_type,
           MIN(event_id) AS first_event_id,
           COUNT(*) AS n_occurrences
    FROM events
    GROUP BY user_id, event_type
    """,
    doc="Deterministic dedup: keep first row per logical key (staging "
    "SELECT DISTINCT promotion, 0.0.64.sql:2139-2263; dropDuplicates "
    "made deterministic via argmin).",
    survey_refs=("A8", "T4"),
)
def dedup_first_seen(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("user_id", "event_type").agg(
        F.min("event_id").alias("first_event_id"), F.count("*").alias("n_occurrences")
    )


@register(
    "completeness_gate",
    oracle="""
    SELECT o.o_orderkey, o.o_orderstatus, COUNT(DISTINCT l.l_linenumber) AS n_lines
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderkey, o.o_orderstatus
    HAVING COUNT(DISTINCT l.l_linenumber) = MAX(l.l_linenumber)
       AND COUNT(DISTINCT l.l_linenumber) >= 6
    """,
    doc="Completeness gating: promote only when distinct child count "
    "matches the declared total (import marker 0.0.64.sql:2106-2119; "
    "README.md:101-106).",
    survey_refs=("J11", "A7", "T3"),
)
def completeness_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    agg = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderkey", "o_orderstatus")
        .agg(
            F.countDistinct("l_linenumber").alias("n_lines"),
            F.max("l_linenumber").alias("declared"),
        )
    )
    return agg.filter((F.col("n_lines") == F.col("declared")) & (F.col("n_lines") >= 6)).select(
        "o_orderkey", "o_orderstatus", "n_lines"
    )


# ---------------------------------------------------------------------------
# Joins
# ---------------------------------------------------------------------------


@register(
    "broadcast_join_agg",
    oracle="""
    SELECT p.p_brand,
           COUNT(*) AS n_items,
           CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY p.p_brand
    """,
    doc="Fact-to-dimension equi join, dimension broadcast so the fact "
    "table never shuffles (crc_token_transfer_2 signup join "
    "0.0.64.sql:688-698 — signups are the small side).",
    survey_refs=("J1", "J3"),
)
def broadcast_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n_items"),
            _dsum("l_quantity").alias("total_qty"),
            F.sum(_dec("l_extendedprice") * (F.lit(1) - _dec("l_discount")))
            .cast("double")
            .alias("revenue"),
        )
    )


@register(
    "multi_join_revenue",
    oracle="""
    SELECT r.r_name, n.n_name,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name, n.n_name
    """,
    doc="Chained dimension joins (3-way join of crc_alive_accounts "
    "0.0.64.sql:704-714; capacity-graph CTE chains :815-939). All "
    "dimensions broadcast; one shuffle for the final agg.",
    survey_refs=("J2", "J5"),
)
def multi_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(F.count("*").alias("n_orders"), _dsum("o_totalprice").alias("revenue"))
    )


@register(
    "anti_join_inactive",
    oracle="""
    SELECT c.c_mktsegment, COUNT(*) AS n_inactive_customers
    FROM customer c
    WHERE NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey
          AND o.o_orderdate >= TIMESTAMP '1999-01-01 00:00:00'
          AND o.o_orderdate <  TIMESTAMP '2000-01-01 00:00:00'
    )
    GROUP BY c.c_mktsegment
    """,
    doc="Anti join: keys with no match in a filtered child (non-CRC "
    "token filter 0.0.64.sql:1523-1524; GetLastValidBlock missing-block "
    "probe Persistence/BlockTracker.cs:13-36).",
    survey_refs=("J7", "J10"),
)
def anti_join_inactive(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1999-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("2000-01-01 00:00:00").cast("timestamp"))
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_inactive_customers"))
    )


@register(
    "semi_join_parts",
    oracle="""
    SELECT p.p_partkey, p.p_brand, p.p_type
    FROM part p
    WHERE EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_partkey = p.p_partkey AND l.l_quantity >= 45)
    """,
    doc="Semi join: existence probe without multiplying rows "
    "(CleanImported survivor selection Persistence/StagingTables.cs:37-55; "
    "stale key scoping 0.0.64.sql:2275-2296).",
    survey_refs=("J13", "J15"),
)
def semi_join_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 45)
    return p.join(li, p.p_partkey == li.l_partkey, "left_semi").select(
        "p_partkey", "p_brand", "p_type"
    )


# ---------------------------------------------------------------------------
# Windows
# ---------------------------------------------------------------------------


@register(
    "latest_event_per_user",
    oracle="""
    SELECT user_id, event_id AS last_event_id, event_type AS last_event_type,
           value AS last_value
    FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                                       ORDER BY ts DESC, event_id DESC) AS rn
          FROM events)
    WHERE rn = 1
    """,
    doc="Latest row per key via ranking window (latest trust per pair, "
    "row_number at 0.0.64.sql:1084,1097). Tie broken by unique "
    "event_id for cross-engine determinism.",
    survey_refs=("W1", "J9"),
)
def latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.col("event_type").alias("last_event_type"),
            F.col("value").alias("last_value"),
        )
    )


@register(
    "version_disambiguation",
    oracle="""
    SELECT user_id, CAST(CAST(ts AS DATE) AS VARCHAR) AS event_day, value AS latest_value
    FROM (SELECT *, row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                                       ORDER BY ts DESC, event_id DESC) AS rn
          FROM events)
    WHERE rn = 1
    """,
    doc="Keep-newest-version disambiguation (duplicate block versions: "
    "same number, different timestamp ⇒ newest wins, "
    "0.0.64.sql:2048-2101).",
    survey_refs=("A10", "T7"),
)
def version_disambiguation(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").withColumn(
        "event_day", F.date_format("ts", "yyyy-MM-dd")
    )
    w = W.partitionBy("user_id", "event_day").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_day", F.col("value").alias("latest_value"))
    )


@register(
    "tumbling_window_stats",
    oracle="""
    SELECT epoch_us(time_bucket(INTERVAL 6 HOURS, ts)) AS window_start_us,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events WHERE ts IS NOT NULL
    GROUP BY 1, 2
    """,
    doc="Tumbling event-time window aggregate via F.window (the "
    "per-day cadence at 0.0.64.sql:1563-1569 generalized to sub-day "
    "buckets). Window starts as epoch microseconds: both engines "
    "align sub-day buckets to the epoch, and integer microseconds "
    "hash-compare exactly where raw timestamps may not. NULL-ts "
    "events are dropped EXPLICITLY on both sides: an event without "
    "event time cannot be windowed (F.window filters them silently; "
    "time_bucket would keep a NULL group — the round-6 NULL sweep "
    "caught the divergence).",
    survey_refs=("T10", "A4"),
)
def tumbling_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    return (
        ev.groupBy(F.window("ts", "6 hours").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), _dsum("value").alias("total_value"))
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


@register(
    "event_sessionization",
    oracle="""
    WITH o AS (
      SELECT user_id, event_id, epoch_us(ts) AS us,
             lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_us
      FROM events WHERE ts IS NOT NULL
    ),
    s AS (
      SELECT user_id, us,
             CAST(SUM(CASE WHEN prev_us IS NULL
                                OR us - prev_us > 1800000000 THEN 1
                           ELSE 0 END)
                  OVER (PARTITION BY user_id ORDER BY us, event_id
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
      FROM o
    )
    SELECT user_id, session_seq,
           MIN(us) AS session_start_us,
           MAX(us) AS session_end_us,
           COUNT(*) AS n_events,
           MAX(us) - MIN(us) AS duration_us
    FROM s
    GROUP BY 1, 2
    """,
    doc="Sessionization (gaps-and-islands): per-user sessions split on "
    ">30 min inactivity — lag to flag session starts, running sum to "
    "number them, one groupBy for per-session stats. The batch twin "
    "of F.session_window; partition-by-user keeps the two window "
    "passes and the final agg on ONE user-keyed shuffle, so at scale "
    "it's a single exchange regardless of corpus size. Timestamps "
    "compared as integer epoch microseconds (exact on both engines). "
    "NULL-ts events dropped explicitly on both sides: an event "
    "without event time cannot be ordered into a session, and the "
    "engines' NULL sort orders differ (NULL sweep, round 6).",
    survey_refs=("T10", "W2"),
)
def event_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = W.partitionBy("user_id").orderBy("us", "event_id")
    return (
        ev.select("user_id", "event_id", F.unix_micros(F.col("ts")).alias("us"))
        .withColumn("prev_us", F.lag("us").over(w))
        .withColumn(
            "is_new",
            (
                F.col("prev_us").isNull()
                | ((F.col("us") - F.col("prev_us")) > F.lit(1_800_000_000))
            ).cast("int"),
        )
        .withColumn(
            "session_seq",
            F.sum("is_new").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)),
        )
        .groupBy("user_id", "session_seq")
        .agg(
            F.min("us").alias("session_start_us"),
            F.max("us").alias("session_end_us"),
            F.count("*").alias("n_events"),
            (F.max("us") - F.min("us")).alias("duration_us"),
        )
    )


@register(
    "asof_latest_purchase",
    oracle="""
    WITH clicks AS (
      SELECT event_id, user_id, epoch_us(ts) AS us, value
      FROM events WHERE event_type = 'click'
    ),
    purchases AS (
      SELECT user_id, us AS purchase_us, value AS purchase_value
      FROM (SELECT user_id, epoch_us(ts) AS us, value,
                   row_number() OVER (PARTITION BY user_id, epoch_us(ts)
                                      ORDER BY event_id DESC) AS rn
            FROM events WHERE event_type = 'purchase')
      WHERE rn = 1
    )
    SELECT c.event_id, c.user_id, c.us, c.value,
           p.purchase_us, p.purchase_value
    FROM clicks c
    ASOF LEFT JOIN purchases p
      ON c.user_id = p.user_id AND p.purchase_us <= c.us
    """,
    doc="As-of join (operators/asof.py): each click matched to the "
    "user's latest purchase at-or-before it, NULL if none. Spark has "
    "no native ASOF JOIN; the union+window plan shuffles left+right "
    "ONCE on the key — no inequality-join candidate blowup. Oracle is "
    "DuckDB's native ASOF LEFT JOIN. Right side deduped to one row "
    "per (user, ts) so tie semantics are engine-independent.",
    survey_refs=("LLM-asof",),
)
def asof_latest_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blockchain_indexer_spark.operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", us.alias("us"), "value"
    )
    w = W.partitionBy("user_id", "purchase_us").orderBy(F.desc("event_id"))
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", us.alias("purchase_us"), F.col("value").alias("purchase_value"), "event_id")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "purchase_us", "purchase_value")
    )
    return asof_join(
        clicks,
        purchases,
        on="user_id",
        left_ts="us",
        right_ts="purchase_us",
        right_cols=["purchase_value"],
        suffix="",
    )


@register(
    "range_join_active_sessions",
    oracle="""
    WITH o AS (
      SELECT user_id, event_id, epoch_us(ts) AS us,
             lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_us
      FROM events
    ),
    s AS (
      SELECT user_id, us,
             SUM(CASE WHEN prev_us IS NULL
                           OR us - prev_us > 1800000000 THEN 1
                      ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY us, event_id
                     ROWS UNBOUNDED PRECEDING) AS session_seq
      FROM o
    ),
    sess AS (
      SELECT user_id, session_seq,
             MIN(us) AS start_us, MAX(us) AS end_us
      FROM s GROUP BY 1, 2
    ),
    pts AS (SELECT event_id, epoch_us(ts) AS us FROM events)
    SELECT p.event_id, COUNT(*) AS n_active
    FROM pts p JOIN sess i ON p.us BETWEEN i.start_us AND i.end_us
    GROUP BY 1
    """,
    doc="Range join (operators/range_join.py): per event, how many "
    "user sessions (from event_sessionization's intervals) were "
    "active at that instant. Spark plans a raw BETWEEN join as a "
    "nested loop; the operator buckets intervals (1 h buckets) into "
    "an equi-join + exact filter — sub-quadratic and shuffle-keyed. "
    "Oracle computes the same count via DuckDB's inequality join.",
    survey_refs=("LLM-range",),
)
def range_join_active_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blockchain_indexer_spark.operators.range_join import interval_point_join

    sessions = event_sessionization(spark, sf_dir).select(
        F.col("session_start_us").alias("start_us"),
        F.col("session_end_us").alias("end_us"),
    )
    ev = load_table(spark, sf_dir, "events")
    pts = ev.select("event_id", F.unix_micros(F.col("ts")).alias("us"))
    hour_us = 3_600_000_000
    return (
        interval_point_join(
            pts, sessions, "us", "start_us", "end_us", bucket_width=hour_us
        )
        .groupBy("event_id")
        .agg(F.count("*").alias("n_active"))
    )


@register(
    "gap_detection",
    oracle="""
    WITH present AS (
        SELECT o_orderkey FROM orders WHERE o_orderkey % 97 >= 5
    )
    SELECT o_orderkey + 1 AS gap_start, next_key - 1 AS gap_end
    FROM (SELECT o_orderkey,
                 lead(o_orderkey) OVER (ORDER BY o_orderkey) AS next_key
          FROM present)
    WHERE next_key > o_orderkey + 1
    """,
    doc="Missing-range detection via lead() (FindMissingBlocks, "
    "Sources/GapSource.cs:79-93). Holes synthesized deterministically "
    "(every key with key%97<5 removed) since the harness keys are "
    "contiguous. Global-order window is fine at block-number "
    "cardinality; at 100 TB, range-partition and check chunk edges.",
    survey_refs=("S4", "W2"),
)
def gap_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 97 >= 5)
    w = W.orderBy("o_orderkey")
    return (
        o.select("o_orderkey")
        .withColumn("next_key", F.lead("o_orderkey").over(w))
        .filter(F.col("next_key") > F.col("o_orderkey") + 1)
        .select(
            (F.col("o_orderkey") + 1).alias("gap_start"),
            (F.col("next_key") - 1).alias("gap_end"),
        )
    )


@register(
    "topk_per_group",
    oracle="""
    SELECT o_custkey, CAST(rn AS BIGINT) AS rank, o_orderkey, o_totalprice
    FROM (SELECT o_custkey, o_orderkey, o_totalprice,
                 row_number() OVER (PARTITION BY o_custkey
                                    ORDER BY o_totalprice DESC, o_orderkey) AS rn
          FROM orders)
    WHERE rn <= 3
    """,
    doc="Top-K per group (argmax-by-self-join crc_safe_accepted_crc "
    "0.0.64.sql:1296-1319 rewritten as a ranking window — same result, "
    "one shuffle instead of a join).",
    survey_refs=("J8", "W1"),
)
def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= 3)
        .select("o_custkey", "rank", "o_orderkey", "o_totalprice")
    )


# ---------------------------------------------------------------------------
# Projections / set ops / payloads
# ---------------------------------------------------------------------------


@register(
    "filtered_projection",
    oracle="""
    SELECT o_orderkey, CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS order_date,
           lower(o_orderpriority) AS priority, o_totalprice
    FROM orders
    WHERE o_orderstatus = 'O' AND o_totalprice > 250000
    """,
    doc="Filter + projection + scalar normalization, pushed to the scan "
    "(formatted_* views 0.0.64.sql:1324-1382; lowercase normalization "
    "Indexer.cs:416,433).",
    survey_refs=("P1", "P5", "P7"),
)
def filtered_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.filter((F.col("o_orderstatus") == "O") & (F.col("o_totalprice") > 250000)).select(
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
        F.lower("o_orderpriority").alias("priority"),
        "o_totalprice",
    )


@register(
    "union_activity_timeline",
    oracle=f"""
    SELECT o_custkey AS account_id, o_orderdate AS ts, 'order' AS activity_type,
           CASE WHEN o_orderstatus = 'O' THEN 'open' ELSE 'closed' END AS direction,
           o_totalprice AS amount
    FROM orders
    UNION ALL
    SELECT user_id AS account_id, ts, event_type AS activity_type,
           CASE WHEN event_type IN {CREDIT_TYPES} THEN 'in' ELSE 'out' END AS direction,
           value AS amount
    FROM events
    """,
    doc="Unified activity timeline: N-branch UNION ALL of heterogeneous "
    "event tables normalized to one schema with CASE direction "
    "(crc_safe_timeline_2 0.0.64.sql:1397-1557).",
    survey_refs=("J6", "P11"),
)
def union_activity_timeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    ev = load_table(spark, sf_dir, "events")
    orders_branch = o.select(
        F.col("o_custkey").alias("account_id"),
        F.col("o_orderdate").alias("ts"),
        F.lit("order").alias("activity_type"),
        F.when(F.col("o_orderstatus") == "O", "open").otherwise("closed").alias("direction"),
        F.col("o_totalprice").alias("amount"),
    )
    events_branch = ev.select(
        F.col("user_id").alias("account_id"),
        "ts",
        F.col("event_type").alias("activity_type"),
        F.when(F.col("event_type").isin(*CREDIT_TYPES), "in").otherwise("out").alias("direction"),
        F.col("value").alias("amount"),
    )
    return orders_branch.unionByName(events_branch)


@register(
    "json_payload",
    oracle="""
    SELECT event_id,
           CAST(json_object('event_id', event_id,
                            'event_type', event_type,
                            'user_id', user_id) AS VARCHAR) AS payload
    FROM events WHERE event_id % 100 = 0
    """,
    doc="Row-to-JSON payload construction (row_to_json / json_agg in "
    "the timeline views, 0.0.64.sql:1411,1431-1444).",
    survey_refs=("P9",),
)
def json_payload(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.filter(F.col("event_id") % 100 == 0).select(
        "event_id",
        F.to_json(F.struct("event_id", "event_type", "user_id")).alias("payload"),
    )


@register(
    "membership_collect",
    oracle="""
    SELECT user_id,
           array_to_string(list_sort(list(DISTINCT event_type)), ',') AS types_seen,
           list_contains(list(DISTINCT event_type), 'purchase') AS has_purchase
    FROM events
    GROUP BY user_id
    """,
    doc="Collect-to-array + membership test (array_agg of stale keys "
    "0.0.64.sql:2323,2373; = ANY(array) membership :2323). Array "
    "emitted as a sorted joined string for stable comparison.",
    survey_refs=("A11", "P10"),
)
def membership_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.array_join(F.sort_array(F.collect_set("event_type")), ",").alias("types_seen"),
        F.array_contains(F.collect_set("event_type"), "purchase").alias("has_purchase"),
    )


@register(
    "rollup_revenue_hierarchy",
    oracle="""
    SELECT COALESCE(r.r_name, 'ALL')  AS region,
           CASE WHEN GROUPING(n.n_name) = 1 THEN 'ALL' ELSE n.n_name END AS nation,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
           CAST(GROUPING(r.r_name) * 2 + GROUPING(n.n_name) AS BIGINT) AS agg_level
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    GROUP BY ROLLUP (r.r_name, n.n_name)
    """,
    doc="Hierarchical subtotals via ROLLUP(region, nation) + "
    "grouping_id: per-nation, per-region and grand-total revenue in "
    "ONE pass — Spark expands the grouping sets and still computes "
    "map-side partial aggregates, so the cost is one shuffle (the "
    "hand-rolled alternative is three aggs + union, three shuffles). "
    "Subtotal rows are labeled 'ALL' via the grouping bit, not NULL, "
    "so they can't collide with real data.",
    survey_refs=("A4", "A5", "J2"),
)
def rollup_revenue_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    joined = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    agg = joined.rollup("r_name", "n_name").agg(
        F.count("*").alias("n_orders"),
        _dsum("o_totalprice").alias("revenue"),
        F.grouping_id().cast("bigint").alias("agg_level"),
    )
    # agg_level bits: 2 = r_name rolled up, 1 = n_name rolled up
    return agg.select(
        F.when(F.col("agg_level") >= 2, "ALL").otherwise(F.col("r_name")).alias("region"),
        F.when(F.col("agg_level") % 2 == 1, "ALL").otherwise(F.col("n_name")).alias("nation"),
        "n_orders",
        "revenue",
        "agg_level",
    )


@register(
    "profile_orders",
    oracle="""
    SELECT 'o_orderkey' AS col_name, COUNT(*) AS n_rows,
           COUNT(*) - COUNT(o_orderkey) AS n_nulls,
           COUNT(DISTINCT o_orderkey) AS n_distinct,
           CAST(MIN(o_orderkey) AS DOUBLE) AS min_num,
           CAST(MAX(o_orderkey) AS DOUBLE) AS max_num
    FROM orders
    UNION ALL
    SELECT 'o_custkey', COUNT(*), COUNT(*) - COUNT(o_custkey),
           COUNT(DISTINCT o_custkey),
           CAST(MIN(o_custkey) AS DOUBLE), CAST(MAX(o_custkey) AS DOUBLE)
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', COUNT(*), COUNT(*) - COUNT(o_orderstatus),
           COUNT(DISTINCT o_orderstatus), NULL, NULL
    FROM orders
    UNION ALL
    SELECT 'o_totalprice', COUNT(*), COUNT(*) - COUNT(o_totalprice),
           COUNT(DISTINCT o_totalprice),
           CAST(MIN(o_totalprice) AS DOUBLE), CAST(MAX(o_totalprice) AS DOUBLE)
    FROM orders
    UNION ALL
    SELECT 'o_orderdate', COUNT(*), COUNT(*) - COUNT(o_orderdate),
           COUNT(DISTINCT o_orderdate),
           CAST(epoch_us(MIN(o_orderdate)) AS DOUBLE),
           CAST(epoch_us(MAX(o_orderdate)) AS DOUBLE)
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority', COUNT(*), COUNT(*) - COUNT(o_orderpriority),
           COUNT(DISTINCT o_orderpriority), NULL, NULL
    FROM orders
    """,
    doc="One-pass table profile (operators.profile.profile): per-"
    "column null count, exact distinct cardinality and numeric/"
    "timestamp range computed as parallel aggregates over ONE scan, "
    "exploded to a row per column — the shard-level data-quality "
    "summary an ingest pipeline logs before promote. The oracle "
    "computes each column's row independently; approx_count_distinct "
    "is the documented 100 TB swap-in (one map pass, mergeable "
    "sketches).",
    survey_refs=("A5", "A7", "A12"),
)
def profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blockchain_indexer_spark.operators.profile import profile

    return profile(load_table(spark, sf_dir, "orders"))


@register(
    "sliding_window_stats",
    oracle="""
    WITH w AS (
      -- starts are slide-aligned (multiples of 3 h): an event at ts
      -- is inside the windows starting at floor3h(ts) and
      -- floor3h(ts) - 3 h — always exactly two for a 6 h length
      SELECT epoch_us(time_bucket(INTERVAL 3 HOURS, ts) - o * INTERVAL 3 HOURS)
               AS window_start_us,
             value
      FROM events, UNNEST([0, 1]) AS t(o)
      WHERE ts IS NOT NULL
    )
    SELECT window_start_us,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM w GROUP BY window_start_us
    """,
    doc="Sliding (hopping) event-time window: 6 h length, 3 h slide — "
    "each event lands in exactly two overlapping windows, F.window's "
    "multi-assign fan-out (the streaming hop-aggregation shape; T10 "
    "beyond the reference's daily cadence). The oracle re-derives the "
    "two epoch-aligned window starts per event explicitly. Spark "
    "plans the fan-out as one Expand + one agg exchange — the hop "
    "count multiplies rows BEFORE the map-side partial agg, so at "
    "scale the shuffle still carries one partial row per (window, "
    "partition), not per event.",
    survey_refs=("T10", "A4"),
)
def sliding_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "6 hours", "3 hours").alias("w"))
        .agg(F.count("*").alias("n_events"), _dsum("value").alias("total_value"))
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "n_events",
            "total_value",
        )
    )


@register(
    "salted_join_segment_totals",
    oracle="""
    SELECT c.c_mktsegment,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
    doc="Skew-guard identity gate (operators.skew.salted_join): the "
    "big fact side is salted into 8 sub-keys and the dimension "
    "replicated x8 before the equi-join, spreading any hot key over 8 "
    "reducers — and the result must be EXACTLY the plain join's "
    "(which is what the oracle computes). This is the manual fallback "
    "for stable known-hot keys; AQE's runtime skew-join splitting "
    "(on in session.py) covers the dynamic case.",
    survey_refs=("J1", "J2"),
)
def salted_join_segment_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blockchain_indexer_spark.operators.skew import salted_join

    ev = load_table(spark, sf_dir, "events")
    cust = (
        load_table(spark, sf_dir, "customer")
        .select(F.col("c_custkey").alias("user_id"), "c_mktsegment")
    )
    j = salted_join(ev, cust, "user_id", salt=8)
    return j.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_events"), _dsum("value").alias("total_value")
    )


@register(
    "stream_reassembly_join",
    oracle="""
    WITH txs AS (
      SELECT concat('0x', md5(CAST(event_id AS VARCHAR))) AS hash,
             1600000000 + event_id AS block_timestamp
      FROM events
    ),
    receipts AS (
      SELECT concat('0x', md5(CAST(event_id AS VARCHAR))) AS receipt_hash,
             1600000000 + event_id + (event_id % 500) AS receipt_timestamp,
             concat('l', CAST(event_id AS VARCHAR)) AS logs
      FROM events WHERE event_id % 7 != 0
    )
    SELECT t.hash, t.block_timestamp, r.receipt_timestamp, r.logs
    FROM txs t LEFT JOIN receipts r
      ON t.hash = r.receipt_hash
     AND r.receipt_timestamp >= t.block_timestamp
     AND r.receipt_timestamp <= t.block_timestamp + 300
    """,
    doc="Batch twin of the watermarked stream-stream reassembly join "
    "(streaming/joins.py join_tx_receipts): tx headers LEFT OUTER "
    "interval-join their receipts; every-7th receipt is undelivered "
    "and delays beyond the 5-minute bound (event_id % 500 > 300) "
    "surface as NULL logs — the gap signal the streaming form emits "
    "after the watermark passes. Reference S8/S9 download reunion, "
    "requested_blocks J10.",
    survey_refs=("S8", "S9", "J10"),
)
def stream_reassembly_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blockchain_indexer_spark.streaming.joins import join_tx_receipts

    ev = load_table(spark, sf_dir, "events")
    h = F.concat(F.lit("0x"), F.md5(F.col("event_id").cast("string")))
    base = F.lit(1_600_000_000) + F.col("event_id")
    txs = ev.select(h.alias("hash"), base.cast("bigint").alias("block_timestamp"))
    receipts = ev.filter(F.col("event_id") % 7 != 0).select(
        h.alias("receipt_hash"),
        (base + F.col("event_id") % 500).cast("bigint").alias("receipt_timestamp"),
        F.concat(F.lit("l"), F.col("event_id").cast("string")).alias("logs"),
    )
    return join_tx_receipts(txs, receipts, max_delay="5 minutes", how="left_outer").select(
        "hash", "block_timestamp", "receipt_timestamp", "logs"
    )


@register(
    "fuzzy_name_matches",
    oracle="""
    SELECT a.c_custkey AS custkey_a, b.c_custkey AS custkey_b,
           a.c_name AS name_a, b.c_name AS name_b,
           CAST(levenshtein(a.c_name, b.c_name) AS INT) AS distance
    FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
    WHERE levenshtein(a.c_name, b.c_name) <= 1
    """,
    doc="Edit-distance (fuzzy) self-join on customer names via "
    "deletion-neighborhood blocking (operators/fuzzy.py): each string "
    "fans out to len+1 variants, candidates come from ONE equi-join on "
    "the xxhash64(variant) key, and F.levenshtein verifies — "
    "exact-complete for distance 1 by the neighborhood argument, so "
    "the result equals the oracle's O(n^2) cross-join levenshtein "
    "filter without ever planning a cartesian product. The "
    "typo-level entity-matching join a metadata/catalog pipeline "
    "needs (Spark has the distance function but no join strategy "
    "for it).",
    survey_refs=("LLM-dedup",),
)
def fuzzy_name_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blockchain_indexer_spark.operators.fuzzy import edit_distance_join

    cust = load_table(spark, sf_dir, "customer")
    a = cust.select(F.col("c_custkey").alias("custkey_a"), F.col("c_name").alias("name_a"))
    b = cust.select(F.col("c_custkey").alias("custkey_b"), F.col("c_name").alias("name_b"))
    return (
        edit_distance_join(a, b, "name_a", "name_b", max_dist=1)
        .filter(F.col("custkey_a") < F.col("custkey_b"))
        .select("custkey_a", "custkey_b", "name_a", "name_b", "distance")
    )


@register(
    "snapshot_diff_orders",
    oracle="""
    WITH before AS (
      SELECT o_orderkey, o_totalprice, o_orderstatus
      FROM orders WHERE o_orderkey % 7 != 0
    ),
    after AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 1.0
                  ELSE o_totalprice END AS o_totalprice,
             o_orderstatus
      FROM orders WHERE o_orderkey % 5 != 0
    )
    SELECT COALESCE(b.o_orderkey, a.o_orderkey) AS o_orderkey,
           CASE WHEN b.o_orderkey IS NULL THEN 'added'
                WHEN a.o_orderkey IS NULL THEN 'removed'
                WHEN b.o_totalprice IS DISTINCT FROM a.o_totalprice
                  OR b.o_orderstatus IS DISTINCT FROM a.o_orderstatus
                THEN 'changed' END AS change_type
    FROM before b FULL OUTER JOIN after a ON b.o_orderkey = a.o_orderkey
    WHERE (b.o_orderkey IS NULL OR a.o_orderkey IS NULL
           OR b.o_totalprice IS DISTINCT FROM a.o_totalprice
           OR b.o_orderstatus IS DISTINCT FROM a.o_orderstatus)
    """,
    doc="Snapshot diff (operators/diff.py): added/removed/changed rows "
    "between two versions of a keyed table via ONE full-outer join + "
    "null-safe column comparison — the audit primitive behind the "
    "reorg retract/replay invariant (T5: an empty diff IS "
    "replay-identical, checked distributedly) and any "
    "yesterday-vs-today shard regression. Fixture: two deterministic "
    "views of orders with disjoint drops and a price bump.",
    survey_refs=("T5", "A10"),
)
def snapshot_diff_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blockchain_indexer_spark.operators.diff import snapshot_diff

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    before = o.filter(F.col("o_orderkey") % 7 != 0)
    after = o.filter(F.col("o_orderkey") % 5 != 0).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 3 == 0, F.col("o_totalprice") + F.lit(1.0)
        ).otherwise(F.col("o_totalprice")),
    )
    return snapshot_diff(before, after, ["o_orderkey"])


@register(
    "graph_supplier_pagerank",
    oracle=r"""
    WITH e AS (
      SELECT DISTINCT o_custkey AS src, l_suppkey + 1000000 AS dst
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ),
    v AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM v),
    deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS d FROM e GROUP BY 1),
    r0 AS (SELECT id, CAST(1000000000000 // n.n AS BIGINT) AS r FROM v CROSS JOIN n),
    c1 AS (
      SELECT e.dst AS id, CAST(SUM(r0.r // deg.d) AS BIGINT) AS s
      FROM e JOIN r0 ON r0.id = e.src JOIN deg ON deg.src = e.src
      GROUP BY 1
    ),
    r1 AS (
      SELECT v.id,
             CAST((15000000000000 // (100 * n.n))
                  + (85 * COALESCE(c1.s, 0)) // 100 AS BIGINT) AS r
      FROM v CROSS JOIN n LEFT JOIN c1 ON c1.id = v.id
    ),
    c2 AS (
      SELECT e.dst AS id, CAST(SUM(r1.r // deg.d) AS BIGINT) AS s
      FROM e JOIN r1 ON r1.id = e.src JOIN deg ON deg.src = e.src
      GROUP BY 1
    ),
    r2 AS (
      SELECT v.id,
             CAST((15000000000000 // (100 * n.n))
                  + (85 * COALESCE(c2.s, 0)) // 100 AS BIGINT) AS r
      FROM v CROSS JOIN n LEFT JOIN c2 ON c2.id = v.id
    ),
    c3 AS (
      SELECT e.dst AS id, CAST(SUM(r2.r // deg.d) AS BIGINT) AS s
      FROM e JOIN r2 ON r2.id = e.src JOIN deg ON deg.src = e.src
      GROUP BY 1
    ),
    r3 AS (
      SELECT v.id,
             CAST((15000000000000 // (100 * n.n))
                  + (85 * COALESCE(c3.s, 0)) // 100 AS BIGINT) AS r
      FROM v CROSS JOIN n LEFT JOIN c3 ON c3.id = v.id
    )
    SELECT id, r AS rank_scaled, CAST(r AS DOUBLE) / 1000000000000 AS rank
    FROM r3
    """,
    doc="Integer-deterministic PageRank (operators.cluster.pagerank) "
    "over the customer->supplier order-flow bipartite graph (edges = "
    "distinct (o_custkey, l_suppkey) pairs from orders x lineitem; "
    "supplier ids offset by 1e6 to keep the id spaces disjoint). "
    "Ranks are 1e12-scaled integers and every division is an integer "
    "floor, so the dst-keyed contribution sums are order-free and the "
    "3-iteration result is bit-identical across engines — the oracle "
    "unrolls the loop into per-iteration CTEs (the kmeans/BPE "
    "recipe). Dangling-mass absorption and DISTINCT parallel edges "
    "are the documented variant. Per round: one src-keyed join + one "
    "dst-keyed sum — the Pregel shuffle shape.",
    survey_refs=("LLM-dedup", "J5"),
)
def graph_supplier_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blockchain_indexer_spark.operators.cluster import pagerank

    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    edges = (
        orders.join(lineitem, orders["o_orderkey"] == lineitem["l_orderkey"])
        .select(
            F.col("o_custkey").alias("src"),
            (F.col("l_suppkey") + 1000000).alias("dst"),
        )
    )
    return pagerank(edges, iters=3)


@register(
    "event_funnel_conversion",
    oracle="""
    WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_type FROM events),
    s1 AS (SELECT user_id, MIN(us) AS t1_us FROM e
           WHERE event_type = 'view' GROUP BY 1),
    s2 AS (SELECT e.user_id, MIN(us) AS t2_us FROM e JOIN s1 USING (user_id)
           WHERE event_type = 'click' AND us > t1_us GROUP BY 1),
    s3 AS (SELECT e.user_id, MIN(us) AS t3_us FROM e JOIN s2 USING (user_id)
           WHERE event_type = 'purchase' AND us > t2_us GROUP BY 1)
    SELECT s1.user_id,
           CAST(1 + (CASE WHEN t2_us IS NULL THEN 0 ELSE 1 END)
                  + (CASE WHEN t3_us IS NULL THEN 0 ELSE 1 END) AS BIGINT)
             AS steps_completed,
           t1_us, t2_us, t3_us
    FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
    """,
    doc="Funnel conversion (operators.funnel.funnel_conversion): "
    "greedy-earliest sequential matching of view -> click -> purchase "
    "per user — the earliest step-1 event, then the earliest step-2 "
    "event STRICTLY AFTER it, etc.; a GROUP BY over types cannot "
    "express the ordering constraint. k steps = k type-pruned "
    "user-keyed min-aggs + equi-joins (uniform key, filters pushed "
    "to the scan); timestamps compared as integer epoch micros.",
    survey_refs=("T10", "A4"),
)
def event_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blockchain_indexer_spark.operators.funnel import funnel_conversion

    ev = load_table(spark, sf_dir, "events")
    return funnel_conversion(ev, ["view", "click", "purchase"])


@register(
    "event_cohort_retention",
    oracle="""
    WITH d AS (
      SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
      FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
    ),
    c AS (SELECT user_id, MIN(day) AS cohort_day FROM d GROUP BY 1),
    sizes AS (SELECT cohort_day, CAST(COUNT(*) AS BIGINT) AS cohort_size
              FROM c GROUP BY 1),
    a AS (
      SELECT c.cohort_day, d.day - c.cohort_day AS day_offset,
             CAST(COUNT(*) AS BIGINT) AS n_active
      FROM d JOIN c USING (user_id) GROUP BY 1, 2
    )
    SELECT a.cohort_day, a.day_offset, s.cohort_size, a.n_active,
           CAST(floor(1e9 * (CAST(a.n_active AS DOUBLE)
                             / CAST(s.cohort_size AS DOUBLE)))
                AS BIGINT) AS retention_nano
    FROM a JOIN sizes s USING (cohort_day)
    """,
    doc="Cohort retention (operators.funnel.cohort_retention): users "
    "bucketed by integer epoch day of first activity; per (cohort, "
    "day-offset) the active-member count and retention fraction "
    "(floor-quantized single IEEE divide). Days are us // 86_400e6 — "
    "no timezone arithmetic; output bounded by |cohorts| x |offsets|, "
    "corpus-size independent after the distinct (user, day) "
    "projection.",
    survey_refs=("A4", "P7"),
)
def event_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blockchain_indexer_spark.operators.funnel import cohort_retention

    ev = load_table(spark, sf_dir, "events")
    return cohort_retention(ev)


@register(
    "event_decayed_engagement",
    oracle="""
    WITH e AS (
      SELECT user_id, epoch_us(ts) AS us,
             COALESCE(CAST(CAST(value AS DECIMAL(18,2)) AS DOUBLE), 0.0) AS v
      FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
    ),
    ref AS (SELECT MAX(us) AS a FROM e),
    terms AS (
      SELECT user_id, us,
             CAST(floor(1e6 * (v * (
               CASE WHEN (a - us) // 604800000000 <= 62
                    THEN 1.0 / CAST(CAST(1 AS BIGINT) << ((a - us) // 604800000000)
                                    AS DOUBLE)
                    ELSE 0.0 END
             ))) AS BIGINT) AS t
      FROM e CROSS JOIN ref
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(MAX(us) AS BIGINT) AS last_seen_us,
           CAST(SUM(t) AS BIGINT) AS decayed_micro
    FROM terms GROUP BY 1
    """,
    doc="Per-user exponentially time-decayed engagement score "
    "(operators.funnel.time_decayed_scores; half-life 7 days, as-of "
    "= the table's max timestamp): recency-weighted value rollup "
    "behind trending rankings. Determinism WITHOUT libm pow: integer "
    "half-life periods make the decay factor exactly 2^-k = "
    "1.0/(1<<k), value*2^-k is exact rescaling, and the single "
    "floor(1e6*term) quantization precedes the order-free integer "
    "SUM. One narrow user-keyed agg.",
    survey_refs=("A4", "T10"),
)
def event_decayed_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blockchain_indexer_spark.operators.funnel import time_decayed_scores

    ev = load_table(spark, sf_dir, "events")
    return time_decayed_scores(ev, half_life_days=7)


@register(
    "event_type_transitions",
    oracle="""
    WITH p AS (
      SELECT user_id, event_type AS to_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY epoch_us(ts), event_id) AS from_type
      FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
    ),
    c AS (
      SELECT from_type, to_type,
             CAST(COUNT(*) AS BIGINT) AS n_transitions,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
      FROM p WHERE from_type IS NOT NULL GROUP BY 1, 2
    ),
    t AS (SELECT from_type, CAST(SUM(n_transitions) AS BIGINT) AS tf
          FROM c GROUP BY 1)
    SELECT c.from_type, c.to_type, c.n_transitions, c.n_users,
           CAST(floor(1e9 * (CAST(c.n_transitions AS DOUBLE)
                             / CAST(t.tf AS DOUBLE))) AS BIGINT) AS prob_nano
    FROM c JOIN t USING (from_type)
    """,
    doc="First-order Markov transition matrix of event types "
    "(operators.funnel.transition_counts): consecutive within-user "
    "event pairs (ts order, event_id tiebreak) counted into a "
    "|types|^2-bounded matrix with row-normalized probabilities "
    "(exact counts, one floor-quantized IEEE divide) — the "
    "behavioral-structure rollup funnel analysis assumes. Same "
    "single user-keyed exchange as event_sessionization.",
    survey_refs=("T10", "W2"),
)
def event_type_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blockchain_indexer_spark.operators.funnel import transition_counts

    ev = load_table(spark, sf_dir, "events")
    return transition_counts(ev)


@register(
    "event_funnel_windowed",
    oracle="""
    WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_type FROM events),
    s1 AS (SELECT user_id, MIN(us) AS t1_us FROM e
           WHERE event_type = 'view' GROUP BY 1),
    s2 AS (SELECT e.user_id, MIN(us) AS t2_us FROM e JOIN s1 USING (user_id)
           WHERE event_type = 'click' AND us > t1_us
             AND us <= t1_us + 86400000000 GROUP BY 1),
    s3 AS (SELECT e.user_id, MIN(us) AS t3_us FROM e JOIN s2 USING (user_id)
           WHERE event_type = 'purchase' AND us > t2_us
             AND us <= t2_us + 86400000000 GROUP BY 1)
    SELECT s1.user_id,
           CAST(1 + (CASE WHEN t2_us IS NULL THEN 0 ELSE 1 END)
                  + (CASE WHEN t3_us IS NULL THEN 0 ELSE 1 END) AS BIGINT)
             AS steps_completed,
           t1_us, t2_us, t3_us
    FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
    """,
    doc="Time-bounded funnel (operators.funnel.funnel_conversion with "
    "max_step_gap_us=1 day): each step must land within 24 h of the "
    "previous one — the production funnel semantics ('clicked within "
    "a day of viewing'); greedy-earliest stays optimal because an "
    "earlier match only widens every later step's window. Same "
    "k-type-pruned user-keyed agg plan as the unbounded twin.",
    survey_refs=("T10", "A4"),
)
def event_funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blockchain_indexer_spark.operators.funnel import funnel_conversion

    ev = load_table(spark, sf_dir, "events")
    return funnel_conversion(
        ev, ["view", "click", "purchase"], max_step_gap_us=86_400_000_000
    )


@register(
    "event_volume_trend",
    oracle="""
    WITH d AS (
      SELECT event_type, epoch_us(ts) // 86400000000 AS day,
             CAST(COUNT(*) AS BIGINT) AS y
      FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
      GROUP BY 1, 2
    ),
    xd AS (
      SELECT event_type, y,
             CAST(day - MIN(day) OVER (PARTITION BY event_type) AS BIGINT) AS x
      FROM d
    ),
    s AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * y) AS BIGINT) AS sxy,
             CAST(SUM(x * x) AS BIGINT) AS sxx
      FROM xd GROUP BY 1
    )
    SELECT event_type, n AS n_days, sy AS total,
           CAST(floor(1e9 * (CAST(n * sxy - sx * sy AS DOUBLE)
                             / CAST(n * sxx - sx * sx AS DOUBLE)))
                AS BIGINT) AS slope_nano,
           CAST(floor(1e9 * (CAST(sy * sxx - sx * sxy AS DOUBLE)
                             / CAST(n * sxx - sx * sx AS DOUBLE)))
                AS BIGINT) AS intercept_nano
    FROM s WHERE n * sxx - sx * sx > 0
    """,
    doc="Exact per-type OLS trend of daily event volume (operators."
    "trend.group_trend): closed-form least squares from exact BIGINT "
    "sufficient statistics (x = day offset from the group's first "
    "day, keeping products small), slope and intercept each ONE "
    "floor-quantized IEEE divide. A (group, day) count agg bounded "
    "by |groups| x |days| — the 'is volume drifting' monitor.",
    survey_refs=("A4", "W1"),
)
def event_volume_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blockchain_indexer_spark.operators.trend import group_trend

    ev = load_table(spark, sf_dir, "events")
    return group_trend(ev, "event_type")


@register(
    "event_cusum_changepoint",
    oracle="""
    WITH d AS (
      SELECT event_type, epoch_us(ts) // 86400000000 AS day,
             CAST(COUNT(*) AS BIGINT) AS y
      FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
      GROUP BY 1, 2
    ),
    c AS (
      SELECT event_type, day, y,
             CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS nd,
             CAST(SUM(y) OVER (PARTITION BY event_type) AS BIGINT) AS tot,
             CAST(SUM(y) OVER (PARTITION BY event_type ORDER BY day) AS BIGINT)
               AS cum,
             CAST(row_number() OVER (PARTITION BY event_type ORDER BY day)
                  AS BIGINT) AS rk
      FROM d
    ),
    s AS (
      SELECT event_type, day, nd, tot,
             nd * cum - rk * tot AS sc
      FROM c WHERE nd >= 2
    )
    SELECT event_type, CAST(nd AS BIGINT) AS n_days, CAST(tot AS BIGINT) AS total,
           CAST(day AS BIGINT) AS change_day, CAST(sc AS BIGINT) AS cusum_scaled,
           CAST(floor(1e9 * (CAST(abs(sc) AS DOUBLE)
                             / CAST(nd * tot AS DOUBLE))) AS BIGINT) AS cusum_nano
    FROM (SELECT *, row_number() OVER (PARTITION BY event_type
                                       ORDER BY abs(sc) DESC, day) AS b
          FROM s)
    WHERE b = 1
    """,
    doc="CUSUM change-point per event type (operators.trend."
    "cusum_changepoint): the observed day where cumulative deviation "
    "of daily counts from the group mean peaks — the 'WHEN did "
    "volume shift' monitor. The statistic is kept INTEGER "
    "(n_days*cum - rank*total = n_days*S_d) so the argmax needs no "
    "float; ties to the earliest day; one floor-quantized divide "
    "normalizes the reported magnitude. Post-agg windows over a "
    "|groups| x |days| frame.",
    survey_refs=("A4", "W2"),
)
def event_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blockchain_indexer_spark.operators.trend import cusum_changepoint

    ev = load_table(spark, sf_dir, "events")
    return cusum_changepoint(ev, "event_type")


@register(
    "event_conversion_attribution",
    oracle="""
    WITH conv AS (
      SELECT event_id AS conversion_id, user_id, epoch_us(ts) AS conv_us
      FROM events WHERE event_type = 'purchase'
        AND user_id IS NOT NULL AND ts IS NOT NULL
    ),
    touch AS (
      SELECT event_id AS touch_id, user_id, event_type AS touch_type,
             epoch_us(ts) AS touch_us
      FROM events WHERE event_type IN ('view', 'click')
        AND user_id IS NOT NULL AND ts IS NOT NULL
    ),
    cand AS (
      SELECT c.conversion_id, c.user_id, c.conv_us,
             t.touch_id, t.touch_type, t.touch_us
      FROM conv c JOIN touch t ON c.user_id = t.user_id
        AND t.touch_us >= c.conv_us - 86400000000
        AND t.touch_us <= c.conv_us - 1
    )
    SELECT conversion_id, user_id, conv_us, touch_id, touch_type, touch_us,
           CAST(conv_us - touch_us AS BIGINT) AS gap_us,
           CAST(COUNT(*) OVER (PARTITION BY conversion_id) AS BIGINT)
             AS n_touches,
           row_number() OVER (PARTITION BY conversion_id
                              ORDER BY touch_us DESC, touch_id DESC) = 1
             AS is_last_touch,
           CAST(1000000 // COUNT(*) OVER (PARTITION BY conversion_id)
                AS BIGINT) AS credit_ppm
    FROM cand
    """,
    doc="Conversion attribution (operators.funnel."
    "conversion_attribution): every (purchase, preceding touch) pair "
    "within a 24 h lookback, carrying BOTH standard credit models — "
    "last-touch (most recent touch, microsecond ties to the larger "
    "touch id: total order, engine-reproducible) and linear "
    "multi-touch (1e6 div n_touches, exact integer credits). The "
    "candidate join is the bucketed point-in-interval range join "
    "(window-sized buckets, span <= 2, O(1) replication per touch); "
    "ranking runs per conversion over lookback-bounded frames.",
    survey_refs=("T10", "J5", "W1"),
)
def event_conversion_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blockchain_indexer_spark.operators.funnel import conversion_attribution

    ev = load_table(spark, sf_dir, "events")
    return conversion_attribution(
        ev, "purchase", ("view", "click"), window_us=86_400_000_000
    )


@register(
    "event_k_anonymity",
    oracle="""
    WITH q AS (
      SELECT event_type,
             epoch_us(ts) // 86400000000 AS day,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) // 500
               AS value_band,
             COUNT(*) AS group_size
      FROM events
      WHERE event_type IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL
      GROUP BY 1, 2, 3
    ),
    b AS (
      SELECT CASE WHEN group_size = 1 THEN 'unique'
                  WHEN group_size < 5 THEN 'under_k'
                  WHEN group_size < 20 THEN 'small'
                  ELSE 'anonymous' END AS size_band,
             group_size
      FROM q
    ),
    r AS (
      SELECT size_band,
             CAST(COUNT(*) AS BIGINT) AS n_groups,
             CAST(SUM(group_size) AS BIGINT) AS n_rows,
             CAST(MIN(group_size) AS BIGINT) AS min_group_size,
             CAST(MAX(group_size) AS BIGINT) AS max_group_size
      FROM b GROUP BY 1
    ),
    t AS (SELECT CAST(SUM(n_rows) AS BIGINT) AS total_rows FROM r)
    SELECT size_band, n_groups, n_rows, min_group_size, max_group_size,
           CAST(n_rows AS DOUBLE) / total_rows AS row_share
    FROM r, t
    """,
    doc="k-anonymity release gate "
    "(operators.governance.k_anonymity_report, k=5): events grouped "
    "by the quasi-identifier tuple (event_type, epoch day, 5.00-wide "
    "value band); every group's size is its rows' anonymity set, and "
    "the report bands the distribution (unique / under_k / small / "
    "anonymous) with group counts, row counts, extremes and row "
    "shares — the data-governance check a training-data extract runs "
    "before release. Value banding goes through DECIMAL(18,2)*100 so "
    "the 2-decimal doubles band exactly in both engines; days are "
    "us // 86_400e6; all inputs non-negative so floor-div conventions "
    "agree. One QI groupBy (near-unique uniform keys) + one tiny "
    "band agg + one broadcast scalar divide.",
    survey_refs=("LLM-governance", "A4", "P7"),
)
def event_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blockchain_indexer_spark.operators.governance import k_anonymity_report

    ev = load_table(spark, sf_dir, "events")
    qi = [
        F.col("event_type"),
        (F.unix_micros(F.col("ts")) / F.lit(86_400_000_000)).cast("long").alias("day"),
        ((F.col("value").cast("decimal(18,2)") * 100).cast("long") / F.lit(500))
        .cast("long")
        .alias("value_band"),
    ]
    return k_anonymity_report(ev, qi, k=5, small_factor=4)
