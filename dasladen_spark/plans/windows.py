"""Windows and time series: ranked and framed windows, as-of and
interval joins, sessionisation, gap filling, rolling and cumulative
distincts, smoothing, forecasting and change-point detection.

Order-sensitive folds are exact: per-row doubles are rounded, summed
as DECIMAL and rounded once at the end, and every ordering carries a
unique-key tiebreak, so the result does not depend on partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dasladen_spark.functions.vectors import bounded_window_key
from dasladen_spark.plans.registry import query
from dasladen_spark.plans.shared import dec, disc_price
from dasladen_spark.session import load_table as _t


# ------------------------------------------------------------- windows


@query(
    "q_window_topk_per_group",
    oracle="""
    SELECT * FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders) t
    WHERE rn <= 3
    """,
)
def q_window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer — single shuffle on the partition
    key; the sort is per-partition, never global."""
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        _t(spark, sf_dir, "orders")
        .select("o_custkey", "o_orderkey", "o_totalprice")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
    )


@query(
    "q_window_running_total",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DECIMAL(38,4)) AS running_spend
    FROM orders
    """,
)
def q_window_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running per-customer spend (decimal → order-independent)."""
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return _t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.sum(dec("o_totalprice")).over(w).cast("decimal(38,4)").alias(
            "running_spend"
        ),
    )


@query(
    "q_window_lag_delta",
    oracle="""
    SELECT user_id, event_id, ts,
           value - LAG(value) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS delta
    FROM events WHERE event_type = 'click'
    """,
)
def q_window_lag_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAG delta per user (double subtraction is a deterministic
    scalar op — no accumulation, no decimal needed)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    e = _t(spark, sf_dir, "events").filter(F.col("event_type") == "click")
    return e.select(
        "user_id",
        "event_id",
        "ts",
        (F.col("value") - F.lag("value").over(w)).alias("delta"),
    )


@query(
    "q_window_moving_avg",
    oracle="""
    SELECT user_id, event_id,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE)
             / COUNT(*) OVER w AS mov_avg
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
    """,
)
def q_window_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-row moving average per user (decimal sum / window count)."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-2, Window.currentRow)
    )
    return _t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        (
            F.sum(dec("value", 6)).over(w).cast("double")
            / F.count(F.lit(1)).over(w)
        ).alias("mov_avg"),
    )


# ---------------------------------------------------------- asof join


@query(
    "q_asof_join",
    oracle="""
    WITH tagged AS (
      SELECT user_id, ts, event_id, (event_type = 'purchase') AS is_p
      FROM events WHERE event_type IN ('view', 'purchase')
    ), w AS (
      SELECT user_id, ts, event_id, is_p,
             last_value(CASE WHEN NOT is_p THEN event_id END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, is_p, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS matched_view_id
      FROM tagged
    )
    SELECT user_id, event_id AS purchase_id, ts, matched_view_id
    FROM w WHERE is_p
    """,
)
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each purchase, the latest at-or-before view by
    the same user — via the union+window operator (one shuffle)."""
    from dasladen_spark.operators.asof import asof_join

    e = _t(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), "ts"
    )
    views = e.filter(F.col("event_type") == "view").select(
        "user_id", "event_id", "ts"
    )
    return asof_join(
        purchases,
        views,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        right_cols={"event_id": "matched_view_id"},
        left_tiebreak="purchase_id",
        right_tiebreak="event_id",
    ).select("user_id", "purchase_id", "ts", "matched_view_id")


@query(
    "q_sessionize_events",
    oracle="""
    WITH flagged AS (
      SELECT user_id, event_id, ts,
             CASE WHEN ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
                  OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, event_id,
           CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS session_idx
    FROM flagged
    """,
)
def q_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity): the classic
    lag → flag → running-sum pattern; one shuffle on user_id serves
    both windows."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    e = _t(spark, sf_dir, "events")
    flagged = e.select(
        "user_id",
        "event_id",
        "ts",
        F.when(
            F.lag("ts").over(w).isNull()
            | (F.col("ts") - F.lag("ts").over(w) > F.expr("INTERVAL 30 MINUTE")),
            1,
        )
        .otherwise(0)
        .alias("is_new"),
    )
    return flagged.select(
        "user_id", "event_id", F.sum("is_new").over(run).alias("session_idx")
    )


@query(
    "q_ntile_spend",
    oracle="""
    WITH spend AS (
      SELECT o_custkey, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
                             AS DECIMAL(38,4)) AS total_spend
      FROM orders GROUP BY o_custkey
    )
    SELECT o_custkey, total_spend,
           NTILE(4) OVER (ORDER BY total_spend DESC, o_custkey) AS quartile
    FROM spend
    """,
)
def q_ntile_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE quartiles over exact-decimal spend, computed by the
    DISTRIBUTED global-ranking operator (operators/ranking.py:
    range-repartition + partition offsets) instead of the
    single-partition `Window.orderBy` Spark would otherwise plan —
    same bit-exact result (this oracle proves it), no 100 TB funnel."""
    from dasladen_spark.operators.ranking import global_ntile

    spend = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.sum(dec("o_totalprice")).cast("decimal(38,4)").alias("total_spend"))
    )
    return global_ntile(
        spend,
        [F.col("total_spend").desc(), F.col("o_custkey")],
        k=4,
        out_col="quartile",
    ).select("o_custkey", "total_spend", "quartile")


@query(
    "q_window_time_range",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderdate,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate
             RANGE BETWEEN INTERVAL 30 DAY PRECEDING AND CURRENT ROW
           ) AS DECIMAL(38,4)) AS spend_30d
    FROM orders
    """,
)
def q_window_time_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-RANGE window frame: per-customer trailing-30-day spend.
    Unlike a ROWS frame, the frame is defined by timestamp distance —
    the rolling-metric shape for irregular event spacing. One shuffle
    on the partition key; rangeBetween over unix seconds replicates
    the INTERVAL semantics exactly."""
    o = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.unix_timestamp("o_orderdate"))
        .rangeBetween(-30 * 86400, 0)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        F.sum(dec("o_totalprice")).over(w).cast("decimal(38,4)").alias("spend_30d"),
    )


@query(
    "q_sliding_window",
    oracle="""
    WITH starts AS (
      SELECT ts, event_type, time_bucket(INTERVAL 5 MINUTE, ts) AS b
      FROM events
    ), assigned AS (
      SELECT ts, event_type, b AS win_start FROM starts
      UNION ALL
      SELECT ts, event_type, b - INTERVAL 5 MINUTE FROM starts
    )
    SELECT win_start, event_type, COUNT(*) AS n
    FROM assigned
    WHERE ts >= win_start AND ts < win_start + INTERVAL 10 MINUTE
    GROUP BY win_start, event_type
    """,
)
def q_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (10-minute width, 5-minute slide): each event
    lands in 2 overlapping windows. Spark's window() generates the
    copies; the oracle derives the same membership from shifted
    tumbling buckets. The fan-out factor is width/slide — bounded and
    known at plan time."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "10 minutes", "5 minutes").alias("w"),
            F.col("event_type"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("win_start"), "event_type", "n")
    )


@query(
    "q_tumbling_window",
    oracle="""
    SELECT time_bucket(INTERVAL 10 MINUTE, ts) AS win_start,
           event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS total
    FROM events GROUP BY 1, 2
    """,
)
def q_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 10-minute windows in batch mode — the same `window()`
    expression the streaming path uses (windowed_event_counts), here
    proven equivalent to DuckDB time_bucket. One shuffle on
    (window, type)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "10 minutes").alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("decimal(38,6)")
            .alias("total"),
        )
        .select(F.col("w.start").alias("win_start"), "event_type", "n", "total")
    )


@query(
    "q_session_window",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       > INTERVAL 30 MINUTE
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ), numbered AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_n
      FROM flagged
    )
    SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS session_last,
           COUNT(*) AS n_events
    FROM numbered GROUP BY user_id, session_n
    """,
)
def q_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's built-in `session_window` (30-min gap) verified
    against the first-principles gaps-and-islands SQL — the same
    expression the streaming sessionizer uses, so its batch/stream
    parity is oracle-checked, not assumed."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.session_window("ts", "30 minutes").alias("sw"), F.col("user_id")
        )
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_last"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select("user_id", "session_start", "session_last", "n_events")
    )


@query(
    "q_window_navigation",
    oracle="""
    SELECT o_orderkey, o_custkey,
           FIRST_VALUE(o_totalprice) OVER w AS first_price,
           NTH_VALUE(o_totalprice, 2) OVER w AS second_price,
           LEAD(o_totalprice, 1, -1.0) OVER w2 AS next_price,
           LAG(o_totalprice, 2) OVER w2 AS prev2_price
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING),
           w2 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def q_window_navigation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window navigation functions (first/nth/lead-with-default/lag)
    over a deterministic per-customer order — one shuffle on the
    partition key serves all four."""
    o = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    # lead/lag are frame-less by definition (they address rows by
    # offset, not frame) — same partitioning, so still one shuffle
    w2 = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.first("o_totalprice").over(w).alias("first_price"),
        F.nth_value("o_totalprice", 2).over(w).alias("second_price"),
        F.lead("o_totalprice", 1, -1.0).over(w2).alias("next_price"),
        F.lag("o_totalprice", 2).over(w2).alias("prev2_price"),
    )


@query(
    "q_gapfill_monthly",
    oracle="""
    WITH months AS (
      SELECT unnest(generate_series(
        (SELECT date_trunc('month', MIN(l_shipdate)) FROM lineitem),
        (SELECT date_trunc('month', MAX(l_shipdate)) FROM lineitem),
        INTERVAL 1 MONTH)) AS month
    ), rev AS (
      SELECT date_trunc('month', l_shipdate) AS month,
             CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                           AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS revenue
      FROM lineitem
      WHERE l_quantity > 49 AND l_returnflag = 'R'
      GROUP BY 1
    )
    SELECT m.month AS month,
           COALESCE(r.revenue, CAST(0 AS DECIMAL(38,6))) AS revenue,
           CASE WHEN r.month IS NULL THEN 1 ELSE 0 END AS gap_filled
    FROM months m LEFT JOIN rev r ON m.month = r.month
    """,
)
def q_gapfill_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-spine gap fill: a complete month calendar generated from
    the data's own bounds (`sequence` + `explode` on a 1-row
    aggregate), left-joined to a sparse monthly aggregate with
    zero-fill — the canonical dense-time-series report.

    The spine is O(months) rows built driver-free; it broadcasts to
    the join, so the only real shuffle is the revenue aggregate. At
    100 TB the spine side is still tiny (a century is 1,200 rows) —
    the plan is scale-invariant."""
    l = _t(spark, sf_dir, "lineitem")
    bounds = l.agg(
        F.date_trunc("month", F.min("l_shipdate")).alias("lo"),
        F.date_trunc("month", F.max("l_shipdate")).alias("hi"),
    )
    spine = bounds.select(
        F.explode(
            F.sequence(F.col("lo"), F.col("hi"), F.expr("INTERVAL 1 MONTH"))
        ).alias("month")
    )
    rev = (
        l.filter((F.col("l_quantity") > 49) & (F.col("l_returnflag") == "R"))
        .groupBy(F.date_trunc("month", F.col("l_shipdate")).alias("rmonth"))
        .agg(F.sum(disc_price()).cast("decimal(38,6)").alias("revenue"))
    )
    return (
        spine.join(rev, F.col("month") == F.col("rmonth"), "left")
        .select(
            "month",
            F.coalesce(
                F.col("revenue"), F.lit(0).cast("decimal(38,6)")
            ).alias("revenue"),
            F.when(F.col("rmonth").isNull(), 1).otherwise(0).alias("gap_filled"),
        )
    )


@query(
    "q_scd2_intervals",
    oracle="""
    SELECT user_id,
           event_type AS state,
           ts AS valid_from,
           LEAD(ts) OVER (PARTITION BY user_id
                          ORDER BY ts, event_id) AS valid_to,
           CASE WHEN LEAD(ts) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) IS NULL
                THEN 1 ELSE 0 END AS is_current
    FROM events
    """,
)
def q_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension (type 2) history build: each event
    opens a validity interval that closes when the key's next event
    arrives; the last interval per key is current. The window is
    PARTITIONED by the key (with a unique tiebreak for a total
    order), so every key's history builds independently — one hash
    shuffle on user_id, fully parallel at any scale, unlike a global
    ordering."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead("ts").over(w)
    return e.select(
        "user_id",
        F.col("event_type").alias("state"),
        F.col("ts").alias("valid_from"),
        nxt.alias("valid_to"),
        F.when(nxt.isNull(), 1).otherwise(0).alias("is_current"),
    )


@query(
    "q_rolling_distinct_users",
    oracle="""
    WITH du AS (
      SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
    ), tgt AS (
      SELECT CAST(unnest(generate_series(
               day, day + INTERVAL 6 DAY, INTERVAL 1 DAY)) AS DATE) AS wday,
             user_id
      FROM du
    ), counts AS (
      SELECT wday, COUNT(DISTINCT user_id) AS rolling_7d_users
      FROM tgt GROUP BY wday
    )
    SELECT CAST(c.wday AS TIMESTAMP) AS day, c.rolling_7d_users
    FROM counts c JOIN (SELECT DISTINCT day FROM du) obs ON c.wday = obs.day
    """,
)
def q_rolling_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 7-day rolling distinct users per day — the windowed
    COUNT(DISTINCT) SQL windows can't express.

    Scale shape: instead of a range self-join (quadratic in days) or
    a per-day rescan, each distinct (day, user) pair is EXPLODED to
    the ≤7 window-end days it contributes to, then one hash aggregate
    counts distinct users per window — the contribute-forward trick.
    Cardinality is bounded by 7×|distinct day-user pairs|, the
    distinct runs first (map-side combined), and both shuffles key on
    day/user — no skew, no broadcast of the fact side, no windows."""
    e = _t(spark, sf_dir, "events")
    du = e.select(
        F.col("ts").cast("date").alias("day"), "user_id"
    ).distinct()
    tgt = du.select(
        F.explode(
            F.sequence(F.col("day"), F.date_add(F.col("day"), 6))
        ).alias("wday"),
        "user_id",
    )
    counts = tgt.groupBy("wday").agg(
        F.count_distinct("user_id").alias("rolling_7d_users")
    )
    obs = du.select("day").distinct()
    return counts.join(
        obs, counts["wday"] == obs["day"], "inner"
    ).select(
        F.col("wday").cast("timestamp").alias("day"), "rolling_7d_users"
    )


@query(
    "q_percent_rank_cume",
    oracle="""
    SELECT o_orderkey, o_orderpriority,
           PERCENT_RANK() OVER w AS pr,
           CUME_DIST() OVER w AS cd
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority
                 ORDER BY o_totalprice, o_orderkey)
    """,
)
def q_percent_rank_cume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative-rank window functions (percent_rank, cume_dist) per
    priority class — both are pure integer-ratio definitions
    ((rank-1)/(n-1), rows≤current/n), so the doubles match the oracle
    bit-for-bit. One shuffle on the partition key serves both."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        "o_totalprice", "o_orderkey"
    )
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
    )


@query(
    "q_event_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             LEAD(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS next_type
      FROM events
    ), t AS (
      SELECT event_type, next_type, COUNT(*) AS n
      FROM seq WHERE next_type IS NOT NULL
      GROUP BY event_type, next_type
    )
    SELECT event_type, next_type, n,
           CAST(n AS DOUBLE)
             / CAST(SUM(n) OVER (PARTITION BY event_type) AS DOUBLE) AS p
    FROM t
    """,
)
def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral transition matrix: for each consecutive event pair
    in a user's timeline (lead over the per-user order), the count
    and row-normalized probability of moving state A → state B — the
    Markov-chain edge list behind journey analysis and next-event
    prediction baselines.

    One shuffle on user_id for the sequence window, one on the state
    pair for counts; the normalizing window runs over the tiny
    (states × states) matrix. The probability is a single long→double
    division — exact on any engine."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = (
        e.select(
            "event_type",
            F.lead("event_type").over(w).alias("next_type"),
        )
        .filter(F.col("next_type").isNotNull())
        .groupBy("event_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wn = Window.partitionBy("event_type")
    return t.select(
        "event_type",
        "next_type",
        "n",
        (F.col("n").cast("double") / F.sum("n").over(wn).cast("double")).alias(
            "p"
        ),
    )


@query(
    "q_time_weighted_avg",
    oracle="""
    WITH seq AS (
      SELECT user_id, value,
             epoch_ms(ts) AS t0,
             LEAD(epoch_ms(ts)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS t1
      FROM events
    )
    SELECT user_id,
           -- decimal->double via VARCHAR: DuckDB's direct cast is not
           -- correctly rounded past 2^53 (Spark's is)
           CAST(CAST(CAST(SUM(CAST(value AS DECIMAL(18,2)) * (t1 - t0))
                AS DECIMAL(38,2)) AS VARCHAR) AS DOUBLE)
             / CAST(SUM(t1 - t0) AS DOUBLE) AS twap_value,
           CAST(SUM(t1 - t0) AS BIGINT) AS total_ms
    FROM seq WHERE t1 IS NOT NULL
    GROUP BY user_id
    """,
)
def q_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per user: each reading is weighted
    by how long it was current (until the next event), the estimator
    telemetry/finance uses when samples arrive irregularly — a plain
    AVG over-counts burst periods.

    The reading is cast to DECIMAL before the multiply, so the
    weight value*dt and its accumulation are exact integer-decimal
    arithmetic — identical under any partitioning (casting the
    double PRODUCT instead hits engine-dependent rounding-boundary
    cases); one user shuffle serves both the lead
    window and the rollup (same key — Catalyst reuses the exchange)."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # fixtures are TIMESTAMP_NTZ; session tz is UTC, so the LTZ cast
    # reads the same instant DuckDB's epoch_ms sees
    t0 = F.unix_millis(F.col("ts").cast("timestamp_ltz"))
    seq = e.select(
        "user_id",
        "value",
        t0.alias("t0"),
        F.lead(t0).over(w).alias("t1"),
    ).filter(F.col("t1").isNotNull())
    dt = F.col("t1") - F.col("t0")
    return seq.groupBy("user_id").agg(
        (
            F.sum(F.col("value").cast("decimal(18,2)") * dt)
            .cast("decimal(38,2)")
            .cast("double")
            / F.sum(dt).cast("double")
        ).alias("twap_value"),
        F.sum(dt).alias("total_ms"),
    )


@query(
    "q_cumulative_distinct_users",
    oracle="""
    WITH first_seen AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS d
      FROM events GROUP BY user_id
    ), per_day AS (
      SELECT d, COUNT(*) AS new_users FROM first_seen GROUP BY d
    )
    SELECT CAST(d AS TIMESTAMP) AS day, new_users,
           CAST(SUM(new_users) OVER (
             ORDER BY d ROWS UNBOUNDED PRECEDING
           ) AS BIGINT) AS cum_users
    FROM per_day
    """,
)
def q_cumulative_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct users over time — the audience-growth
    curve. The scale trick: 'distinct users up to day X' NEVER runs a
    windowed COUNT DISTINCT (quadratic state); each user collapses to
    their first-seen day (one user shuffle), days roll up to
    new-user counts (one tiny shuffle), and the running total windows
    over the days-sized table — whitelisted single-partition, bounded
    by calendar length, not data volume."""
    e = _t(spark, sf_dir, "events")
    first_seen = e.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("d")
    )
    per_day = first_seen.groupBy("d").agg(
        F.count(F.lit(1)).alias("new_users")
    )

    # one row per calendar day — bounded; explicit single partition
    w = (
        Window.partitionBy(bounded_window_key(F.year("d")))
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return per_day.select(
        F.col("d").cast("timestamp").alias("day"),
        "new_users",
        F.sum("new_users").over(w).alias("cum_users"),
    )


@query(
    "q_merge_intervals",
    oracle="""
    WITH iv AS (
      SELECT user_id, epoch_ms(ts) AS s,
             epoch_ms(ts) + CAST(floor(value * 1000) AS BIGINT) AS e
      FROM events WHERE value IS NOT NULL
    ), ord AS (
      SELECT user_id, s, e,
             MAX(e) OVER (PARTITION BY user_id ORDER BY s, e
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_max
      FROM iv
    ), grp AS (
      SELECT user_id, s, e,
             SUM(CASE WHEN prev_max IS NULL OR s > prev_max
                 THEN 1 ELSE 0 END) OVER (
               PARTITION BY user_id ORDER BY s, e
               ROWS UNBOUNDED PRECEDING) AS g
      FROM ord
    ), merged AS (
      SELECT user_id, g, MIN(s) AS ms, MAX(e) AS me
      FROM grp GROUP BY user_id, g
    )
    SELECT user_id, COUNT(*) AS n_intervals,
           CAST(SUM(me - ms) AS BIGINT) AS covered_ms
    FROM merged GROUP BY user_id
    """,
)
def q_merge_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval union per user: each event opens a [ts, ts+value·1s)
    activity window; overlapping windows merge, yielding interval
    count and total covered time — the coverage/utilization
    computation behind billing and uptime.

    The merge is the stack-free SQL formulation: an interval starts a
    new group iff its start exceeds the running MAX(end) of
    everything before it (cumulative-max window), group ids come from
    a running sum of those flags — one user-key shuffle serves every
    window and the rollups; all arithmetic is integer epoch-ms, so
    the result is bit-exact on any engine."""
    from dasladen_spark.operators.intervals import merge_intervals

    e = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    ms = F.unix_millis(F.col("ts").cast("timestamp_ltz"))
    iv = e.select(
        "user_id",
        ms.alias("s"),
        (ms + F.floor(F.col("value") * 1000).cast("bigint")).alias("e"),
    )
    merged = merge_intervals(iv, "user_id", "s", "e")
    return merged.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_intervals"),
        F.sum(F.col("e") - F.col("s")).alias("covered_ms"),
    )


@query(
    "q_max_drawdown",
    oracle="""
    WITH w AS (
      SELECT user_id, value,
             MAX(value) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING
             ) AS peak
      FROM events WHERE value IS NOT NULL
    )
    SELECT user_id, MAX(peak - value) AS max_drawdown
    FROM w GROUP BY user_id
    """,
)
def q_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown per user — the path statistic (largest drop
    from a running peak) risk dashboards compute over any metric
    series. Running MAX is selection (no accumulation error), the
    drop is one exact-rounded double subtraction, so the result is
    engine-exact; one user-key shuffle serves the window and the
    rollup."""
    e = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        e.select(
            "user_id",
            (F.max("value").over(w) - F.col("value")).alias("dd"),
        )
        .groupBy("user_id")
        .agg(F.max("dd").alias("max_drawdown"))
    )


@query(
    "q_longest_streak",
    oracle="""
    WITH d AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ), r AS (
      SELECT user_id, day,
             day - CAST(ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY day) AS INTEGER) AS island
      FROM d
    ), runs AS (
      SELECT user_id, island, COUNT(*) AS len
      FROM r GROUP BY user_id, island
    )
    SELECT user_id, MAX(len) AS longest_streak_days
    FROM runs GROUP BY user_id
    """,
)
def q_longest_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest run of consecutive active days per user — the
    gaps-and-islands identity: consecutive dates minus their
    row_number collapse to one constant 'island' date, so streaks
    fall out of a GROUP BY with zero self-joins. Distinct +
    row_number + two rollups, all on the user key — one shuffle
    serves the chain; integer date arithmetic, engine-exact."""
    e = _t(spark, sf_dir, "events")
    d = e.select("user_id", F.col("ts").cast("date").alias("day")).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    r = d.select(
        "user_id",
        F.date_sub(F.col("day"), F.row_number().over(w)).alias("island"),
    )
    runs = r.groupBy("user_id", "island").agg(F.count(F.lit(1)).alias("len"))
    return runs.groupBy("user_id").agg(
        F.max("len").alias("longest_streak_days")
    )


@query(
    "q_yoy_revenue",
    oracle="""
    WITH m AS (
      SELECT date_trunc('month', o_orderdate) AS mon,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
               AS DECIMAL(38,4)) AS rev
      FROM orders GROUP BY 1
    )
    SELECT CAST(mon AS TIMESTAMP) AS month, rev,
           -- DOUBLE, not DECIMAL: NULL decimals round-trip as
           -- Decimal('NaN') through some client layers
           CAST(CAST(LAG(rev, 12) OVER (ORDER BY mon) AS VARCHAR)
                AS DOUBLE) AS rev_prev_year,
           CASE WHEN LAG(rev, 12) OVER (ORDER BY mon) IS NOT NULL THEN
             CAST(CAST(rev AS VARCHAR) AS DOUBLE)
               / CAST(CAST(LAG(rev, 12) OVER (ORDER BY mon) AS VARCHAR)
                      AS DOUBLE) - 1.0
           END AS yoy_growth
    FROM m
    """,
)
def q_yoy_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year monthly revenue growth: month rollup with exact
    decimal sums, then LAG(12) on the month spine — the BI staple.
    The heavy aggregation shuffles on month across the cluster; only
    the months-sized spine (calendar-bounded) passes through the
    whitelisted ordering window. Growth is one exact division on
    correctly-rounded doubles."""
    o = _t(spark, sf_dir, "orders")
    m = o.groupBy(
        F.date_trunc("month", F.col("o_orderdate")).alias("mon")
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
        .cast("decimal(38,4)")
        .alias("rev")
    )

    # one row per calendar month — bounded; explicit single partition
    w = Window.partitionBy(bounded_window_key(F.year("mon"))).orderBy("mon")
    prev = F.lag("rev", 12).over(w)
    return m.select(
        F.col("mon").cast("timestamp").alias("month"),
        "rev",
        prev.cast("double").alias("rev_prev_year"),
        F.when(
            prev.isNotNull(),
            F.col("rev").cast("double") / prev.cast("double") - 1.0,
        ).alias("yoy_growth"),
    )


@query(
    "q_purchase_intervals",
    oracle="""
    WITH p AS (
      SELECT user_id, ts, event_id FROM events
      WHERE event_type = 'purchase'
    ), d AS (
      SELECT user_id,
             epoch_ms(ts) - epoch_ms(LAG(ts) OVER (
               PARTITION BY user_id ORDER BY ts, event_id)) AS delta_ms
      FROM p
    )
    SELECT COUNT(*) AS n_intervals,
           MIN(delta_ms) AS min_ms,
           quantile_cont(delta_ms, 0.5) AS median_ms,
           quantile_cont(delta_ms, 0.9) AS p90_ms,
           MAX(delta_ms) AS max_ms
    FROM d WHERE delta_ms IS NOT NULL
    """,
)
def q_purchase_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-purchase time distribution: per-user gaps between
    consecutive purchases (lag window), summarized to exact
    percentiles — the repeat-behavior metric behind churn models.
    Integer epoch-ms deltas, exact sort-based percentile (Spark
    `percentile` ≡ quantile_cont); one user shuffle for the lag, one
    whitelisted scalar rollup."""
    e = _t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    ms = F.unix_millis(F.col("ts").cast("timestamp_ltz"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    d = e.select((ms - F.lag(ms).over(w)).alias("delta_ms")).filter(
        F.col("delta_ms").isNotNull()
    )
    return d.agg(
        F.count(F.lit(1)).alias("n_intervals"),
        F.min("delta_ms").alias("min_ms"),
        F.expr("percentile(delta_ms, 0.5)").alias("median_ms"),
        F.expr("percentile(delta_ms, 0.9)").alias("p90_ms"),
        F.max("delta_ms").alias("max_ms"),
    )


@query(
    "q_conversion_latency",
    oracle="""
    WITH v AS (
      SELECT user_id, MIN(ts) AS first_view FROM events
      WHERE event_type = 'view' GROUP BY 1
    ), p AS (
      SELECT user_id, MIN(ts) AS first_purchase FROM events
      WHERE event_type = 'purchase' GROUP BY 1
    ), d AS (
      SELECT epoch_ms(first_purchase) - epoch_ms(first_view) AS lat_ms
      FROM v JOIN p USING (user_id)
      WHERE first_purchase >= first_view
    )
    SELECT COUNT(*) AS n_converted,
           MIN(lat_ms) AS min_ms,
           quantile_cont(lat_ms, 0.5) AS median_ms,
           quantile_cont(lat_ms, 0.9) AS p90_ms
    FROM d
    """,
)
def q_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion latency: first view → first purchase per user,
    summarized to exact percentiles — the time-to-convert metric
    behind funnel optimization. Both MIN aggregates and the join key
    on user_id, so one shuffle co-locates the chain; integer epoch-ms
    deltas, exact sort-based percentile, whitelisted 1-row summary."""
    e = _t(spark, sf_dir, "events")
    ms = F.unix_millis(F.col("ts").cast("timestamp_ltz"))
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min(ms).alias("first_view"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min(ms).alias("first_purchase"))
    )
    d = (
        v.join(p, "user_id")
        .filter(F.col("first_purchase") >= F.col("first_view"))
        .select((F.col("first_purchase") - F.col("first_view")).alias("lat_ms"))
    )
    return d.agg(
        F.count(F.lit(1)).alias("n_converted"),
        F.min("lat_ms").alias("min_ms"),
        F.expr("percentile(lat_ms, 0.5)").alias("median_ms"),
        F.expr("percentile(lat_ms, 0.9)").alias("p90_ms"),
    )


@query(
    "q_rolling_median",
    oracle="""
    SELECT user_id, event_id,
           quantile_cont(value, 0.5) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW
           ) AS rolling_median
    FROM events WHERE value IS NOT NULL
    """,
)
def q_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling median over the trailing 5 readings per user — the
    robust smoother dashboards use where a moving AVERAGE chases
    outliers. An order statistic over a sliding ROWS frame: exact
    sort-based percentile per frame (Spark `percentile` ≡
    quantile_cont, linear interpolation on the same rank formula),
    one user-key shuffle."""
    e = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-4, 0)
    )
    return e.select(
        "user_id",
        "event_id",
        F.expr("percentile(value, 0.5)").over(w).alias("rolling_median"),
    )


# ------------------------------------------ CUSUM change-point audit


@query(
    "q_cusum_drift",
    oracle="""
    WITH d AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day, COUNT(*) AS x
      FROM events GROUP BY 1
    ), s AS (
      SELECT SUM(x) AS sx, SUM(x * x) AS sxx, COUNT(*) AS n FROM d
    ), k AS (
      -- greatest(var, 0): the moment form can dip below zero by an
      -- ulp when all days are (nearly) equal; sqrt(NaN) must not leak
      SELECT ROUND(sx / CAST(n AS DOUBLE)
                   + 0.5 * sqrt(greatest(sxx / CAST(n AS DOUBLE)
                                - (sx / CAST(n AS DOUBLE))
                                  * (sx / CAST(n AS DOUBLE)), 0)), 6) AS slack,
             ROUND(4.0 * sqrt(greatest(sxx / CAST(n AS DOUBLE)
                              - (sx / CAST(n AS DOUBLE))
                                * (sx / CAST(n AS DOUBLE)), 0)), 6) AS h
      FROM s
    ), y AS (
      SELECT day, x,
             SUM(CAST(ROUND(x - (SELECT slack FROM k), 6)
                      AS DECIMAL(38,6)))
               OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS cum
      FROM d
    ), m AS (
      SELECT day, x, cum,
             MIN(cum) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
               AS run_min
      FROM y
    )
    SELECT CAST(day AS TIMESTAMP) AS day, x,
           ROUND(CAST(CAST(
             cum - LEAST(run_min, CAST(0 AS DECIMAL(38,6)))
           AS VARCHAR) AS DOUBLE), 6) AS cusum,
           CAST(cum - LEAST(run_min, CAST(0 AS DECIMAL(38,6)))
                AS DOUBLE) > (SELECT h FROM k) AS drift
    FROM m ORDER BY day
    """,
)
def q_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM change-point detection on daily event volume —
    the drift monitor a data-quality pipeline runs over intake
    counts. Uses the prefix-minimum closed form
    S_t = y_t − min(0, min_{j≤t} y_j) with y = Σ(x − k), so the
    "recursive" statistic is two bounded windows instead of an
    unexpressible recursion; slack k = μ + σ/2, alarm at 4σ.

    Scale shape: one map-side-combined daily count, a 1-row moments
    broadcast (μ, σ from exact integer Σx/Σx²), and two windows over
    one-row-per-day — bounded by the calendar, partitioned
    explicitly (bounded_window_key)."""
    d = (
        _t(spark, sf_dir, "events")
        .groupBy(F.date_trunc("day", F.col("ts")).cast("date").alias("day"))
        .agg(F.count(F.lit(1)).alias("x"))
        .persist()  # days-sized; feeds the moments AND the windows —
    )                # one corpus scan, not two
    d.count()
    s = d.agg(
        F.sum("x").alias("sx"),
        # square in DECIMAL: long*long silently wraps at ~3e9-count
        # days (the oracle's HUGEINT doesn't) — exact either way now
        F.sum(
            (
                F.col("x").cast("decimal(19,0)")
                * F.col("x").cast("decimal(19,0)")
            ).cast("decimal(38,0)")
        ).alias("sxx"),
        F.count(F.lit(1)).alias("n"),
    )
    mean = F.col("sx") / F.col("n").cast("double")
    # greatest(var, 0): see the oracle comment — identical guard
    sig = F.sqrt(
        F.greatest(
            F.col("sxx").cast("double") / F.col("n").cast("double")
            - mean * mean,
            F.lit(0.0),
        )
    )
    k = s.select(
        F.round(mean + 0.5 * sig, 6).alias("slack"),
        F.round(4.0 * sig, 6).alias("h"),
    )
    wy = (
        Window.partitionBy(bounded_window_key(F.col("x")))
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    y = (
        d.crossJoin(F.broadcast(k))  # one row — the (slack, h) scalars
        .withColumn(
            "cum",
            F.sum(
                F.round(F.col("x") - F.col("slack"), 6).cast("decimal(38,6)")
            ).over(wy),
        )
        .withColumn("run_min", F.min("cum").over(wy))
    )
    cusum = F.col("cum") - F.least(
        F.col("run_min"), F.lit(0).cast("decimal(38,6)")
    )
    return y.select(
        F.col("day").cast("timestamp").alias("day"),
        "x",
        F.round(cusum.cast("double"), 6).alias("cusum"),
        (cusum.cast("double") > F.col("h")).alias("drift"),
    ).orderBy("day")


# ------------------------------------------------ weekday seasonality
#
# Both weekday queries start from one row per calendar day: the
# weekday rollup and the per-day rows then read it with one corpus
# scan.

#: CTE ``d(day, weekday, x)``: the DuckDB side of _daily_counts
_DAILY_SQL = """d AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             dayname(CAST(date_trunc('day', ts) AS DATE)) AS weekday,
             COUNT(*) AS x
      FROM events GROUP BY 1, 2
    )"""


def _daily_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(day, weekday, x): events per calendar day. Lazy: a query's
    consumers of it share the aggregate's exchange through reuse."""
    return (
        _t(spark, sf_dir, "events")
        .groupBy(
            F.date_trunc("day", F.col("ts")).cast("date").alias("day"),
            F.date_format(
                F.date_trunc("day", F.col("ts")).cast("date"), "EEEE"
            ).alias("weekday"),
        )
        .agg(F.count(F.lit(1)).alias("x"))
    )


@query(
    "q_weekday_seasonality",
    oracle=f"""
    WITH {_DAILY_SQL}, o AS (
      SELECT SUM(x) AS tot, COUNT(*) AS n_days FROM d
    )
    SELECT weekday,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           ROUND(SUM(x) / CAST(COUNT(*) AS DOUBLE), 6) AS avg_events,
           ROUND((SUM(x) / CAST(COUNT(*) AS DOUBLE))
                 / ((SELECT tot FROM o)
                    / CAST((SELECT n_days FROM o) AS DOUBLE)), 6)
             AS seasonal_index
    FROM d GROUP BY weekday ORDER BY weekday
    """,
)
def q_weekday_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonal index of event volume: average events per
    observed weekday divided by the overall daily average — >1 means
    the weekday runs hot. The load-shaping profile behind capacity
    planning and the denominator for "is today anomalous given it's
    a Saturday" checks (pairs with q_cusum_drift).

    Scale shape: one daily count, one 7-row weekday rollup, a 1-row
    grand-total broadcast; all sums exact integers, each ratio one
    IEEE-double expression rounded once."""
    d = _daily_counts(spark, sf_dir)
    o = d.agg(F.sum("x").alias("tot"), F.count(F.lit(1)).alias("n_days_all"))
    avg_day = F.col("sum_x") / F.col("n_days").cast("double")
    return (
        d.groupBy("weekday")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_days"),
            F.sum("x").alias("sum_x"),
        )
        .crossJoin(F.broadcast(o))  # one row — the grand totals
        .select(
            "weekday",
            "n_days",
            F.round(avg_day, 6).alias("avg_events"),
            F.round(
                avg_day
                / (F.col("tot") / F.col("n_days_all").cast("double")),
                6,
            ).alias("seasonal_index"),
        )
        .orderBy("weekday")
    )


# --------------------------------------- duplicate-transaction audit


@query(
    "q_duplicate_events_audit",
    oracle="""
    SELECT a.event_id AS first_id, b.event_id AS second_id,
           a.user_id, a.value AS value_a, b.value AS value_b,
           CAST(date_diff('second', a.ts, b.ts) AS BIGINT) AS gap_s
    FROM events a
    JOIN events b
      ON b.user_id = a.user_id
     AND b.event_type = 'purchase' AND a.event_type = 'purchase'
     AND b.event_id > a.event_id
     AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 10 MINUTE
    ORDER BY a.user_id, first_id, second_id
    """,
)
def q_duplicate_events_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Double-fire audit: pairs of purchases by the same user within
    10 minutes — the retry-bug / double-charge candidate list every
    event pipeline reviews before revenue numbers ship (both values
    reported so an exact-amount repeat stands out). Pairs orient by
    event_id so each duplicate reports once.

    Scale shape: a user-keyed self-join — the equality key does the
    heavy pruning, the 10-minute band bounds what's left; one
    shuffle per side, fan-out limited to per-user purchase bursts.
    The oracle's band predicate is the semantic spec; Spark plans
    the same equi-join + range filter."""
    e = _t(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    a = e.select(
        F.col("event_id").alias("first_id"),
        "user_id",
        F.col("value").alias("value_a"),
        F.col("ts").alias("ts_a"),
    )
    b = e.select(
        F.col("event_id").alias("second_id"),
        F.col("user_id").alias("u2"),
        F.col("value").alias("value_b"),
        F.col("ts").alias("ts_b"),
    )
    return (
        a.join(
            b,
            (F.col("u2") == F.col("user_id"))
            & (F.col("second_id") > F.col("first_id"))
            & (F.col("ts_b") >= F.col("ts_a"))
            & (F.col("ts_b") <= F.col("ts_a") + F.expr("INTERVAL 10 MINUTES")),
        )
        .select(
            "first_id",
            "second_id",
            "user_id",
            "value_a",
            "value_b",
            (F.unix_timestamp("ts_b") - F.unix_timestamp("ts_a"))
            .cast("bigint")
            .alias("gap_s"),
        )
        .orderBy("user_id", "first_id", "second_id")
    )


def _sessionized(e: DataFrame) -> DataFrame:
    """30-minute-gap sessionizer shared by q_session_paths and
    q_session_conversion (same rule as q_sessionize_events):
    lag → break flag → running sum, ONE user-keyed shuffle. Returns
    the events frame plus a ``session_idx`` column."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = e.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                F.col("ts") - F.lag("ts").over(w)
                > F.expr("INTERVAL 30 MINUTES")
            ),
            1,
        )
        .otherwise(0)
        .alias("brk"),
    )
    return flagged.withColumn(
        "session_idx",
        F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    ).drop("brk")


#: CTEs ``flagged`` and ``sess``: the DuckDB side of _sessionized
_SESSIONIZED_SQL = """flagged AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
                  OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS brk
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id, ts, event_id, event_type,
             SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS session_idx
      FROM flagged
    )"""


# ------------------------------------------------- top session paths


@query(
    "q_session_paths",
    oracle=f"""
    WITH {_SESSIONIZED_SQL}, paths AS (
      SELECT user_id, session_idx,
             string_agg(event_type, '>' ORDER BY ts, event_id) AS path
      FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, session_idx
                                     ORDER BY ts, event_id) AS pos
        FROM sess
      ) WHERE pos <= 5
      GROUP BY user_id, session_idx
    )
    SELECT path, COUNT(*) AS n_sessions
    FROM paths GROUP BY path
    ORDER BY n_sessions DESC, path LIMIT 15
    """,
)
def q_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top clickstream paths: sessionize (30-minute gap rule, same as
    q_sessionize_events), take each session's first 5 event types in
    order, and rank the most common paths — the "how do users
    actually move" summary behind funnel design.

    Scale shape: the lag→flag→running-sum sessionizer is one
    user-keyed shuffle; the path string builds from an in-group
    sorted array (JVM array_join over a bounded 5-slot prefix — no
    per-row UDF); path counting is map-side combinable."""
    sess = _sessionized(_t(spark, sf_dir, "events"))
    ws = Window.partitionBy("user_id", "session_idx").orderBy(
        "ts", "event_id"
    )
    paths = (
        sess.withColumn("pos", F.row_number().over(ws))
        .filter(F.col("pos") <= 5)
        .groupBy("user_id", "session_idx")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct("pos", F.col("event_type").alias("et"))
                        )
                    ),
                    lambda x: x["et"],
                ),
                ">",
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(F.col("n_sessions").desc(), "path")
        .limit(15)
    )


# ------------------------------------------- order fulfillment latency


@query(
    "q_fulfillment_latency",
    oracle="""
    WITH lat AS (
      SELECT CAST(date_trunc('month', o.o_orderdate) AS TIMESTAMP)
               AS month,
             CAST(datediff('day', o.o_orderdate, l.l_shipdate)
                  AS DOUBLE) AS days
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    )
    SELECT month,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           quantile_cont(days, 0.5) AS p50_days,
           quantile_cont(days, 0.95) AS p95_days,
           CAST(MAX(days) AS DOUBLE) AS max_days
    FROM lat GROUP BY month ORDER BY month
    """,
)
def q_fulfillment_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship latency percentiles per order month — the SLA
    dashboard number (p50/p95/max days from order placement to line
    shipment). Exact interpolated percentiles (Spark `percentile` ≡
    DuckDB `quantile_cont` on doubles, bit-identical); integer day
    diffs make the interpolation arithmetic exact.

    Scale shape: one key-pruned fact join (orderkey equi-join), one
    month-keyed shuffle for the exact per-group percentile — the
    approx_percentile sketch is the 100 TB path when months hold
    billions of lines (q_approx_sketches)."""
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    lat = o.join(li, o["o_orderkey"] == li["l_orderkey"]).select(
        F.date_trunc("month", "o_orderdate").alias("month"),
        F.datediff("l_shipdate", "o_orderdate").cast("double").alias("days"),
    )
    return (
        lat.groupBy("month")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.expr("percentile(days, 0.5)").alias("p50_days"),
            F.expr("percentile(days, 0.95)").alias("p95_days"),
            F.max("days").alias("max_days"),
        )
        .orderBy("month")
    )


# ------------------------------------------- supplier on-time shipping


@query(
    "q_supplier_otd",
    oracle="""
    WITH lat AS (
      SELECT l.l_suppkey AS suppkey,
             datediff('day', o.o_orderdate, l.l_shipdate) <= 30 AS on_time
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    )
    SELECT s.s_name AS supplier,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CASE WHEN on_time THEN 1 ELSE 0 END) AS BIGINT)
             AS n_on_time,
           ROUND(SUM(CASE WHEN on_time THEN 1 ELSE 0 END)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS otd_rate
    FROM lat JOIN supplier s ON s.s_suppkey = lat.suppkey
    GROUP BY s.s_name
    ORDER BY otd_rate ASC, supplier LIMIT 20
    """,
)
def q_supplier_otd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier on-time-shipping scoreboard: share of each supplier's
    lines shipped within the 30-day SLA of order placement, worst 20
    first — the vendor-performance ranking a procurement dashboard
    leads with.

    Scale shape: orderkey equi-join (the fact-to-fact join prunes to
    two columns a side), flag ratio per supplier via one map-side-
    combined count, small dim join for names, TakeOrdered top-k."""
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    lat = o.join(li, o["o_orderkey"] == li["l_orderkey"]).select(
        "l_suppkey",
        (F.datediff("l_shipdate", "o_orderdate") <= 30).alias("on_time"),
    )
    return (
        lat.groupBy("l_suppkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.sum(F.col("on_time").cast("int")).cast("bigint").alias(
                "n_on_time"
            ),
            F.round(
                F.sum(F.col("on_time").cast("int"))
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("otd_rate"),
        )
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            F.col("s_name").alias("supplier"),
            "n_lines",
            "n_on_time",
            "otd_rate",
        )
        .orderBy(F.col("otd_rate").asc(), "supplier")
        .limit(20)
    )


# ------------------------------------------------- autocorrelation


@query(
    "q_autocorrelation",
    oracle="""
    WITH wk AS (
      SELECT CAST(date_trunc('week', ts) AS TIMESTAMP) AS week,
             COUNT(*) AS x
      FROM events GROUP BY 1
    ), stats AS (
      SELECT SUM(x) AS sx, SUM(x * x) AS sxx,
             CAST(COUNT(*) AS BIGINT) AS n FROM wk
    ), lagged AS (
      SELECT l.j,
             SUM(a.x * b.x) AS sxy,
             CAST(COUNT(*) AS BIGINT) AS pairs
      FROM wk a
      JOIN (SELECT unnest(generate_series(1, 4)) AS j) l ON TRUE
      JOIN wk b ON b.week = a.week + to_weeks(CAST(l.j AS INTEGER))
      GROUP BY l.j
    )
    SELECT l.j AS lag_weeks, l.pairs,
           ROUND((l.sxy / CAST(l.pairs AS DOUBLE)
                  - (s.sx / CAST(s.n AS DOUBLE))
                    * (s.sx / CAST(s.n AS DOUBLE)))
                 / greatest(s.sxx / CAST(s.n AS DOUBLE)
                            - (s.sx / CAST(s.n AS DOUBLE))
                              * (s.sx / CAST(s.n AS DOUBLE)),
                            0.000000000001), 6) AS acf
    FROM lagged l CROSS JOIN stats s
    ORDER BY lag_weeks
    """,
)
def q_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of weekly event volume at lags 1-4 — the
    seasonality detector (an ACF spike at lag 1 means momentum, a
    periodic spike means a cycle the forecasting/capacity models must
    carry). Computed from sufficient statistics: ACF(j) ≈
    (E[x·x₊ⱼ] − μ²)/σ², so the series never leaves its weekly rollup.

    Scale shape: the fact table collapses to one row per week FIRST;
    the lag pairing is a self-join of that calendar-bounded series
    against a 4-row lag spine; moments are exact integer sums and
    every ratio is one IEEE expression rounded once."""
    wk = (
        _t(spark, sf_dir, "events")
        .groupBy(F.date_trunc("week", F.col("ts")).alias("week"))
        .agg(F.count(F.lit(1)).alias("x"))
        .persist()  # weeks-sized; feeds moments + both lag-join
    )                # sides — one corpus scan, not three
    wk.count()
    stats = wk.agg(
        F.sum("x").alias("sx"),
        # DECIMAL squares: long*long wraps silently at weekly counts
        # ≈ 3e9 while the oracle promotes to HUGEINT — keep both exact
        F.sum(
            (
                F.col("x").cast("decimal(19,0)")
                * F.col("x").cast("decimal(19,0)")
            ).cast("decimal(38,0)")
        ).alias("sxx"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    lags = spark.range(1, 5).select(F.col("id").cast("int").alias("j"))
    a = wk.select(F.col("week").alias("wa"), F.col("x").alias("xa"))
    b = wk.select(F.col("week").alias("wb"), F.col("x").alias("xb"))
    lagged = (
        a.crossJoin(F.broadcast(lags))  # 4-row lag spine
        .join(
            b,
            F.col("wb")
            == F.col("wa") + F.col("j") * F.expr("INTERVAL 7 DAYS"),
        )
        .groupBy("j")
        .agg(
            F.sum(
                (
                    F.col("xa").cast("decimal(19,0)")
                    * F.col("xb").cast("decimal(19,0)")
                ).cast("decimal(38,0)")
            ).alias("sxy"),
            F.count(F.lit(1)).cast("bigint").alias("pairs"),
        )
    )
    mean = F.col("sx") / F.col("n").cast("double")
    var = F.greatest(
        F.col("sxx").cast("double") / F.col("n").cast("double")
        - mean * mean,
        F.lit(1e-12),
    )
    return (
        lagged.crossJoin(F.broadcast(stats))  # one row — the moments
        .select(
            F.col("j").alias("lag_weeks"),
            "pairs",
            F.round(
                (
                    F.col("sxy").cast("double")
                    / F.col("pairs").cast("double")
                    - mean * mean
                )
                / var,
                6,
            ).alias("acf"),
        )
        .orderBy("lag_weeks")
    )


# --------------------------------------------- interarrival burstiness


@query(
    "q_interarrival_burstiness",
    oracle="""
    WITH gaps AS (
      SELECT user_id,
             CAST(date_diff('second', LAG(ts) OVER w, ts) AS BIGINT) AS gap
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), g AS (
      SELECT user_id, gap FROM gaps WHERE gap IS NOT NULL
    ), s AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_gaps,
             SUM(gap) AS sg,
             SUM(CAST(gap AS DECIMAL(19,0)) * CAST(gap AS DECIMAL(19,0)))
               AS sgg
      FROM g GROUP BY user_id HAVING COUNT(*) >= 5
    )
    SELECT user_id, n_gaps,
           ROUND(sg / CAST(n_gaps AS DOUBLE), 6) AS mean_gap_s,
           ROUND(sqrt(greatest(CAST(sgg AS DOUBLE) / n_gaps
                               - (sg / CAST(n_gaps AS DOUBLE))
                                 * (sg / CAST(n_gaps AS DOUBLE)), 0))
                 / greatest(sg / CAST(n_gaps AS DOUBLE), 0.000001), 6)
             AS burstiness_cv
    FROM s
    ORDER BY burstiness_cv DESC, user_id LIMIT 20
    """,
)
def q_interarrival_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user interarrival burstiness: coefficient of variation
    (σ/μ) of the gaps between a user's consecutive events — CV ≈ 1
    is Poisson-random, CV ≫ 1 is bursty (bot retries, scripted
    scraping), CV ≪ 1 is metronomic (cron traffic). Top-20 burstiest
    users with ≥ 5 gaps — the behavioral-anomaly shortlist.

    Scale shape: one user-keyed window for the lag gaps (the same
    shuffle sessionization uses), DECIMAL-exact moment sums per user
    (long·long squares would wrap on year-long second gaps × huge
    histories), TakeOrdered top-k."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = (
        _t(spark, sf_dir, "events")
        .select(
            "user_id",
            (
                F.unix_timestamp("ts")
                - F.unix_timestamp(F.lag("ts").over(w))
            )
            .cast("bigint")
            .alias("gap"),
        )
        .filter(F.col("gap").isNotNull())
    )
    s = (
        gaps.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_gaps"),
            F.sum("gap").alias("sg"),
            F.sum(
                (
                    F.col("gap").cast("decimal(19,0)")
                    * F.col("gap").cast("decimal(19,0)")
                ).cast("decimal(38,0)")
            ).alias("sgg"),
        )
        .filter(F.col("n_gaps") >= 5)
    )
    mean = F.col("sg") / F.col("n_gaps").cast("double")
    var = F.greatest(
        F.col("sgg").cast("double") / F.col("n_gaps") - mean * mean,
        F.lit(0.0),
    )
    return (
        s.select(
            "user_id",
            "n_gaps",
            F.round(mean, 6).alias("mean_gap_s"),
            F.round(
                F.sqrt(var) / F.greatest(mean, F.lit(1e-6)), 6
            ).alias("burstiness_cv"),
        )
        .orderBy(F.col("burstiness_cv").desc(), "user_id")
        .limit(20)
    )


# ------------------------------------------- session-level conversion


@query(
    "q_session_conversion",
    oracle=f"""
    WITH {_SESSIONIZED_SQL}, marks AS (
      SELECT user_id, session_idx,
             MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
             MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
             MIN(CASE WHEN event_type = 'purchase' THEN ts END)
               AS t_purchase
      FROM sess GROUP BY 1, 2
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_view,
           CAST(SUM(CASE WHEN t_view IS NOT NULL AND t_click > t_view
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_view_click,
           CAST(SUM(CASE WHEN t_view IS NOT NULL AND t_click > t_view
                     AND t_purchase > t_click THEN 1 ELSE 0 END)
                AS BIGINT) AS n_full_funnel,
           ROUND(SUM(CASE WHEN t_view IS NOT NULL AND t_click > t_view
                      AND t_purchase > t_click THEN 1 ELSE 0 END)
                 / CAST(greatest(SUM(CASE WHEN t_view IS NOT NULL
                                     THEN 1 ELSE 0 END), 1) AS DOUBLE), 6)
             AS session_conversion
    FROM marks
    """,
)
def q_session_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SESSION-level funnel conversion: of sessions that saw a view,
    how many progressed view → click → purchase IN ORDER within the
    same 30-minute session — the intent-scoped complement of
    q_funnel's user-lifetime funnel (a click a week after the view
    counts there, not here).

    Scale shape: the same single user-keyed sessionizer shuffle as
    q_sessionize_events/q_session_paths, then one (user, session)
    first-timestamp rollup and a 1-row summary; NULL-safe ordered
    comparisons encode the strict ordering in both engines."""
    sess = _sessionized(_t(spark, sf_dir, "events"))
    first_of = lambda t: F.min(  # noqa: E731
        F.when(F.col("event_type") == t, F.col("ts"))
    )
    marks = sess.groupBy("user_id", "session_idx").agg(
        first_of("view").alias("t_view"),
        first_of("click").alias("t_click"),
        first_of("purchase").alias("t_purchase"),
    )
    saw_view = F.col("t_view").isNotNull()
    clicked = saw_view & (F.col("t_click") > F.col("t_view"))
    converted = clicked & (F.col("t_purchase") > F.col("t_click"))
    # WHEN/OTHERWISE(0), not boolean casts: `clicked` is NULL (not
    # false) for a view-only session, and SUM over all-NULL would
    # return NULL where the oracle's CASE sums to 0
    one_if = lambda c: F.sum(F.when(c, 1).otherwise(0))  # noqa: E731
    return marks.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
        one_if(saw_view).cast("bigint").alias("n_view"),
        one_if(clicked).cast("bigint").alias("n_view_click"),
        one_if(converted).cast("bigint").alias("n_full_funnel"),
        F.round(
            one_if(converted)
            / F.greatest(one_if(saw_view), F.lit(1)).cast("double"),
            6,
        ).alias("session_conversion"),
    )


# ------------------------------------------ seasonal anomaly days


@query(
    "q_seasonal_anomaly_days",
    oracle=f"""
    WITH {_DAILY_SQL}, wd AS (
      SELECT weekday, CAST(COUNT(*) AS BIGINT) AS n_days,
             SUM(x) AS sx,
             SUM(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0)))
               AS sxx
      FROM d GROUP BY weekday
    )
    SELECT CAST(d.day AS TIMESTAMP) AS day, d.weekday, d.x,
           ROUND(w.sx / CAST(w.n_days AS DOUBLE), 6) AS weekday_mean,
           ROUND((d.x - w.sx / CAST(w.n_days AS DOUBLE))
                 / greatest(sqrt(greatest(
                     CAST(w.sxx AS DOUBLE) / w.n_days
                     - (w.sx / CAST(w.n_days AS DOUBLE))
                       * (w.sx / CAST(w.n_days AS DOUBLE)), 0)),
                     0.000001), 6) AS seasonal_z
    FROM d JOIN wd w USING (weekday)
    -- rank by the ROUNDED score (the alias), exactly as Spark does —
    -- ordering by the raw z could pick a different rank-10 row when
    -- two days differ only past the 6th decimal
    ORDER BY abs(seasonal_z) DESC, day
    LIMIT 10
    """,
)
def q_seasonal_anomaly_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality-AWARE daily anomalies: each day's volume z-scored
    against ITS OWN weekday's mean and spread — a hot Saturday is
    normal, a Saturday-sized Tuesday is not (the blind spot of a
    global z-score; pairs with q_cusum_drift's sustained-shift lens
    and q_weekday_seasonality's profile). Top-10 by |z|.

    Scale shape: daily counts, a 7-row weekday-moments rollup joined
    back (broadcast-sized), DECIMAL squares against count overflow,
    TakeOrdered top-k."""
    d = _daily_counts(spark, sf_dir)
    wd = d.groupBy("weekday").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("x").alias("sx"),
        F.sum(
            (
                F.col("x").cast("decimal(19,0)")
                * F.col("x").cast("decimal(19,0)")
            ).cast("decimal(38,0)")
        ).alias("sxx"),
    )
    mean = F.col("sx") / F.col("n_days").cast("double")
    sig = F.greatest(
        F.sqrt(
            F.greatest(
                F.col("sxx").cast("double") / F.col("n_days") - mean * mean,
                F.lit(0.0),
            )
        ),
        F.lit(1e-6),
    )
    z = (F.col("x") - mean) / sig
    return (
        d.join(F.broadcast(wd), "weekday")
        .select(
            F.col("day").cast("timestamp").alias("day"),
            "weekday",
            "x",
            F.round(mean, 6).alias("weekday_mean"),
            F.round(z, 6).alias("seasonal_z"),
        )
        .orderBy(F.abs(F.col("seasonal_z")).desc(), "day")
        .limit(10)
    )


# ------------------------------------------------- session quality


@query(
    "q_session_quality",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
                  OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS brk
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id, ts,
             SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS session_idx
      FROM flagged
    ), per AS (
      SELECT user_id, session_idx,
             COUNT(*) AS n_events,
             CAST(date_diff('second', MIN(ts), MAX(ts)) AS BIGINT)
               AS dur_s
      FROM sess GROUP BY 1, 2
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions,
           ROUND(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS bounce_rate,
           ROUND(SUM(n_events) / CAST(COUNT(*) AS DOUBLE), 6)
             AS avg_events_per_session,
           quantile_cont(CAST(dur_s AS DOUBLE), 0.5) AS p50_duration_s,
           quantile_cont(CAST(dur_s AS DOUBLE), 0.95) AS p95_duration_s
    FROM per
    """,
)
def q_session_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The session-quality panel: bounce rate (single-event
    sessions), mean events per session, and p50/p95 session duration
    — the engagement vitals next to q_session_paths' shapes and
    q_session_conversion's funnel, all from the same one-shuffle
    sessionizer.

    Scale shape: _sessionized's user-keyed window, a (user, session)
    rollup, then a 1-row summary; exact interpolated percentiles on
    integer second durations (percentile ≡ quantile_cont)."""
    per = (
        _sessionized(
            _t(spark, sf_dir, "events").withColumn(
                "event_type", F.lit("")
            )
        )
        .groupBy("user_id", "session_idx")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (
                F.unix_timestamp(F.max("ts"))
                - F.unix_timestamp(F.min("ts"))
            )
            .cast("bigint")
            .alias("dur_s"),
        )
    )
    return per.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
        F.round(
            F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("bounce_rate"),
        F.round(
            F.sum("n_events") / F.count(F.lit(1)).cast("double"), 6
        ).alias("avg_events_per_session"),
        F.expr("percentile(CAST(dur_s AS DOUBLE), 0.5)").alias(
            "p50_duration_s"
        ),
        F.expr("percentile(CAST(dur_s AS DOUBLE), 0.95)").alias(
            "p95_duration_s"
        ),
    )


# ------------------- EWMA trend smoothing and forecast backtesting

#: exact decimal spellings of 0.8^j — shared verbatim with the oracle
_EWMA_W = [
    "1",
    "0.8",
    "0.64",
    "0.512",
    "0.4096",
    "0.32768",
    "0.262144",
    "0.2097152",
    "0.16777216",
    "0.134217728",
    "0.1073741824",
    "0.08589934592",
]
_EWMA_WIN = len(_EWMA_W)  # 12 weeks
_BT_WIN_DAYS_LO = 7  # strictly-prior weeks only: no target leakage
_BT_WIN_DAYS_HI = 84  # 12-week EWMA window, shifted one week back

#: CTEs ``wk(nation, week, rev)``, the DuckDB side of
#: _nation_week_revenue, and ``wts(j, wt)``, the weights 0.8^j
_WEEK_REV_SQL = f"""wk AS (
      SELECT n.n_name AS nation,
             CAST(date_trunc('week', o.o_orderdate) AS TIMESTAMP) AS week,
             CAST(SUM(CAST(o.o_totalprice AS DECIMAL(24,6)))
                  AS DECIMAL(24,6)) AS rev
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      GROUP BY 1, 2
    ), wts AS (
      SELECT unnest(generate_series(0, {_EWMA_WIN - 1})) AS j,
             unnest([{", ".join("CAST('" + w + "' AS DECIMAL(13,11))" for w in _EWMA_W)}])
               AS wt
    )"""


def _nation_week_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(nation, week, rev): weekly order revenue per nation as exact
    DECIMAL(24,6), the calendar-sized series the EWMA queries
    self-join, persisted.

    The series feeds BOTH self-join sides — without a persist the
    whole fact-table join+rollup runs once per side (r12 plan audit:
    operators 1-16 duplicated verbatim at 18-33). It is ≤
    |nations|x|weeks| rows at ANY corpus size, so the cache is bounded
    and the saved pass is over the fact table."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    wk = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(n, c["c_nationkey"] == n["n_nationkey"])
        .groupBy(
            F.col("n_name").alias("nation"),
            F.date_trunc("week", "o_orderdate").alias("week"),
        )
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(24,6)"))
            .cast("decimal(24,6)")
            .alias("rev")
        )
    )
    return wk.persist()


@query(
    "q_ewma_weekly_revenue",
    oracle=f"""
    WITH {_WEEK_REV_SQL}, pairs AS (
      -- DECIMAL(24,6) × DECIMAL(13,11) = exact DECIMAL(38,17): no
      -- double touches the numerator until the final division
      SELECT a.nation, a.week,
             CAST(b.rev * w.wt AS DECIMAL(38,17)) AS term,
             CAST(w.wt AS DECIMAL(38,11)) AS wt
      FROM wk a
      JOIN wk b ON b.nation = a.nation
       AND datediff('day', b.week, a.week) BETWEEN 0
           AND {(_EWMA_WIN - 1) * 7}
      JOIN wts w ON w.j = datediff('day', b.week, a.week) // 7
    )
    SELECT nation, week,
           -- exact lattice exit (round-and-correct): the double
           -- division only NOMINATES a 6-decimal lattice point r0
           -- (=round(T/W·1e6)); the half-up decision is then settled
           -- ENTIRELY in exact decimal arithmetic — r is the unique
           -- integer with (2r-1)·W <= 2T < (2r+1)·W — so no float
           -- rounding boundary exists at ANY magnitude (the previous
           -- reduce-in-decimal-then-round recipe drifted 1 ulp on
           -- 38/8623 rows at sf1). r0 is within ±1 of r whenever
           -- T/W·1e6 < ~1e15 (double rel-err 3e-16), one correction
           -- step suffices; r/1e6 as one IEEE double division is
           -- correctly rounded identically on both engines.
           CAST(r0 + CASE WHEN t2 >= (r0 * 2 + 1) * w THEN 1
                          WHEN t2 <  (r0 * 2 - 1) * w THEN -1
                          ELSE 0 END AS DOUBLE) / 1000000.0 AS ewma_rev
    FROM (
      SELECT nation, week,
             CAST(ROUND(CAST(CAST(SUM(term) AS VARCHAR) AS DOUBLE)
                  / CAST(CAST(SUM(wt) AS VARCHAR) AS DOUBLE) * 1000000.0,
                  0) AS BIGINT) AS r0,
             -- DECIMAL(30,17): int part to 1e13 (sf1 sums are ~5e9);
             -- ×DECIMAL(7,0) stays at width 37 <= both engines' 38
             CAST(SUM(term) AS DECIMAL(30,17))
               * CAST(2000000 AS DECIMAL(7,0)) AS t2,
             CAST(SUM(wt) AS DECIMAL(13,11)) AS w
      FROM pairs GROUP BY nation, week
    )
    ORDER BY nation, week
    """,
)
def q_ewma_weekly_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted weekly revenue trend per nation —
    12-week half-window EWMA (α = 0.2 → weights 0.8^j), the smoothing
    primitive behind drift/trend monitors.

    Scale shape: the raw 100 TB fact table collapses to the
    (nation, week) series FIRST (one map-side-combined aggregate);
    the EWMA is then a bounded self-join of that tiny series on
    (nation, week-range ≤ 12) — never a window over raw rows.

    Determinism: weights are exact decimal literals shared verbatim
    with the oracle, and every product rev × wt is EXACT decimal
    arithmetic (DECIMAL(24,6) × DECIMAL(13,11) → DECIMAL(38,17)) —
    and since round 12 the DIVISION is exact too: the double quotient
    only nominates the 6-decimal lattice point r0, and exact decimal
    comparisons ((2r-1)·W ≤ 2e6·T < (2r+1)·W) settle the half-up
    round, so no float boundary exists at any magnitude. (The two
    earlier float exits each failed one decade up: raw double round
    flipped 1/8623 rows at sf0.1, decimal-reduce-then-round flipped
    38/8623 at sf1 — magnitude-fragile recipes, now retired. r0 is
    within ±1 of true r while T/W·1e6 < ~1e15, far above 100 TB
    revenue sums.)"""
    wk = _nation_week_revenue(spark, sf_dir)
    wts = F.array(*[F.lit(w).cast("decimal(13,11)") for w in _EWMA_W])
    a = wk.alias("a")
    b = wk.alias("b")
    diff_days = F.datediff(F.col("a.week"), F.col("b.week"))
    wt = F.element_at(wts, (diff_days / 7).cast("int") + 1)
    pairs = (
        a.join(
            b,
            on=(F.col("b.nation") == F.col("a.nation"))
            & (diff_days >= 0)
            & (diff_days <= (_EWMA_WIN - 1) * 7),
        )
        .select(
            F.col("a.nation").alias("nation"),
            F.col("a.week").alias("week"),
            (F.col("b.rev") * wt).cast("decimal(38,17)").alias("term"),
            wt.cast("decimal(38,11)").alias("wt"),
        )
    )
    # exact lattice exit, same round-and-correct spelling as the
    # oracle: the double division only NOMINATES the lattice point
    # r0 ≈ round(T/W·1e6); exact decimal comparisons settle the
    # half-up decision ((2r-1)·W ≤ 2e6·T < (2r+1)·W), so the final
    # 6-decimal value never depends on a float rounding boundary.
    sums = pairs.groupBy("nation", "week").agg(
        F.sum("term").cast("decimal(30,17)").alias("t_sum"),
        F.sum("wt").cast("decimal(13,11)").alias("w_sum"),
    )
    r0 = F.round(
        F.col("t_sum").cast("double")
        / F.col("w_sum").cast("double")
        * F.lit(1000000.0),
        0,
    ).cast("bigint")
    t2 = F.col("t_sum") * F.lit(2000000).cast("decimal(7,0)")
    hi = (r0 * 2 + 1) * F.col("w_sum")
    lo = (r0 * 2 - 1) * F.col("w_sum")
    r = r0 + (
        F.when(t2 >= hi, F.lit(1))
        .when(t2 < lo, F.lit(-1))
        .otherwise(F.lit(0))
    )
    return (
        sums.select(
            "nation",
            "week",
            (r.cast("double") / F.lit(1000000.0)).alias("ewma_rev"),
        )
        .orderBy("nation", "week")
    )


@query(
    "q_forecast_backtest",
    oracle=f"""
    WITH {_WEEK_REV_SQL}, pairs AS (
      SELECT a.nation, a.week, a.rev,
             CAST(b.rev * w.wt AS DECIMAL(38,17)) AS term,
             CAST(w.wt AS DECIMAL(38,11)) AS wt
      FROM wk a
      JOIN wk b ON b.nation = a.nation
       AND datediff('day', b.week, a.week) BETWEEN 7 AND 84
      JOIN wts w ON w.j = datediff('day', b.week, a.week) // 7 - 1
    ), f AS (
      SELECT nation, week, ANY_VALUE(rev) AS rev,
             CAST(ROUND(CAST(
               CAST(CAST(SUM(term) AS VARCHAR) AS DOUBLE)
               / CAST(CAST(SUM(wt) AS VARCHAR) AS DOUBLE)
             AS DECIMAL(38,12)), 6) AS DOUBLE) AS forecast
      FROM pairs GROUP BY nation, week
    ), e AS (
      SELECT nation,
             ROUND(CAST(rev AS DOUBLE) - forecast, 6) AS err,
             CAST(rev AS DOUBLE) AS rev_d
      FROM f
    )
    SELECT nation,
           COUNT(*) AS n_weeks,
           ROUND(CAST(CAST(SUM(CAST(abs(err) AS DECIMAL(38,12)))
                   AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE) AS DECIMAL(38,12)), 6)
             AS mae,
           ROUND(CAST(CAST(SUM(CAST(err AS DECIMAL(38,12))) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE) AS DECIMAL(38,12)), 6)
             AS bias,
           ROUND(CAST(CAST(SUM(CAST(ROUND(abs(err) / rev_d, 12)
                   AS DECIMAL(38,12))) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE) AS DECIMAL(38,12)), 6)
             AS mape
    FROM e GROUP BY nation
    """,
)
def q_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-origin backtest of the EWMA revenue forecast: for every
    (nation, week), the one-step-ahead prediction uses ONLY strictly
    prior weeks (the 12-week 0.8^j window shifted back one week — no
    target leakage), and the per-nation report gives MAE, signed bias,
    and MAPE. This is the forecast-quality loop q_ewma_weekly_revenue
    lacks: a smoother is only a monitor once its one-step error is
    known.

    Scale shape: identical to the EWMA query — the fact table
    collapses to the (nation, week) series first, the backtest is a
    bounded self-join of that calendar-sized series, and the error
    rollup touches 25 nations. Determinism: exact decimal weight
    literals shared verbatim with the oracle; the only doubles are
    the final division (VARCHAR-reduced, the EWMA recipe) and the
    already-rounded errors, each re-rounded to 12 before the exact
    DECIMAL accumulation."""
    wk = _nation_week_revenue(spark, sf_dir)
    wts = F.array(*[F.lit(w).cast("decimal(13,11)") for w in _EWMA_W])
    a = wk.alias("a")
    b = wk.alias("b")
    diff_days = F.datediff(F.col("a.week"), F.col("b.week"))
    wt = F.element_at(wts, (diff_days / 7).cast("int"))
    pairs = a.join(
        b,
        on=(F.col("b.nation") == F.col("a.nation"))
        & (diff_days >= _BT_WIN_DAYS_LO)
        & (diff_days <= _BT_WIN_DAYS_HI),
    ).select(
        F.col("a.nation").alias("nation"),
        F.col("a.week").alias("week"),
        F.col("a.rev").alias("rev"),
        (F.col("b.rev") * wt).cast("decimal(38,17)").alias("term"),
        wt.cast("decimal(38,11)").alias("wt"),
    )
    f = pairs.groupBy("nation", "week").agg(
        F.any_value("rev").alias("rev"),
        F.round(
            (F.sum("term").cast("double") / F.sum("wt").cast("double")).cast(
                "decimal(38,12)"
            ),
            6,
        )
        .cast("double")
        .alias("forecast"),
    )
    e = f.select(
        "nation",
        F.round(F.col("rev").cast("double") - F.col("forecast"), 6).alias(
            "err"
        ),
        F.col("rev").cast("double").alias("rev_d"),
    )
    cnt = F.count(F.lit(1))
    return e.groupBy("nation").agg(
        cnt.alias("n_weeks"),
        F.round(
            (
                F.sum(
                    F.abs(F.col("err")).cast("decimal(38,12)")
                ).cast("double")
                / cnt.cast("double")
            ).cast("decimal(38,12)"),
            6,
        ).alias("mae"),
        F.round(
            (
                F.sum(F.col("err").cast("decimal(38,12)")).cast("double")
                / cnt.cast("double")
            ).cast("decimal(38,12)"),
            6,
        ).alias("bias"),
        F.round(
            (
                F.sum(
                    F.round(F.abs(F.col("err")) / F.col("rev_d"), 12).cast(
                        "decimal(38,12)"
                    )
                ).cast("double")
                / cnt.cast("double")
            ).cast("decimal(38,12)"),
            6,
        ).alias("mape"),
    )


# ------------------------------------------ XmR (individuals) chart

#: the XmR constant 3/d2 (d2 = 1.128) as the exact rational 266/100 —
#: the out-of-control test cross-multiplies so NO division (decimal or
#: double) ever decides a flag
_XMR_K100 = 266
_XMR_C = 100


@query(
    "q_xmr_control_limits",
    oracle=f"""
    WITH d AS (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             COUNT(*) AS x
      FROM events GROUP BY 1
    ), lagged AS (
      SELECT day, x,
             abs(x - lag(x) OVER (ORDER BY day)) AS mr
      FROM d
    ), s AS (
      SELECT CAST(SUM(x) AS BIGINT) AS sum_x,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(mr) AS BIGINT) AS sum_mr,
             CAST(COUNT(mr) AS BIGINT) AS nmr
      FROM lagged
    )
    SELECT l.day, CAST(l.x AS BIGINT) AS x,
           ROUND(CAST(CAST(s.sum_x AS DOUBLE) / CAST(s.n AS DOUBLE)
                 AS DECIMAL(38,12)), 6) AS center,
           ROUND(CAST(CAST(s.sum_x AS DOUBLE) / CAST(s.n AS DOUBLE)
                 + 2.66 * (CAST(s.sum_mr AS DOUBLE) / CAST(s.nmr AS DOUBLE))
                 AS DECIMAL(38,12)), 6) AS ucl,
           ROUND(CAST(CAST(s.sum_x AS DOUBLE) / CAST(s.n AS DOUBLE)
                 - 2.66 * (CAST(s.sum_mr AS DOUBLE) / CAST(s.nmr AS DOUBLE))
                 AS DECIMAL(38,12)), 6) AS lcl,
           CAST(CAST({_XMR_C} AS DECIMAL(38,0)) * l.x * s.n * s.nmr
                > CAST({_XMR_C} AS DECIMAL(38,0)) * s.sum_x * s.nmr
                  + CAST({_XMR_K100} AS DECIMAL(38,0)) * s.sum_mr * s.n
              OR CAST({_XMR_C} AS DECIMAL(38,0)) * l.x * s.n * s.nmr
                < CAST({_XMR_C} AS DECIMAL(38,0)) * s.sum_x * s.nmr
                  - CAST({_XMR_K100} AS DECIMAL(38,0)) * s.sum_mr * s.n
              AS INTEGER) AS out_of_control
    FROM lagged l, s
    """,
)
def q_xmr_control_limits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XmR (individuals / moving-range) control chart over daily event
    volume: center line, 2.66·mR̄ control limits, and a per-day
    out-of-control flag — the SPC primitive ops teams run on intake
    volumes, where CUSUM (q_cusum_drift) detects sustained shifts and
    XmR catches single excursions.

    Scale shape: the corpus collapses to the day series first
    (calendar-bounded); the lag and the one-row limits are windows and
    an aggregate over that tiny frame, broadcast-crossed back.

    Determinism: the out-of-control test never divides — it
    cross-multiplies the exact integer sufficient statistics
    (100·x·n·n_mr vs 100·Σx·n_mr ± 266·Σmr·n in DECIMAL(38,0)), so no
    engine's decimal-typing or libm rounding can flip a flag. The
    REPORTED limits are plain double arithmetic over the same integer
    sums — identical IEEE expression trees on both engines — rounded
    once at the end. (A decimal-typed x̄ + k·mR̄ is NOT portable:
    Spark's precision-loss rule rounds the product at scale 8 and the
    sum at scale 7 while DuckDB's DECIMAL division returns DOUBLE.)"""
    ev = _t(spark, sf_dir, "events")
    d = ev.groupBy(
        F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.count(F.lit(1)).alias("x"))
    w = Window.partitionBy(bounded_window_key(F.col("x"))).orderBy("day")
    lagged = d.select(
        "day", "x", F.abs(F.col("x") - F.lag("x").over(w)).alias("mr")
    )
    s = lagged.agg(
        F.sum("x").cast("bigint").alias("sum_x"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("mr").cast("bigint").alias("sum_mr"),
        F.count("mr").cast("bigint").alias("nmr"),
    )
    xbar_d = F.col("sum_x").cast("double") / F.col("n").cast("double")
    mrbar_d = F.col("sum_mr").cast("double") / F.col("nmr").cast("double")
    c = F.lit(_XMR_C).cast("decimal(38,0)")
    k100 = F.lit(_XMR_K100).cast("decimal(38,0)")
    lhs = c * F.col("x") * F.col("n") * F.col("nmr")
    base = c * F.col("sum_x") * F.col("nmr")
    slack = k100 * F.col("sum_mr") * F.col("n")
    return lagged.crossJoin(F.broadcast(s)).select(
        "day",
        F.col("x").cast("bigint").alias("x"),
        F.round(xbar_d.cast("decimal(38,12)"), 6).alias("center"),
        F.round(
            (xbar_d + F.lit(2.66) * mrbar_d).cast("decimal(38,12)"), 6
        ).alias("ucl"),
        F.round(
            (xbar_d - F.lit(2.66) * mrbar_d).cast("decimal(38,12)"), 6
        ).alias("lcl"),
        ((lhs > base + slack) | (lhs < base - slack))
        .cast("int")
        .alias("out_of_control"),
    )


@query(
    "q_sequence_gaps",
    oracle="""
    WITH ids AS (
      SELECT DISTINCT o_orderkey AS id FROM orders
      WHERE o_orderstatus = 'F'
    ), d AS (
      SELECT id, LEAD(id) OVER (ORDER BY id) AS nxt FROM ids
    )
    SELECT id + 1 AS gap_start, nxt - 1 AS gap_end,
           nxt - id - 1 AS gap_len
    FROM d WHERE nxt - id > 1
    """,
)
def q_sequence_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ledger completeness audit: every maximal run of order keys
    missing from the 'F' (finished) ledger — the gap report an
    append-only id space gets checked against after every load.

    The oracle is the classic LEAD-over-global-order form; the Spark
    plan is operators/sequence.sequence_gaps — range-partitioned
    local leads + a partition-count-sized seam fold, NO single-task
    global window (the thing the naive form would plan)."""
    from dasladen_spark.operators.sequence import sequence_gaps

    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    )
    return sequence_gaps(o, "o_orderkey")


# ---------------------------------------------- robust outlier audit


@query(
    "q_event_mad_outliers",
    oracle="""
    WITH med AS (
      SELECT user_id, round(quantile_cont(value, 0.5), 9) AS med
      FROM events GROUP BY user_id
    ), dev AS (
      SELECT e.event_id, e.user_id, e.value, m.med,
             round(abs(e.value - m.med), 9) AS ad
      FROM events e JOIN med m USING (user_id)
    ), mad AS (
      SELECT user_id, round(quantile_cont(ad, 0.5), 9) AS mad
      FROM dev GROUP BY user_id
    )
    SELECT d.event_id, d.user_id, d.value, d.med, m.mad,
           round(0.6745 * d.ad / greatest(m.mad, 1e-9), 9) AS robust_z
    FROM dev d JOIN mad m USING (user_id)
    WHERE round(0.6745 * d.ad / greatest(m.mad, 1e-9), 9) > 3.5
    """,
)
def q_event_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-user outlier detection: events whose value sits more
    than 3.5 robust z-scores (0.6745·|x−median|/MAD) from that user's
    median — the outlier gate that, unlike mean/stddev, is not dragged
    by the outliers it hunts.

    Scale shape: both medians are exact sort-based percentiles keyed
    on user_id, so the whole query is user-keyed — the two aggregates
    and two joins share one hash partitioning (AQE reuses the
    exchange); no global sort, no window over the full stream.
    Determinism: medians round to 9 before deviations are taken, so
    the interpolated midpoint's last-ulp never propagates."""
    e = _t(spark, sf_dir, "events")
    med = e.groupBy("user_id").agg(
        F.round(F.percentile("value", F.lit(0.5)), 9).alias("med")
    )
    dev = e.join(med, "user_id").select(
        "event_id",
        "user_id",
        "value",
        "med",
        F.round(F.abs(F.col("value") - F.col("med")), 9).alias("ad"),
    )
    mad = dev.groupBy("user_id").agg(
        F.round(F.percentile("ad", F.lit(0.5)), 9).alias("mad")
    )
    z = F.round(
        0.6745 * F.col("ad") / F.greatest(F.col("mad"), F.lit(1e-9)), 9
    )
    return (
        dev.join(mad, "user_id")
        .withColumn("robust_z", z)
        .filter(F.col("robust_z") > 3.5)
        .select("event_id", "user_id", "value", "med", "mad", "robust_z")
    )


# --------------------------------------------- event rate spike flags


@query(
    "q_event_rate_spikes",
    oracle="""
    WITH per_min AS (
      SELECT user_id, date_trunc('hour', ts) AS hour,
             COUNT(*) AS n
      FROM events GROUP BY user_id, date_trunc('hour', ts)
    ), per_user AS (
      SELECT user_id,
             round(CAST(SUM(n) AS DOUBLE) / COUNT(*), 9) AS user_avg
      FROM per_min GROUP BY user_id
    )
    SELECT m.user_id, m.hour, m.n, u.user_avg,
           round(m.n / u.user_avg, 9) AS ratio
    FROM per_min m JOIN per_user u USING (user_id)
    WHERE m.n > 1.5 * u.user_avg
    ORDER BY m.user_id, m.hour
    """,
)
def q_event_rate_spikes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burst detection: (user, hour) cells whose event count exceeds
    1.5x that user's average active-hour rate — the abuse/bot screen a
    pipeline runs before events feed any model.

    Scale shape: both aggregates and the join stay keyed on user_id
    (the hour rollup keys on (user, hour), a superset), so one
    hash partitioning serves the whole query; no global window.
    Determinism: integer counts, one rounded division per side."""
    e = _t(spark, sf_dir, "events")
    per_min = e.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("hour")
    ).agg(F.count(F.lit(1)).alias("n"))
    per_user = per_min.groupBy("user_id").agg(
        F.round(F.sum("n").cast("double") / F.count(F.lit(1)), 9).alias(
            "user_avg"
        )
    )
    return (
        per_min.join(per_user, "user_id")
        .filter(F.col("n") > 1.5 * F.col("user_avg"))
        .select(
            "user_id",
            "hour",
            "n",
            "user_avg",
            F.round(F.col("n") / F.col("user_avg"), 9).alias("ratio"),
        )
        .orderBy("user_id", "hour")
    )
