"""Business and statistical analytics over events, orders and
customers: funnels, cohorts, attribution, concentration indices,
regression, agreement and drift statistics, survival curves and
privacy audits.

Determinism discipline: one rounded double expression per row, DECIMAL
accumulation for order-sensitive sums, one final ROUND.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dasladen_spark.operators.ranking import global_prefix_sum, global_row_number
from dasladen_spark.plans.registry import query
from dasladen_spark.session import load_table as _t


@query(
    "q_funnel",
    oracle="""
    WITH stage1 AS (
      SELECT user_id, MIN(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ), stage2 AS (
      SELECT e.user_id, MIN(e.ts) AS t2
      FROM events e JOIN stage1 s ON e.user_id = s.user_id
      WHERE e.event_type = 'click' AND e.ts > s.t1
      GROUP BY e.user_id
    ), stage3 AS (
      SELECT e.user_id, MIN(e.ts) AS t3
      FROM events e JOIN stage2 s ON e.user_id = s.user_id
      WHERE e.event_type = 'purchase' AND e.ts > s.t2
      GROUP BY e.user_id
    )
    SELECT (SELECT COUNT(*) FROM stage1) AS n_view,
           (SELECT COUNT(*) FROM stage2) AS n_view_click,
           (SELECT COUNT(*) FROM stage3) AS n_view_click_purchase
    """,
)
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel (view → click → purchase): each
    stage is a per-user MIN over events after the previous stage's
    timestamp. Three key-partitioned aggregates on the same user_id
    key — under AQE the shuffles reuse one partitioning, and no
    per-user event list is ever collected (the naive
    collect_list+UDF funnel OOMs on power users at 100 TB).

    s1/s2 persist: each feeds BOTH the next stage's join and its own
    funnel count, and without the pin the plan re-derives them per
    consumer — 6 events FileScans in one plan (r12 sweep; the view
    filter alone scanned 3×). Both frames are user-keyed MINs — ≤
    |users| narrow rows at any event volume, the bounded-cache class
    (guide §5), and the saved passes are over the FACT table."""
    ev = _t(spark, sf_dir, "events")
    s1 = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
        .persist()
    )
    s2 = (
        ev.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
        .persist()
    )
    s3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    return (
        s1.agg(F.count(F.lit(1)).alias("n_view"))
        .crossJoin(s2.agg(F.count(F.lit(1)).alias("n_view_click")))
        .crossJoin(
            s3.agg(F.count(F.lit(1)).alias("n_view_click_purchase"))
        )
    )


@query(
    "q_retention_cohorts",
    oracle="""
    WITH firsts AS (
      SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week
      FROM events GROUP BY user_id
    ), activity AS (
      SELECT DISTINCT e.user_id, f.cohort_week,
             datediff('week', f.cohort_week, date_trunc('week', e.ts)) AS week_n
      FROM events e JOIN firsts f ON e.user_id = f.user_id
    )
    SELECT cohort_week, week_n, COUNT(*) AS n_active
    FROM activity
    WHERE week_n <= 4
    GROUP BY cohort_week, week_n
    """,
)
def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohorts: users bucketed by first-seen week,
    counted in each later week they return. Shuffles: one per-user
    MIN, one distinct on (user, cohort, week) — both on the user_id
    key."""
    ev = _t(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    activity = (
        ev.join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_week",
            (
                F.datediff(F.date_trunc("week", F.col("ts")), F.col("cohort_week"))
                / 7
            )
            .cast("long")
            .alias("week_n"),
        )
        .distinct()
    )
    return (
        activity.filter(F.col("week_n") <= 4)
        .groupBy("cohort_week", "week_n")
        .agg(F.count(F.lit(1)).alias("n_active"))
    )


@query(
    "q_new_vs_returning",
    oracle="""
    WITH f AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS first_day
      FROM events GROUP BY user_id
    ), a AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    )
    SELECT CAST(a.day AS TIMESTAMP) AS day,
           CAST(SUM(CASE WHEN a.day = f.first_day THEN 1 ELSE 0 END)
             AS BIGINT) AS new_users,
           CAST(SUM(CASE WHEN a.day > f.first_day THEN 1 ELSE 0 END)
             AS BIGINT) AS returning_users
    FROM a JOIN f USING (user_id)
    GROUP BY a.day
    """,
)
def q_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily new-vs-returning user split — the acquisition/retention
    overview chart. Every stage keys on user_id (first-seen agg,
    active-day distinct, the join), so one shuffle co-locates the
    whole chain before the final small day rollup."""
    e = _t(spark, sf_dir, "events")
    f = e.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("first_day")
    )
    a = e.select("user_id", F.col("ts").cast("date").alias("day")).distinct()
    return (
        a.join(f, "user_id")
        .groupBy("day")
        .agg(
            F.sum(
                F.when(F.col("day") == F.col("first_day"), 1).otherwise(0)
            ).alias("new_users"),
            F.sum(
                F.when(F.col("day") > F.col("first_day"), 1).otherwise(0)
            ).alias("returning_users"),
        )
        .select(
            F.col("day").cast("timestamp").alias("day"),
            "new_users",
            "returning_users",
        )
    )


@query(
    "q_rfm_segments",
    oracle="""
    WITH mx AS (SELECT MAX(o_orderdate) AS max_d FROM orders),
    rfm AS (
      SELECT o_custkey,
             MAX(o_orderdate) AS last_d,
             COUNT(*) AS freq,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
               AS DECIMAL(38,4)) AS monetary
      FROM orders GROUP BY o_custkey
    )
    SELECT CASE
             WHEN date_diff('day', rfm.last_d, mx.max_d) <= 90
                  AND rfm.freq >= 10 THEN 'champion'
             WHEN date_diff('day', rfm.last_d, mx.max_d) <= 90
                  THEN 'recent'
             WHEN rfm.freq >= 10 THEN 'loyal_lapsing'
             ELSE 'hibernating'
           END AS segment,
           COUNT(*) AS n_customers,
           CAST(SUM(monetary) AS DECIMAL(38,4)) AS segment_revenue
    FROM rfm, mx
    GROUP BY 1
    """,
)
def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: recency/frequency/monetary per customer,
    bucketed by fixed business thresholds into the retention
    playbook's segments with exact decimal revenue per segment.
    Threshold buckets (not NTILE) keep the plan a plain two-level
    rollup — no global-order window anywhere; the corpus max date is
    a driver scalar."""
    o = _t(spark, sf_dir, "orders")
    max_d = o.agg(F.max("o_orderdate")).collect()[0][0]
    rfm = o.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_d"),
        F.count(F.lit(1)).alias("freq"),
        F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
        .cast("decimal(38,4)")
        .alias("monetary"),
    )
    recency = F.datediff(F.lit(max_d), F.col("last_d"))
    seg = (
        F.when((recency <= 90) & (F.col("freq") >= 10), "champion")
        .when(recency <= 90, "recent")
        .when(F.col("freq") >= 10, "loyal_lapsing")
        .otherwise("hibernating")
    )
    return (
        rfm.groupBy(seg.alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("monetary").cast("decimal(38,4)").alias("segment_revenue"),
        )
    )


@query(
    "q_hhi_concentration",
    oracle="""
    WITH r AS (
      SELECT s.s_nationkey AS nation, l.l_suppkey,
             SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS rev
      FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
      GROUP BY 1, 2
    )
    SELECT nation, COUNT(*) AS n_suppliers,
           CAST(CAST(SUM(rev * rev) AS VARCHAR) AS DOUBLE)
             / (CAST(CAST(SUM(rev) AS VARCHAR) AS DOUBLE)
                * CAST(CAST(SUM(rev) AS VARCHAR) AS DOUBLE)) AS hhi
    FROM r GROUP BY nation
    """,
)
def q_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman market concentration per nation: the sum
    of squared supplier revenue shares, the antitrust/risk metric for
    'is this market one hot key'. Algebraic identity Σ(rᵢ/T)² =
    Σrᵢ²/T² keeps EVERY accumulation in exact decimal (squares of
    decimal revenues, no double sums anywhere); the only floating
    step is one final division of two correctly-rounded doubles.
    Broadcast supplier dim join, two rollups — no skew exposure."""
    l = _t(spark, sf_dir, "lineitem").select("l_suppkey", "l_extendedprice")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    r = (
        l.join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .groupBy(F.col("s_nationkey").alias("nation"), "l_suppkey")
        .agg(
            F.sum(F.col("l_extendedprice").cast("decimal(18,4)")).alias("rev")
        )
    )
    rev = F.col("rev").cast("decimal(18,4)")
    return r.groupBy("nation").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        (
            F.sum(rev * rev).cast("double")
            / (
                F.sum(rev).cast("double")
                * F.sum(rev).cast("double")
            )
        ).alias("hhi"),
    )


@query(
    "q_gini_spend",
    oracle="""
    WITH s AS (
      SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
               AS DECIMAL(38,4)) AS spend
      FROM orders GROUP BY o_custkey
    ), r AS (
      SELECT spend, ROW_NUMBER() OVER (ORDER BY spend) AS i FROM s
    )
    SELECT COUNT(*) AS n,
           2.0 * CAST(CAST(SUM(i * spend) AS VARCHAR) AS DOUBLE)
             / (CAST(COUNT(*) AS DOUBLE)
                * CAST(CAST(SUM(spend) AS VARCHAR) AS DOUBLE))
             - (CAST(COUNT(*) AS DOUBLE) + 1.0)
               / CAST(COUNT(*) AS DOUBLE) AS gini
    FROM r
    """,
)
def q_gini_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer spend — the inequality metric in
    its rank formulation G = 2·Σ(i·xᵢ)/(n·Σxᵢ) − (n+1)/n over
    ascending-sorted spend. The global rank comes from
    operators/ranking.global_row_number (range partition + broadcast
    offsets — never a single-partition window over all customers);
    ties need no tiebreak because Σ i·x within a tie group is
    invariant to rank assignment. Both Σ accumulate in exact decimal;
    the finish is a fixed dag of correctly-rounded double ops."""
    o = _t(spark, sf_dir, "orders")
    s = o.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
        .cast("decimal(38,4)")
        .alias("spend")
    )
    r = global_row_number(s, [F.col("spend")], out_col="i")
    agg = r.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("i") * F.col("spend")).alias("si"),
        F.sum("spend").alias("st"),
    )
    n = F.col("n").cast("double")
    return agg.select(
        "n",
        (
            F.lit(2.0) * F.col("si").cast("double")
            / (n * F.col("st").cast("double"))
            - (n + F.lit(1.0)) / n
        ).alias("gini"),
    )


@query(
    "q_cohort_ltv",
    oracle="""
    WITH f AS (
      SELECT o_custkey,
             date_trunc('month', MIN(o_orderdate)) AS cohort
      FROM orders GROUP BY 1
    ), r AS (
      SELECT o_custkey, date_trunc('month', o_orderdate) AS mon,
             SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS rev
      FROM orders GROUP BY 1, 2
    )
    SELECT CAST(f.cohort AS TIMESTAMP) AS cohort,
           date_diff('month', f.cohort, r.mon) AS month_offset,
           COUNT(*) AS active_customers,
           CAST(SUM(r.rev) AS DECIMAL(38,4)) AS revenue
    FROM r JOIN f USING (o_custkey)
    GROUP BY f.cohort, month_offset
    """,
)
def q_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value matrix: customers grouped by acquisition
    month, revenue tracked by month offset since acquisition — the
    LTV curve every subscription/commerce dashboard draws. Both
    inputs key on customer (first-order agg, monthly revenue agg,
    the join), so one customer shuffle co-locates the chain before
    the small cohort×offset rollup; revenue stays exact decimal
    end-to-end."""
    o = _t(spark, sf_dir, "orders")
    f = o.groupBy("o_custkey").agg(
        F.date_trunc("month", F.min("o_orderdate")).alias("cohort")
    )
    r = o.groupBy(
        "o_custkey", F.date_trunc("month", F.col("o_orderdate")).alias("mon")
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,4)")).alias("rev")
    )
    return (
        r.join(f, "o_custkey")
        .groupBy(
            F.col("cohort").cast("timestamp").alias("cohort"),
            F.months_between(F.col("mon"), F.col("cohort"))
            .cast("int")
            .alias("month_offset"),
        )
        .agg(
            F.count(F.lit(1)).alias("active_customers"),
            F.sum("rev").cast("decimal(38,4)").alias("revenue"),
        )
    )


@query(
    "q_abc_classification",
    oracle="""
    WITH r AS (
      SELECT l_partkey AS part,
             SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS rev
      FROM lineitem GROUP BY 1
    ), c AS (
      SELECT part, rev,
             SUM(rev) OVER (ORDER BY rev DESC, part
               ROWS UNBOUNDED PRECEDING) AS cum,
             SUM(rev) OVER () AS total
      FROM r
    )
    SELECT CASE WHEN 5 * cum <= 4 * total THEN 'A'
                WHEN 20 * cum <= 19 * total THEN 'B'
                ELSE 'C' END AS abc_class,
           COUNT(*) AS n_parts,
           CAST(SUM(rev) AS DECIMAL(38,4)) AS class_revenue
    FROM c GROUP BY 1
    """,
)
def q_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC inventory classification: parts ranked by revenue, class A
    = the head covering 80% of cumulative revenue, B to 95%, C the
    tail. The running total comes from operators/ranking.
    global_prefix_sum (range shuffle + broadcast offsets — the
    distributed form of SUM OVER (ORDER BY), never a single-partition
    window); the share thresholds compare as integer-decimal
    cross-products (5·cum ≤ 4·total), so classification is exact —
    no float share ever computed."""
    l = _t(spark, sf_dir, "lineitem")
    r = l.groupBy(F.col("l_partkey").alias("part")).agg(
        F.sum(F.col("l_extendedprice").cast("decimal(18,4)")).alias("rev")
    )
    ranked = global_prefix_sum(
        r, [F.col("rev").desc(), F.col("part")], "rev", out_col="cum"
    )
    total = r.agg(F.sum("rev")).collect()[0][0]
    total_lit = F.expr(f"CAST('{total}' AS DECIMAL(38,4))")
    cls = (
        F.when(F.lit(5) * F.col("cum") <= F.lit(4) * total_lit, "A")
        .when(F.lit(20) * F.col("cum") <= F.lit(19) * total_lit, "B")
        .otherwise("C")
    )
    return ranked.groupBy(cls.alias("abc_class")).agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.sum("rev").cast("decimal(38,4)").alias("class_revenue"),
    )


# ------------------------------------------------ per-group OLS trend


@query(
    "q_ols_trend_by_nation",
    oracle="""
    WITH wk AS (
      SELECT n.n_name AS nation,
             -- Monday epoch: week-truncated dates are always Mondays,
             -- so the day diff is an exact multiple of 7 and the
             -- division is exact (a Sunday epoch would collapse the
             -- two weeks straddling it onto the same index)
             CAST(datediff('day', TIMESTAMP '1995-01-02',
                           date_trunc('week', o.o_orderdate)) // 7
                  AS DOUBLE) AS x,
             CAST(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(38,6)))
                  AS VARCHAR) AS DOUBLE) AS y
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      GROUP BY 1, date_trunc('week', o.o_orderdate)
    ), s AS (
      SELECT nation,
             COUNT(*) AS n,
             CAST(CAST(SUM(CAST(x AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) AS sx,
             CAST(CAST(SUM(CAST(y AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) AS sy,
             CAST(CAST(SUM(CAST(x * x AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) AS sxx,
             CAST(CAST(SUM(CAST(ROUND(x * y, 6) AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) AS sxy
      FROM wk GROUP BY nation
    )
    SELECT nation, CAST(n AS BIGINT) AS n_weeks,
           ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
           ROUND((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n,
                 6) AS intercept
    FROM s ORDER BY nation
    """,
)
def q_ols_trend_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form least-squares revenue trend per nation: weekly
    revenue series (the raw facts collapse to |nations × weeks| rows
    first), then slope/intercept from the five sufficient statistics
    (n, Σx, Σy, Σx², Σxy) — ONE map-side-combined aggregate, no
    iterative fitting, no collect. The regression every drift monitor
    runs, at 100 TB the same two-aggregate plan."""
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
            F.sum(F.col("o_totalprice").cast("decimal(38,6)"))
            .cast("double")
            .alias("y")
        )
        .select(
            "nation",
            (
                F.datediff(
                    F.col("week"), F.lit("1995-01-02").cast("timestamp")
                )
                / 7
            )
            .cast("int")
            .cast("double")
            .alias("x"),
            "y",
        )
    )
    s = wk.groupBy("nation").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x").cast("decimal(38,6)")).cast("double").alias("sx"),
        F.sum(F.col("y").cast("decimal(38,6)")).cast("double").alias("sy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,6)"))
        .cast("double")
        .alias("sxx"),
        F.sum(F.round(F.col("x") * F.col("y"), 6).cast("decimal(38,6)"))
        .cast("double")
        .alias("sxy"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return s.select(
        "nation",
        F.col("n").cast("bigint").alias("n_weeks"),
        F.round(slope, 6).alias("slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / F.col("n"), 6).alias(
            "intercept"
        ),
    ).orderBy("nation")


# ------------------------------------------------ winsorized moments


@query(
    "q_winsorized_stats",
    oracle="""
    WITH b AS (
      SELECT o_orderpriority AS pri,
             quantile_cont(o_totalprice, 0.05) AS p5,
             quantile_cont(o_totalprice, 0.95) AS p95
      FROM orders GROUP BY 1
    )
    SELECT o.o_orderpriority AS pri,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(b.p5, 6) AS p5,
           ROUND(b.p95, 6) AS p95,
           ROUND(CAST(CAST(SUM(CAST(
             ROUND(least(greatest(o.o_totalprice, b.p5), b.p95), 6)
             AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) / COUNT(*), 6)
             AS winsorized_mean
    FROM orders o JOIN b ON b.pri = o.o_orderpriority
    GROUP BY o.o_orderpriority, b.p5, b.p95
    ORDER BY pri
    """,
)
def q_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized (5%/95%-clamped) mean order value per priority —
    the outlier-robust center every monitoring dashboard should show
    instead of the raw mean.

    Scale shape: pass 1 computes the per-group clamp bounds (exact
    percentiles via Spark's percentile aggregate — group-keyed, no
    global sort); pass 2 re-aggregates with values clamped into
    [p5, p95], broadcast-joining the 5-row bounds table back onto the
    scan. Clamped values round at 6 then sum in DECIMAL — same
    linear-interpolation percentile semantics as quantile_cont, same
    bits from both engines."""
    o = _t(spark, sf_dir, "orders")
    b = o.groupBy(F.col("o_orderpriority").alias("pri")).agg(
        F.percentile("o_totalprice", F.lit(0.05)).alias("p5"),
        F.percentile("o_totalprice", F.lit(0.95)).alias("p95"),
    )
    clamped = o.join(
        F.broadcast(b), o["o_orderpriority"] == b["pri"]
    ).select(
        "pri",
        "p5",
        "p95",
        F.round(
            F.least(F.greatest(F.col("o_totalprice"), F.col("p5")), F.col("p95")),
            6,
        )
        .cast("decimal(38,6)")
        .alias("w"),
    )
    return (
        clamped.groupBy("pri", "p5", "p95")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("w").cast("double").alias("sw"),
        )
        .select(
            "pri",
            F.col("n").cast("bigint").alias("n"),
            F.round("p5", 6).alias("p5"),
            F.round("p95", 6).alias("p95"),
            F.round(F.col("sw") / F.col("n"), 6).alias("winsorized_mean"),
        )
        .orderBy("pri")
    )


# ------------------------------------------------ behavioral entropy


@query(
    "q_user_activity_entropy",
    oracle="""
    WITH c AS (
      SELECT user_id, event_type, COUNT(*) AS n FROM events GROUP BY 1, 2
    ), t AS (
      SELECT user_id, SUM(n) AS tot FROM c GROUP BY 1
    ), e AS (
      SELECT c.user_id,
             ROUND(CAST(CAST(SUM(CAST(
               ROUND(-(n / CAST(tot AS DOUBLE)) * ln(n / CAST(tot AS DOUBLE)),
                     12)
               AS DECIMAL(38,18))) AS VARCHAR) AS DOUBLE), 6) AS entropy
      FROM c JOIN t ON t.user_id = c.user_id
      GROUP BY c.user_id
    )
    SELECT user_id, entropy FROM e ORDER BY entropy DESC, user_id LIMIT 25
    """,
)
def q_user_activity_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each user's event-type mix — the behavioral
    diversity score (bots: near 0; explorers: near ln(#types)).
    Top-25 most-diverse users, ties by id.

    Scale shape: everything stays keyed on user_id — per-(user, type)
    counts, per-user totals, and the entropy sum are three
    map-side-combinable aggregates over the SAME key, so one shuffle
    partitioning serves all of them; the top-25 is a
    TakeOrderedAndProject, never a global sort."""
    e = _t(spark, sf_dir, "events")
    c = e.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    t = c.groupBy("user_id").agg(F.sum("n").alias("tot"))
    p = F.col("n") / F.col("tot").cast("double")
    ent = (
        c.join(t, "user_id")
        .select(
            "user_id",
            F.round(-p * F.log(p), 12).cast("decimal(38,18)").alias("term"),
        )
        .groupBy("user_id")
        .agg(F.round(F.sum("term").cast("double"), 6).alias("entropy"))
    )
    return ent.orderBy(F.col("entropy").desc(), "user_id").limit(25)


# -------------------------------------------- marketing attribution


@query(
    "q_attribution_last_touch",
    oracle="""
    WITH p AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
    ), c AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
    ), att AS (
      SELECT p.event_id, p.user_id, p.ts,
             (SELECT MAX(c.ts) FROM c
              WHERE c.user_id = p.user_id AND c.ts < p.ts
                AND c.ts >= p.ts - INTERVAL 7 DAY) AS click_ts
      FROM p
    )
    SELECT CAST(date_trunc('week', ts) AS TIMESTAMP) AS week,
           CAST(COUNT(*) AS BIGINT) AS n_purchases,
           CAST(SUM(CASE WHEN click_ts IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_attributed,
           ROUND(SUM(CASE WHEN click_ts IS NOT NULL THEN 1 ELSE 0 END)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS attributed_share
    FROM att GROUP BY 1 ORDER BY week
    """,
)
def q_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase is credited to the
    user's most recent click within the preceding 7 days, reported as
    a weekly attribution-share rollup — the event-analytics composite
    behind every marketing dashboard.

    Scale shape: the as-of join (operators/asof) is one user-keyed
    shuffle of clicks+purchases with an in-partition ordered scan —
    never a per-purchase subquery (the oracle's correlated MAX is the
    SEMANTIC spec; the engine's plan is the union-sort trick), then
    one map-side-combined weekly rollup."""
    from dasladen_spark.operators.asof import asof_join

    e = _t(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    c = e.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts")
    )
    att = asof_join(
        p,
        c,
        on="user_id",
        left_ts="ts",
        right_ts="click_ts",
        right_cols={"click_ts": "click_ts"},
        strict=True,
    )
    att = att.withColumn(
        "click_ts",
        F.when(
            F.col("click_ts") >= F.col("ts") - F.expr("INTERVAL 7 DAYS"),
            F.col("click_ts"),
        ),
    )
    return (
        att.groupBy(F.date_trunc("week", "ts").alias("week"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_purchases"),
            F.sum(F.col("click_ts").isNotNull().cast("int"))
            .cast("bigint")
            .alias("n_attributed"),
            F.round(
                F.sum(F.col("click_ts").isNotNull().cast("int"))
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("attributed_share"),
        )
        .select(
            F.col("week").cast("timestamp").alias("week"),
            "n_purchases",
            "n_attributed",
            "attributed_share",
        )
        .orderBy("week")
    )


# --------------------------------------------- rater agreement (kappa)


@query(
    "q_rater_agreement_kappa",
    oracle=r"""
    WITH r AS (
      SELECT doc_id,
             CAST(n_chars >= 300 AS INT) AS a,
             CAST(len(regexp_extract_all(text, '\S+')) >= 60 AS INT) AS b
      FROM documents
    ), c AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN a = b THEN 1 ELSE 0 END) AS BIGINT) AS agree,
             CAST(SUM(a) AS BIGINT) AS a1, CAST(SUM(b) AS BIGINT) AS b1
      FROM r
    )
    SELECT n, agree,
           ROUND(agree / CAST(n AS DOUBLE), 6) AS po,
           ROUND((a1 * b1 + (n - a1) * (n - b1))
                 / (CAST(n AS DOUBLE) * n), 6) AS pe,
           ROUND((agree / CAST(n AS DOUBLE)
                  - (a1 * b1 + (n - a1) * (n - b1))
                    / (CAST(n AS DOUBLE) * n))
                 / (1.0 - (a1 * b1 + (n - a1) * (n - b1))
                    / (CAST(n AS DOUBLE) * n)), 6) AS kappa
    FROM c
    """,
)
def q_rater_agreement_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between two labeling policies (here: a length
    rater and a token-count rater) — the agreement statistic every
    labeling/curation pipeline publishes before trusting a rater or
    a distilled classifier as ground truth.

    Scale shape: one map-side-combined aggregate produces the whole
    2×2 confusion summary (n, agreements, per-rater positives); the
    kappa arithmetic is a single driver-free projection over that
    1-row frame."""
    d = _t(spark, sf_dir, "documents")
    r = d.select(
        (F.col("n_chars") >= 300).cast("int").alias("a"),
        (
            F.size(F.split(F.trim(F.col("text")), r"\s+")) >= 60
        )
        .cast("int")
        .alias("b"),
    )
    c = r.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum((F.col("a") == F.col("b")).cast("int")).cast("bigint").alias("agree"),
        F.sum("a").cast("bigint").alias("a1"),
        F.sum("b").cast("bigint").alias("b1"),
    )
    po = F.col("agree") / F.col("n").cast("double")
    pe = (
        F.col("a1") * F.col("b1")
        + (F.col("n") - F.col("a1")) * (F.col("n") - F.col("b1"))
    ) / (F.col("n").cast("double") * F.col("n"))
    return c.select(
        "n",
        "agree",
        F.round(po, 6).alias("po"),
        F.round(pe, 6).alias("pe"),
        F.round((po - pe) / (1.0 - pe), 6).alias("kappa"),
    )


# ----------------------------------------- multi-touch attribution
#
# Linear and position-based attribution pair every purchase with each
# of the same user's clicks in the 7 days before it, then credit each
# click a share of the purchase value and report the top-25 clicks.

#: purchases ``p(purchase_id, user_id, ts, value)`` and clicks
#: ``c(click_id, user_id, click_ts)``
_TOUCH_CTES = """p AS (
      SELECT event_id AS purchase_id, user_id, ts, value
      FROM events WHERE event_type = 'purchase'
    ), c AS (
      SELECT event_id AS click_id, user_id, ts AS click_ts
      FROM events WHERE event_type = 'click'
    )"""
#: the 7-day purchase × click pairing over ``p`` and ``c``
_TOUCH_JOIN = """FROM p JOIN c ON c.user_id = p.user_id
       AND c.click_ts < p.ts
       AND c.click_ts >= p.ts - INTERVAL 7 DAY"""
#: top-25 clicks by summed credit ``cr`` over CTE ``credit``
_CREDIT_TOP_SQL = """SELECT click_id,
           CAST(COUNT(*) AS BIGINT) AS n_purchases,
           ROUND(CAST(CAST(SUM(cr) AS VARCHAR) AS DOUBLE), 6)
             AS credited_value
    FROM credit GROUP BY click_id
    ORDER BY credited_value DESC, click_id LIMIT 25"""


def _touch_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each purchase joined to every click of the same user in the 7
    days before it: a user-keyed range join, the band bounding the
    fan-out."""
    e = _t(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id"),
        F.col("ts"),
        F.col("value"),
    )
    c = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
    )
    pairs = p.join(
        c,
        (F.col("c_user") == F.col("user_id"))
        & (F.col("click_ts") < F.col("ts"))
        & (F.col("click_ts") >= F.col("ts") - F.expr("INTERVAL 7 DAYS")),
    )
    return pairs


def _credit_top(credit: DataFrame) -> DataFrame:
    """Top-25 clicks by summed credit ``cr`` (DECIMAL, so the totals
    do not depend on partitioning)."""
    return (
        credit.groupBy("click_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_purchases"),
            F.round(F.sum("cr").cast("double"), 6).alias("credited_value"),
        )
        .orderBy(F.col("credited_value").desc(), "click_id")
        .limit(25)
    )


@query(
    "q_attribution_linear",
    oracle=f"""
    WITH {_TOUCH_CTES}, pairs AS (
      SELECT p.purchase_id, p.value, c.click_id,
             COUNT(*) OVER (PARTITION BY p.purchase_id) AS n_touch
      {_TOUCH_JOIN}
    ), credit AS (
      SELECT click_id,
             CAST(ROUND(value / n_touch, 6) AS DECIMAL(38,6)) AS cr
      FROM pairs
    )
    {_CREDIT_TOP_SQL}
    """,
)
def q_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution — every click in the 7 days
    before a purchase shares that purchase's value equally (the
    fairness-spread complement of q_attribution_last_touch). Top-25
    clicks by credited value.

    Scale shape: the purchase×click pairing is a user-keyed range
    join (both sides shuffle once on user_id; the 7-day band bounds
    fan-out), the per-purchase touch count is a window over that
    bounded pair set, and credits aggregate map-side per click.
    Per-credit rounding + DECIMAL accumulation keeps the totals
    bit-stable under any partitioning."""
    pairs = _touch_pairs(spark, sf_dir)
    w = Window.partitionBy("purchase_id")
    credit = pairs.select(
        "click_id",
        F.round(F.col("value") / F.count(F.lit(1)).over(w), 6)
        .cast("decimal(38,6)")
        .alias("cr"),
    )
    return _credit_top(credit)


@query(
    "q_daily_quality_scorecard",
    oracle="""
    WITH d AS (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             event_id, user_id, value
      FROM events
    ), s AS (
      SELECT day,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(COUNT(*) - COUNT(value) AS BIGINT) AS null_values,
             CAST(COUNT(*) - COUNT(DISTINCT event_id) AS BIGINT)
               AS dup_event_ids,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
      FROM d GROUP BY day
    )
    SELECT day, n_rows, null_values, dup_event_ids, n_users,
           CAST(n_rows - LAG(n_rows) OVER (ORDER BY day) AS BIGINT)
             AS dod_delta
    FROM s ORDER BY day LIMIT 40
    """,
)
def q_daily_quality_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day data-quality scorecard for the event intake — row
    volume, null measure count, duplicate-id count, distinct users,
    and the day-over-day volume delta: the observability panel that
    catches a broken upstream BEFORE the corpus does (first 40 days).

    Scale shape: one day-keyed aggregate (COUNT DISTINCT per day is
    partial-aggregated within the day's partition range); the lag
    window runs over the days-sized rollup, never raw events."""
    e = _t(spark, sf_dir, "events")
    s = (
        e.select(
            F.date_trunc("day", "ts").alias("day"),
            "event_id",
            "user_id",
            "value",
        )
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            (F.count(F.lit(1)) - F.count("value"))
            .cast("bigint")
            .alias("null_values"),
            (F.count(F.lit(1)) - F.count_distinct("event_id"))
            .cast("bigint")
            .alias("dup_event_ids"),
            F.count_distinct("user_id").cast("bigint").alias("n_users"),
        )
    )

    from dasladen_spark.functions.vectors import bounded_window_key

    # ≤40 daily rows reach this window (limit below) — explicit
    # single partition, not an accidental global sort
    w = Window.partitionBy(
        bounded_window_key(F.year("day"))
    ).orderBy("day")
    return (
        s.withColumn(
            "dod_delta",
            (F.col("n_rows") - F.lag("n_rows").over(w)).cast("bigint"),
        )
        .orderBy("day")
        .limit(40)
    )


@query(
    "q_user_concentration",
    oracle="""
    WITH c AS (
      SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id
    ), top AS (
      SELECT n FROM c ORDER BY n DESC, user_id LIMIT 10
    )
    SELECT CAST((SELECT COUNT(*) FROM c) AS BIGINT) AS n_users,
           CAST((SELECT SUM(n) FROM c) AS BIGINT) AS n_events,
           CAST((SELECT SUM(n) FROM top) AS BIGINT) AS top10_events,
           ROUND((SELECT SUM(n) FROM top)
                 / CAST((SELECT SUM(n) FROM c) AS DOUBLE), 6)
             AS top10_share
    """,
)
def q_user_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Traffic-concentration audit: what share of all events comes
    from the 10 heaviest users — the Pareto check that decides
    whether per-user keys need skew handling (a top10_share in the
    tens of percent means salting before any user-keyed shuffle).

    Scale shape: per-user counts are one map-side-combined aggregate;
    the top-10 is a TakeOrdered over those counts (never a global
    sort); the three totals reduce from the same counts frame."""
    e = _t(spark, sf_dir, "events")
    c = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    tot = c.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("n").cast("bigint").alias("n_events"),
    )
    top = (
        c.orderBy(F.col("n").desc(), "user_id")
        .limit(10)
        .agg(F.sum("n").cast("bigint").alias("top10_events"))
    )
    return tot.crossJoin(F.broadcast(top)).select(
        "n_users",
        "n_events",
        "top10_events",
        F.round(
            F.col("top10_events") / F.col("n_events").cast("double"), 6
        ).alias("top10_share"),
    )


# --------------------------------------------- association rule mining


@query(
    "q_association_rules",
    oracle="""
    WITH b AS (
      SELECT DISTINCT l_orderkey AS ok, l_partkey AS item FROM lineitem
    ), n AS (
      SELECT COUNT(DISTINCT ok) AS n_baskets FROM b
    ), itm AS (
      SELECT item, COUNT(*) AS n_item FROM b GROUP BY item
    ), pair AS (
      SELECT a.item AS antecedent, c.item AS consequent,
             COUNT(*) AS n_both
      FROM b a JOIN b c ON a.ok = c.ok AND a.item <> c.item
      GROUP BY 1, 2
    )
    SELECT p.antecedent, p.consequent, p.n_both,
           ROUND(p.n_both / CAST(ia.n_item AS DOUBLE), 6) AS confidence,
           ROUND((p.n_both * (SELECT n_baskets FROM n))
                 / CAST(ia.n_item * ic.n_item AS DOUBLE), 6) AS lift
    FROM pair p
    JOIN itm ia ON ia.item = p.antecedent
    JOIN itm ic ON ic.item = p.consequent
    WHERE p.n_both >= 3
    ORDER BY lift DESC, antecedent, consequent
    LIMIT 20
    """,
)
def q_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed association rules over order baskets — support,
    confidence, lift for every part pair co-occurring in ≥3 orders
    (the A-priori 2-itemset pass; q_copurchase_pairs counts the
    co-occurrences, this turns them into ranked rules).

    Scale shape: the pair expansion self-joins on the ORDER key
    (fan-out bounded by basket size, linear in orders — never a
    part-keyed hub join); item supports are one map-side-combined
    count; the basket total is a 1-row broadcast. The distinct
    basket table feeds FOUR plan branches (total, supports, both
    pair sides), so it persists for the one action — without the
    cache the fact table is scanned and re-deduped four times (plan
    probe: 5 scans / 0 reuse); the 20-row result materializes before
    the cache is released. All ratios are exact-integer divisions
    evaluated once in IEEE double and rounded — identical in any
    engine."""
    b = (
        _t(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("item"))
        .distinct()
        .persist()
    )
    n = b.agg(F.count_distinct("ok").alias("n_baskets"))
    # itm feeds BOTH rule sides (ia, ic) — without its own persist the
    # item-support aggregate (a full pass over b plus an item-keyed
    # exchange) runs once per side: the r12 plan audit showed the
    # HashAggregate+Exchange subtree duplicated verbatim (operators
    # 30-32 and 39-41), exchange reuse defeated by the per-side
    # aliases. |items|-sized cache, corpus-pass saved.
    itm = (
        b.groupBy("item").agg(F.count(F.lit(1)).alias("n_item")).persist()
    )
    a = b.select(F.col("ok"), F.col("item").alias("antecedent"))
    c = b.select(F.col("ok").alias("ok2"), F.col("item").alias("consequent"))
    pair = (
        a.join(
            c,
            (F.col("ok") == F.col("ok2"))
            & (F.col("antecedent") != F.col("consequent")),
        )
        .groupBy("antecedent", "consequent")
        .agg(F.count(F.lit(1)).alias("n_both"))
        .filter(F.col("n_both") >= 3)
    )
    ia = itm.select(F.col("item").alias("antecedent"), F.col("n_item").alias("n_a"))
    ic = itm.select(F.col("item").alias("consequent"), F.col("n_item").alias("n_c"))
    b.count()  # materialize the cache once; the action below reads it
    return (
        pair.join(ia, "antecedent")
        .join(ic, "consequent")
        .crossJoin(F.broadcast(n))  # one row — the basket total
        .select(
            "antecedent",
            "consequent",
            "n_both",
            F.round(F.col("n_both") / F.col("n_a").cast("double"), 6).alias(
                "confidence"
            ),
            F.round(
                (F.col("n_both") * F.col("n_baskets"))
                / (F.col("n_a") * F.col("n_c")).cast("double"),
                6,
            ).alias("lift"),
        )
        .orderBy(F.col("lift").desc(), "antecedent", "consequent")
        .limit(20)
    )


# ------------------------------- position-based (U-shaped) attribution


@query(
    "q_attribution_position",
    oracle=f"""
    WITH {_TOUCH_CTES}, pairs AS (
      SELECT p.purchase_id, p.value, c.click_id,
             ROW_NUMBER() OVER (PARTITION BY p.purchase_id
                                ORDER BY c.click_ts, c.click_id) AS pos,
             COUNT(*) OVER (PARTITION BY p.purchase_id) AS n_touch
      {_TOUCH_JOIN}
    ), credit AS (
      SELECT click_id,
             CAST(ROUND(value * CASE
               WHEN n_touch = 1 THEN 1.0
               WHEN n_touch = 2 THEN 0.5
               WHEN pos = 1 OR pos = n_touch THEN 0.4
               ELSE 0.2 / (n_touch - 2) END, 6) AS DECIMAL(38,6)) AS cr
      FROM pairs
    )
    {_CREDIT_TOP_SQL}
    """,
)
def q_attribution_position(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-based (U-shaped, 40/20/40) multi-touch attribution:
    the first and last click before a purchase each earn 40% of its
    value, the middle clicks split the remaining 20% — completing the
    attribution family next to last-touch and linear. Top-25 clicks
    by credited value.

    Scale shape: identical join geometry to q_attribution_linear
    (user-keyed 7-day range join, per-purchase windows over the
    bounded touch set, map-side credit aggregation); the position
    weights add one CASE to the credit expression. Per-credit
    rounding + DECIMAL accumulation keeps totals bit-stable."""
    pairs = _touch_pairs(spark, sf_dir)
    wp = Window.partitionBy("purchase_id")
    pos = F.row_number().over(wp.orderBy("click_ts", "click_id"))
    n_touch = F.count(F.lit(1)).over(wp)
    share = (
        F.when(n_touch == 1, F.lit(1.0))
        .when(n_touch == 2, F.lit(0.5))
        .when((pos == 1) | (pos == n_touch), F.lit(0.4))
        .otherwise(F.lit(0.2) / (n_touch - 2))
    )
    credit = pairs.select(
        "click_id",
        F.round(F.col("value") * share, 6).cast("decimal(38,6)").alias("cr"),
    )
    return _credit_top(credit)


# --------------------------------------- categorical mutual information


@query(
    "q_weekday_type_mutual_info",
    oracle="""
    WITH j AS (
      SELECT dayname(CAST(date_trunc('day', ts) AS DATE)) AS wd,
             event_type AS et, COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ), tot AS (
      SELECT SUM(n) AS t FROM j
    ), mx AS (
      SELECT wd, SUM(n) AS nx FROM j GROUP BY wd
    ), my AS (
      SELECT et, SUM(n) AS ny FROM j GROUP BY et
    ), terms AS (
      SELECT j.wd, j.et,
             CAST(ROUND((j.n / CAST(t.t AS DOUBLE))
               * log2((j.n * CAST(t.t AS DOUBLE))
                      / (CAST(mx.nx AS DOUBLE) * my.ny)), 12)
               AS DECIMAL(38,18)) AS term
      FROM j JOIN mx USING (wd) JOIN my USING (et) CROSS JOIN tot t
    )
    SELECT CAST((SELECT COUNT(*) FROM mx) AS BIGINT) AS n_weekdays,
           CAST((SELECT COUNT(*) FROM my) AS BIGINT) AS n_types,
           ROUND(CAST(CAST(SUM(term) AS VARCHAR) AS DOUBLE), 6)
             AS mutual_info_bits
    FROM terms
    """,
)
def q_weekday_type_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information (bits) between day-of-week and event type —
    the dependence test behind "does behaviour differ by weekday":
    I(X;Y) = Σ p(x,y)·log₂(p(x,y)/(p(x)p(y))), near 0 when the event
    mix is calendar-independent (pairs with q_weekday_seasonality's
    volume lens and q_user_activity_entropy's per-user lens).

    Scale shape: one (weekday, type) contingency count — at most
    7×|types| cells regardless of corpus size — two marginal re-aggs
    of that tiny table, DECIMAL-summed rounded terms."""
    j = (
        _t(spark, sf_dir, "events")
        .groupBy(
            F.date_format(
                F.date_trunc("day", F.col("ts")).cast("date"), "EEEE"
            ).alias("wd"),
            F.col("event_type").alias("et"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .persist()  # ≤ 7×|types| cells; feeds the total, both
    )                # marginals, and the terms — one corpus scan
    j.count()
    tot = j.agg(F.sum("n").alias("t"))
    mx = j.groupBy("wd").agg(F.sum("n").alias("nx"))
    my = j.groupBy("et").agg(F.sum("n").alias("ny"))
    term = F.round(
        (F.col("n") / F.col("t").cast("double"))
        * F.log2(
            (F.col("n") * F.col("t").cast("double"))
            / (F.col("nx").cast("double") * F.col("ny"))
        ),
        12,
    ).cast("decimal(38,18)")
    terms = (
        j.join(mx, "wd")
        .join(my, "et")
        .crossJoin(F.broadcast(tot))  # one row — the grand total
        .select(term.alias("term"))
    )
    nx_cnt = mx.agg(F.count(F.lit(1)).alias("n_weekdays"))
    ny_cnt = my.agg(F.count(F.lit(1)).alias("n_types"))
    return (
        terms.agg(
            F.round(F.sum("term").cast("double"), 6).alias(
                "mutual_info_bits"
            )
        )
        .crossJoin(F.broadcast(nx_cnt))
        .crossJoin(F.broadcast(ny_cnt))
        .select(
            F.col("n_weekdays").cast("bigint").alias("n_weekdays"),
            F.col("n_types").cast("bigint").alias("n_types"),
            "mutual_info_bits",
        )
    )


# ----------------------------------------------- DAU/MAU stickiness


@query(
    "q_stickiness_dau_mau",
    oracle="""
    WITH d AS (
      SELECT CAST(date_trunc('month', ts) AS TIMESTAMP) AS month,
             CAST(date_trunc('day', ts) AS DATE) AS day,
             user_id
      FROM events
    ), dau AS (
      SELECT month, day, COUNT(DISTINCT user_id) AS dau
      FROM d GROUP BY 1, 2
    ), mau AS (
      SELECT month, COUNT(DISTINCT user_id) AS mau FROM d GROUP BY 1
    )
    SELECT a.month,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           ROUND(SUM(a.dau) / CAST(COUNT(*) AS DOUBLE), 6) AS avg_dau,
           CAST(ANY_VALUE(m.mau) AS BIGINT) AS mau,
           ROUND((SUM(a.dau) / CAST(COUNT(*) AS DOUBLE))
                 / ANY_VALUE(m.mau), 6) AS stickiness
    FROM dau a JOIN mau m USING (month)
    GROUP BY a.month ORDER BY a.month
    """,
)
def q_stickiness_dau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/MAU stickiness per month — mean daily active users over
    monthly active users, the engagement ratio product dashboards
    track (1.0 = every monthly user shows up daily).

    Scale shape: two distinct-count aggregations keyed by (month,
    day) and month — both map-side partial; the join runs on the
    months-sized rollup. Integer counts, exact IEEE divisions."""
    d = _t(spark, sf_dir, "events").select(
        F.date_trunc("month", F.col("ts")).alias("month"),
        F.date_trunc("day", F.col("ts")).cast("date").alias("day"),
        "user_id",
    )
    dau = d.groupBy("month", "day").agg(
        F.count_distinct("user_id").alias("dau")
    )
    mau = d.groupBy("month").agg(F.count_distinct("user_id").alias("mau"))
    return (
        dau.join(mau, "month")
        .groupBy("month")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_days"),
            F.round(
                F.sum("dau") / F.count(F.lit(1)).cast("double"), 6
            ).alias("avg_dau"),
            F.any_value("mau").cast("bigint").alias("mau"),
            F.round(
                (F.sum("dau") / F.count(F.lit(1)).cast("double"))
                / F.any_value("mau"),
                6,
            ).alias("stickiness"),
        )
        .orderBy("month")
    )


# --------------------------------------------- k-anonymity audit


@query(
    "q_k_anonymity_audit",
    oracle="""
    WITH qi AS (
      SELECT event_type,
             dayname(CAST(date_trunc('day', ts) AS DATE)) AS weekday,
             CAST(floor(value / 100.0) AS BIGINT) AS value_bucket,
             COUNT(*) AS n
      FROM events GROUP BY 1, 2, 3
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(SUM(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_small_groups,
           CAST(SUM(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT)
             AS n_rows_at_risk,
           CAST(MIN(n) AS BIGINT) AS min_group_size,
           ROUND(SUM(CASE WHEN n < 5 THEN n ELSE 0 END)
                 / CAST(SUM(n) AS DOUBLE), 6) AS at_risk_share
    FROM qi
    """,
)
def q_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the quasi-identifier tuple (event_type,
    weekday, value bucket): how many QI groups fall below k = 5, and
    what share of rows sits in them — the re-identification risk
    number a governance review asks for before a dataset leaves the
    boundary (pairs with pii_redact: that removes direct
    identifiers, this measures the indirect ones).

    Scale shape: one map-side-combined QI group count; the audit is
    a 1-row summary of that rollup — group cardinality, not corpus
    size, bounds everything after the first aggregate."""
    qi = (
        _t(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.date_format(
                F.date_trunc("day", F.col("ts")).cast("date"), "EEEE"
            ).alias("weekday"),
            F.floor(F.col("value") / 100.0).cast("bigint").alias(
                "value_bucket"
            ),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    small = F.col("n") < 5
    return qi.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
        F.sum(small.cast("int")).cast("bigint").alias("n_small_groups"),
        F.sum(F.when(small, F.col("n")).otherwise(0))
        .cast("bigint")
        .alias("n_rows_at_risk"),
        F.min("n").cast("bigint").alias("min_group_size"),
        F.round(
            F.sum(F.when(small, F.col("n")).otherwise(0))
            / F.sum("n").cast("double"),
            6,
        ).alias("at_risk_share"),
    )


# -------------------------------------- population stability index


@query(
    "q_population_stability",
    oracle="""
    WITH b AS (
      -- ts IS NOT NULL: a null timestamp belongs to neither half (a
      -- null is_ref would count as 'current' here but drop in Spark)
      SELECT CAST(floor(value / 100.0) AS BIGINT) AS bucket,
             dayofmonth(ts) <= 15 AS is_ref
      FROM events WHERE event_type = 'purchase' AND ts IS NOT NULL
    ), cells AS (
      SELECT bucket,
             SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS n_ref,
             SUM(CASE WHEN is_ref THEN 0 ELSE 1 END) AS n_cur
      FROM b GROUP BY bucket
    ), tot AS (
      SELECT SUM(n_ref) AS t_ref, SUM(n_cur) AS t_cur,
             COUNT(*) AS n_buckets
      FROM cells
    ), terms AS (
      -- Laplace(+1) smoothing so empty-on-one-side buckets stay
      -- finite; proportions then use N + B in the denominator
      SELECT CAST(ROUND(
               ((c.n_ref + 1) / CAST(t.t_ref + t.n_buckets AS DOUBLE)
                - (c.n_cur + 1) / CAST(t.t_cur + t.n_buckets AS DOUBLE))
               * ln(((c.n_ref + 1)
                     / CAST(t.t_ref + t.n_buckets AS DOUBLE))
                    / ((c.n_cur + 1)
                       / CAST(t.t_cur + t.n_buckets AS DOUBLE))), 12)
               AS DECIMAL(38,18)) AS term
      FROM cells c CROSS JOIN tot t
    )
    SELECT CAST((SELECT n_buckets FROM tot) AS BIGINT) AS n_buckets,
           CAST((SELECT t_ref FROM tot) AS BIGINT) AS n_ref,
           CAST((SELECT t_cur FROM tot) AS BIGINT) AS n_cur,
           ROUND(CAST(CAST(SUM(term) AS VARCHAR) AS DOUBLE), 6) AS psi,
           ROUND(CAST(CAST(SUM(term) AS VARCHAR) AS DOUBLE), 6) > 0.1
             AS drifted
    FROM terms
    """,
)
def q_population_stability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of purchase values, first half of
    the month (reference) vs second half (current) — THE tabular
    drift score risk/ML teams gate models on (PSI < 0.1 stable,
    > 0.25 action). Laplace-smoothed fixed-width value buckets keep
    both engines' proportions exact; the standard quantile-bucket
    variant swaps in the mergeable-histogram edges at scale.

    Scale shape: one map-side-combined (bucket, half) count — bucket
    cardinality, not event count, bounds everything after the first
    aggregate; a 1-row totals broadcast and a DECIMAL-summed term
    per bucket."""
    b = (
        _t(spark, sf_dir, "events")
        .filter(
            (F.col("event_type") == "purchase") & F.col("ts").isNotNull()
        )
        .select(
            F.floor(F.col("value") / 100.0).cast("bigint").alias("bucket"),
            (F.dayofmonth("ts") <= 15).alias("is_ref"),
        )
    )
    cells = b.groupBy("bucket").agg(
        F.sum(F.col("is_ref").cast("int")).alias("n_ref"),
        F.sum((~F.col("is_ref")).cast("int")).alias("n_cur"),
    ).persist()  # bucket-cardinality; feeds totals AND terms —
    cells.count()  # one corpus scan
    tot = cells.agg(
        F.sum("n_ref").alias("t_ref"),
        F.sum("n_cur").alias("t_cur"),
        F.count(F.lit(1)).alias("n_buckets"),
    )
    p_ref = (F.col("n_ref") + 1) / (
        F.col("t_ref") + F.col("n_buckets")
    ).cast("double")
    p_cur = (F.col("n_cur") + 1) / (
        F.col("t_cur") + F.col("n_buckets")
    ).cast("double")
    terms = (
        cells.crossJoin(F.broadcast(tot))  # one row — the totals
        .select(
            F.round((p_ref - p_cur) * F.log(p_ref / p_cur), 12)
            .cast("decimal(38,18)")
            .alias("term"),
            "n_buckets",
            "t_ref",
            "t_cur",
        )
    )
    psi = F.round(F.sum("term").cast("double"), 6)
    return terms.agg(
        F.any_value("n_buckets").cast("bigint").alias("n_buckets"),
        F.any_value("t_ref").cast("bigint").alias("n_ref"),
        F.any_value("t_cur").cast("bigint").alias("n_cur"),
        psi.alias("psi"),
        (psi > 0.1).alias("drifted"),
    )


# -------------------------------------------- discount elasticity


@query(
    "q_discount_elasticity",
    oracle="""
    WITH s AS (
      SELECT l_returnflag AS flag,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(CAST(SUM(CAST(l_discount AS DECIMAL(18,2)))
                  AS VARCHAR) AS DOUBLE) AS sx,
             CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)))
                  AS VARCHAR) AS DOUBLE) AS sy,
             CAST(CAST(SUM(CAST(ROUND(l_discount * l_discount, 12)
                  AS DECIMAL(38,18))) AS VARCHAR) AS DOUBLE) AS sxx,
             CAST(CAST(SUM(CAST(ROUND(l_quantity * l_quantity, 12)
                  AS DECIMAL(38,18))) AS VARCHAR) AS DOUBLE) AS syy,
             CAST(CAST(SUM(CAST(ROUND(l_discount * l_quantity, 12)
                  AS DECIMAL(38,18))) AS VARCHAR) AS DOUBLE) AS sxy
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT flag, n,
           ROUND((sxy / n - (sx / n) * (sy / n))
                 / greatest(sqrt(greatest(sxx / n - (sx / n) * (sx / n), 0))
                            * sqrt(greatest(syy / n - (sy / n) * (sy / n), 0)),
                            0.000000000001), 6) AS corr_discount_qty,
           ROUND((sxy / n - (sx / n) * (sy / n))
                 / greatest(sxx / n - (sx / n) * (sx / n),
                            0.000000000001), 6) AS ols_slope
    FROM s ORDER BY flag
    """,
)
def q_discount_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Does discounting move volume? Per return-flag correlation AND
    OLS slope of quantity on discount — the pricing-analytics readout
    (slope ≈ extra units per discount point; r near zero says the
    discounts are ritual, not causal). Five sufficient statistics per
    group, one scan.

    Determinism: raw sums go through exact DECIMAL(18,2) (the values
    are 2-decimal business numbers); squared/cross terms round at 12
    before DECIMAL accumulation; every ratio is one IEEE expression
    rounded once."""
    li = _t(spark, sf_dir, "lineitem")
    dec2, dec18 = "decimal(18,2)", "decimal(38,18)"
    s = li.groupBy(F.col("l_returnflag").alias("flag")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("l_discount").cast(dec2)).cast("double").alias("sx"),
        F.sum(F.col("l_quantity").cast(dec2)).cast("double").alias("sy"),
        F.sum(
            F.round(F.col("l_discount") * F.col("l_discount"), 12).cast(dec18)
        )
        .cast("double")
        .alias("sxx"),
        F.sum(
            F.round(F.col("l_quantity") * F.col("l_quantity"), 12).cast(dec18)
        )
        .cast("double")
        .alias("syy"),
        F.sum(
            F.round(F.col("l_discount") * F.col("l_quantity"), 12).cast(dec18)
        )
        .cast("double")
        .alias("sxy"),
    )
    mx = F.col("sx") / F.col("n")
    my = F.col("sy") / F.col("n")
    cov = F.col("sxy") / F.col("n") - mx * my
    vx = F.greatest(F.col("sxx") / F.col("n") - mx * mx, F.lit(0.0))
    vy = F.greatest(F.col("syy") / F.col("n") - my * my, F.lit(0.0))
    return s.select(
        "flag",
        "n",
        F.round(
            cov / F.greatest(F.sqrt(vx) * F.sqrt(vy), F.lit(1e-12)), 6
        ).alias("corr_discount_qty"),
        F.round(cov / F.greatest(vx, F.lit(1e-12)), 6).alias("ols_slope"),
    ).orderBy("flag")


# --------------------------------------------- l-diversity audit


@query(
    "q_l_diversity_audit",
    oracle="""
    WITH qi AS (
      SELECT c_nationkey,
             CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_bucket,
             COUNT(*) AS n,
             COUNT(DISTINCT c_mktsegment) AS l_div
      FROM customer GROUP BY 1, 2
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(SUM(CASE WHEN l_div < 3 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_low_diversity,
           CAST(SUM(CASE WHEN l_div < 3 THEN n ELSE 0 END) AS BIGINT)
             AS n_rows_at_risk,
           CAST(MIN(l_div) AS BIGINT) AS min_diversity,
           ROUND(SUM(CASE WHEN l_div < 3 THEN n ELSE 0 END)
                 / CAST(SUM(n) AS DOUBLE), 6) AS at_risk_share
    FROM qi
    """,
)
def q_l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit over the quasi-identifier tuple (nation,
    account-balance bucket) with c_mktsegment as the sensitive
    attribute: a QI group can satisfy k-anonymity (many rows) yet
    leak the sensitive value outright when every row in it shares ONE
    segment — this counts groups with fewer than l = 3 distinct
    sensitive values and the row mass exposed by them (the companion
    number to q_k_anonymity_audit; governance reviews ask for both).

    Scale shape: one map-side-combined group-by with a per-group
    COUNT DISTINCT over a 5-value domain (the distinct expands to at
    most 5 rows per group before the final fold); the audit itself is
    a 1-row summary of that rollup."""
    qi = (
        _t(spark, sf_dir, "customer")
        .groupBy(
            "c_nationkey",
            F.floor(F.col("c_acctbal") / 1000.0)
            .cast("bigint")
            .alias("bal_bucket"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct("c_mktsegment").alias("l_div"),
        )
    )
    low = F.col("l_div") < 3
    return qi.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
        F.sum(low.cast("int")).cast("bigint").alias("n_low_diversity"),
        F.sum(F.when(low, F.col("n")).otherwise(0))
        .cast("bigint")
        .alias("n_rows_at_risk"),
        F.min("l_div").cast("bigint").alias("min_diversity"),
        F.round(
            F.sum(F.when(low, F.col("n")).otherwise(0))
            / F.sum("n").cast("double"),
            6,
        ).alias("at_risk_share"),
    )


# --------------------------------------------- cohort retention


@query(
    "q_cohort_retention",
    oracle="""
    WITH uw AS (
      SELECT DISTINCT user_id,
             CAST(date_trunc('week', ts) AS DATE) AS wk
      FROM events
    ), cw AS (
      SELECT user_id, MIN(wk) AS cohort_week FROM uw GROUP BY user_id
    ), act AS (
      SELECT c.cohort_week,
             date_diff('day', c.cohort_week, u.wk) // 7 AS week_offset,
             COUNT(*) AS n_active
      FROM uw u JOIN cw c ON c.user_id = u.user_id
      GROUP BY 1, 2
    ), sz AS (
      SELECT cohort_week, COUNT(*) AS n_cohort FROM cw GROUP BY cohort_week
    )
    SELECT strftime(a.cohort_week, '%Y-%m-%d') AS cohort_week,
           CAST(a.week_offset AS BIGINT) AS week_offset,
           CAST(a.n_active AS BIGINT) AS n_active,
           CAST(s.n_cohort AS BIGINT) AS n_cohort,
           ROUND(a.n_active / CAST(s.n_cohort AS DOUBLE), 6) AS retention
    FROM act a JOIN sz s ON s.cohort_week = a.cohort_week
    ORDER BY a.cohort_week, week_offset
    """,
)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort-retention triangle: users grouped by the week of
    their FIRST event; for each cohort and week offset, the share of
    the cohort still active — the standard survival/retention report
    behind churn analysis (row (c, 0) is 100% by construction; decay
    down each cohort row is the retention curve).

    Scale shape: one distinct on (user, week) — the only corpus-sized
    shuffle; cohorts are a per-user min (map-side combinable); the
    activity rollup is (weeks × offsets)-bounded and the cohort-size
    join is a broadcast onto that bounded frame. The retention
    division is the single double expression, rounded once."""
    e = _t(spark, sf_dir, "events")
    uw = e.select(
        "user_id", F.date_trunc("week", F.col("ts")).cast("date").alias("wk")
    ).distinct()
    cw = uw.groupBy("user_id").agg(F.min("wk").alias("cohort_week"))
    act = (
        uw.join(cw, "user_id")
        .groupBy(
            "cohort_week",
            F.expr("datediff(wk, cohort_week) div 7").alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_active"))
    )
    sz = cw.groupBy("cohort_week").agg(F.count(F.lit(1)).alias("n_cohort"))
    return (
        act.join(F.broadcast(sz), "cohort_week")
        .select(
            F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
            F.col("week_offset").cast("bigint").alias("week_offset"),
            F.col("n_active").cast("bigint").alias("n_active"),
            F.col("n_cohort").cast("bigint").alias("n_cohort"),
            F.round(
                F.col("n_active") / F.col("n_cohort").cast("double"), 6
            ).alias("retention"),
        )
        .orderBy("cohort_week", "week_offset")
    )


# --------------------------------------------- A/B conversion z-test


@query(
    "q_ab_conversion_ztest",
    oracle="""
    WITH u AS (
      SELECT user_id,
             substr(md5('ab' || CAST(user_id AS VARCHAR)), 1, 8)
               < '80000000' AS in_a,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS converted
      FROM events GROUP BY 1, 2
    ), s AS (
      SELECT CAST(SUM(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             CAST(SUM(CASE WHEN in_a THEN 0 ELSE 1 END) AS BIGINT) AS n_b,
             CAST(SUM(CASE WHEN in_a THEN converted ELSE 0 END) AS BIGINT)
               AS conv_a,
             CAST(SUM(CASE WHEN in_a THEN 0 ELSE converted END) AS BIGINT)
               AS conv_b
      FROM u
    )
    SELECT n_a, n_b, conv_a, conv_b,
           ROUND(conv_a / CAST(n_a AS DOUBLE), 6) AS rate_a,
           ROUND(conv_b / CAST(n_b AS DOUBLE), 6) AS rate_b,
           CASE WHEN n_a = 0 OR n_b = 0
                  OR conv_a + conv_b = 0
                  OR conv_a + conv_b = n_a + n_b
             THEN NULL
             ELSE ROUND(
               (conv_a / CAST(n_a AS DOUBLE) - conv_b / CAST(n_b AS DOUBLE))
               / sqrt(
                   ((conv_a + conv_b) / CAST(n_a + n_b AS DOUBLE))
                   * (1.0 - (conv_a + conv_b) / CAST(n_a + n_b AS DOUBLE))
                   * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE))
                 ),
               6) END AS z_score
    FROM s
    """,
)
def q_ab_conversion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test for an A/B experiment: users split 50/50
    by the portable md5 hash (never user_id parity — modulo splits
    correlate with fixture assignment rules), conversion = the user
    purchased at least once, and the pooled-variance z statistic that
    decides whether the variants' conversion rates differ beyond
    noise — the readout every experimentation pipeline ends with.

    Scale shape: one user-keyed rollup (map-side combinable MAX) then
    a 1-row fold of four exact integer counts; the z formula is a
    single double expression written IDENTICALLY in both engines over
    those exact counts, rounded once."""
    e = _t(spark, sf_dir, "events")
    u = e.groupBy(
        "user_id",
        (
            F.substring(
                F.md5(F.concat(F.lit("ab"), F.col("user_id").cast("string"))),
                1,
                8,
            )
            < "80000000"
        ).alias("in_a"),
    ).agg(
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("converted")
    )
    s = u.agg(
        F.sum(F.when(F.col("in_a"), 1).otherwise(0)).cast("bigint").alias("n_a"),
        F.sum(F.when(F.col("in_a"), 0).otherwise(1)).cast("bigint").alias("n_b"),
        F.sum(F.when(F.col("in_a"), F.col("converted")).otherwise(0))
        .cast("bigint")
        .alias("conv_a"),
        F.sum(F.when(F.col("in_a"), 0).otherwise(F.col("converted")))
        .cast("bigint")
        .alias("conv_b"),
    )
    rate_a = F.col("conv_a") / F.col("n_a").cast("double")
    rate_b = F.col("conv_b") / F.col("n_b").cast("double")
    pooled = (F.col("conv_a") + F.col("conv_b")) / (
        F.col("n_a") + F.col("n_b")
    ).cast("double")
    return s.select(
        "n_a",
        "n_b",
        "conv_a",
        "conv_b",
        F.round(rate_a, 6).alias("rate_a"),
        F.round(rate_b, 6).alias("rate_b"),
        # degenerate designs (an empty variant, zero or universal
        # conversion) have no finite z — NULL in both engines, and
        # the guard also keeps ANSI mode from raising on the division
        F.when(
            (F.col("n_a") == 0)
            | (F.col("n_b") == 0)
            | (F.col("conv_a") + F.col("conv_b") == 0)
            | (F.col("conv_a") + F.col("conv_b") == F.col("n_a") + F.col("n_b")),
            F.lit(None).cast("double"),
        )
        .otherwise(
            F.round(
                (rate_a - rate_b)
                / F.sqrt(
                    pooled
                    * (F.lit(1.0) - pooled)
                    * (
                        F.lit(1.0) / F.col("n_a").cast("double")
                        + F.lit(1.0) / F.col("n_b").cast("double")
                    )
                ),
                6,
            )
        )
        .alias("z_score"),
    )


# ------------------------------------------- Kaplan–Meier survival

_KM_MONTH_DAYS = 30  # duration bucket width
_KM_CHURN_DAYS = 90  # inactive-this-long-at-cutoff = churned


@query(
    "q_kaplan_meier",
    oracle=f"""
    WITH c AS (
      SELECT o_custkey, min(o_orderdate) AS f, max(o_orderdate) AS l
      FROM orders GROUP BY o_custkey
    ), d AS (
      SELECT CAST(date_diff('day', f, l) // {_KM_MONTH_DAYS} AS BIGINT) AS t,
             CASE WHEN date_diff('day', l,
                    (SELECT max(o_orderdate) FROM orders))
                  > {_KM_CHURN_DAYS} THEN 1 ELSE 0 END AS ev
      FROM c
    ), r AS (
      SELECT t, COUNT(*) AS c_t, SUM(ev) AS d_t FROM d GROUP BY t
    ), rr AS (
      SELECT t, d_t,
             SUM(c_t) OVER (ORDER BY t DESC ROWS UNBOUNDED PRECEDING) AS n_t
      FROM r
    ), fct AS (
      SELECT t, d_t, n_t,
             CAST(ROUND(CAST(n_t - d_t AS DOUBLE) / CAST(n_t AS DOUBLE), 12)
                  AS DECIMAL(18,12)) AS fac
      FROM rr
    ), lst AS (
      SELECT list(fac ORDER BY t) AS fl FROM fct
    ), idx AS (
      SELECT t, d_t, n_t, ROW_NUMBER() OVER (ORDER BY t) AS i FROM fct
    )
    SELECT idx.t AS months,
           CAST(idx.n_t AS BIGINT) AS n_at_risk,
           CAST(idx.d_t AS BIGINT) AS n_churned,
           ROUND(CAST(list_reduce(lst.fl[1:idx.i],
                   (a, b) -> CAST(ROUND(a * b, 12) AS DECIMAL(18,12)))
                 AS DOUBLE), 6) AS survival
    FROM idx, lst
    """,
)
def q_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier survival curve of customer lifetime: duration =
    months between a customer's first and last order, churn event =
    no order within 90 days (_KM_CHURN_DAYS) of the observation cutoff
    (still-active customers are right-censored — they thin the risk
    set without counting as deaths, which is the whole point of KM
    over a naive churn-rate-by-age). One row per observed duration:
    the at-risk count, churn events, and the survival estimate
    S(t) = the product over u <= t of (1 - d_u/n_u).

    Scale shape: one per-customer aggregate (corpus-sized, one
    shuffle), then everything runs on the duration-bucket frame —
    bounded by the calendar (≤ ~100 months), never by row count. The
    product fold multiplies per-step factors in exact DECIMAL(18,12)
    — 18, not 38: a 38-precision decimal product trips Spark's
    precision-loss scale collapse (result scale 6) and truncates the
    fold, while 18+18+1 = 37 keeps the full 24-digit product — with
    per-step rounding (Spark F.aggregate / DuckDB list_reduce compute
    the identical sequence), so the curve is bit-stable under any
    partitioning."""
    from dasladen_spark.functions.vectors import bounded_window_key

    o = _t(spark, sf_dir, "orders")
    c = o.groupBy("o_custkey").agg(
        F.min("o_orderdate").alias("f"), F.max("o_orderdate").alias("l")
    )
    end = o.agg(F.max("o_orderdate").alias("endd"))
    d = c.crossJoin(F.broadcast(end)).select(
        F.expr(
            f"CAST(datediff(l, f) DIV {_KM_MONTH_DAYS} AS BIGINT)"
        ).alias("t"),
        (F.datediff("endd", "l") > _KM_CHURN_DAYS).cast("int").alias("ev"),
    )
    r = d.groupBy("t").agg(
        F.count(F.lit(1)).alias("c_t"), F.sum("ev").alias("d_t")
    )
    w_risk = (
        Window.partitionBy(bounded_window_key(F.col("c_t")))
        .orderBy(F.col("t").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    rr = r.select("t", "d_t", F.sum("c_t").over(w_risk).alias("n_t"))
    fct = rr.select(
        "t",
        "d_t",
        "n_t",
        F.round(
            (F.col("n_t") - F.col("d_t")).cast("double")
            / F.col("n_t").cast("double"),
            12,
        )
        .cast("decimal(18,12)")
        .alias("fac"),
    )
    lst = fct.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("t", "fac"))),
            lambda x: x["fac"],
        ).alias("fl")
    )
    w_i = Window.partitionBy(bounded_window_key(F.col("d_t"))).orderBy("t")
    idx = fct.select(
        "t", "d_t", "n_t", F.row_number().over(w_i).alias("i")
    )
    return idx.crossJoin(F.broadcast(lst)).select(
        F.col("t").alias("months"),
        F.col("n_t").cast("bigint").alias("n_at_risk"),
        F.col("d_t").cast("bigint").alias("n_churned"),
        F.round(
            F.aggregate(
                F.slice(F.col("fl"), F.lit(1), F.col("i")),
                F.lit(1).cast("decimal(18,12)"),
                lambda acc, x: F.round(acc * x, 12).cast("decimal(18,12)"),
            ).cast("double"),
            6,
        ).alias("survival"),
    )
