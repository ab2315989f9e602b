"""Relational/analytic queries, part 8: Kaplan–Meier survival (customer
churn) and z-order space-filling-curve locality (the data-skipping
layout audit).

Beyond-reference operators (the reference delegates all query power to
an RDBMS, /root/reference/dasladen/task.py:94-107). Determinism
discipline as in relational3+: exact integer arithmetic for every
comparison and bucket boundary; per-step DECIMAL(18,12) rounding inside
the survival fold so the product is engine- and partition-order-exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dasladen_spark.plans.registry import query
from dasladen_spark.session import load_table as _t
from dasladen_spark.sinks.zorder import _Z_BITS, zvalue

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


# --------------------------------------------- z-order curve locality

_Z_CELL_SHIFT = 6  # cells of 64 consecutive z values


def _z_sql(xb: str, yb: str) -> str:
    """The identical Morton interleave in portable SQL."""
    terms = []
    for k in range(_Z_BITS):
        terms.append(f"((({xb} >> {k}) & 1) * {1 << (2 * k + 1)})")
        terms.append(f"((({yb} >> {k}) & 1) * {1 << (2 * k)})")
    return " + ".join(terms)


@query(
    "q_zorder_locality",
    oracle=f"""
    WITH b AS (
      SELECT min(o_custkey) AS minc, max(o_custkey) AS maxc,
             min(o_orderdate) AS mind, max(o_orderdate) AS maxd
      FROM orders
    ), s AS (
      SELECT ((o.o_custkey - b.minc) * 255) // (b.maxc - b.minc) AS xb,
             (date_diff('day', b.mind, o.o_orderdate) * 255)
               // date_diff('day', b.mind, b.maxd) AS yb
      FROM orders o, b
    ), z AS (
      SELECT xb, yb, {_z_sql("xb", "yb")} AS zv FROM s
    )
    SELECT zv >> {_Z_CELL_SHIFT} AS cell,
           COUNT(*) AS n_rows,
           CAST(min(xb) AS BIGINT) AS min_x,
           CAST(max(xb) AS BIGINT) AS max_x,
           CAST(min(yb) AS BIGINT) AS min_y,
           CAST(max(yb) AS BIGINT) AS max_y,
           CAST((max(xb) - min(xb) + 1) * (max(yb) - min(yb) + 1)
                AS BIGINT) AS bbox_area
    FROM z GROUP BY cell
    """,
)
def q_zorder_locality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton curve) locality audit over orders, bucketed on
    (customer, order date): rows grouped into cells of 64 consecutive
    z values, each cell reporting its row count and the bounding box
    it spans in the original two dimensions. Small bbox_area per cell
    is the property data skipping monetizes — a file holding one cell
    prunes against BOTH columns' min/max stats, where a single-column
    sort gives tight bounds on one axis and the full range on the
    other. This query is the audit; sinks.zorder.write_zordered is
    the writer that lays files out this way.

    Scale shape: two scalar aggregates broadcast the global bounds;
    bucket, interleave, and cell are pure integer JVM expressions
    (exact `DIV`, shifts, masks — no doubles anywhere), then one
    aggregate over ≤ 2^{2 * _Z_BITS - _Z_CELL_SHIFT} cells."""
    o = _t(spark, sf_dir, "orders")
    b = o.agg(
        F.min("o_custkey").alias("minc"),
        F.max("o_custkey").alias("maxc"),
        F.min("o_orderdate").alias("mind"),
        F.max("o_orderdate").alias("maxd"),
    )
    s = o.crossJoin(F.broadcast(b)).select(
        F.expr("((o_custkey - minc) * 255) DIV (maxc - minc)").alias("xb"),
        F.expr(
            "(datediff(o_orderdate, mind) * 255) DIV datediff(maxd, mind)"
        ).alias("yb"),
    )
    z = s.select(
        "xb", "yb", zvalue(F.col("xb"), F.col("yb")).alias("zv")
    )
    return z.groupBy(
        F.shiftright(F.col("zv"), _Z_CELL_SHIFT).alias("cell")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("xb").cast("bigint").alias("min_x"),
        F.max("xb").cast("bigint").alias("max_x"),
        F.min("yb").cast("bigint").alias("min_y"),
        F.max("yb").cast("bigint").alias("max_y"),
        (
            (F.max("xb") - F.min("xb") + 1) * (F.max("yb") - F.min("yb") + 1)
        )
        .cast("bigint")
        .alias("bbox_area"),
    )


# ------------------------------------------ forecast backtesting

_BT_WIN_DAYS_LO = 7  # strictly-prior weeks only: no target leakage
_BT_WIN_DAYS_HI = 84  # 12-week EWMA window, shifted one week back


@query(
    "q_forecast_backtest",
    oracle="""
    WITH wk AS (
      SELECT n.n_name AS nation,
             CAST(date_trunc('week', o.o_orderdate) AS TIMESTAMP) AS week,
             CAST(SUM(CAST(o.o_totalprice AS DECIMAL(24,6)))
                  AS DECIMAL(24,6)) AS rev
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      GROUP BY 1, 2
    ), wts AS (
      SELECT unnest(generate_series(0, 11)) AS j,
             unnest([CAST('1' AS DECIMAL(13,11)), CAST('0.8' AS DECIMAL(13,11)), CAST('0.64' AS DECIMAL(13,11)), CAST('0.512' AS DECIMAL(13,11)), CAST('0.4096' AS DECIMAL(13,11)), CAST('0.32768' AS DECIMAL(13,11)), CAST('0.262144' AS DECIMAL(13,11)), CAST('0.2097152' AS DECIMAL(13,11)), CAST('0.16777216' AS DECIMAL(13,11)), CAST('0.134217728' AS DECIMAL(13,11)), CAST('0.1073741824' AS DECIMAL(13,11)), CAST('0.08589934592' AS DECIMAL(13,11))]) AS wt
    ), pairs AS (
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
    the final division (VARCHAR-reduced, the llm6 recipe) and the
    already-rounded errors, each re-rounded to 12 before the exact
    DECIMAL accumulation."""
    from dasladen_spark.plans.llm6 import _EWMA_W

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
    wts = F.array(*[F.lit(w).cast("decimal(13,11)") for w in _EWMA_W])
    # the calendar-sized series feeds BOTH self-join sides —
    # without a persist the whole fact-table join+rollup runs
    # once per side (r12 plan audit: operators 1-16 duplicated
    # verbatim at 18-33). ≤ |nations|x|weeks| rows at ANY
    # corpus size, so the cache is bounded and the saved pass
    # is over the fact table.
    wk = wk.persist()
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
    from dasladen_spark.functions.vectors import bounded_window_key

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
