"""TPC-H query shapes over the fixture schema.

The fixture has no partsupp, commitdate or shipmode columns, so each
query keeps the *plan shape* of its TPC-H counterpart on the columns
that exist. The reference pushes this SQL to its backing RDBMS
(``dasladen/task.py``); here Spark SQL is that engine.

Exact-hash discipline (see the registry docstring): SUMs over doubles
go through DECIMAL, averages are decimal sum / count, and top-k orders
carry a unique-key tiebreak. Scale notes (which joins broadcast, where
the shuffles are) are in each query's docstring.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dasladen_spark.plans.registry import query
from dasladen_spark.plans.shared import DISC_PRICE_SQL, dec, disc_price
from dasladen_spark.session import load_table as _t


def _ts(s: str):
    return F.lit(s).cast("timestamp_ntz")


def _charge():
    return (
        F.col("l_extendedprice")
        * (F.lit(1.0) - F.col("l_discount"))
        * (F.lit(1.0) + F.col("l_tax"))
    ).cast("decimal(18,6)")


_SQL_CHARGE = (
    "CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))"
)


# --------------------------------------------------------------- scans


@query(
    "scan_filter_project",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
    FROM lineitem
    WHERE l_quantity > 45 AND l_returnflag = 'R'
    """,
)
def scan_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter + projection — must push down to the parquet scan
    (PushedFilters + 4-column ReadSchema in .explain)."""
    return (
        _t(spark, sf_dir, "lineitem")
        .filter((F.col("l_quantity") > 45) & (F.col("l_returnflag") == "R"))
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
    )


# ---------------------------------------------------------- aggregates


@query(
    "q1_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS sum_base_price,
           CAST(SUM({DISC_PRICE_SQL}) AS DECIMAL(38,6)) AS sum_disc_price,
           CAST(SUM({_SQL_CHARGE}) AS DECIMAL(38,6)) AS sum_charge,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_price,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan + partial/final hash aggregate (map-side
    combine is automatic; 6 groups → tiny shuffle)."""
    l = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= _ts("2000-09-02")
    )
    return l.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(dec("l_quantity")).cast("decimal(38,4)").alias("sum_qty"),
        F.sum(dec("l_extendedprice")).cast("decimal(38,4)").alias("sum_base_price"),
        F.sum(disc_price()).cast("decimal(38,6)").alias("sum_disc_price"),
        F.sum(_charge()).cast("decimal(38,6)").alias("sum_charge"),
        (F.sum(dec("l_quantity")).cast("double") / F.count(F.lit(1))).alias("avg_qty"),
        (F.sum(dec("l_extendedprice")).cast("double") / F.count(F.lit(1))).alias(
            "avg_price"
        ),
        F.count(F.lit(1)).alias("count_order"),
    )


# --------------------------------------------------------------- joins


@query(
    "q3_shipping_priority",
    oracle=f"""
    SELECT o_orderkey,
           CAST(SUM({DISC_PRICE_SQL}) AS DECIMAL(38,6)) AS revenue,
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15'
      AND l_shipdate > TIMESTAMP '1998-03-15'
    GROUP BY o_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter first, fact join second,
    top-k with deterministic tiebreak. Catalyst broadcasts the
    filtered customer side under the 64 MB threshold."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < _ts("1998-03-15"))
    l = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > _ts("1998-03-15"))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(disc_price()).cast("decimal(38,6)").alias("revenue"))
        .select("o_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
    )


@query(
    "q5_local_supplier_volume",
    oracle=f"""
    SELECT n_name,
           CAST(SUM({DISC_PRICE_SQL}) AS DECIMAL(38,6)) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY n_name
    """,
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way join; all dims broadcast, lineitem never
    shuffles until the final 25-group aggregate."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1996-01-01"))
        & (F.col("o_orderdate") < _ts("1997-01-01"))
    )
    l = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = F.broadcast(_t(spark, sf_dir, "nation"))
    r = F.broadcast(_t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA"))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(c, (o.o_custkey == c.c_custkey) & (c.c_nationkey == s.s_nationkey))
        .join(n, s.s_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(F.sum(disc_price()).cast("decimal(38,6)").alias("revenue"))
    )


@query(
    "q10_returned_items",
    oracle=f"""
    SELECT c_custkey, c_name,
           CAST(SUM({DISC_PRICE_SQL}) AS DECIMAL(38,6)) AS revenue,
           c_acctbal, n_name
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1997-10-01'
      AND o_orderdate <  TIMESTAMP '1998-01-01'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: returned-item revenue per customer, top 20."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1997-10-01"))
        & (F.col("o_orderdate") < _ts("1998-01-01"))
    )
    l = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = F.broadcast(_t(spark, sf_dir, "nation"))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.sum(disc_price()).cast("decimal(38,6)").alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


@query(
    "q15_top_supplier",
    oracle=f"""
    WITH rev AS (
      SELECT l_suppkey,
             CAST(SUM({DISC_PRICE_SQL}) AS DECIMAL(38,6)) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate <  TIMESTAMP '1997-04-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN rev ON s_suppkey = l_suppkey
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
    ORDER BY s_suppkey
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: aggregate subquery + scalar-max filter.
    Decimal revenue makes the equality join against MAX exact."""
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1997-01-01"))
        & (F.col("l_shipdate") < _ts("1997-04-01"))
    )
    rev = l.groupBy("l_suppkey").agg(
        F.sum(disc_price()).cast("decimal(38,6)").alias("total_revenue")
    )
    mx = rev.agg(F.max("total_revenue").alias("__mx"))
    s = _t(spark, sf_dir, "supplier")
    return (
        rev.join(F.broadcast(mx), rev.total_revenue == F.col("__mx"))
        .join(s, rev.l_suppkey == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


@query(
    "q6_forecast_revenue",
    oracle=f"""
    SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,6)))
                AS DECIMAL(38,6)) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
      AND l_discount >= 0.03 AND l_discount <= 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure pushed-down filter + global aggregate —
    zero shuffles beyond the single-row partial-agg exchange."""
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1997-01-01"))
        & (F.col("l_shipdate") < _ts("1998-01-01"))
        & (F.col("l_discount") >= 0.03)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return l.agg(
        F.sum((F.col("l_extendedprice") * F.col("l_discount")).cast("decimal(18,6)"))
        .cast("decimal(38,6)")
        .alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


@query(
    "q4_order_priority",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate <  TIMESTAMP '1997-04-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey
                    AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
    GROUP BY o_orderpriority
    """,
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS with a correlated range condition →
    left-semi join with a residual predicate."""
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1997-01-01"))
        & (F.col("o_orderdate") < _ts("1997-04-01"))
    )
    l = _t(spark, sf_dir, "lineitem")
    slow = o.join(
        l,
        on=[
            o.o_orderkey == l.l_orderkey,
            l.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 60 DAY"),
        ],
        how="left_semi",
    )
    return slow.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("order_count"))


@query(
    "q18_large_orders",
    oracle="""
    WITH big AS (
      SELECT l_orderkey, CAST(SUM(CAST(l_quantity AS DECIMAL(18,4)))
                              AS DECIMAL(38,4)) AS total_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING SUM(CAST(l_quantity AS DECIMAL(18,4))) > 250
    )
    SELECT c_custkey, c_name, o_orderkey, o_totalprice, total_qty
    FROM big
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 50
    """,
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: HAVING aggregate feeding a join, then top-k.
    The aggregate runs FIRST (shrinks lineitem to qualifying orders)
    so the join inputs are minimal — the at-scale ordering."""
    l = _t(spark, sf_dir, "lineitem")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum(dec("l_quantity")).cast("decimal(38,4)").alias("total_qty"))
        .filter(F.col("total_qty") > 250)
    )
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select("c_custkey", "c_name", "o_orderkey", "o_totalprice", "total_qty")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(50)
    )


@query(
    "q7_nation_volume",
    oracle=f"""
    SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
           year(l_shipdate) AS l_year,
           CAST(SUM({DISC_PRICE_SQL}) AS DECIMAL(38,6)) AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation sn ON s_nationkey = sn.n_nationkey
    JOIN nation cn ON c_nationkey = cn.n_nationkey
    WHERE ((sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
        OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1'))
      AND l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31'
    GROUP BY 1, 2, 3
    """,
)
def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: volume shipping between two nations by year.

    Plan: lineitem⋈orders is the one big shuffle; customer/supplier
    shuffle on their keys; both nation dims broadcast. The nation-pair
    disjunction is applied after the dim joins (it needs both names) —
    at 100 TB, pre-filtering supplier/customer to the two nations
    *before* the fact join shrinks the shuffled fact rows, which the
    semi-join below does explicitly rather than hoping for a dynamic
    filter."""
    n = _t(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_1", "NATION_2")
    )
    s = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    c = (
        _t(spark, sf_dir, "customer")
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    l = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").between(_ts("1996-01-01"), _ts("1997-12-31"))
    )
    o = _t(spark, sf_dir, "orders")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
        )
        .agg(F.sum(disc_price()).cast("decimal(38,6)").alias("revenue"))
    )


@query(
    "q8_market_share",
    oracle=f"""
    SELECT o_year,
           CAST(SUM(CASE WHEN nat = 'NATION_3' THEN volume
                         ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
             / CAST(SUM(volume) AS DOUBLE) AS mkt_share
    FROM (
      SELECT year(o_orderdate) AS o_year,
             {DISC_PRICE_SQL} AS volume,
             sn.n_name AS nat
      FROM lineitem
      JOIN orders    ON l_orderkey = o_orderkey
      JOIN customer  ON o_custkey = c_custkey
      JOIN nation cn ON c_nationkey = cn.n_nationkey
      JOIN region    ON cn.n_regionkey = r_regionkey
      JOIN supplier  ON l_suppkey = s_suppkey
      JOIN nation sn ON s_nationkey = sn.n_nationkey
      JOIN part      ON l_partkey = p_partkey
      WHERE r_name = 'ASIA' AND p_type = 'PROMO'
        AND o_orderdate BETWEEN TIMESTAMP '1996-01-01'
                            AND TIMESTAMP '1997-12-31'
    ) t
    GROUP BY o_year
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's share of regional PROMO-part
    revenue per year. Region/nation broadcast; part filtered to PROMO
    before joining (dimension pre-filter = smaller build side); the
    decimal volume keeps the share numerator/denominator exact until
    the final double division."""
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    cn = _t(spark, sf_dir, "nation")
    sn = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("nat")
    )
    c = (
        _t(spark, sf_dir, "customer")
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("c_custkey")
    )
    s = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .select("s_suppkey", "nat")
    )
    p = _t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").between(_ts("1996-01-01"), _ts("1997-12-31"))
    )
    l = _t(spark, sf_dir, "lineitem")
    vol = (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            F.year("o_orderdate").alias("o_year"),
            disc_price().alias("volume"),
            "nat",
        )
    )
    zero = F.lit(0).cast("decimal(18,6)")
    return vol.groupBy("o_year").agg(
        (
            F.sum(F.when(F.col("nat") == "NATION_3", F.col("volume")).otherwise(zero))
            .cast("double")
            / F.sum("volume").cast("double")
        ).alias("mkt_share")
    )


@query(
    "q9_profit_proxy",
    oracle="""
    SELECT n_name AS nation, year(o_orderdate) AS o_year,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                         - p_retailprice * l_quantity
                    AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS sum_profit
    FROM lineitem
    JOIN part     ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN orders   ON l_orderkey = o_orderkey
    WHERE p_name LIKE '%gear%'
    GROUP BY 1, 2
    """,
)
def q9_profit_proxy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (profit per nation/year), with p_retailprice
    standing in for ps_supplycost (no partsupp in the fixture).
    Part is filtered by the LIKE before the fact join; supplier→nation
    broadcast; the only big shuffle is lineitem⋈orders."""
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%gear%"))
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    profit = (
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
        - F.col("p_retailprice") * F.col("l_quantity")
    ).cast("decimal(18,6)")
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(F.sum(profit).cast("decimal(38,6)").alias("sum_profit"))
    )


@query(
    "q13_custdist",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist
    FROM (
      SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey
    ) t
    GROUP BY c_count
    """,
)
def q13_custdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: distribution of per-customer order counts,
    customers with zero orders included (left outer join, COUNT of
    the nullable key). Two shuffles: the outer join on custkey and
    the tiny distribution re-agg."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "1-URGENT")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy(c.c_custkey)
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@query(
    "q14_promo_revenue",
    oracle=f"""
    SELECT 100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO' THEN {DISC_PRICE_SQL}
                                 ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
           / CAST(SUM({DISC_PRICE_SQL}) AS DOUBLE) AS promo_revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-03-01'
      AND l_shipdate <  TIMESTAMP '1997-04-01'
    """,
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14: promo revenue percentage for one month. The date
    filter prunes the fact scan; part broadcasts; single partial+final
    aggregate, no other shuffle."""
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1997-03-01"))
        & (F.col("l_shipdate") < _ts("1997-04-01"))
    )
    p = _t(spark, sf_dir, "part")
    zero = F.lit(0).cast("decimal(18,6)")
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .agg(
            (
                F.lit(100.0)
                * F.sum(
                    F.when(F.col("p_type") == "PROMO", disc_price()).otherwise(zero)
                ).cast("double")
                / F.sum(disc_price()).cast("double")
            ).alias("promo_revenue")
        )
    )


@query(
    "q16_supplier_cnt",
    oracle="""
    SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_brand <> 'Brand#1' AND p_size IN (1, 4, 7, 10, 13)
    GROUP BY 1, 2, 3
    """,
)
def q16_supplier_cnt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct suppliers per part attribute bucket
    (lineitem⋈part standing in for partsupp). COUNT(DISTINCT) expands
    to a two-level aggregate — partial distinct on (group, suppkey)
    before the final shuffle, which is how it survives skewed
    brands."""
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1") & F.col("p_size").isin(1, 4, 7, 10, 13)
    )
    l = _t(spark, sf_dir, "lineitem")
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


@query(
    "q17_small_qty_revenue",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / 7.0
             AS avg_yearly
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    JOIN (
      SELECT l_partkey AS a_partkey,
             0.5 * (CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
                    / COUNT(*)) AS qty_thresh
      FROM lineitem GROUP BY l_partkey
    ) a ON p_partkey = a_partkey
    WHERE p_brand = 'Brand#2' AND l_quantity < qty_thresh
    """,
)
def q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17: revenue lost to small orders. The correlated AVG
    subquery is decorrelated into a per-part aggregate joined back on
    partkey — one extra shuffle instead of a per-row subquery. The
    threshold average is decimal-sum / count for partition-order
    independence."""
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#2")
    avg_q = l.groupBy(F.col("l_partkey").alias("a_partkey")).agg(
        (
            F.lit(0.5)
            * (F.sum(dec("l_quantity")).cast("double") / F.count(F.lit(1)))
        ).alias("qty_thresh")
    )
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(avg_q, F.col("p_partkey") == F.col("a_partkey"))
        .filter(F.col("l_quantity") < F.col("qty_thresh"))
        .agg(
            (F.sum(dec("l_extendedprice")).cast("double") / F.lit(7.0)).alias(
                "avg_yearly"
            )
        )
    )


@query(
    "q19_or_predicates",
    oracle=f"""
    SELECT CAST(SUM({DISC_PRICE_SQL}) AS DECIMAL(38,6)) AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 20 AND 30)
    """,
)
def q19_or_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19: disjunctive mixed-table predicates. The part-only
    disjunct union (brand ∈ {12,23,34}, size ≤ 15) is implied by the
    OR and pre-filters the broadcast side; the full disjunction is
    evaluated post-join — same split Catalyst derives via
    constraint propagation."""
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    cond = (
        (F.col("p_brand") == "Brand#12")
        & F.col("p_size").between(1, 5)
        & F.col("l_quantity").between(1, 11)
    ) | (
        (F.col("p_brand") == "Brand#23")
        & F.col("p_size").between(1, 10)
        & F.col("l_quantity").between(10, 20)
    ) | (
        (F.col("p_brand") == "Brand#34")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(20, 30)
    )
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(F.sum(disc_price()).cast("decimal(38,6)").alias("revenue"))
    )


@query(
    "q20_excess_suppliers",
    oracle="""
    SELECT s_suppkey, s_name
    FROM supplier
    WHERE s_suppkey IN (
      SELECT l_suppkey
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate <  TIMESTAMP '1998-01-01'
      GROUP BY l_suppkey, l_partkey
      HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) > 60
    )
    ORDER BY s_suppkey
    """,
)
def q20_excess_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers who shipped an excess quantity of
    some part in 1997. Aggregate-then-semi-join: the HAVING runs on
    the (suppkey, partkey) grain, then a LEFT SEMI join keeps
    supplier rows — no row duplication, no distinct needed."""
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1997-01-01"))
        & (F.col("l_shipdate") < _ts("1998-01-01"))
    )
    excess = (
        l.groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(dec("l_quantity")).cast("double").alias("qty"))
        .filter(F.col("qty") > 60)
        .select("l_suppkey")
    )
    s = _t(spark, sf_dir, "supplier")
    return (
        s.join(excess, s.s_suppkey == excess.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


@query(
    "q22_idle_customers",
    oracle="""
    SELECT cohort, COUNT(*) AS numcust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DECIMAL(38,4))
             AS totacctbal
    FROM (
      SELECT substr(c_name, 1, 11) AS cohort, c_acctbal
      FROM customer
      WHERE c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4)))
                                     AS DOUBLE) / COUNT(*)
                         FROM customer WHERE c_acctbal > 0.0)
        AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                            AND o_orderpriority = '1-URGENT')
    ) t
    GROUP BY cohort
    """,
)
def q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22: positive-balance-above-average customers with no
    urgent orders (every fixture customer has *some* order). The scalar AVG subquery is computed once and broadcast as
    a 1-row cross join (Spark plans a BroadcastNestedLoopJoin —
    constant-folding it into the filter); the NOT EXISTS is a LEFT
    ANTI join on custkey."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    avg_bal = (
        c.filter(F.col("c_acctbal") > 0.0)
        .agg(
            (F.sum(dec("c_acctbal")).cast("double") / F.count(F.lit(1))).alias(
                "__avg_bal"
            )
        )
    )
    return (
        c.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("__avg_bal"))
        .join(
            o.filter(F.col("o_orderpriority") == "1-URGENT"),
            c.c_custkey == o.o_custkey,
            "left_anti",
        )
        .select(F.substring("c_name", 1, 11).alias("cohort"), "c_acctbal")
        .groupBy("cohort")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(dec("c_acctbal")).cast("decimal(38,4)").alias("totacctbal"),
        )
    )


@query(
    "q2_min_balance_supplier",
    oracle="""
    WITH shipped AS (
      SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
    ), ranked AS (
      SELECT p_partkey, p_brand, s_suppkey, s_name, s_acctbal,
             ROW_NUMBER() OVER (PARTITION BY p_partkey
                                ORDER BY s_acctbal, s_suppkey) AS rn
      FROM part
      JOIN shipped  ON p_partkey = l_partkey
      JOIN supplier ON l_suppkey = s_suppkey
      WHERE p_size = 7
    )
    SELECT p_partkey, p_brand, s_suppkey, s_name, s_acctbal
    FROM ranked WHERE rn = 1
    """,
)
def q2_min_balance_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: per-part argmin over its suppliers (min
    s_acctbal standing in for min ps_supplycost). The correlated MIN
    subquery becomes a single window row_number over the part grain —
    one shuffle on p_partkey, ties broken by suppkey for determinism."""
    shipped = (
        _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey").distinct()
    )
    p = _t(spark, sf_dir, "part").filter(F.col("p_size") == 7)
    s = _t(spark, sf_dir, "supplier")
    joined = (
        shipped.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .select("p_partkey", "p_brand", "s_suppkey", "s_name", "s_acctbal")
    )
    w = Window.partitionBy("p_partkey").orderBy(
        F.col("s_acctbal").asc(), F.col("s_suppkey").asc()
    )
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


@query(
    "q11_important_stock",
    oracle="""
    SELECT l_partkey,
           CAST(SUM(CAST(l_extendedprice * l_quantity AS DECIMAL(18,4)))
                AS DECIMAL(38,4)) AS part_value
    FROM lineitem
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    WHERE n_name IN ('NATION_1', 'NATION_3', 'NATION_8')
    GROUP BY l_partkey
    HAVING CAST(SUM(CAST(l_extendedprice * l_quantity AS DECIMAL(18,4)))
                AS DOUBLE) >
      (SELECT 0.0001 * CAST(SUM(CAST(l_extendedprice * l_quantity
                                     AS DECIMAL(18,4))) AS DOUBLE)
       FROM lineitem
       JOIN supplier ON l_suppkey = s_suppkey
       JOIN nation   ON s_nationkey = n_nationkey
       WHERE n_name IN ('NATION_1', 'NATION_3', 'NATION_8'))
    """,
)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: per-part inventory value held by a nation
    group's suppliers, kept only when it exceeds a fraction of the
    group-wide total (value = extendedprice*quantity standing in for
    ps_supplycost*ps_availqty — no partsupp in the fixture).

    Plan: nation-filtered supplier keys broadcast as a semi-join
    filter on the fact scan; one shuffle for the per-part aggregate.
    The scalar total reuses the same filtered scan (Spark's
    ReusedExchange picks it up when AQE materializes the semi-join)
    and broadcasts as a 1-row threshold. Value sums are decimal for
    partition-order independence; the threshold compare happens in
    double on both sides with identical multiplication order."""
    n = _t(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_1", "NATION_3", "NATION_8")
    )
    s = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey")
    )
    l = _t(spark, sf_dir, "lineitem")
    val = (F.col("l_extendedprice") * F.col("l_quantity")).cast("decimal(18,4)")
    filtered = l.join(
        F.broadcast(s), l.l_suppkey == F.col("s_suppkey"), "left_semi"
    )
    per_part = filtered.groupBy("l_partkey").agg(
        F.sum(val).cast("decimal(38,4)").alias("part_value")
    )
    thresh = filtered.agg(
        (F.lit(0.0001) * F.sum(val).cast("double")).alias("__thresh")
    )
    return (
        per_part.join(F.broadcast(thresh))
        .filter(F.col("part_value").cast("double") > F.col("__thresh"))
        .select("l_partkey", "part_value")
    )


@query(
    "q12_late_lines_by_status",
    oracle="""
    SELECT l_linestatus AS ship_class,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE l_shipdate >= o_orderdate + INTERVAL 1000 DAY
      AND l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
    GROUP BY ship_class
    """,
)
def q12_late_lines_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: late shipments split by priority class, with
    l_linestatus standing in for l_shipmode and "shipped ≥1000 days
    after ordering" for the commitdate/receiptdate lateness test (the
    fixture has neither column).

    Plan: the shipdate range prunes the fact scan before the join;
    lineitem⋈orders is the one big shuffle (both sides hash on
    orderkey); the conditional counts are map-side-combined longs —
    exact, no decimal dance needed. The theta lateness predicate is
    evaluated post-join, which is the only place it can run."""
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1997-01-01"))
        & (F.col("l_shipdate") < _ts("1998-01-01"))
    )
    o = _t(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .filter(
            F.col("l_shipdate")
            >= F.col("o_orderdate") + F.expr("INTERVAL 1000 DAYS")
        )
        .groupBy(F.col("l_linestatus").alias("ship_class"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@query(
    "q21_waiting_suppliers",
    oracle="""
    SELECT s_name, COUNT(*) AS numwait
    FROM lineitem l1
    JOIN orders   ON o_orderkey = l1.l_orderkey
    JOIN supplier ON s_suppkey = l1.l_suppkey
    WHERE o_orderstatus = 'F'
      AND l1.l_shipdate >= o_orderdate + INTERVAL 1000 DAY
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate >= o_orderdate + INTERVAL 1000 DAY)
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 50
    """,
)
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers who were the *sole* late supplier on
    a finished multi-supplier order ("late" = shipped ≥1000 days after
    ordering, standing in for receiptdate>commitdate).

    Plan: both EXISTS become hash joins on orderkey — the positive
    one a LEFT SEMI, the negative a LEFT ANTI — each with the
    suppkey-inequality as a residual post-probe condition, so no
    nested loop appears. The late-lines build for the anti side
    re-derives o_orderdate by joining lineitem to the F-status orders
    once (correlated l3 only ever probes l1's own order, whose status
    is F). Counting is a long — exact; final top-k is
    numwait-desc with the unique s_name tiebreak."""
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    s = _t(spark, sf_dir, "supplier")
    late_gap = F.expr("INTERVAL 1000 DAYS")
    l1 = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .filter(F.col("l_shipdate") >= F.col("o_orderdate") + late_gap)
        .select("l_orderkey", "l_suppkey")
    )
    others = l.select(
        F.col("l_orderkey").alias("k2"), F.col("l_suppkey").alias("s2")
    )
    l1 = l1.join(
        others,
        (F.col("l_orderkey") == F.col("k2"))
        & (F.col("l_suppkey") != F.col("s2")),
        "left_semi",
    )
    late_others = (
        l.join(
            o.select(
                F.col("o_orderkey").alias("k3"),
                F.col("o_orderdate").alias("d3"),
            ),
            F.col("l_orderkey") == F.col("k3"),
        )
        .filter(F.col("l_shipdate") >= F.col("d3") + late_gap)
        .select("k3", F.col("l_suppkey").alias("s3"))
    )
    l1 = l1.join(
        late_others,
        (F.col("l_orderkey") == F.col("k3"))
        & (F.col("l_suppkey") != F.col("s3")),
        "left_anti",
    )
    return (
        l1.join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name"))
        .limit(50)
    )
