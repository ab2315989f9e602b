"""Relational query library, part 3: the remaining TPC-H query
shapes, adapted to the fixture schema (no partsupp / commitdate /
shipmode columns — each query keeps the *plan shape* of its TPC-H
counterpart on the columns that exist).

Same exact-hash discipline as relational.py: SUMs over doubles go
through DECIMAL, averages are decimal-sum / count, top-k orders carry
a unique-key tiebreak. The reference delegates all of this to its
backing RDBMS (/root/reference/dasladen/task.py:94-107,180); here
Spark SQL is that engine.

Scale notes are per-query docstrings: which joins broadcast, where
the shuffles are, and what changes at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dasladen_spark.plans.registry import query
from dasladen_spark.plans.relational import (
    _SQL_DISC_PRICE,
    _dec,
    _disc_price,
    _ts,
)
from dasladen_spark.session import load_table as _t


@query(
    "q7_nation_volume",
    oracle=f"""
    SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
           year(l_shipdate) AS l_year,
           CAST(SUM({_SQL_DISC_PRICE}) AS DECIMAL(38,6)) AS revenue
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
        .agg(F.sum(_disc_price()).cast("decimal(38,6)").alias("revenue"))
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
             {_SQL_DISC_PRICE} AS volume,
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
            _disc_price().alias("volume"),
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
    SELECT 100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO' THEN {_SQL_DISC_PRICE}
                                 ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
           / CAST(SUM({_SQL_DISC_PRICE}) AS DOUBLE) AS promo_revenue
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
                    F.when(F.col("p_type") == "PROMO", _disc_price()).otherwise(zero)
                ).cast("double")
                / F.sum(_disc_price()).cast("double")
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
            * (F.sum(_dec("l_quantity")).cast("double") / F.count(F.lit(1)))
        ).alias("qty_thresh")
    )
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(avg_q, F.col("p_partkey") == F.col("a_partkey"))
        .filter(F.col("l_quantity") < F.col("qty_thresh"))
        .agg(
            (F.sum(_dec("l_extendedprice")).cast("double") / F.lit(7.0)).alias(
                "avg_yearly"
            )
        )
    )


@query(
    "q19_or_predicates",
    oracle=f"""
    SELECT CAST(SUM({_SQL_DISC_PRICE}) AS DECIMAL(38,6)) AS revenue
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
        .agg(F.sum(_disc_price()).cast("decimal(38,6)").alias("revenue"))
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
        .agg(F.sum(_dec("l_quantity")).cast("double").alias("qty"))
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
            (F.sum(_dec("c_acctbal")).cast("double") / F.count(F.lit(1))).alias(
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
            F.sum(_dec("c_acctbal")).cast("decimal(38,4)").alias("totacctbal"),
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
    "q_percentiles",
    oracle="""
    SELECT o_orderpriority,
           quantile_cont(o_totalprice, 0.5) AS p50,
           quantile_cont(o_totalprice, 0.95) AS p95,
           quantile_cont(o_totalprice, 0.99) AS p99
    FROM orders GROUP BY o_orderpriority
    """,
)
def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolation percentiles per group (Spark
    `percentile` ≡ DuckDB `quantile_cont`, bit-identical on doubles).
    Exact percentiles need the group's values together — one shuffle
    on the group key; for percentiles *of huge groups* at 100 TB the
    approx_percentile sketch (mergeable, no sort) is the scale path —
    see q_approx_sketches."""
    return (
        _t(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.expr("percentile(o_totalprice, 0.5)").alias("p50"),
            F.expr("percentile(o_totalprice, 0.95)").alias("p95"),
            F.expr("percentile(o_totalprice, 0.99)").alias("p99"),
        )
    )


@query(
    "q_histogram",
    oracle="""
    SELECT CAST(floor(o_totalprice / 50000.0) AS BIGINT) AS bucket,
           COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DECIMAL(38,4))
             AS total
    FROM orders GROUP BY 1
    """,
)
def q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram via floor binning — the single-shuffle
    binned aggregate behind every distribution dashboard."""
    return (
        _t(spark, sf_dir, "orders")
        .groupBy(
            F.floor(F.col("o_totalprice") / F.lit(50000.0)).alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(_dec("o_totalprice")).cast("decimal(38,4)").alias("total"),
        )
    )


@query("q_approx_sketches")  # sketch values are impl-specific — rows-only
def q_approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable sketch aggregates — the 100 TB substitutes for their
    exact cousins: HLL++ approx_count_distinct (vs COUNT DISTINCT's
    two-level shuffle) and KLL-style approx_percentile (vs full-sort
    percentiles). Values are algorithm-specific, so the driver runs
    the rows-only check; tests/test_operators.py asserts the error
    bound against the exact answers."""
    l = _t(spark, sf_dir, "lineitem")
    return (
        l.groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_orderkey", rsd=0.02).alias("approx_orders"),
            F.percentile_approx("l_extendedprice", 0.5, 10000).alias("approx_median"),
        )
        .orderBy("l_returnflag")
    )


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
    "q_merge_upsert",
    oracle="""
    WITH updates AS (
      SELECT o_orderkey, o_custkey, o_orderstatus,
             o_totalprice * 1.1 AS o_totalprice, o_orderdate,
             '1-URGENT' AS o_orderpriority, 2 AS v
      FROM orders WHERE o_orderkey % 100 = 0
    ), base AS (
      SELECT *, 1 AS v FROM orders
    ), unioned AS (
      SELECT *, 0 AS src FROM base
      UNION ALL SELECT *, 1 AS src FROM updates
    ), ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey
                                   ORDER BY v DESC, src DESC) AS rn
      FROM unioned
    )
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           o_orderdate, o_orderpriority, v
    FROM ranked WHERE rn = 1
    """,
)
def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Versioned last-writer-wins upsert of a derived updates batch
    into the orders snapshot (operators/merge.py): one key shuffle,
    idempotent under replay. The updates batch is synthesized from
    the fixture (every 100th order re-priced) so the oracle can
    reproduce it."""
    from dasladen_spark.operators.merge import merge_upsert

    o = _t(spark, sf_dir, "orders").withColumn("v", F.lit(1))
    updates = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 100 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") * 1.1)
        .withColumn("o_orderpriority", F.lit("1-URGENT"))
        .withColumn("v", F.lit(2))
    )
    return merge_upsert(o, updates, "o_orderkey", version_col="v")


@query(
    "q_skew_salted_join",
    oracle="""
    SELECT p_brand, COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DECIMAL(38,4))
             AS total_qty
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY p_brand
    """,
)
def q_skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The salted-join rewrite (operators/skew.py) must be
    result-identical to the plain equi-join — proven here against the
    plain-join oracle. 8-way salt on the fact side, dim replicated
    8×; the shape that survives a single monster key no AQE split
    can fix."""
    from dasladen_spark.operators.skew import salted_join

    l = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_quantity")
    p = _t(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"), "p_brand"
    )
    return (
        salted_join(l, p, "l_partkey", salt=8)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(_dec("l_quantity")).cast("decimal(38,4)").alias("total_qty"),
        )
    )


@query(
    "q_json_agg",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT)
             AS sum_k,
           COUNT(json_extract_string(props, '$.missing')) AS n_missing_key
    FROM events
    GROUP BY event_type
    """,
)
def q_json_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate over JSON-extracted fields (semi-structured props →
    typed aggregation; missing paths count as NULL on both engines).
    Extraction runs inside the scan projection — no intermediate
    materialized JSON table."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.sum(F.get_json_object("props", "$.k").cast("int"))
        .cast("bigint")
        .alias("sum_k"),
        F.count(F.get_json_object("props", "$.missing")).alias("n_missing_key"),
    )


@query(
    "q_array_ops",
    oracle="""
    WITH per_cust AS (
      SELECT o_custkey,
             list_sort(list(o_totalprice)) AS totals
      FROM orders GROUP BY o_custkey
    )
    SELECT o_custkey,
           len(totals) AS n_orders,
           totals[1] AS smallest,
           totals[-1] AS largest,
           totals[1:3] AS smallest3
    FROM per_cust
    """,
)
def q_array_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array construction + manipulation per group: sorted
    collect_list, element access, slicing — the nested-type surface
    (one shuffle on the group key; arrays stay columnar end-to-end)."""
    per = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.array_sort(F.collect_list("o_totalprice")).alias("totals"))
    )
    return per.select(
        "o_custkey",
        F.size("totals").alias("n_orders"),
        F.col("totals")[0].alias("smallest"),
        F.element_at("totals", -1).alias("largest"),
        F.slice("totals", 1, 3).alias("smallest3"),
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
    "q_fuzzy_name_match",
    oracle="""
    SELECT c.c_custkey AS key_a, c2.c_custkey AS key_b,
           levenshtein(c.c_name, c2.c_name) AS dist
    FROM customer c JOIN customer c2
      ON c.c_custkey < c2.c_custkey
     AND substr(c.c_name, 1, length(c.c_name) - 2)
         = substr(c2.c_name, 1, length(c2.c_name) - 2)
    WHERE levenshtein(c.c_name, c2.c_name) <= 1
    """,
)
def q_fuzzy_name_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance entity matching with a blocking key: candidates
    share everything but their last two characters, then levenshtein
    scores within the block (a full cross product is quadratic death
    at any scale) — the standard blocking+scoring record-linkage
    shape.

    The blocking key choice IS the scale property: it must bound the
    block size by construction. A fixed short prefix fails on data
    like these names ('Customer#...'), where a common prefix
    degenerates every row into ONE block and the join goes quadratic
    (observed at sf0.1: 15k names → 112M levenshtein pairs). The
    all-but-last-2 key caps blocks at 100 candidates whatever the
    table size, so candidate count grows linearly with rows. The
    stream side of the broadcast join is repartitioned first — a
    dimension-sized table scans as one task, which would serialize
    every block's pair expansion × levenshtein on a single core."""
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    blk = F.expr("substring(c_name, 1, length(c_name) - 2)")
    a = c.repartition(spark.sparkContext.defaultParallelism).select(
        F.col("c_custkey").alias("key_a"),
        F.col("c_name").alias("name_a"),
        blk.alias("blk"),
    )
    b = c.select(
        F.col("c_custkey").alias("key_b"),
        F.col("c_name").alias("name_b"),
        blk.alias("blk"),
    )
    return (
        a.join(b, on=[a.blk == b.blk, F.col("key_a") < F.col("key_b")])
        .select(
            "key_a",
            "key_b",
            F.levenshtein("name_a", "name_b").alias("dist"),
        )
        .filter(F.col("dist") <= 1)
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
    "q_datetime_breadth",
    oracle="""
    SELECT o_orderkey,
           CAST(o_orderdate + INTERVAL 90 DAY AS TIMESTAMP) AS due_date,
           CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
           CAST(last_day(o_orderdate) AS TIMESTAMP) AS month_end,
           dayofweek(o_orderdate) + 1 AS dow,
           CAST(datediff('day', o_orderdate,
                         TIMESTAMP '2000-01-01') AS INT) AS days_to_y2k,
           strftime(o_orderdate, '%Y-%m') AS ym
    FROM orders
    """,
)
def q_datetime_breadth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datetime function surface: interval arithmetic, truncation,
    month boundaries, weekday numbering (Spark Sunday=1 vs DuckDB
    Sunday=0 — aligned in the oracle),
    date differences, formatting."""
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        (F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")).alias("due_date"),
        F.date_trunc("month", "o_orderdate").alias("month_start"),
        F.last_day("o_orderdate").cast("timestamp_ntz").alias("month_end"),
        F.dayofweek("o_orderdate").alias("dow"),
        F.datediff(F.lit("2000-01-01").cast("timestamp_ntz"), F.col("o_orderdate"))
        .cast("int")
        .alias("days_to_y2k"),
        F.date_format("o_orderdate", "yyyy-MM").alias("ym"),
    )


@query(
    "q_cdc_diff",
    oracle="""
    WITH new_snap AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 100 = 0 THEN o_totalprice * 1.1
                  ELSE o_totalprice END AS o_totalprice
      FROM orders WHERE o_orderkey % 7 <> 0
    ), old_snap AS (
      SELECT o_orderkey, o_totalprice FROM orders
    )
    SELECT COALESCE(n.o_orderkey, o.o_orderkey) AS o_orderkey,
           CASE WHEN o.o_orderkey IS NULL THEN 'insert'
                WHEN n.o_orderkey IS NULL THEN 'delete'
                WHEN n.o_totalprice IS DISTINCT FROM o.o_totalprice
                  THEN 'update' END AS change_type
    FROM new_snap n FULL OUTER JOIN old_snap o USING (o_orderkey)
    WHERE CASE WHEN o.o_orderkey IS NULL THEN 'insert'
               WHEN n.o_orderkey IS NULL THEN 'delete'
               WHEN n.o_totalprice IS DISTINCT FROM o.o_totalprice
                 THEN 'update' END IS NOT NULL
    """,
)
def q_cdc_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-capture between snapshots (operators/merge.py
    snapshot_diff): the new snapshot drops every 7th order (deletes)
    and re-prices every 100th (updates); the oracle recomputes the
    same diff with a full-outer join."""
    from dasladen_spark.operators.merge import snapshot_diff

    old = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    new = (
        old.filter(F.col("o_orderkey") % 7 != 0)
        .withColumn(
            "o_totalprice",
            F.when(
                F.col("o_orderkey") % 100 == 0, F.col("o_totalprice") * 1.1
            ).otherwise(F.col("o_totalprice")),
        )
    )
    return snapshot_diff(old, new, "o_orderkey").select(
        "o_orderkey", "change_type"
    )


@query(
    "q_interval_overlap",
    oracle="""
    WITH iv AS (
      -- FLOOR matches Spark's unix_timestamp truncation; bare
      -- epoch() keeps the fractional second on timestamp[ns] input,
      -- which flips boundary pairs of the overlap predicate (bit at
      -- sf1: one pair exactly on a truncated-equality boundary)
      SELECT user_id AS k, CAST(FLOOR(epoch(ts)) AS BIGINT) AS s,
             CAST(FLOOR(epoch(ts)) AS BIGINT) + (event_id % 604800) AS e,
             event_id
      FROM events WHERE event_id % 3 = 0
    )
    SELECT a.k, a.event_id AS eid_a, b.event_id AS eid_b
    FROM iv a JOIN iv b
      ON a.k = b.k AND a.event_id < b.event_id
     AND a.s <= b.e AND b.s <= a.e
    """,
)
def q_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping interval pairs via grid binning
    (operators/intervals.py): equi-join on (key, bin) + exact filter,
    instead of the per-key nested loop the naive predicate join
    plans. The oracle runs the naive form — identical pairs."""
    from dasladen_spark.operators.intervals import interval_join

    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") % 3 == 0)
    iv = ev.select(
        F.col("user_id").alias("k"),
        F.unix_timestamp("ts").alias("start"),
        (F.unix_timestamp("ts") + F.col("event_id") % 604800).alias("end"),
        "event_id",
    )
    out = interval_join(
        iv.withColumnRenamed("event_id", "eid"),
        iv.withColumnRenamed("event_id", "eid"),
        "k",
        bin_width=86400,
    )
    return (
        out.filter(F.col("eid_a") < F.col("eid_b"))
        .select("k", "eid_a", "eid_b")
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
