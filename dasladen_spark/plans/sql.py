"""SQL breadth: the aggregates, joins, set operations, scalar
functions, NULL semantics and table-maintenance shapes a user of the
reference would have run as SQL text against its RDBMS.

Each query is a capability check and a scale-tested plan shape at
once. Exact-hash discipline as in ``tpch``: SUMs over doubles go
through DECIMAL and every top-k orders with a unique-key tiebreak.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dasladen_spark.plans.registry import query
from dasladen_spark.plans.shared import dec
from dasladen_spark.session import load_table as _t
from dasladen_spark.sinks.zorder import _Z_BITS, zvalue


@query(
    "q_distinct_count",
    oracle="""
    SELECT c_mktsegment,
           COUNT(DISTINCT c_nationkey) AS n_nations,
           COUNT(*) AS n_customers
    FROM customer GROUP BY c_mktsegment
    """,
)
def q_distinct_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT) — Spark expands to a two-phase aggregate."""
    return (
        _t(spark, sf_dir, "customer")
        .groupBy("c_mktsegment")
        .agg(
            F.count_distinct("c_nationkey").alias("n_nations"),
            F.count(F.lit(1)).alias("n_customers"),
        )
    )


@query(
    "q_rollup_customers",
    oracle="""
    SELECT r_name, n_name, COUNT(*) AS n_customers,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS total_acctbal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
)
def q_rollup_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals; nation+region are broadcast dims."""
    c = _t(spark, sf_dir, "customer")
    n = F.broadcast(_t(spark, sf_dir, "nation"))
    r = F.broadcast(_t(spark, sf_dir, "region"))
    return (
        c.join(n, c.c_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .rollup("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(dec("c_acctbal")).cast("decimal(38,4)").alias("total_acctbal"),
        )
    )


@query(
    "q_cube_lineitem",
    oracle="""
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n_items,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS total_qty
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def q_cube_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(dec("l_quantity")).cast("decimal(38,4)").alias("total_qty"),
        )
    )


@query(
    "q_grouping_sets_events",
    oracle="""
    SELECT event_type, COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS total_value
    FROM events GROUP BY GROUPING SETS ((event_type), ())
    """,
)
def q_grouping_sets_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS via Spark SQL (no DataFrame-API equivalent)."""
    _t(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(
        """
        SELECT event_type, COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS total_value
        FROM events GROUP BY GROUPING SETS ((event_type), ())
        """
    )


@query(
    "q_conditional_agg",
    oracle="""
    SELECT o_orderpriority,
           CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
           CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
           CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p,
           CAST(SUM(CASE WHEN o_orderstatus = 'F'
                    THEN CAST(o_totalprice AS DECIMAL(18,4))
                    ELSE CAST(0 AS DECIMAL(18,4)) END) AS DECIMAL(38,4)) AS f_revenue
    FROM orders GROUP BY o_orderpriority
    """,
)
def q_conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot-style conditional aggregation (single scan, no joins)."""
    o = _t(spark, sf_dir, "orders")

    def n_status(s):
        return F.sum(F.when(F.col("o_orderstatus") == s, 1).otherwise(0))

    return o.groupBy("o_orderpriority").agg(
        n_status("F").alias("n_f"),
        n_status("O").alias("n_o"),
        n_status("P").alias("n_p"),
        F.sum(
            F.when(F.col("o_orderstatus") == "F", dec("o_totalprice")).otherwise(
                F.lit(0).cast("decimal(18,4)")
            )
        )
        .cast("decimal(38,4)")
        .alias("f_revenue"),
    )


@query(
    "q_above_brand_avg",
    oracle="""
    SELECT p_partkey, p_name, p_brand, p_retailprice
    FROM part p
    WHERE p_retailprice >
      (SELECT CAST(SUM(CAST(p2.p_retailprice AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*)
       FROM part p2 WHERE p2.p_brand = p.p_brand)
    """,
)
def q_above_brand_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery, decorrelated by hand into an
    aggregate + broadcast join (what Catalyst does internally)."""
    p = _t(spark, sf_dir, "part")
    avg = p.groupBy(F.col("p_brand").alias("b")).agg(
        (F.sum(dec("p_retailprice")).cast("double") / F.count(F.lit(1))).alias(
            "brand_avg"
        )
    )
    return (
        p.join(F.broadcast(avg), p.p_brand == F.col("b"))
        .filter(F.col("p_retailprice") > F.col("brand_avg"))
        .select("p_partkey", "p_name", "p_brand", "p_retailprice")
    )


@query(
    "q_semi_join",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
    """,
)
def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (EXISTS)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@query(
    "q_anti_join",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderpriority = '1-URGENT')
    """,
)
def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (NOT EXISTS): customers with no urgent order.
    (The predicate keeps the gate non-vacuous: every customer in the
    fixture has *some* order, so an unfiltered NOT EXISTS proves
    nothing.)"""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@query(
    "q_range_join",
    oracle="""
    SELECT s.event_id AS signup_id, COUNT(c.event_id) AS n_clicks_1h
    FROM events s
    LEFT JOIN events c
      ON c.user_id = s.user_id AND c.event_type = 'click'
     AND c.ts >= s.ts AND c.ts < s.ts + INTERVAL 1 HOUR
    WHERE s.event_type = 'signup'
    GROUP BY s.event_id
    """,
)
def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: equi key (user_id) + time-band predicate — stays a
    hash/sort-merge join with a residual filter, never a cross
    product."""
    e = _t(spark, sf_dir, "events")
    s = e.filter(F.col("event_type") == "signup").select(
        F.col("event_id").alias("signup_id"),
        F.col("user_id").alias("s_user"),
        F.col("ts").alias("s_ts"),
    )
    c = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    )
    joined = s.join(
        c,
        on=[
            F.col("c_user") == F.col("s_user"),
            F.col("c_ts") >= F.col("s_ts"),
            F.col("c_ts") < F.col("s_ts") + F.expr("INTERVAL 1 HOUR"),
        ],
        how="left",
    )
    return joined.groupBy("signup_id").agg(F.count("click_id").alias("n_clicks_1h"))


# ----------------------------------------------------------- sort/topk


@query(
    "q_topk_orders",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 25
    """,
)
def q_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k — Spark plans TakeOrderedAndProject (per-partition
    heap + driver merge), not a full sort."""
    return (
        _t(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(25)
    )


# ------------------------------------------------------------- set ops


@query(
    "q_intersect_nations",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey FROM supplier
    """,
)
def q_intersect_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.intersect(s)


@query(
    "q_except_nations",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    EXCEPT
    SELECT s_nationkey FROM supplier
    """,
)
def q_except_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.subtract(s)  # EXCEPT DISTINCT semantics


@query(
    "q_union_labels",
    oracle="""
    SELECT o_orderpriority AS label FROM orders
    UNION
    SELECT c_mktsegment FROM customer
    """,
)
def q_union_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").select(F.col("o_orderpriority").alias("label"))
    c = _t(spark, sf_dir, "customer").select(F.col("c_mktsegment").alias("label"))
    return o.union(c).distinct()


# ------------------------------------------------------ scalar surface


@query(
    "q_string_funcs",
    oracle="""
    SELECT c_custkey,
           lower(c_name) AS name_lower,
           upper(c_mktsegment) AS seg_upper,
           replace(c_name, 'Customer', 'Cust') AS name_replaced,
           substr(c_name, 1, 8) AS name_prefix,
           concat(c_name, '#', c_mktsegment) AS name_tag,
           length(c_name) AS name_len
    FROM customer
    """,
)
def q_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The `convert`-spec scalar surface (SURVEY §2.3) as native
    JVM functions — lower/upper/replace/substr/concat/length."""
    c = _t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.lower("c_name").alias("name_lower"),
        F.upper("c_mktsegment").alias("seg_upper"),
        F.replace(F.col("c_name"), F.lit("Customer"), F.lit("Cust")).alias(
            "name_replaced"
        ),
        F.substring("c_name", 1, 8).alias("name_prefix"),
        F.concat(F.col("c_name"), F.lit("#"), F.col("c_mktsegment")).alias("name_tag"),
        F.length("c_name").cast("long").alias("name_len"),
    )


@query(
    "q_date_funcs",
    oracle="""
    SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS order_year,
           CAST(EXTRACT(MONTH FROM o_orderdate) AS INT) AS order_month,
           date_trunc('month', o_orderdate) AS month_start,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS revenue
    FROM orders
    GROUP BY 1, 2, 3
    """,
)
def q_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date extraction + truncation rollup by month."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.select(
            F.year("o_orderdate").cast("int").alias("order_year"),
            F.month("o_orderdate").cast("int").alias("order_month"),
            F.date_trunc("month", F.col("o_orderdate"))
            .cast("timestamp_ntz")
            .alias("month_start"),
            "o_totalprice",
        )
        .groupBy("order_year", "order_month", "month_start")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(dec("o_totalprice")).cast("decimal(38,4)").alias("revenue"),
        )
    )


@query(
    "q_json_extract",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS INT) AS k_value
    FROM events
    """,
)
def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON field extraction from the events props column."""
    return _t(spark, sf_dir, "events").select(
        "event_id",
        F.get_json_object(F.col("props"), "$.k").cast("int").alias("k_value"),
    )


@query(
    "q_pivot_segments",
    oracle="""
    SELECT c_nationkey,
           COUNT(CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN 1 END) AS AUTOMOBILE,
           COUNT(CASE WHEN c_mktsegment = 'BUILDING'   THEN 1 END) AS BUILDING,
           COUNT(CASE WHEN c_mktsegment = 'FURNITURE'  THEN 1 END) AS FURNITURE,
           COUNT(CASE WHEN c_mktsegment = 'HOUSEHOLD'  THEN 1 END) AS HOUSEHOLD,
           COUNT(CASE WHEN c_mktsegment = 'MACHINERY'  THEN 1 END) AS MACHINERY
    FROM customer GROUP BY c_nationkey
    """,
)
def q_pivot_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: customer counts per nation × market segment. The value
    list is explicit, so Spark skips the extra distinct-values job —
    the only way pivot is usable on a 100 TB input."""
    segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    out = (
        _t(spark, sf_dir, "customer")
        .groupBy("c_nationkey")
        .pivot("c_mktsegment", segs)
        .agg(F.count(F.lit(1)))
    )
    # pivot leaves NULL for empty cells; COUNT(CASE) yields 0
    return out.select(
        "c_nationkey", *[F.coalesce(F.col(s), F.lit(0)).alias(s) for s in segs]
    )


@query(
    "q_minby_maxby",
    oracle="""
    SELECT o_custkey,
           arg_min(o_orderpriority, o_orderkey) AS first_priority,
           arg_max(o_orderpriority, o_orderkey) AS last_priority,
           COUNT(*) AS n_orders
    FROM orders GROUP BY o_custkey
    """,
)
def q_minby_maxby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """min_by/max_by on a UNIQUE ordering key (o_orderkey) — the only
    way arg-extremes are deterministic under parallel aggregation."""
    return (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.min_by("o_orderpriority", "o_orderkey").alias("first_priority"),
            F.max_by("o_orderpriority", "o_orderkey").alias("last_priority"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


@query(
    "q_ordered_string_agg",
    oracle="""
    SELECT r_name, string_agg(n_name, ',' ORDER BY n_name) AS nations
    FROM nation JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
)
def q_ordered_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered collect: collect_list is unordered under parallelism,
    so sort INSIDE the aggregate (array_sort) before joining —
    deterministic at any partitioning."""
    n = _t(spark, sf_dir, "nation")
    r = F.broadcast(_t(spark, sf_dir, "region"))
    return (
        n.join(r, n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias("nations")
        )
    )


@query(
    "q_exact_stddev",
    oracle="""
    SELECT p_brand,
           COUNT(*) AS n,
           CASE WHEN COUNT(*) > 1 THEN
             sqrt((COUNT(*) * CAST(SUM(CAST(p_retailprice * p_retailprice
                                            AS DECIMAL(18,6))) AS DOUBLE)
                   - CAST(SUM(CAST(p_retailprice AS DECIMAL(18,4))) AS DOUBLE)
                     * CAST(SUM(CAST(p_retailprice AS DECIMAL(18,4))) AS DOUBLE))
                  / (COUNT(*) * (COUNT(*) - 1)))
           END AS price_stddev
    FROM part GROUP BY p_brand
    """,
)
def q_exact_stddev(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample stddev via exact decimal moments: the built-in stddev
    accumulates doubles in partition order (non-reproducible at
    scale); Σx and Σx² as decimals make the statistic bit-stable."""
    p = _t(spark, sf_dir, "part")
    n = F.count(F.lit(1))
    sx = F.sum(dec("p_retailprice")).cast("double")
    sxx = F.sum(
        (F.col("p_retailprice") * F.col("p_retailprice")).cast("decimal(18,6)")
    ).cast("double")
    var = (n * sxx - sx * sx) / (n * (n - F.lit(1)))
    return (
        p.groupBy("p_brand")
        .agg(
            n.alias("n"),
            F.when(n > 1, F.sqrt(var)).alias("price_stddev"),
        )
    )


@query(
    "q_limit_offset",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10 OFFSET 20
    """,
)
def q_limit_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic pagination (ORDER BY unique key + LIMIT/OFFSET)."""
    return (
        _t(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .offset(20)
        .limit(10)
    )


@query(
    "q_cross_join",
    oracle="""
    SELECT r_name, s.o_orderstatus
    FROM region CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders) s
    """,
)
def q_cross_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit cartesian of two tiny inputs (the only sane cross
    join); both sides bounded."""
    r = _t(spark, sf_dir, "region").select("r_name")
    s = _t(spark, sf_dir, "orders").select("o_orderstatus").distinct()
    return r.crossJoin(s)


@query(
    "q_union_all_counts",
    oracle="""
    SELECT 'orders' AS src, COUNT(*) AS n FROM orders
    UNION ALL
    SELECT 'lineitem', COUNT(*) FROM lineitem
    UNION ALL
    SELECT 'customer', COUNT(*) FROM customer
    """,
)
def q_union_all_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL (bag semantics) over per-table counts."""
    def cnt(t):
        return (
            _t(spark, sf_dir, t)
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.lit(t).alias("src"), "n")
        )

    return cnt("orders").unionAll(cnt("lineitem")).unionAll(cnt("customer"))


@query(
    "q_unpivot",
    oracle="""
    SELECT o_orderkey, metric, val
    FROM (SELECT o_orderkey, o_totalprice, o_custkey FROM orders)
    UNPIVOT (val FOR metric IN (o_totalprice, o_custkey))
    """,
)
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot/melt: wide metrics → (key, metric, value) long form —
    the inverse of q_pivot_segments. Generate-based (no shuffle);
    both engines cast the value set to a common type (double here)."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_totalprice").cast("double"),
        F.col("o_custkey").cast("double").alias("o_custkey"),
    )
    return o.unpivot(
        "o_orderkey", ["o_totalprice", "o_custkey"], "metric", "val"
    )


@query(
    "q_null_semantics",
    oracle="""
    WITH t AS (
      SELECT event_id, user_id,
             CASE WHEN event_type = 'error' THEN NULL ELSE value END AS v
      FROM events
    )
    SELECT user_id,
           COUNT(*) AS n_rows,
           COUNT(v) AS n_nonnull,
           COUNT(*) - COUNT(v) AS n_null,
           CAST(SUM(CASE WHEN v IS NOT DISTINCT FROM NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_nullsafe,
           COALESCE(CAST(MAX(v) AS DOUBLE), -1.0) AS max_or_default
    FROM t GROUP BY user_id
    """,
)
def q_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-handling corners under aggregation: COUNT(*) vs COUNT(col),
    null-safe equality (<=> / IS NOT DISTINCT FROM), COALESCE
    defaults — semantics that silently diverge between engines if
    unspecified, pinned here bit-for-bit."""
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.when(F.col("event_type") == "error", None)
        .otherwise(F.col("value"))
        .alias("v"),
    )
    return ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("v").alias("n_nonnull"),
        (F.count(F.lit(1)) - F.count("v")).alias("n_null"),
        F.sum(F.when(F.col("v").eqNullSafe(F.lit(None)), 1).otherwise(0))
        .cast("bigint")
        .alias("n_nullsafe"),
        F.coalesce(F.max("v").cast("double"), F.lit(-1.0)).alias("max_or_default"),
    )


@query(
    "q_full_outer",
    oracle="""
    WITH cust_orders AS (
      SELECT o_custkey, COUNT(*) AS n_orders
      FROM orders WHERE o_orderstatus = 'F' GROUP BY o_custkey
    ), cust_urgent AS (
      SELECT o_custkey, COUNT(*) AS n_urgent
      FROM orders WHERE o_orderpriority = '1-URGENT' GROUP BY o_custkey
    )
    SELECT COALESCE(a.o_custkey, b.o_custkey) AS custkey,
           COALESCE(n_orders, 0) AS n_orders,
           COALESCE(n_urgent, 0) AS n_urgent
    FROM cust_orders a FULL OUTER JOIN cust_urgent b
      ON a.o_custkey = b.o_custkey
    """,
)
def q_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join of two partial aggregates (customers with
    finished orders vs customers with urgent orders — each side has
    keys the other lacks). COALESCE reconciles the key and fills
    absent counts with 0."""
    o = _t(spark, sf_dir, "orders")
    a = (
        o.filter(F.col("o_orderstatus") == "F")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    b = (
        o.filter(F.col("o_orderpriority") == "1-URGENT")
        .groupBy(F.col("o_custkey").alias("b_custkey"))
        .agg(F.count(F.lit(1)).alias("n_urgent"))
    )
    return a.join(b, a.o_custkey == b.b_custkey, "full_outer").select(
        F.coalesce("o_custkey", "b_custkey").alias("custkey"),
        F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
        F.coalesce("n_urgent", F.lit(0)).alias("n_urgent"),
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
            F.sum(dec("o_totalprice")).cast("decimal(38,4)").alias("total"),
        )
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
            F.sum(dec("l_quantity")).cast("decimal(38,4)").alias("total_qty"),
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
    "q_exact_corr",
    oracle="""
    WITH c AS (
      -- decimal->double via VARCHAR: DuckDB's direct decimal cast is
      -- not correctly rounded past 2^53; text parse is (matches
      -- Spark's correctly-rounded BigDecimal.doubleValue).
      SELECT l_returnflag,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4)))
                  AS VARCHAR) AS DOUBLE) AS sx,
             CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)))
                  AS VARCHAR) AS DOUBLE) AS sy,
             CAST(CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(18,4)))
                  AS VARCHAR) AS DOUBLE) AS sxx,
             CAST(CAST(SUM(CAST(l_extendedprice * l_extendedprice
                  AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS syy,
             CAST(CAST(SUM(CAST(l_quantity * l_extendedprice
                  AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sxy
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           (n * sxy - sx * sy)
             / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))
             AS corr_qty_price,
           (sxy - sx * sy / n) / (n - 1) AS covar_qty_price
    FROM c
    """,
)
def q_exact_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distributed Pearson correlation + sample covariance per
    group, from decimal component sums (n, Σx, Σy, Σx², Σy², Σxy).

    Spark's built-in ``corr``/``covar_samp`` stream a merge-order-
    dependent moment state, so their low bits vary run-to-run with
    partitioning; component sums in DECIMAL are associative and
    therefore partition-order independent — one partial+final
    aggregate (single shuffle of 6 numbers per group), then identical
    IEEE double arithmetic on both engines. This is also the 100 TB
    shape: the six sums are map-side combined, nothing else moves."""
    l = _t(spark, sf_dir, "lineitem")
    x = F.col("l_quantity")
    y = F.col("l_extendedprice")
    c = l.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(dec("l_quantity")).cast("double").alias("sx"),
        F.sum(dec("l_extendedprice")).cast("double").alias("sy"),
        F.sum((x * x).cast("decimal(18,4)")).cast("double").alias("sxx"),
        F.sum((y * y).cast("decimal(18,4)")).cast("double").alias("syy"),
        F.sum((x * y).cast("decimal(18,4)")).cast("double").alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    return c.select(
        "l_returnflag",
        (
            (n * sxy - sx * sy)
            / (F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy))
        ).alias("corr_qty_price"),
        ((sxy - sx * sy / n) / (n - F.lit(1.0))).alias("covar_qty_price"),
    )


@query(
    "q_mode_per_group",
    oracle="""
    SELECT user_bucket, event_type AS modal_type, cnt FROM (
      SELECT user_id % 50 AS user_bucket, event_type, COUNT(*) AS cnt,
             ROW_NUMBER() OVER (PARTITION BY user_id % 50
                                ORDER BY COUNT(*) DESC, event_type) AS rn
      FROM events GROUP BY 1, 2
    ) t WHERE rn = 1
    """,
)
def q_mode_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group mode (most frequent value) with a deterministic
    tiebreak — the argmax-of-count idiom. Two-level: count per
    (group, value), then a row_number window on the already-reduced
    counts. The window input is |groups|×|distinct values| rows, not
    the raw data, so the expensive shuffle happens on reduced data —
    the shape that survives 100 TB (never window the raw events)."""
    e = _t(spark, sf_dir, "events")
    counts = (
        e.groupBy(
            (F.col("user_id") % 50).alias("user_bucket"),
            F.col("event_type"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("user_bucket").orderBy(
        F.col("cnt").desc(), F.col("event_type")
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_bucket", F.col("event_type").alias("modal_type"), "cnt")
    )


@query(
    "q_pos_tokens",
    oracle="""
    WITH w AS (
      SELECT doc_id, regexp_split_to_array(text, ' ') AS words
      FROM documents WHERE doc_id < 10
    )
    SELECT doc_id,
           CAST(i - 1 AS INTEGER) AS pos,
           words[i] AS word
    FROM w, UNNEST(generate_series(1, len(words))) AS t(i)
    """,
)
def q_pos_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional tokenization (posexplode / UNNEST WITH ORDINALITY):
    each document row fans out to (doc_id, position, token) rows —
    the layout feeding positional n-gram and alignment work. Narrow
    generator, no shuffle; the doc_id<10 predicate is pushed into the
    parquet scan so the explode only ever sees matching rows."""
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 10)
    return d.select(
        "doc_id",
        F.posexplode(F.split("text", " ")).alias("pos", "word"),
    )


@query(
    "q_string_agg",
    oracle="""
    SELECT n.n_name,
           string_agg(c.c_name, ',' ORDER BY c.c_name) AS members,
           COUNT(*) AS n_members
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE c.c_acctbal > 9000
    GROUP BY n.n_name
    """,
)
def q_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (LISTAGG / string_agg): per-nation
    roster of high-balance customers, comma-joined in name order.
    collect_list is shuffle-partial like any agg; the in-group sort
    happens on the grouped array (bounded by group size), never as a
    global sort — and the explicit array_sort makes the result
    deterministic under any partitioning, which bare collect_list
    ordering is not."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 9000)
    n = _t(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.array_join(F.array_sort(F.collect_list("c_name")), ",").alias(
                "members"
            ),
            F.count(F.lit(1)).alias("n_members"),
        )
    )


@query(
    "q_profile_table",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           COUNT(DISTINCT c_custkey) AS d_custkey,
           COUNT(DISTINCT c_nationkey) AS d_nationkey,
           COUNT(DISTINCT c_mktsegment) AS d_mktsegment,
           CAST(SUM(CASE WHEN c_name IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS null_name,
           CAST(SUM(CASE WHEN c_mktsegment IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS null_mktsegment,
           MIN(c_acctbal) AS min_acctbal,
           MAX(c_acctbal) AS max_acctbal,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DECIMAL(38,4))
             AS sum_acctbal,
           MIN(length(c_name)) AS min_name_len,
           MAX(length(c_name)) AS max_name_len
    FROM customer
    """,
)
def q_profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass table profile — row count, key cardinalities, null
    counts, numeric ranges, exact decimal sum, string-length bounds —
    the discovery step an ETL tool runs before wiring a pipeline.

    All metrics fold into ONE aggregation pass: Catalyst plans the
    multiple COUNT(DISTINCT)s as a single Expand + two-stage agg, so
    the table is scanned once however many metrics are stacked; the
    decimal-component sum keeps the total exact under any
    partitioning."""
    c = _t(spark, sf_dir, "customer")
    return c.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("c_custkey").alias("d_custkey"),
        F.countDistinct("c_nationkey").alias("d_nationkey"),
        F.countDistinct("c_mktsegment").alias("d_mktsegment"),
        F.sum(F.when(F.col("c_name").isNull(), 1).otherwise(0)).alias(
            "null_name"
        ),
        F.sum(F.when(F.col("c_mktsegment").isNull(), 1).otherwise(0)).alias(
            "null_mktsegment"
        ),
        F.min("c_acctbal").alias("min_acctbal"),
        F.max("c_acctbal").alias("max_acctbal"),
        F.sum(F.col("c_acctbal").cast("decimal(18,4)"))
        .cast("decimal(38,4)")
        .alias("sum_acctbal"),
        F.min(F.length("c_name")).alias("min_name_len"),
        F.max(F.length("c_name")).alias("max_name_len"),
    )


@query(
    "q_nullsafe_join",
    oracle="""
    SELECT c.c_custkey, n.n_name,
           COALESCE(CAST(c.k AS VARCHAR), 'NULL') AS join_key
    FROM (SELECT c_custkey, NULLIF(c_nationkey, 3) AS k FROM customer) c
    JOIN (SELECT n_nationkey, n_name, NULLIF(n_nationkey, 3) AS k
          FROM nation) n
      ON c.k IS NOT DISTINCT FROM n.k
    """,
)
def q_nullsafe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join (<=> / IS NOT DISTINCT FROM): NULL keys
    match each other instead of vanishing — the semantics dimension
    tables with 'unknown' members need. NULLIF fabricates NULL keys
    on both sides (nationkey 3 → NULL); the null-safe equality still
    plans as a broadcast HASH join (Spark rewrites <=> to a
    coalesce-keyed comparison), not a nested loop."""
    c = _t(spark, sf_dir, "customer").select(
        "c_custkey", F.nullif(F.col("c_nationkey"), F.lit(3)).alias("k")
    )
    n = _t(spark, sf_dir, "nation").select(
        "n_name", F.nullif(F.col("n_nationkey"), F.lit(3)).alias("nk")
    )
    return (
        c.join(F.broadcast(n), c.k.eqNullSafe(n.nk))
        .select(
            "c_custkey",
            "n_name",
            F.coalesce(F.col("k").cast("string"), F.lit("NULL")).alias(
                "join_key"
            ),
        )
    )


@query(
    "q_weighted_median",
    oracle="""
    WITH w AS (
      SELECT l_returnflag, l_extendedprice,
             SUM(CAST(l_quantity AS DECIMAL(18,2))) OVER (
               PARTITION BY l_returnflag
               ORDER BY l_extendedprice, l_orderkey, l_linenumber
               ROWS UNBOUNDED PRECEDING
             ) AS cumw,
             SUM(CAST(l_quantity AS DECIMAL(18,2))) OVER (
               PARTITION BY l_returnflag
             ) AS total
      FROM lineitem
    )
    SELECT l_returnflag, MIN(l_extendedprice) AS weighted_median
    FROM w WHERE 2 * cumw >= total
    GROUP BY l_returnflag
    """,
)
def q_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median price per return flag — the weighted
    order statistic (each line counts by its quantity, so a bulk line
    moves the median more than a single unit). Definitionally exact:
    the smallest price whose running weight reaches half the total,
    with the comparison as 2*cumw >= total in integer-decimal
    arithmetic — no division, no float quantile interpolation to
    disagree across engines. One shuffle on the flag serves both the
    running and total windows."""
    l = _t(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("decimal(18,2)")
    wrun = (
        Window.partitionBy("l_returnflag")
        .orderBy("l_extendedprice", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wall = Window.partitionBy("l_returnflag")
    w = l.select(
        "l_returnflag",
        "l_extendedprice",
        F.sum(qty).over(wrun).alias("cumw"),
        F.sum(qty).over(wall).alias("total"),
    )
    return (
        w.filter(F.lit(2) * F.col("cumw") >= F.col("total"))
        .groupBy("l_returnflag")
        .agg(F.min("l_extendedprice").alias("weighted_median"))
    )


@query(
    "q_benford_digits",
    oracle="""
    WITH d AS (
      SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
                    AS VARCHAR), 1, 1) AS INTEGER) AS digit
      FROM orders WHERE o_totalprice > 0
    )
    SELECT digit, COUNT(*) AS n,
           CAST(COUNT(*) AS DOUBLE)
             / CAST(SUM(COUNT(*)) OVER () AS DOUBLE) AS share
    FROM d GROUP BY digit
    """,
)
def q_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-significant-digit distribution of order totals — the
    Benford's-law screen fraud audits run over financial columns.
    Explicit floor() before the integer cast: Spark truncates
    double→bigint while other engines round, so the floor pins the
    semantics. One tiny shuffle on the 9-digit key; the share
    normalizer windows over 9 rows (whitelisted)."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    digit = F.substring(
        F.floor("o_totalprice").cast("bigint").cast("string"), 1, 1
    ).cast("int")
    counts = o.select(digit.alias("digit")).groupBy("digit").agg(
        F.count(F.lit(1)).alias("n")
    )
    return counts.select(
        "digit",
        "n",
        (
            F.col("n").cast("double")
            / F.sum("n").over(Window.partitionBy()).cast("double")
        ).alias("share"),
    )


@query(
    "q_not_in_null_trap",
    oracle="""
    SELECT
      (SELECT COUNT(*) FROM customer
        WHERE c_nationkey NOT IN
          (SELECT n_nationkey FROM nation WHERE n_nationkey < 5))
        AS excl_clean,
      (SELECT COUNT(*) FROM customer
        WHERE c_nationkey NOT IN
          (SELECT NULLIF(n_nationkey, 3) FROM nation
            WHERE n_nationkey < 5))
        AS excl_with_null,
      (SELECT COUNT(*) FROM customer c
        WHERE NOT EXISTS
          (SELECT 1 FROM nation n
            WHERE NULLIF(n.n_nationkey, 3) = c.c_nationkey
              AND n.n_nationkey < 5))
        AS not_exists_with_null
    """,
)
def q_not_in_null_trap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The NOT IN null trap, demonstrated side by side: with a clean
    exclusion list NOT IN behaves like an anti join; one NULL in the
    list makes every NOT IN test UNKNOWN (zero rows survive), while
    NOT EXISTS keeps anti-join semantics — three-valued logic every
    SQL engine must honor and most pipelines trip over once.

    Spark plans the NOT IN branch as a null-aware anti join
    (BroadcastHashJoin ... NAAJ); whitelisted 1-row scalar
    aggregates."""
    for t in ("customer", "nation"):
        _t(spark, sf_dir, t).createOrReplaceTempView(f"__nit_{t}")
    return spark.sql("""
        SELECT
          (SELECT COUNT(*) FROM __nit_customer
            WHERE c_nationkey NOT IN
              (SELECT n_nationkey FROM __nit_nation WHERE n_nationkey < 5))
            AS excl_clean,
          (SELECT COUNT(*) FROM __nit_customer
            WHERE c_nationkey NOT IN
              (SELECT NULLIF(n_nationkey, 3) FROM __nit_nation
                WHERE n_nationkey < 5))
            AS excl_with_null,
          (SELECT COUNT(*) FROM __nit_customer c
            WHERE NOT EXISTS
              (SELECT 1 FROM __nit_nation n
                WHERE NULLIF(n.n_nationkey, 3) = c.c_nationkey
                  AND n.n_nationkey < 5))
            AS not_exists_with_null
    """)


@query(
    "q_union_by_name",
    oracle="""
    WITH u AS (
      SELECT 'customer' AS src, c_custkey AS id, c_name AS name
      FROM customer
      UNION ALL BY NAME
      SELECT 'supplier' AS src, s_suppkey AS id, s_name AS name,
             s_acctbal AS balance
      FROM supplier
    )
    SELECT src, COUNT(*) AS n,
           CAST(SUM(CASE WHEN balance IS NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS missing_balance,
           COUNT(DISTINCT id) AS distinct_ids
    FROM u GROUP BY src
    """,
)
def q_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-drift union: two sources with different column sets
    merge BY NAME (missing columns become NULL) — how a pipeline
    absorbs heterogeneous feeds without hand-aligning positions.
    unionByName(allowMissingColumns=True) is the Spark form of
    UNION ALL BY NAME; a positional UNION would silently misalign.
    Narrow union (no shuffle), one rollup on the source tag."""
    c = _t(spark, sf_dir, "customer").select(
        F.lit("customer").alias("src"),
        F.col("c_custkey").alias("id"),
        F.col("c_name").alias("name"),
    )
    s = _t(spark, sf_dir, "supplier").select(
        F.lit("supplier").alias("src"),
        F.col("s_suppkey").alias("id"),
        F.col("s_name").alias("name"),
        F.col("s_acctbal").alias("balance"),
    )
    u = c.unionByName(s, allowMissingColumns=True)
    return u.groupBy("src").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("balance").isNull(), 1).otherwise(0)).alias(
            "missing_balance"
        ),
        F.countDistinct("id").alias("distinct_ids"),
    )


@query(
    "q_skew_diagnostics",
    oracle="""
    WITH k AS (
      SELECT l_suppkey AS key, COUNT(*) AS n FROM lineitem GROUP BY 1
    ), t AS (
      SELECT CAST(SUM(n) AS BIGINT) AS total, COUNT(*) AS n_keys FROM k
    )
    SELECT k.key, k.n,
           CAST(k.n AS DOUBLE) / CAST(t.total AS DOUBLE) AS share,
           CAST(k.n AS DOUBLE) * CAST(t.n_keys AS DOUBLE)
             / CAST(t.total AS DOUBLE) AS skew_factor
    FROM k, t
    ORDER BY k.n DESC, k.key LIMIT 20
    """,
)
def q_skew_diagnostics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew report: the 20 heaviest keys with their share of
    all rows and a skew factor (observed count ÷ uniform expectation)
    — the diagnostic that decides salting, AQE skew-join thresholds,
    and broadcast choices BEFORE a hot key melts a shuffle. One key
    rollup + TakeOrdered; the two totals are driver-side scalars
    folded in as literals."""
    l = _t(spark, sf_dir, "lineitem")
    k = l.groupBy(F.col("l_suppkey").alias("key")).agg(
        F.count(F.lit(1)).alias("n")
    )
    total, n_keys = k.agg(
        F.sum("n").cast("bigint"), F.count(F.lit(1))
    ).collect()[0]
    return (
        k.select(
            "key",
            "n",
            (F.col("n").cast("double") / F.lit(float(total))).alias("share"),
            (
                F.col("n").cast("double")
                * F.lit(float(n_keys))
                / F.lit(float(total))
            ).alias("skew_factor"),
        )
        .orderBy(F.col("n").desc(), "key")
        .limit(20)
    )


@query(
    "q_json_rollup",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
             AS BIGINT) AS k_sum,
           CAST(SUM(CASE WHEN json_extract_string(props, '$.k') IS NULL
               THEN 1 ELSE 0 END) AS BIGINT) AS missing_k
    FROM events GROUP BY event_type
    """,
)
def q_json_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semistructured rollup: aggregate a numeric field extracted
    from raw JSON strings, with missing-key accounting — the shape of
    analytics over an un-modeled properties column. The extraction
    runs inside the scan projection (codegen), so at 100 TB this is
    one pass + one event-type shuffle; no JSON parse ever leaves the
    executor."""
    e = _t(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("bigint")
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(k).alias("k_sum"),
        F.sum(F.when(k.isNull(), 1).otherwise(0)).alias("missing_k"),
    )


# ------------------------------------------- dataset fingerprint


@query(
    "q_dataset_fingerprint",
    oracle="""
    WITH h AS (
      SELECT CAST(CAST(
               ('0x' || substr(md5(
                 concat_ws(chr(31),
                   COALESCE(CAST(o_orderkey AS VARCHAR), chr(0) || 'null'),
                   COALESCE(CAST(o_custkey AS VARCHAR), chr(0) || 'null'),
                   COALESCE(o_orderstatus, chr(0) || 'null'),
                   COALESCE(CAST(CAST(o_totalprice AS DECIMAL(18,2))
                                 AS VARCHAR), chr(0) || 'null'),
                   COALESCE(strftime(o_orderdate, '%Y-%m-%d'),
                            chr(0) || 'null'),
                   COALESCE(o_orderpriority, chr(0) || 'null')
                 )), 1, 15))::UBIGINT AS HUGEINT) AS DECIMAL(38,0)) AS v
      FROM orders
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(CAST(SUM(v) AS DECIMAL(38,0)) AS VARCHAR) AS content_hash
    FROM h
    """,
)
def q_dataset_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent content checksum of the orders table
    (operators/checksum): SUM of portable per-row md5 hashes +
    count. Every storage rewrite this engine ships (compaction,
    bucketing, z-order, snapshot swap) must preserve this number —
    the rewrite-invariance test proves it survives arbitrary
    repartitioning, and the DuckDB oracle proves it is
    engine-portable. Mergeable: shard partials add up, so a 100 TB
    validation is one map-side-combined scan."""
    from dasladen_spark.operators.checksum import dataset_fingerprint

    o = _t(spark, sf_dir, "orders")
    return dataset_fingerprint(
        o,
        [
            F.col("o_orderkey"),
            F.col("o_custkey"),
            F.col("o_orderstatus"),
            F.col("o_totalprice").cast("decimal(18,2)"),
            F.date_format("o_orderdate", "yyyy-MM-dd"),
            F.col("o_orderpriority"),
        ],
    )


@query(
    "q_source_fingerprints",
    oracle="""
    WITH h AS (
      SELECT source,
             CAST(CAST(
               ('0x' || substr(md5(
                 concat_ws(chr(31),
                   COALESCE(CAST(doc_id AS VARCHAR), chr(0) || 'null'),
                   COALESCE(text, chr(0) || 'null'),
                   COALESCE(lang, chr(0) || 'null')
                 )), 1, 15))::UBIGINT AS HUGEINT) AS DECIMAL(38,0)) AS v
      FROM documents
    )
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(CAST(SUM(v) AS DECIMAL(38,0)) AS VARCHAR) AS content_hash
    FROM h GROUP BY source ORDER BY source
    """,
)
def q_source_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source content fingerprints of the corpus
    (operators/checksum.grouped_fingerprint) — the selective-rewrite
    validator: after re-ingesting or compacting ONE source, only its
    group hash may change. Same portable mergeable hash-sum as
    q_dataset_fingerprint, one map-side-combined aggregate."""
    from dasladen_spark.operators.checksum import grouped_fingerprint

    d = _t(spark, sf_dir, "documents")
    return grouped_fingerprint(
        d, ["source"], [F.col("doc_id"), F.col("text"), F.col("lang")]
    ).orderBy("source")


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


# --------------------------------------------- CDC extraction


@query(
    "cdc_snapshot_diff",
    oracle="""
    WITH old AS (
      SELECT o_orderkey AS k, o_totalprice AS v FROM orders
    ), new AS (
      SELECT o_orderkey AS k,
             CASE WHEN o_orderkey % 101 = 0 THEN o_totalprice + 1000.0
                  ELSE o_totalprice END AS v
      FROM orders WHERE o_orderkey % 97 <> 0
      UNION ALL
      SELECT o_orderkey + 10000000 AS k, o_totalprice AS v
      FROM orders WHERE o_orderkey % 103 = 0
    )
    SELECT COALESCE(o.k, n.k) AS k,
           CASE WHEN o.k IS NULL THEN 'insert'
                WHEN n.k IS NULL THEN 'delete'
                ELSE 'update' END AS op,
           o.v AS old_value, n.v AS new_value
    FROM old o FULL OUTER JOIN new n ON o.k = n.k
    WHERE o.k IS NULL OR n.k IS NULL OR o.v <> n.v
    """,
)
def cdc_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change extraction between two table snapshots — the producer
    side of CDC (the apply side is streaming/matview's last-write-wins
    upsert): keyed FULL OUTER JOIN classifying each key as
    insert / delete / update, unchanged keys dropped. One co-keyed
    shuffle of both snapshots; at 100 TB both sides pre-bucketed by
    key (sinks/bucketed) make the diff shuffle-free.

    The fixture has only one snapshot per table, so the "new" snapshot
    is derived deterministically: every 97th key deleted, every 101st
    repriced (+1000, an exact double add both engines agree on),
    every 103rd re-inserted under a shifted key."""
    from dasladen_spark.operators.merge import snapshot_diff

    o = _t(spark, sf_dir, "orders")
    old = o.select(F.col("o_orderkey").alias("k"), F.col("o_totalprice").alias("v"))
    new = (
        o.filter(F.col("o_orderkey") % 97 != 0)
        .select(
            F.col("o_orderkey").alias("k"),
            F.when(
                F.col("o_orderkey") % 101 == 0, F.col("o_totalprice") + 1000.0
            )
            .otherwise(F.col("o_totalprice"))
            .alias("v"),
        )
        .unionByName(
            o.filter(F.col("o_orderkey") % 103 == 0).select(
                (F.col("o_orderkey") + 10000000).alias("k"),
                F.col("o_totalprice").alias("v"),
            )
        )
    )
    d = snapshot_diff(old, new, "k")
    return d.select(
        "k",
        F.col("change_type").alias("op"),
        F.col("old_values")["v"].alias("old_value"),
        F.col("new_values")["v"].alias("new_value"),
    ).orderBy("k")


# ------------------------------------------------ skew audit


@query(
    "q_join_key_skew_audit",
    oracle="""
    WITH c AS (
      SELECT o_custkey, COUNT(*) AS n FROM orders GROUP BY o_custkey
    )
    SELECT CAST(SUM(n) AS BIGINT) AS rows_total,
           CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(MAX(n) AS BIGINT) AS max_per_key,
           quantile_cont(n, 0.99) AS p99_per_key,
           ROUND(MAX(n) * COUNT(*) / CAST(SUM(n) AS DOUBLE), 6)
             AS max_over_mean
    FROM c
    """,
)
def q_join_key_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-distribution audit for a join/agg key — the check to run
    BEFORE shuffling 100 TB on it: per-key counts (one map-side-
    combined aggregate), then max / p99 / max-over-mean. A
    max_over_mean in the hundreds means one reducer gets hundreds of
    partitions' worth of rows — reach for operators/skew (salting) or
    AQE skew-join before running the real query.

    Scale shape: a naive global percentile over per-key counts would
    funnel |keys| rows (billions at 100 TB) into one final partition —
    the exact hazard this audit hunts. Instead the per-key counts
    collapse to a COUNTS-OF-COUNTS histogram (two map-side-combined
    shuffles; its size is bounded by the number of DISTINCT
    multiplicities, ≤ max_per_key and in practice tiny), which lands
    on the driver and yields every metric exactly — p99 by the same
    linear interpolation quantile_cont uses, walked over the
    cumulative histogram."""
    hist = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("keys"))
        .orderBy("n")
        .collect()
    )
    n_keys = sum(r["keys"] for r in hist)
    rows_total = sum(r["n"] * r["keys"] for r in hist)
    max_per_key = hist[-1]["n"]
    # quantile_cont: value at fractional rank (K-1)*q over the sorted
    # per-key counts, reconstructed from the cumulative histogram
    pos = (n_keys - 1) * 0.99
    lo_rank, frac = int(pos), pos - int(pos)

    def value_at(rank: int) -> int:
        cum = 0
        for r in hist:
            cum += r["keys"]
            if rank < cum:
                return r["n"]
        return hist[-1]["n"]

    v0, v1 = value_at(lo_rank), value_at(lo_rank + 1)
    p99 = v0 + (v1 - v0) * frac
    return spark.createDataFrame(
        [
            (
                rows_total,
                n_keys,
                max_per_key,
                float(p99),
                round(max_per_key * n_keys / float(rows_total), 6),
            )
        ],
        "rows_total BIGINT, n_keys BIGINT, max_per_key BIGINT,"
        " p99_per_key DOUBLE, max_over_mean DOUBLE",
    )
