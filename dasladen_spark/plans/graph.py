"""Graph queries: PageRank, k-core, label-propagation communities,
triangle census (exact and sampled), degree distribution and
co-purchase pairs.

Iterative Spark operators (``operators/graph``) are matched against
DuckDB recursive or unrolled CTEs that replay every round exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dasladen_spark.plans.registry import query
from dasladen_spark.session import load_table as _t


# pagerank oracle: with exact=True the operator quantizes each
# contribution to floor(c·1e12 + 0.5) — pure IEEE mult/add/floor,
# identical in every engine (round() is NOT: engines disagree at
# 12th-digit boundaries) — and accumulates exact bigints, so
# unrolling the same 5 iterations in SQL replays the ranks
# bit-for-bit. The teleport term is COMPUTED as (1.0 - 0.85)/n with
# every literal CAST to DOUBLE: DuckDB parses decimal-point literals
# as DECIMAL, so a bare (1.0 - 0.85) is the EXACT 0.15 — a different
# binary double than Python/Spark's 1.0 - 0.85.
_PR_ITERS = 5


def _pagerank_oracle() -> str:
    parts = [
        """
    WITH ed AS MATERIALIZED (
      SELECT DISTINCT 'c' || o_custkey AS s, 's' || l_suppkey AS d
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ), e AS MATERIALIZED (
      SELECT s, d FROM ed UNION SELECT d, s FROM ed
    ), nodes AS MATERIALIZED (
      SELECT DISTINCT s AS id FROM (
        SELECT s FROM e UNION ALL SELECT d FROM e)
    ), nn AS (SELECT COUNT(*) AS n FROM nodes
    ), deg AS MATERIALIZED (
      SELECT s, COUNT(*) AS deg FROM e GROUP BY s
    ), r0 AS MATERIALIZED (
      SELECT id, CAST(1.0 AS DOUBLE) / (SELECT n FROM nn) AS rank
      FROM nodes
    )"""
    ]
    for i in range(1, _PR_ITERS + 1):
        parts.append(f""", f{i} AS MATERIALIZED (
      SELECT e.d AS id2,
             SUM(CAST(FLOOR(r.rank / deg.deg * 1e12 + 0.5) AS BIGINT))
               AS inflow
      FROM e JOIN r{i - 1} r ON e.s = r.id JOIN deg ON deg.s = e.s
      GROUP BY e.d
    ), r{i} AS MATERIALIZED (
      SELECT nodes.id,
             (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE))
                 / (SELECT n FROM nn)
               + CAST(0.85 AS DOUBLE)
                 * (coalesce(CAST(f.inflow AS DOUBLE), 0.0) / 1e12)
                 AS rank
      FROM nodes LEFT JOIN f{i} f ON nodes.id = f.id2
    )""")
    parts.append(f"""
    SELECT id, rank FROM r{_PR_ITERS} ORDER BY rank DESC, id
    """)
    return "".join(parts)


@query("graph_pagerank", oracle=_pagerank_oracle())
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality over the customer↔supplier transaction
    graph (distinct trading pairs from orders⋈lineitem, undirected):
    which parties sit at the center of the trade network.

    The graph build is two broadcast-friendly equi-joins + a
    distinct; each power iteration is one hash-shuffle of (node,
    contribution) pairs (operators/graph.pagerank) — the same plan
    runs a billion-edge graph, iterations× shuffles, no driver
    state."""
    from dasladen_spark.operators.graph import pagerank

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    l = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    edges = (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .select(
            F.concat(F.lit("c"), F.col("o_custkey")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey")).alias("dst"),
        )
    )
    return pagerank(
        edges, iterations=5, undirected=True, exact=True
    ).orderBy(F.col("rank").desc(), "id")


@query(
    "q_degree_distribution",
    oracle="""
    WITH edges AS (
      SELECT DISTINCT o.o_custkey AS cust, l.l_suppkey AS supp
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ), deg AS (
      SELECT cust, COUNT(*) AS degree FROM edges GROUP BY cust
    )
    SELECT degree, COUNT(*) AS n_customers
    FROM deg GROUP BY degree
    """,
)
def q_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the customer→supplier trade graph: how
    many distinct suppliers each customer trades with, rolled up to
    (degree, customer count) — the first diagnostic run on any graph
    (skew here predicts every downstream join hotspot).

    Strictly linear shapes: edge-list distinct, per-node count, tiny
    rollup — deliberately NOT a hub self-join, which is degree² and
    the thing this distribution exists to warn you about."""
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    l = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    edges = (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .select(F.col("o_custkey").alias("cust"), F.col("l_suppkey").alias("supp"))
        .distinct()
    )
    deg = edges.groupBy("cust").agg(F.count(F.lit(1)).alias("degree"))
    return deg.groupBy("degree").agg(F.count(F.lit(1)).alias("n_customers"))


@query(
    "q_copurchase_pairs",
    oracle="""
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
           COUNT(*) AS n_baskets
    FROM lineitem a
    JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2
    ORDER BY n_baskets DESC, part_a, part_b
    LIMIT 20
    """,
)
def q_copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: top part pairs appearing in the
    same order. The self-join key is the ORDER (fanout bounded by
    basket size, ~7 lines — per-order pair expansion is a constant,
    so total work is linear in orders, unlike a part-keyed hub join);
    one equi-join shuffle, one pair-count shuffle, TakeOrdered
    top-k."""
    l = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = l.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part_a")
    )
    b = l.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part_b")
    )
    return (
        a.join(b, on=[a.ok == b.ok, F.col("part_a") < F.col("part_b")])
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_baskets"))
        .orderBy(F.col("n_baskets").desc(), "part_a", "part_b")
        .limit(20)
    )


# --------------------------------------------------- k-core backbone


# k-core oracle: the peel is an INTEGER fixpoint (degree counts +
# semi-joins), so it replays exactly in SQL by unrolling the rounds —
# _KCORE_ROUNDS is a safety margin far above the observed peel depth
# (the sf0.01 co-purchase graph stabilizes after 1 round); extra
# rounds are no-ops on the fixpoint. MATERIALIZED stops DuckDB from
# inlining each round into the next (exponential re-execution).
_KCORE_K = 4
_KCORE_ROUNDS = 12


def _kcore_oracle() -> str:
    parts = [
        """
    WITH li AS (SELECT l_orderkey AS ok, l_partkey AS p FROM lineitem),
    pairs AS MATERIALIZED (
      SELECT DISTINCT a.p AS u, b.p AS v
      FROM li a JOIN li b ON a.ok = b.ok AND a.p < b.p
    ),
    e0 AS MATERIALIZED (
      SELECT u, v FROM pairs WHERE u <> v
      UNION SELECT v, u FROM pairs WHERE u <> v
    )"""
    ]
    # one EXTRA round beyond the answer round: the guard below must
    # verify that e{N} is the fixpoint by peeling it once more, not
    # by comparing e{N-1} vs e{N} (which would false-fail when the
    # peel stabilizes exactly at round N)
    for r in range(1, _KCORE_ROUNDS + 2):
        parts.append(f""", k{r} AS MATERIALIZED (
      SELECT u FROM e{r - 1} GROUP BY u HAVING COUNT(*) >= {_KCORE_K}
    ), e{r} AS MATERIALIZED (
      SELECT e.u, e.v FROM e{r - 1} e
      WHERE e.u IN (SELECT u FROM k{r}) AND e.v IN (SELECT u FROM k{r})
    )""")
    # convergence guard: the Spark operator peels to FIXPOINT while
    # this unroll runs a fixed _KCORE_ROUNDS — if a larger sf ever
    # needed more rounds, peeling e{N} once more would shrink it
    # (e{N+1} ⊂ e{N}, counts differ: the peel only removes) and the
    # WHERE below returns 0 rows, failing the gate loudly (row-count
    # mismatch) instead of silently hash-mismatching on a
    # non-converged peel
    n, g = _KCORE_ROUNDS, _KCORE_ROUNDS + 1
    parts.append(f"""
    SELECT u AS id, CAST(COUNT(*) AS BIGINT) AS degree
    FROM e{n}
    WHERE (SELECT COUNT(*) FROM e{n}) = (SELECT COUNT(*) FROM e{g})
    GROUP BY u
    ORDER BY degree DESC, id LIMIT 20
    """)
    return "".join(parts)


@query("graph_kcore", oracle=_kcore_oracle())
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense backbone of the co-purchase graph: the 4-core (every
    surviving part co-ordered with ≥4 other surviving parts) — the
    subgraph community/triangle analytics should run on after the
    long tail is peeled away. Top-20 survivors by in-core degree.

    Scale shape (operators/graph.kcore): each peel round is one
    degree count + two semi-joins on the node key, lineage
    localCheckpointed per round; rounds = peel depth, not node
    count. The pair expansion is order-keyed (bounded by basket
    size) like q_copurchase_pairs."""
    from dasladen_spark.operators.graph import kcore

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("u")
    )
    b = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("v")
    )
    edges = (
        a.join(b, on=[a.ok == b.ok, F.col("u") < F.col("v")])
        .select("u", "v")
        .distinct()
    )
    return (
        kcore(edges, k=4)
        .orderBy(F.col("degree").desc(), "id")
        .limit(20)
    )


# ------------------------------------------------ triangle census
#
# The co-purchase graph: parts are nodes, and two parts that occur in
# the same order share an edge.


def _copurchase_edges(li: DataFrame) -> DataFrame:
    """Distinct part–part edges ``(u, v)``, ``u < v``, of the
    co-purchase graph over ``lineitem``."""
    op = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    ).distinct()
    return (
        op.alias("a")
        .join(op.alias("b"), on=F.expr("a.o = b.o AND a.p < b.p"))
        .select(F.col("a.p").alias("u"), F.col("b.p").alias("v"))
        .distinct()
    )


def _edges_sql(name: str) -> str:
    """CTEs ``op`` and ``{name}(u, v)``: the DuckDB side of
    _copurchase_edges."""
    return f"""op AS (
      SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
    ), {name} AS (
      SELECT DISTINCT a.p AS u, b.p AS v
      FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
    )"""


#: degree orientation of edge CTE ``e``: each undirected edge points
#: from its (degree, id)-smaller end (CTEs und, deg, oriented)
_ORIENTED_SQL = """und AS (
      SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e
    ), deg AS (
      SELECT u, COUNT(*) AS d FROM und GROUP BY u
    ), oriented AS (
      SELECT e.u, e.v FROM e
      JOIN deg du ON du.u = e.u JOIN deg dv ON dv.u = e.v
      WHERE (du.d, e.u) < (dv.d, e.v)
      UNION ALL
      SELECT e.v AS u, e.u AS v FROM e
      JOIN deg du ON du.u = e.u JOIN deg dv ON dv.u = e.v
      WHERE (dv.d, e.v) < (du.d, e.u)
    )"""
#: the wedge join that meets each oriented triangle exactly once
_WEDGES_SQL = """FROM oriented e1
    JOIN oriented e2 ON e2.u = e1.v
    JOIN oriented e3 ON e3.u = e1.u AND e3.v = e2.v"""


@query(
    "q_triangle_count",
    oracle=f"""
    WITH {_edges_sql('e')}, {_ORIENTED_SQL}
    SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
    {_WEDGES_SQL}
    """,
)
def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the co-purchase graph (parts co-occurring in
    an order) — the clustering-coefficient primitive for corpus /
    interaction graphs.

    Scale shape: the classic wedge explosion (join on a hub node
    touches deg² pairs) is bounded by DEGREE ORIENTATION — each
    undirected edge is directed from its (degree, id)-smaller
    endpoint, so every out-degree is O(√E) and the wedge join
    enumerates each triangle exactly once. All three joins are
    equi-joins on node keys; nothing is collected."""
    from dasladen_spark.operators.graph import triangle_count

    li = _t(spark, sf_dir, "lineitem")
    return triangle_count(_copurchase_edges(li))


#: Doulion edge-sampling tiers for the triangle ESTIMATOR: p = 1
#: through sf0.1-sized inputs (the estimate IS the exact count at
#: every sf the driver grades), then p = 1/4 and 1/16 as the fact
#: table decades up — the wedge join's E^1.5 cost falls by p^1.5
#: (8× / 64×) while the p⁻³ unbiased scale-up stays exact integer
#: arithmetic. The tier keys on COUNT(lineitem) (cheap, monotone in
#: sf), and the sample itself is the portable md5-prefix predicate —
#: a deterministic function of the edge, so both engines draw the
#: SAME sample and the estimate replays bit-for-bit.
_TRI_TIERS = [
    (30_000_000, "10000000", 4096),  # p=1/16 -> ×16³ (sf10 and up)
    (1_000_000, "40000000", 64),     # p=1/4  -> ×4³  (sf1)
    (0, "zzzzzzzz", 1),              # p=1 (every md5 prefix < 'zz…')
]


def _tri_tier(n_li: int) -> tuple[str, int]:
    for bound, thr, factor in _TRI_TIERS:
        if n_li > bound or bound == 0:
            return thr, factor
    raise AssertionError("unreachable")


_TRI_EDGE_KEY_SQL = (
    "substr(md5('tri-sample:' || CAST(e.u AS VARCHAR) || ':'"
    " || CAST(e.v AS VARCHAR)), 1, 8)"
)


@query(
    "q_triangle_count_estimate",
    oracle=f"""
    WITH param AS (
      SELECT CASE WHEN (SELECT COUNT(*) FROM lineitem) > {_TRI_TIERS[0][0]}
                  THEN '{_TRI_TIERS[0][1]}'
                  WHEN (SELECT COUNT(*) FROM lineitem) > {_TRI_TIERS[1][0]}
                  THEN '{_TRI_TIERS[1][1]}'
                  ELSE '{_TRI_TIERS[2][1]}' END AS thr,
             CASE WHEN (SELECT COUNT(*) FROM lineitem) > {_TRI_TIERS[0][0]}
                  THEN {_TRI_TIERS[0][2]}
                  WHEN (SELECT COUNT(*) FROM lineitem) > {_TRI_TIERS[1][0]}
                  THEN {_TRI_TIERS[1][2]}
                  ELSE {_TRI_TIERS[2][2]} END AS f
    ), {_edges_sql('e0')}, e AS (
      SELECT u, v FROM e0 e
      WHERE {_TRI_EDGE_KEY_SQL} < (SELECT thr FROM param)
    ), {_ORIENTED_SQL}
    SELECT CAST(COUNT(*) * (SELECT f FROM param) AS BIGINT)
             AS n_triangles_est
    {_WEDGES_SQL}
    """,
)
def q_triangle_count_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doulion (Tsourakakis et al. 2009) edge-sampled triangle
    ESTIMATE — the 100 TB tier of q_triangle_count, whose exact
    degree-oriented wedge join is algorithmically O(E^1.5) (inherent,
    measured 51× for 10× rows at sf1). Keeping each edge with
    probability p and scaling the sampled census by p⁻³ is unbiased;
    here p steps down as the fact table decades up (_TRI_TIERS), so
    the estimator's wedge cost grows ~p^1.5·E^1.5 ≈ linearly across
    tiers. p = 1 through sf0.1, so every sf the driver grades returns
    the EXACT census; the sample predicate is the portable md5-prefix
    hash of the edge key — deterministic, so the DuckDB oracle draws
    the identical sample and the estimate replays exactly."""
    from dasladen_spark.operators.graph import triangle_count

    li = _t(spark, sf_dir, "lineitem")
    thr, factor = _tri_tier(li.count())
    e = _copurchase_edges(li).filter(
        F.substring(
            F.md5(F.concat_ws(":", F.lit("tri-sample"), F.col("u"), F.col("v"))),
            1,
            8,
        )
        < F.lit(thr)
    )
    return triangle_count(e).select(
        (F.col("n_triangles") * F.lit(factor))
        .cast("bigint")
        .alias("n_triangles_est")
    )


# label-propagation oracle: the deterministic synchronous variant is
# INTEGER-only (vote counts, min-label tie-breaks), so the fixed 4
# rounds unroll exactly in SQL — one vote/count/argmax/update CTE
# block per round, MATERIALIZED so DuckDB never inlines a round into
# the next (exponential re-execution).
_LP_ITERS = 4


def _communities_oracle() -> str:
    parts = [
        """
    WITH li AS (
      SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
    ), pairs AS MATERIALIZED (
      SELECT DISTINCT a.p AS u, b.p AS v
      FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
    ), und AS MATERIALIZED (
      SELECT u, v FROM pairs UNION ALL SELECT v, u FROM pairs
    ), l0 AS MATERIALIZED (
      SELECT DISTINCT u AS id, u AS community FROM und
    )"""
    ]
    for r in range(1, _LP_ITERS + 1):
        parts.append(f""", n{r} AS MATERIALIZED (
      SELECT id2, community, COUNT(*) AS n FROM (
        SELECT e.u AS id2, l.community
        FROM und e JOIN l{r - 1} l ON e.v = l.id
        UNION ALL
        SELECT id, community FROM l{r - 1}
      ) GROUP BY id2, community
    ), l{r} AS MATERIALIZED (
      SELECT prev.id,
             coalesce(b.new_comm, prev.community) AS community
      FROM l{r - 1} prev LEFT JOIN (
        SELECT id2, community AS new_comm FROM (
          SELECT id2, community,
                 ROW_NUMBER() OVER (PARTITION BY id2
                   ORDER BY n DESC, community ASC) AS rk
          FROM n{r}
        ) WHERE rk = 1
      ) b ON prev.id = b.id2
    )""")
    parts.append(f"""
    SELECT community, CAST(COUNT(*) AS BIGINT) AS size
    FROM l{_LP_ITERS} GROUP BY community
    ORDER BY size DESC, community LIMIT 20
    """)
    return "".join(parts)


@query("graph_communities", oracle=_communities_oracle())
def graph_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community structure of the co-purchase graph via deterministic
    synchronous label propagation (operators/graph.label_propagation)
    — the clustering that still says something when the whole graph
    is one connected component. Reports the 20 largest communities.

    Scale shape: each round is one neighbor-keyed count aggregation +
    a per-node window argmax; no collect, lineage checkpointed per
    round."""
    from dasladen_spark.operators.graph import label_propagation

    li = _t(spark, sf_dir, "lineitem")
    comm = label_propagation(_copurchase_edges(li), iterations=4)
    return (
        comm.groupBy("community")
        .agg(F.count(F.lit(1)).cast("bigint").alias("size"))
        .orderBy(F.col("size").desc(), "community")
        .limit(20)
    )
