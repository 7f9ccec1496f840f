"""Graph operators (SURVEY.md §2.15): connected components, PageRank
and triangle counting, with their DuckDB oracles.

No operator module is driven: each algorithm is an edge-list
formulation over Spark built-ins — keyed shuffles and grouped minima
per round for the components fixpoint, node-bounded broadcast joins
for PageRank, and a fan-out-capped co-occurrence projection for
triangles — never an adjacency matrix.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from skyhookdb_ceph_spark.queries._util import Catalog, quantize
from skyhookdb_ceph_spark.registry import query


def _components_oracle(k: int) -> str:
    """Unrolled k-round min-label propagation as chained MATERIALIZED
    CTEs — one level per round, each linear in |E|.

    The obvious oracle (a recursive-CTE transitive closure with a
    per-node min) materializes |component|^2 label pairs and exceeds
    10 minutes of DuckDB time at sf0.1 (BASELINE.md §H.6), while this
    form runs the SAME per-round recurrence as the Spark fixpoint —
    lab_{i}(v) = least(lab_{i-1}(v), min over neighbors of
    lab_{i-1}) — and is verified equal to the closure oracle at
    sf0.001/sf0.01 (tests/test_correctness.py remains the cross-check
    there).  k matches the Spark side's max_rounds bound: Spark
    RAISES if the fixpoint needs more than max_rounds, so whenever
    the engine returns at all, k oracle rounds provably cover it
    (rounds past the fixpoint are no-ops).  MATERIALIZED is load-
    bearing: each level is referenced twice (self + neighbor side)
    and DuckDB's default CTE inlining would recompute it per
    reference — exponential in k."""
    sql = (
        "WITH edges AS MATERIALIZED (\n"
        "  SELECT DISTINCT l_partkey * 2 AS src, l_suppkey * 2 + 1 AS dst\n"
        "  FROM lineitem WHERE l_orderkey % 20 = 0),\n"
        "und AS MATERIALIZED "
        "(SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),\n"
        "lab0 AS MATERIALIZED (SELECT DISTINCT src AS v, src AS lab FROM und)"
    )
    for i in range(1, k + 1):
        sql += (
            f",\nlab{i} AS MATERIALIZED (\n"
            f"  SELECT l.v, least(l.lab, coalesce(min(n.lab), l.lab)) AS lab\n"
            f"  FROM lab{i - 1} l\n"
            f"  LEFT JOIN und u ON u.src = l.v\n"
            f"  LEFT JOIN lab{i - 1} n ON n.v = u.dst\n"
            f"  GROUP BY l.v, l.lab)"
        )
    return sql + (
        f"\nSELECT v AS node, CAST(lab AS BIGINT) AS component "
        f"FROM lab{k} ORDER BY node"
    )


_COMPONENTS_MAX_ROUNDS = 50
_COMPONENTS_ORACLE = _components_oracle(_COMPONENTS_MAX_ROUNDS)


@query(
    "q_graph_components",
    oracle=_COMPONENTS_ORACLE,
    tags=("graph", "iterative"),
)
def q_graph_components(spark, sf_dir):
    """Connected components by iterative min-label propagation over the
    part—supplier co-occurrence graph (edges from a deterministic 1/20
    order thinning; part nodes = 2k, supplier nodes = 2k+1).

    This is the fixpoint that q_dedup_cluster's fixed two rounds
    approximate: each round is one keyed shuffle (edges join labels ->
    grouped neighbor-min) and the loop stops when no label changes —
    exactly how production fuzzy-dedup resolves duplicate clusters.
    Per-round cost at 100 TB is one sort-merge join partitioned by
    vertex; localCheckpoint truncates the growing lineage each round
    (a cluster deployment would use a checkpoint dir on shared
    storage).  The oracle unrolls the SAME per-round recurrence to
    the same max_rounds bound (see _components_oracle) — the previous
    recursive-CTE transitive-closure form was O(|component|^2) and
    DuckDB-intractable at sf0.1 (BASELINE.md §H.6).

    Convergence detection is FUSED into the round (r6 verdict item
    9): the new label row carries a chg flag (neighbor-min < own
    label), so `changed` is a scan-count of the already-checkpointed
    round output instead of a separate old⋈new join — measured sf0.1:
    5.1 s → 3.8 s over 9 rounds.  Profiled alternatives, both
    REJECTED: checkpoint-every-2-rounds 8.9 s (the un-truncated
    round's plan recomputes for the count AND the next join);
    eager=False checkpoint 5.6–15 s (materialization races the
    reuse).  Residual cost is 2 job dispatches × rounds — pure local
    floor, irrelevant at cluster scale."""
    li = Catalog(spark, sf_dir).lineitem
    edges = (
        li.filter(F.expr("l_orderkey % 20 = 0"))
        .selectExpr("l_partkey * 2 AS src", "l_suppkey * 2 + 1 AS dst")
        .distinct()
    )
    und = edges.unionByName(
        edges.selectExpr("dst AS src", "src AS dst")
    ).persist()
    labels = (
        und.select(F.col("src").alias("v"))
        .distinct()
        .withColumn("lab", F.col("v"))
        .localCheckpoint()
    )
    max_rounds = _COMPONENTS_MAX_ROUNDS  # oracle unrolls the same bound
    converged = False
    for _ in range(max_rounds):
        neigh_min = (
            und.join(labels, und.dst == labels.v)
            .groupBy(und.src.alias("nv"))
            .agg(F.min("lab").alias("nlab"))
        )
        new_labels = (
            labels.join(neigh_min, F.col("v") == F.col("nv"), "left")
            .select(
                "v",
                F.least(
                    F.col("lab"), F.coalesce(F.col("nlab"), F.col("lab"))
                ).alias("lab"),
                (
                    F.coalesce(F.col("nlab"), F.col("lab")) < F.col("lab")
                ).alias("chg"),
            )
            .localCheckpoint()
        )
        changed = new_labels.filter("chg").count()
        labels = new_labels.select("v", "lab")
        if changed == 0:
            converged = True
            break
    und.unpersist()
    if not converged:
        # A diameter->max_rounds graph would otherwise return silent
        # non-fixpoint labels diverging from the recursive-CTE oracle;
        # surface it as an error instead of a wrong answer (ADVICE r4).
        raise RuntimeError(
            f"q_graph_components: min-label propagation did not reach "
            f"fixpoint within {max_rounds} rounds"
        )
    return (
        labels.select(
            F.col("v").alias("node"), F.col("lab").alias("component")
        ).orderBy("node")
    )


_PAGERANK_ORACLE = """
WITH e AS (
  SELECT c_nationkey AS src, s_nationkey AS dst, CAST(count(*) AS DOUBLE) AS w
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN lineitem ON l_orderkey = o_orderkey
  JOIN supplier ON l_suppkey = s_suppkey
  GROUP BY 1, 2),
p AS (SELECT src, dst, w / sum(w) OVER (PARTITION BY src) AS p FROM e),
r0 AS (SELECT CAST(n_nationkey AS BIGINT) AS node,
              CAST(0.04 AS DOUBLE) AS r FROM nation),
c1 AS (SELECT p.dst AS node, sum(r0.r * p.p) AS c
       FROM p JOIN r0 ON r0.node = p.src GROUP BY p.dst),
r1 AS (SELECT r0.node, CAST(0.006 AS DOUBLE) + 0.85 * coalesce(c1.c, 0) AS r
       FROM r0 LEFT JOIN c1 ON c1.node = r0.node),
c2 AS (SELECT p.dst AS node, sum(r1.r * p.p) AS c
       FROM p JOIN r1 ON r1.node = p.src GROUP BY p.dst),
r2 AS (SELECT r1.node, CAST(0.006 AS DOUBLE) + 0.85 * coalesce(c2.c, 0) AS r
       FROM r1 LEFT JOIN c2 ON c2.node = r1.node),
c3 AS (SELECT p.dst AS node, sum(r2.r * p.p) AS c
       FROM p JOIN r2 ON r2.node = p.src GROUP BY p.dst),
r3 AS (SELECT r2.node, CAST(0.006 AS DOUBLE) + 0.85 * coalesce(c3.c, 0) AS r
       FROM r2 LEFT JOIN c3 ON c3.node = r2.node)
SELECT node, floor(r * 1000000 + 0.5) / 1000000 AS rank
FROM r3 ORDER BY node
"""


@query("q_graph_pagerank", oracle=_PAGERANK_ORACLE, tags=("graph", "iterative"))
def q_graph_pagerank(spark, sf_dir):
    """PageRank (damping 0.85, 3 iterations) on the 25-node nation
    trade graph: edge weight = order lines from customers of nation i
    supplied by nation j.  The expensive part is the one-time edge
    aggregation (4-way fact join, one keyed shuffle); the rank loop
    itself runs on a node-count-bounded table — at 100 TB the edges
    build scales with the fact tables while each iteration stays a
    dimension-sized broadcast join, which is why edge-list PageRank
    beats adjacency-matrix formulations on data this shape.  Dangling
    mass is dropped identically in both engines."""
    c = Catalog(spark, sf_dir)
    edges = (
        c.orders.join(
            c.customer, F.col("o_custkey") == F.col("c_custkey")
        )
        .join(c.lineitem, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c.supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(
            F.col("c_nationkey").alias("src"),
            F.col("s_nationkey").alias("dst"),
        )
        .agg(F.count(F.lit(1)).cast("double").alias("w"))
    )
    p = edges.withColumn(
        "p", F.col("w") / F.sum("w").over(Window.partitionBy("src"))
    ).select("src", "dst", "p")
    p = p.persist()
    ranks = c.nation.select(
        F.col("n_nationkey").cast("bigint").alias("node"),
        F.lit(0.04).alias("r"),
    )
    for _ in range(3):
        contrib = (
            p.join(ranks, p.src == ranks.node)
            .groupBy(p.dst.alias("cnode"))
            .agg(F.sum(F.col("r") * F.col("p")).alias("c"))
        )
        ranks = (
            ranks.join(contrib, ranks.node == contrib.cnode, "left")
            .select(
                "node",
                (F.lit(0.006) + 0.85 * F.coalesce(F.col("c"), F.lit(0.0))).alias("r"),
            )
        )
    p.unpersist()
    return ranks.select(
        "node", quantize(F.col("r"), 6).alias("rank")
    ).orderBy("node")


_TRI_BUCKET_SEC = 600
_TRI_CAP = 8

_TRI_ORACLE = f"""
WITH b AS (
  SELECT DISTINCT event_type,
    CAST(floor(epoch(ts) / {_TRI_BUCKET_SEC}) AS BIGINT) AS mn, user_id
  FROM events),
small AS (
  SELECT event_type, mn FROM b GROUP BY 1, 2 HAVING count(*) <= {_TRI_CAP}),
bs AS (SELECT b.* FROM b JOIN small USING (event_type, mn)),
e AS (
  SELECT DISTINCT x.user_id AS a, y.user_id AS b2
  FROM bs x JOIN bs y
    ON x.event_type = y.event_type AND x.mn = y.mn
   AND x.user_id < y.user_id),
w AS (SELECT e1.a, e1.b2 AS b, e2.b2 AS c FROM e e1 JOIN e e2 ON e1.b2 = e2.a),
t AS (SELECT count(*) AS tri FROM w JOIN e e3 ON w.a = e3.a AND w.c = e3.b2)
SELECT CAST((SELECT count(*) FROM e) AS BIGINT) AS n_edges,
  CAST((SELECT count(*) FROM w) AS BIGINT) AS n_wedges,
  CAST(tri AS BIGINT) AS n_triangles,
  floor((tri * 1.0 / (SELECT count(*) FROM w)) * 1000000 + 0.5) / 1000000
    AS closure_ratio
FROM t
"""


@query(
    "q_graph_triangles",
    oracle=_TRI_ORACLE,
    tags=("graph", "scale-design"),
)
def q_graph_triangles(spark, sf_dir):
    """Triangle counting — the third graph primitive (after connected
    components and PageRank): the clustering-structure measure behind
    community detection and link-spam screens.  Graph = users
    co-occurring in a RARE (event_type, 10-minute) bucket, with the
    q_dedup_containment fanout cap (buckets holding > 8 users emit no
    edges) — the projection cap that keeps co-occurrence graphs
    buildable at any corpus size (a hot bucket would otherwise emit
    O(bucket²) edges).

    The count uses the ORIENTED wedge-close algorithm: edges stored
    once as a < b, wedges a<b<c from one self-equi-join on the middle
    vertex, closed by a second equi-join probing the (a, c) edge —
    every join keyed, no cartesian, wedge count bounded by
    cap x edges.  This orientation IS the classic degree-ordering
    trick's fixed-order variant: each triangle is counted exactly
    once (from its smallest vertex), not 6 times.  closure_ratio =
    triangles / wedges, the global transitivity under the same
    orientation.  Output is ONE row; nothing corpus-sized leaves the
    executors."""
    ev = Catalog(spark, sf_dir).events
    b = (
        ev.select(
            "event_type",
            F.floor(F.unix_timestamp("ts") / _TRI_BUCKET_SEC)
            .cast("bigint")
            .alias("mn"),
            "user_id",
        )
        .distinct()
    )
    small = (
        b.groupBy("event_type", "mn")
        .agg(F.count(F.lit(1)).alias("sz"))
        .filter(F.col("sz") <= _TRI_CAP)
        .drop("sz")
    )
    bs = b.join(small, ["event_type", "mn"])
    x = bs.selectExpr("event_type", "mn", "user_id AS a")
    y = bs.selectExpr("event_type AS et2", "mn AS mn2", "user_id AS b2")
    e = (
        x.join(
            y,
            (x.event_type == y.et2) & (x.mn == y.mn2) & (x.a < y.b2),
        )
        .select("a", "b2")
        .distinct()
    )
    e1 = e.selectExpr("a", "b2 AS b")
    e2 = e.selectExpr("a AS b_", "b2 AS c")
    w = e1.join(e2, e1.b == e2.b_).select("a", "b", "c")
    e3 = e.selectExpr("a AS a_", "b2 AS c_")
    tri = w.join(e3, (w.a == e3.a_) & (w.c == e3.c_))
    # three 1-row aggregates combined in ONE plan (1-row broadcast
    # config-join precedent); ReusedExchange dedupes the shared edge
    # subtree instead of recomputing it per count
    ne = e.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
    nw = w.agg(F.count(F.lit(1)).cast("bigint").alias("n_wedges"))
    nt = tri.agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
    return (
        ne.crossJoin(F.broadcast(nw))
        .crossJoin(F.broadcast(nt))
        .select(
            "n_edges",
            "n_wedges",
            "n_triangles",
            # NULL when the graph has no wedges (found by the sf10
            # scaling smoke: at 100× event density EVERY bucket
            # exceeds the fanout cap, the capped graph goes empty, and
            # an unguarded ratio raises DIVIDE_BY_ZERO under ANSI —
            # matches DuckDB, where x/0 is NULL)
            quantize(
                F.when(
                    F.col("n_wedges") > 0,
                    F.col("n_triangles") / F.col("n_wedges"),
                ),
                6,
            ).alias("closure_ratio"),
        )
    )
