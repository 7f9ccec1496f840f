"""Round-4 operators (SURVEY.md §2.15) — TPC-H parity queries
(Q1/Q6/Q12/Q14 shapes over the fixture schema), iterative graph
analytics (connected components, PageRank), probabilistic-filter
semantics (deterministic Bloom pre-join filter, Count-Min sketch),
time-series linear interpolation, MERGE/upsert classification, struct
algebra and distribution windows.

House rules (pipeline.py..pipeline3.py): deterministic — no RNG, no
wall clock; every computed double quantized engine-invariantly
(floor(x*10^n + 0.5)/10^n) and aliased identically in Spark and
oracle SQL; ordering keys always include a unique tie-break column.

Hashing: md5 is the only digest both engines produce byte-identically,
so integer hash values are derived from md5 hex windows via the
portable `_hexval8` expression below (substr/instr/CAST only — executes
identically in Spark SQL and DuckDB).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from skyhookdb_ceph_spark.queries._util import Catalog, quantize, quantize2, ratio
from skyhookdb_ceph_spark.registry import query


def _hexval8(hex_expr: str, start: int = 1) -> str:
    """Portable SQL for the integer value of the 8 hex chars of
    `hex_expr` (an md5-hex string expression) starting at 1-based
    `start`.  Only substr/instr/CAST arithmetic — byte-identical in
    Spark SQL and DuckDB.  Result is a non-negative BIGINT < 2^32."""
    terms = " + ".join(
        f"(instr('0123456789abcdef', substr({hex_expr}, {start + i}, 1)) - 1)"
        f" * CAST({16 ** (7 - i)} AS BIGINT)"
        for i in range(8)
    )
    return f"({terms})"


# ---------------------------------------------------------------------------
# §2.15.1 TPC-H parity: Q1 pricing summary
# ---------------------------------------------------------------------------

_Q1_ORACLE = """
SELECT l_returnflag, l_linestatus,
  floor(sum(l_quantity) * 100 + 0.5) / 100 AS sum_qty,
  floor(sum(l_extendedprice) * 100 + 0.5) / 100 AS sum_base_price,
  floor(sum(l_extendedprice * (1 - l_discount)) * 100 + 0.5) / 100 AS sum_disc_price,
  floor(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)) * 100 + 0.5) / 100 AS sum_charge,
  floor(avg(l_quantity) * 1000000 + 0.5) / 1000000 AS avg_qty,
  floor(avg(l_extendedprice) * 1000000 + 0.5) / 1000000 AS avg_price,
  floor(avg(l_discount) * 1000000 + 0.5) / 1000000 AS avg_disc,
  CAST(count(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


@query("q_tpch_q1", oracle=_Q1_ORACLE, tags=("tpch",))
def q_tpch_q1(spark, sf_dir):
    """TPC-H Q1 pricing-summary shape: single fact scan with a pushed
    date predicate, 8 simultaneous aggregates over a 6-group key.
    The 100 TB plan is the ideal one: pruned columnar scan ->
    partial HashAggregate (map-side, 6 groups) -> 6-row exchange ->
    final HashAggregate.  Nothing shuffles but the partial states."""
    li = Catalog(spark, sf_dir).lineitem
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            quantize2(F.sum("l_quantity")).alias("sum_qty"),
            quantize2(F.sum("l_extendedprice")).alias("sum_base_price"),
            quantize2(F.sum(disc_price)).alias("sum_disc_price"),
            quantize2(
                F.sum(disc_price * (1 + F.col("l_tax")))
            ).alias("sum_charge"),
            ratio(F.avg("l_quantity")).alias("avg_qty"),
            ratio(F.avg("l_extendedprice")).alias("avg_price"),
            ratio(F.avg("l_discount")).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# ---------------------------------------------------------------------------
# §2.15.2 TPC-H parity: Q6 forecasting revenue change
# ---------------------------------------------------------------------------

_Q6_ORACLE = """
SELECT floor(sum(l_extendedprice * l_discount) * 100 + 0.5) / 100 AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24
"""


@query("q_tpch_q6", oracle=_Q6_ORACLE, tags=("tpch",))
def q_tpch_q6(spark, sf_dir):
    """TPC-H Q6: pure scan-filter-aggregate — every predicate reaches
    the parquet reader (date + two numeric ranges all pushable), the
    aggregate is a 1-row global sum.  At 100 TB this is the query
    where pushdown matters most: row-group min/max statistics skip
    most of the table before a byte is decoded."""
    li = Catalog(spark, sf_dir).lineitem
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            quantize2(
                F.sum(F.col("l_extendedprice") * F.col("l_discount"))
            ).alias("revenue")
        )
    )


# ---------------------------------------------------------------------------
# §2.15.3 TPC-H parity: Q12 shipping-priority counts (fixture-adapted)
# ---------------------------------------------------------------------------

_Q12_ORACLE = """
SELECT l_linestatus,
  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_shipdate > o_orderdate + INTERVAL 90 DAY
GROUP BY l_linestatus
ORDER BY l_linestatus
"""


@query("q_tpch_q12", oracle=_Q12_ORACLE, tags=("tpch",))
def q_tpch_q12(spark, sf_dir):
    """TPC-H Q12 shape adapted to the fixture schema (no l_shipmode /
    l_commitdate: "late" = shipped more than 90 days after order
    date).  Two FACT tables joined on their natural key — neither side
    is broadcastable at scale, so this is the canonical shuffle
    (sort-merge) join both engines must get right; conditional counts
    fold into one partial aggregate after the join."""
    c = Catalog(spark, sf_dir)
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        c.orders.join(
            c.lineitem, F.col("o_orderkey") == F.col("l_orderkey")
        )
        .filter(
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 90 DAY")
        )
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0))
            .cast("bigint")
            .alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1))
            .cast("bigint")
            .alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


# ---------------------------------------------------------------------------
# §2.15.4 TPC-H parity: Q14 promotion effect
# ---------------------------------------------------------------------------

_Q14_ORACLE = """
SELECT floor((100.0 * sum(CASE WHEN p_type = 'PROMO'
                               THEN l_extendedprice * (1 - l_discount)
                               ELSE 0 END)
              / sum(l_extendedprice * (1 - l_discount))) * 1000000 + 0.5)
       / 1000000 AS promo_revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-02-01'
"""


@query("q_tpch_q14", oracle=_Q14_ORACLE, tags=("tpch",))
def q_tpch_q14(spark, sf_dir):
    """TPC-H Q14 promo-revenue ratio: month-filtered fact joined to the
    part dimension, conditional sum / total sum.  No explicit broadcast
    hint — part scales with SF, so Catalyst/AQE pick broadcast from
    size stats at bench scale and re-decide on clusters (same policy as
    q_tpch_q3, VERDICT r2 #5)."""
    c = Catalog(spark, sf_dir)
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", disc_price).otherwise(0.0)
    return (
        c.lineitem.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-02-01").cast("timestamp"))
        )
        .join(c.part, F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            quantize(
                F.lit(100.0) * F.sum(promo) / F.sum(disc_price), 6
            ).alias("promo_revenue")
        )
    )


# ---------------------------------------------------------------------------
# §2.15.5 Connected components (iterative min-label propagation)
# ---------------------------------------------------------------------------

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


# ---------------------------------------------------------------------------
# §2.15.6 PageRank (3 unrolled iterations on the nation trade graph)
# ---------------------------------------------------------------------------

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


# ---------------------------------------------------------------------------
# §2.15.7 Bloom-filter pre-join (deterministic, md5-derived bits)
# ---------------------------------------------------------------------------

def _hexval8_spark(hexcol: str, start: int = 1) -> str:
    """Spark-only fast path for _hexval8: conv() parses the hex window
    in one call (DuckDB has no conv, so oracles keep the arithmetic
    form — the VALUES are identical, verified by test; measured 1.6x
    faster per pass and far fewer per-row allocations)."""
    return f"CAST(conv(substr({hexcol}, {start}, 8), 16, 10) AS BIGINT)"


def _bloom_pos(key_expr: str, k: int) -> str:
    """Bloom bit position k (1..3) for `key_expr`: ONE md5 digest per
    key, k-th disjoint 8-hex-char window, mod 1024 — the
    Kirsch-Mitzenmacher construction (k hashes from one digest), so
    the probe pays a single digest per row.  Portable SQL (oracle
    form)."""
    digest = f"md5(concat('blm#', {key_expr}))"
    return f"({_hexval8(digest, 8 * (k - 1) + 1)} % 1024)"


def _bloom_pos_spark(hcol: str, k: int) -> str:
    """Spark fast path of _bloom_pos over a precomputed digest col."""
    return f"({_hexval8_spark(hcol, 8 * (k - 1) + 1)} % 1024)"


_BLOOM_ORACLE = f"""
WITH sup AS (SELECT s_suppkey FROM supplier WHERE s_nationkey < 5),
pos AS (
  SELECT DISTINCT {_bloom_pos('s_suppkey', 1)} AS pos FROM sup
  UNION SELECT DISTINCT {_bloom_pos('s_suppkey', 2)} FROM sup
  UNION SELECT DISTINCT {_bloom_pos('s_suppkey', 3)} FROM sup),
cand AS (
  SELECT l_suppkey FROM lineitem
  WHERE {_bloom_pos('l_suppkey', 1)} IN (SELECT pos FROM pos)
    AND {_bloom_pos('l_suppkey', 2)} IN (SELECT pos FROM pos)
    AND {_bloom_pos('l_suppkey', 3)} IN (SELECT pos FROM pos))
SELECT CAST(count(*) AS BIGINT) AS n_candidates,
  CAST(sum(CASE WHEN s.s_suppkey IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
  CAST(sum(CASE WHEN s.s_suppkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos
FROM cand LEFT JOIN sup s ON cand.l_suppkey = s.s_suppkey
"""


@query("q_filter_bloom", oracle=_BLOOM_ORACLE, tags=("sketch", "join"))
def q_filter_bloom(spark, sf_dir):
    """Bloom-filter pre-join: a 1024-bit / 3-hash filter built from a
    filtered supplier key set, probed against every lineitem BEFORE the
    exact join — the reference's storage-side filter-pushdown idea
    re-expressed as three broadcast LEFT SEMI joins on bit positions
    (<= 1024 rows broadcast; the fact table never shuffles for the
    probe).  Output is the sketch-quality summary: candidates passed,
    true matches, false positives.  Deterministic because the hash is
    md5-derived, so both engines compute the identical filter."""
    c = Catalog(spark, sf_dir)
    sup = c.supplier.filter(F.col("s_nationkey") < 5).select("s_suppkey")
    sup_h = sup.withColumn(
        "sh", F.md5(F.concat(F.lit("blm#"), F.col("s_suppkey")))
    )
    pos = None
    for k in (1, 2, 3):
        pk = sup_h.selectExpr(f"{_bloom_pos_spark('sh', k)} AS pos")
        pos = pk if pos is None else pos.unionByName(pk)
    pos = pos.distinct()
    # ONE digest per probe row; the three positions are conv() windows
    # over it.  coalesce(x, -1) makes each join key non-nullable so
    # Catalyst folds the inferred IsNotNull instead of pushing the
    # whole hash expansion into the scan filter (that duplicated
    # compute was 2x the query: measured 12.3 s -> ~1 s at sf0.1).
    probe = c.lineitem.select("l_suppkey").withColumn(
        "h", F.md5(F.concat(F.lit("blm#"), F.col("l_suppkey")))
    )
    for k in (1, 2, 3):
        probe = probe.withColumn(
            f"p{k}",
            F.expr(f"coalesce({_bloom_pos_spark('h', k)}, -1)"),
        )
        probe = probe.join(
            F.broadcast(pos),
            probe[f"p{k}"] == pos.pos,
            "leftsemi",
        )
    return (
        probe.join(
            F.broadcast(sup),
            probe.l_suppkey == sup.s_suppkey,
            "left",
        )
        .agg(
            F.count(F.lit(1)).alias("n_candidates"),
            F.sum(F.when(F.col("s_suppkey").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_true"),
            F.sum(F.when(F.col("s_suppkey").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_false_pos"),
        )
    )


# ---------------------------------------------------------------------------
# §2.15.8 Count-Min sketch (depth 2 x width 64, md5-derived rows)
# ---------------------------------------------------------------------------

def _cm_col(key_expr: str, row: int) -> str:
    """CMS column for sketch row 0/1: disjoint 8-hex windows of ONE
    md5 digest per key (same single-digest construction as the Bloom
    filter).  Portable SQL (oracle form)."""
    digest = f"md5(concat('cm#', {key_expr}))"
    return f"({_hexval8(digest, 8 * row + 1)} % 64)"


def _cm_col_spark(hcol: str, row: int) -> str:
    return f"({_hexval8_spark(hcol, 8 * row + 1)} % 64)"


_COUNTMIN_ORACLE = f"""
WITH k AS (
  SELECT concat(event_type, '#', user_id % 50) AS key FROM events),
rows_ AS (SELECT 0 AS r UNION ALL SELECT 1),
sk AS (
  SELECT r,
    CASE WHEN r = 0 THEN {_cm_col('key', 0)} ELSE {_cm_col('key', 1)} END AS c,
    CAST(count(*) AS BIGINT) AS cnt
  FROM k, rows_ GROUP BY 1, 2),
truth AS (SELECT key, CAST(count(*) AS BIGINT) AS true_cnt FROM k GROUP BY key)
SELECT t.key, t.true_cnt, least(s0.cnt, s1.cnt) AS est_cnt
FROM truth t
JOIN sk s0 ON s0.r = 0 AND s0.c = {_cm_col('t.key', 0)}
JOIN sk s1 ON s1.r = 1 AND s1.c = {_cm_col('t.key', 1)}
ORDER BY t.true_cnt DESC, t.key LIMIT 20
"""


@query("q_agg_countmin", oracle=_COUNTMIN_ORACLE, tags=("sketch",))
def q_agg_countmin(spark, sf_dir):
    """Count-Min sketch: depth-2 x width-64 counter matrix over a
    ~250-distinct-key stream (event_type x user bucket), then the top
    true keys probed for their estimates (est = min over rows; always
    >= true, deterministic because the hash rows are md5-derived).
    The sketch build is ONE map-side-combining groupBy whose state is
    128 counters regardless of input size — the point of CMS at
    100 TB: heavy-hitter frequency at fixed memory.  The probe joins
    the 128-row sketch broadcast-style against the distinct keys."""
    ev = Catalog(spark, sf_dir).events
    keyed = ev.selectExpr("concat(event_type, '#', user_id % 50) AS key")
    # ONE md5 per row; both sketch-row columns are conv() windows over
    # the digest column (same single-digest fast path as
    # q_filter_bloom).
    sketch = (
        keyed.selectExpr("md5(concat('cm#', key)) AS h")
        .selectExpr(
            f"explode(array(struct(0 AS r, {_cm_col_spark('h', 0)} AS c), "
            f"struct(1 AS r, {_cm_col_spark('h', 1)} AS c))) AS rc"
        )
        .selectExpr("rc.r AS r", "rc.c AS c")
        .groupBy("r", "c")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    truth = keyed.groupBy("key").agg(
        F.count(F.lit(1)).alias("true_cnt")
    )
    s0 = sketch.filter("r = 0").selectExpr("c AS c0", "cnt AS cnt0")
    s1 = sketch.filter("r = 1").selectExpr("c AS c1", "cnt AS cnt1")
    return (
        truth.withColumn("kh", F.expr("md5(concat('cm#', key))"))
        .withColumn("pc0", F.expr(f"coalesce({_cm_col_spark('kh', 0)}, -1)"))
        .withColumn("pc1", F.expr(f"coalesce({_cm_col_spark('kh', 1)}, -1)"))
        .join(F.broadcast(s0), F.col("pc0") == F.col("c0"))
        .join(F.broadcast(s1), F.col("pc1") == F.col("c1"))
        .select(
            "key",
            "true_cnt",
            F.least("cnt0", "cnt1").alias("est_cnt"),
        )
        .orderBy(F.desc("true_cnt"), "key")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# §2.15.9 As-of linear interpolation (time-weighted)
# ---------------------------------------------------------------------------

_INTERP_ORACLE = """
WITH ev AS (
  SELECT event_id, user_id, event_type, value,
         CAST(floor(epoch(ts)) AS BIGINT) AS sec
  FROM events),
ctx AS (
  SELECT event_id, user_id, event_type, sec,
    last_value(CASE WHEN event_type = 'click' THEN value END IGNORE NULLS)
      OVER w_prev AS pv,
    last_value(CASE WHEN event_type = 'click' THEN sec END IGNORE NULLS)
      OVER w_prev AS ps,
    first_value(CASE WHEN event_type = 'click' THEN value END IGNORE NULLS)
      OVER w_next AS nv,
    first_value(CASE WHEN event_type = 'click' THEN sec END IGNORE NULLS)
      OVER w_next AS ns
  FROM ev
  WINDOW
    w_prev AS (PARTITION BY user_id ORDER BY sec, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
    w_next AS (PARTITION BY user_id ORDER BY sec, event_id
               ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING))
SELECT event_id, user_id, sec AS ts_sec,
  floor((CASE
    WHEN pv IS NOT NULL AND nv IS NOT NULL AND ns > ps
      THEN pv + (nv - pv) * (sec - ps) / (ns - ps)
    WHEN pv IS NOT NULL THEN pv
    ELSE nv END) * 1000000 + 0.5) / 1000000 AS value_interp
FROM ctx WHERE event_type = 'purchase'
"""


@query("q_ts_asof_interp", oracle=_INTERP_ORACLE, tags=("timeseries",))
def q_ts_asof_interp(spark, sf_dir):
    """Time-weighted linear interpolation: each purchase gets the
    click-value linearly interpolated between the user's neighboring
    clicks (LOCF / NOCB at the edges) — the as-of join upgraded from
    step-function to linear, standard sensor/feature alignment.  One
    sort per user partition serves all four window frames; time math
    on whole epoch seconds (exact BIGINTs) so ordering is
    engine-invariant."""
    ev = Catalog(spark, sf_dir).events.select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        F.unix_timestamp("ts").alias("sec"),
    )
    click_val = F.when(F.col("event_type") == "click", F.col("value"))
    click_sec = F.when(F.col("event_type") == "click", F.col("sec"))
    w = Window.partitionBy("user_id").orderBy("sec", "event_id")
    w_prev = w.rowsBetween(Window.unboundedPreceding, -1)
    w_next = w.rowsBetween(1, Window.unboundedFollowing)
    ctx = ev.select(
        "event_id",
        "user_id",
        "event_type",
        "sec",
        F.last(click_val, ignorenulls=True).over(w_prev).alias("pv"),
        F.last(click_sec, ignorenulls=True).over(w_prev).alias("ps"),
        F.first(click_val, ignorenulls=True).over(w_next).alias("nv"),
        F.first(click_sec, ignorenulls=True).over(w_next).alias("ns"),
    )
    interp = (
        F.when(
            F.col("pv").isNotNull()
            & F.col("nv").isNotNull()
            & (F.col("ns") > F.col("ps")),
            F.col("pv")
            + (F.col("nv") - F.col("pv"))
            * (F.col("sec") - F.col("ps"))
            / (F.col("ns") - F.col("ps")),
        )
        .when(F.col("pv").isNotNull(), F.col("pv"))
        .otherwise(F.col("nv"))
    )
    return (
        ctx.filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            F.col("sec").alias("ts_sec"),
            quantize(interp, 6).alias("value_interp"),
        )
    )


# ---------------------------------------------------------------------------
# §2.15.10 MERGE / upsert classification (Delta-style MERGE INTO)
# ---------------------------------------------------------------------------

_MERGE_ORACLE = """
WITH upd AS (
  SELECT o_custkey AS key, sum(o_totalprice) AS delta
  FROM orders WHERE o_orderstatus = 'O' GROUP BY o_custkey),
ins AS (
  SELECT o_custkey + 1000000 AS key, sum(o_totalprice) AS delta
  FROM orders WHERE o_orderstatus = 'P' GROUP BY o_custkey),
changes AS (SELECT * FROM upd UNION ALL SELECT * FROM ins)
SELECT coalesce(c.c_custkey, g.key) AS custkey,
  CASE WHEN c.c_custkey IS NULL THEN 'insert'
       WHEN g.key IS NULL THEN 'keep'
       ELSE 'update' END AS action,
  floor((CASE WHEN c.c_custkey IS NULL THEN g.delta
              WHEN g.key IS NULL THEN c.c_acctbal
              ELSE c.c_acctbal + g.delta END) * 100 + 0.5) / 100 AS balance
FROM customer c FULL OUTER JOIN changes g ON c.c_custkey = g.key
"""


@query("q_delta_upsert_merge", oracle=_MERGE_ORACLE, tags=("pipeline", "merge"))
def q_delta_upsert_merge(spark, sf_dir):
    """MERGE INTO semantics as one full-outer join: a change set
    derived from orders (open orders update existing customer
    balances; pending orders insert synthetic new customers) merged
    against the customer base with per-row action classification
    (update / insert / keep) — the Delta/Iceberg upsert kernel
    expressed engine-neutrally.  At scale this is one shuffle on the
    merge key for each side; the change set is pre-aggregated so the
    join is 1:1 (no row explosion)."""
    c = Catalog(spark, sf_dir)
    upd = (
        c.orders.filter(F.col("o_orderstatus") == "O")
        .groupBy(F.col("o_custkey").alias("key"))
        .agg(F.sum("o_totalprice").alias("delta"))
    )
    ins = (
        c.orders.filter(F.col("o_orderstatus") == "P")
        .groupBy((F.col("o_custkey") + 1000000).alias("key"))
        .agg(F.sum("o_totalprice").alias("delta"))
    )
    changes = upd.unionByName(ins)
    base = c.customer.select("c_custkey", "c_acctbal")
    merged = base.join(
        changes, base.c_custkey == changes.key, "full_outer"
    )
    balance = (
        F.when(F.col("c_custkey").isNull(), F.col("delta"))
        .when(F.col("key").isNull(), F.col("c_acctbal"))
        .otherwise(F.col("c_acctbal") + F.col("delta"))
    )
    return merged.select(
        F.coalesce(F.col("c_custkey"), F.col("key")).alias("custkey"),
        F.when(F.col("c_custkey").isNull(), "insert")
        .when(F.col("key").isNull(), "keep")
        .otherwise("update")
        .alias("action"),
        quantize2(balance).alias("balance"),
    )


# ---------------------------------------------------------------------------
# §2.15.11 Struct algebra (collect -> sort -> project nested fields)
# ---------------------------------------------------------------------------

_STRUCT_ORACLE = """
WITH ranked AS (
  SELECT o_custkey, o_orderkey, o_totalprice,
    CAST(floor(epoch(o_orderdate)) AS BIGINT) AS sec,
    row_number() OVER (PARTITION BY o_custkey
                       ORDER BY floor(epoch(o_orderdate)), o_orderkey) AS rn,
    count(*) OVER (PARTITION BY o_custkey) AS n_orders
  FROM orders)
SELECT o_custkey AS custkey, o_orderkey AS first_orderkey,
  sec AS first_sec,
  floor(o_totalprice * 100 + 0.5) / 100 AS first_price,
  CAST(n_orders AS BIGINT) AS n_orders
FROM ranked WHERE rn = 1
"""


@query("q_fn_struct_ops", oracle=_STRUCT_ORACLE, tags=("functions",))
def q_fn_struct_ops(spark, sf_dir):
    """Struct algebra: per customer, orders are packed into an array of
    structs, array_sort uses the struct's NATURAL lexicographic order
    (epoch sec, then orderkey — deterministic tie-break), and the
    earliest order's fields are projected back out of the nested
    value.  Exercises struct(), collect_list, array_sort on structs,
    element_at and nested-field access; the oracle states the same
    thing relationally (row_number = 1).  One keyed shuffle; the
    per-group array is order-count bounded."""
    o = Catalog(spark, sf_dir).orders
    packed = (
        o.select(
            "o_custkey",
            F.struct(
                F.unix_timestamp("o_orderdate").alias("sec"),
                F.col("o_orderkey").alias("okey"),
                F.col("o_totalprice").alias("price"),
            ).alias("rec"),
        )
        .groupBy("o_custkey")
        .agg(
            F.array_sort(F.collect_list("rec")).alias("recs"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )
    first = F.element_at(F.col("recs"), 1)
    return packed.select(
        F.col("o_custkey").alias("custkey"),
        first.getField("okey").alias("first_orderkey"),
        first.getField("sec").alias("first_sec"),
        quantize2(first.getField("price")).alias("first_price"),
        "n_orders",
    )


# ---------------------------------------------------------------------------
# §2.15.12 Distribution windows: cume_dist + percent_rank
# ---------------------------------------------------------------------------

_CUME_ORACLE = """
SELECT c_custkey, CAST(c_nationkey AS BIGINT) AS nationkey,
  floor(cume_dist() OVER w * 1000000 + 0.5) / 1000000 AS cume,
  floor(percent_rank() OVER w * 1000000 + 0.5) / 1000000 AS pct_rank
FROM customer
WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey)
"""


@query("q_win_cume_dist", oracle=_CUME_ORACLE, tags=("window",))
def q_win_cume_dist(spark, sf_dir):
    """cume_dist + percent_rank over account balance within each
    nation — PARTITIONED window (never global: scale-safe, unlike the
    guarded q_win_ntile_pct), unique tie-break key so both engines
    rank identically."""
    cust = Catalog(spark, sf_dir).customer
    w = Window.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")
    return cust.select(
        "c_custkey",
        F.col("c_nationkey").cast("bigint").alias("nationkey"),
        quantize(F.cume_dist().over(w), 6).alias("cume"),
        quantize(F.percent_rank().over(w), 6).alias("pct_rank"),
    )


# ---------------------------------------------------------------------------
# §2.15.15 TPC-H Q4: priority counts gated on a correlated EXISTS
# ---------------------------------------------------------------------------

_Q4_ORACLE = """
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-07-01'
  AND o_orderdate < TIMESTAMP '1996-10-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey
                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


@query("q_tpch_q4", oracle=_Q4_ORACLE, tags=("tpch",))
def q_tpch_q4(spark, sf_dir):
    """TPC-H Q4 shape: quarter-filtered orders counted per priority,
    gated on EXISTS(late lineitem).  The EXISTS is a LEFT SEMI join
    whose condition references both sides (shipdate vs orderdate+60d)
    — Catalyst keeps the orderkey equality as the join key and the
    date band as residual, so the plan is a keyed semi join, never a
    per-row subquery."""
    c = Catalog(spark, sf_dir)
    o = c.orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    li = c.lineitem.select("l_orderkey", "l_shipdate")
    return (
        o.join(
            li,
            (F.col("l_orderkey") == F.col("o_orderkey"))
            & (
                F.col("l_shipdate")
                > F.col("o_orderdate") + F.expr("INTERVAL 60 DAY")
            ),
            "leftsemi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# §2.15.16 TPC-H Q15: top supplier(s) by quarterly revenue
# ---------------------------------------------------------------------------

_Q15_ORACLE = """
WITH rev AS (
  SELECT l_suppkey,
    floor(sum(l_extendedprice * (1 - l_discount)) * 100 + 0.5) / 100 AS total_rev
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey)
SELECT s_suppkey, s_name, total_rev
FROM supplier JOIN rev ON s_suppkey = l_suppkey
WHERE total_rev = (SELECT max(total_rev) FROM rev)
ORDER BY s_suppkey
"""


@query("q_tpch_q15", oracle=_Q15_ORACLE, tags=("tpch",))
def q_tpch_q15(spark, sf_dir):
    """TPC-H Q15 (top supplier view): quarterly revenue per supplier,
    then the row(s) equal to the maximum.  Revenue is quantized to
    cents BEFORE the max comparison so both engines elect the same
    winner even when raw double sums differ in the last ulp.  The max
    is a 1-row aggregate joined back by broadcast — the revenue table
    is never re-scanned (the view is computed once, as Q15's CREATE
    VIEW intends)."""
    c = Catalog(spark, sf_dir)
    rev = (
        c.lineitem.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(
            quantize2(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            ).alias("total_rev")
        )
    )
    mx = rev.agg(F.max("total_rev").alias("max_rev"))
    return (
        c.supplier.join(rev, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(
            F.broadcast(mx), F.col("total_rev") == F.col("max_rev")
        )
        .select("s_suppkey", "s_name", "total_rev")
        .orderBy("s_suppkey")
    )


# ---------------------------------------------------------------------------
# §2.15.17 TPC-H Q17: small-quantity revenue vs per-part average
# ---------------------------------------------------------------------------

_Q17_ORACLE = """
WITH pq AS (
  SELECT l_partkey AS pk, 0.2 * avg(l_quantity) AS qlim
  FROM lineitem GROUP BY l_partkey)
SELECT floor((sum(l_extendedprice) / 7.0) * 100 + 0.5) / 100 AS avg_yearly
FROM lineitem
JOIN part ON p_partkey = l_partkey
JOIN pq ON pk = l_partkey
WHERE p_brand = 'Brand#1' AND l_quantity < qlim
"""


@query("q_tpch_q17", oracle=_Q17_ORACLE, tags=("tpch",))
def q_tpch_q17(spark, sf_dir):
    """TPC-H Q17: revenue from orders below 20% of the part's average
    quantity — the correlated aggregate subquery decorrelated into a
    grouped aggregate re-joined on partkey (what Catalyst does to the
    subquery form anyway, stated explicitly).  Quantities are integral
    doubles, so avg = exact_sum/count is bit-deterministic in both
    engines and the threshold comparison can never flip."""
    c = Catalog(spark, sf_dir)
    pq = c.lineitem.groupBy(F.col("l_partkey").alias("pk")).agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("qlim")
    )
    return (
        c.lineitem.join(
            c.part.filter(F.col("p_brand") == "Brand#1"),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(pq, F.col("pk") == F.col("l_partkey"))
        .filter(F.col("l_quantity") < F.col("qlim"))
        .agg(
            quantize2(F.sum("l_extendedprice") / 7.0).alias("avg_yearly")
        )
    )


# ---------------------------------------------------------------------------
# §2.15.18 TPC-H Q18: large-volume orders (HAVING over a fact agg)
# ---------------------------------------------------------------------------

_Q18_ORACLE = """
WITH big AS (
  SELECT l_orderkey AS bk, sum(l_quantity) AS sum_qty
  FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 250)
SELECT c_custkey, c_name, o_orderkey,
  CAST(floor(epoch(o_orderdate)) AS BIGINT) AS o_sec,
  floor(o_totalprice * 100 + 0.5) / 100 AS total_price,
  floor(sum_qty * 100 + 0.5) / 100 AS sum_qty
FROM big
JOIN orders ON o_orderkey = bk
JOIN customer ON c_custkey = o_custkey
ORDER BY total_price DESC, o_orderkey LIMIT 100
"""


@query("q_tpch_q18", oracle=_Q18_ORACLE, tags=("tpch",))
def q_tpch_q18(spark, sf_dir):
    """TPC-H Q18 shape: orders whose total quantity exceeds 250
    (fixture-scaled threshold), joined back to orders + customer,
    top-100 by price.  The HAVING runs as a partial-aggregating
    groupBy on the fact BEFORE any join — the join input is the
    filtered aggregate (a few hundred keys), not the raw fact; the
    top-100 fuses into TakeOrderedAndProject."""
    c = Catalog(spark, sf_dir)
    big = (
        c.lineitem.groupBy(F.col("l_orderkey").alias("bk"))
        .agg(F.sum("l_quantity").alias("raw_qty"))
        .filter(F.col("raw_qty") > 250)
    )
    return (
        big.join(c.orders, F.col("o_orderkey") == F.col("bk"))
        .join(c.customer, F.col("c_custkey") == F.col("o_custkey"))
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.unix_timestamp("o_orderdate").alias("o_sec"),
            quantize2(F.col("o_totalprice")).alias("total_price"),
            quantize2(F.col("raw_qty")).alias("sum_qty"),
        )
        .orderBy(F.desc("total_price"), "o_orderkey")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# §2.15.19 TPC-H Q22: above-average customers without big orders
# ---------------------------------------------------------------------------

_Q22_ORACLE = """
WITH pos AS (
  SELECT avg(c_acctbal) AS abal FROM customer
  WHERE c_acctbal > 0 AND c_nationkey < 7)
SELECT CAST(c_nationkey AS BIGINT) AS cntry,
  CAST(count(*) AS BIGINT) AS numcust,
  floor(sum(c_acctbal) * 100 + 0.5) / 100 AS totacctbal
FROM customer, pos
WHERE c_nationkey < 7 AND c_acctbal > abal
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_totalprice > 300000)
GROUP BY c_nationkey ORDER BY cntry
"""


@query("q_tpch_q22", oracle=_Q22_ORACLE, tags=("tpch",))
def q_tpch_q22(spark, sf_dir):
    """TPC-H Q22 shape (global-sales-opportunity): customers of a
    nation group with above-average positive balance and NO
    high-value orders — scalar-subquery threshold (1-row broadcast)
    plus NOT EXISTS as a LEFT ANTI join on the pre-FILTERED orders
    side (only big orders shuffle, not the whole table)."""
    c = Catalog(spark, sf_dir)
    nat = c.customer.filter(F.col("c_nationkey") < 7)
    abal = nat.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("abal")
    )
    big_orders = c.orders.filter(F.col("o_totalprice") > 300000).select(
        "o_custkey"
    )
    return (
        nat.join(F.broadcast(abal))
        .filter(F.col("c_acctbal") > F.col("abal"))
        .join(
            big_orders,
            F.col("o_custkey") == F.col("c_custkey"),
            "left_anti",
        )
        .groupBy(F.col("c_nationkey").cast("bigint").alias("cntry"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            quantize2(F.sum("c_acctbal")).alias("totacctbal"),
        )
        .orderBy("cntry")
    )


# ---------------------------------------------------------------------------
# §2.15.20 Funnel analysis (ordered multi-stage conversion)
# ---------------------------------------------------------------------------

_FUNNEL_ORACLE = """
WITH ev AS (
  SELECT user_id, event_type, CAST(floor(epoch(ts)) AS BIGINT) AS sec
  FROM events),
u AS (
  SELECT user_id,
    min(CASE WHEN event_type = 'view' THEN sec END) AS v
  FROM ev GROUP BY user_id),
c AS (
  SELECT e.user_id, min(e.sec) AS c
  FROM ev e JOIN u ON u.user_id = e.user_id AND u.v IS NOT NULL
  WHERE e.event_type = 'click' AND e.sec >= u.v AND e.sec < u.v + 21600
  GROUP BY e.user_id),
p AS (
  SELECT e.user_id, min(e.sec) AS p
  FROM ev e JOIN c ON c.user_id = e.user_id
  WHERE e.event_type = 'purchase' AND e.sec >= c.c AND e.sec < c.c + 21600
  GROUP BY e.user_id)
SELECT CASE WHEN p.p IS NOT NULL THEN 3
            WHEN c.c IS NOT NULL THEN 2
            WHEN u.v IS NOT NULL THEN 1
            ELSE 0 END AS stage,
  CAST(count(*) AS BIGINT) AS n_users
FROM u LEFT JOIN c ON c.user_id = u.user_id
       LEFT JOIN p ON p.user_id = u.user_id
GROUP BY 1 ORDER BY 1
"""


@query("q_agg_funnel", oracle=_FUNNEL_ORACLE, tags=("pipeline", "analytics"))
def q_agg_funnel(spark, sf_dir):
    """Ordered funnel: view -> click (within 6 h) -> purchase (within
    6 h of the click), users counted at their deepest stage — the
    product-analytics window-funnel operator.  Each stage is one
    user-keyed partial aggregate; stages join on user_id only (three
    shuffles on the same key — co-partitioned, and a bucketed table
    would make them exchange-free).  Whole-second BIGINT time math."""
    ev = Catalog(spark, sf_dir).events.select(
        "user_id", "event_type", F.unix_timestamp("ts").alias("sec")
    )
    u = ev.groupBy("user_id").agg(
        F.min(
            F.when(F.col("event_type") == "view", F.col("sec"))
        ).alias("v")
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .join(
            u.filter(F.col("v").isNotNull()).select("user_id", "v"),
            "user_id",
        )
        .filter(
            (F.col("sec") >= F.col("v"))
            & (F.col("sec") < F.col("v") + 21600)
        )
        .groupBy("user_id")
        .agg(F.min("sec").alias("c"))
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .join(clicks, "user_id")
        .filter(
            (F.col("sec") >= F.col("c"))
            & (F.col("sec") < F.col("c") + 21600)
        )
        .groupBy("user_id")
        .agg(F.min("sec").alias("p"))
    )
    stage = (
        F.when(F.col("p").isNotNull(), 3)
        .when(F.col("c").isNotNull(), 2)
        .when(F.col("v").isNotNull(), 1)
        .otherwise(0)
    )
    return (
        u.join(clicks.withColumnRenamed("c", "c"), "user_id", "left")
        .join(purchases, "user_id", "left")
        .select(stage.alias("stage"))
        .groupBy("stage")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("stage")
    )


# ---------------------------------------------------------------------------
# §2.15.21 EWMA smoothing (finite-memory, 8-tap)
# ---------------------------------------------------------------------------

_EWMA_TAPS = 8
_EWMA_ALPHA = 0.5


def _ewma_terms_sql() -> tuple[str, str]:
    """(numerator, denominator) SQL over lag columns a0..a7 — the
    8-tap truncated EWMA, identical text for both engines' CASE
    handling of missing leading buckets."""
    num, den = [], []
    for k in range(_EWMA_TAPS):
        w = _EWMA_ALPHA * (1 - _EWMA_ALPHA) ** k
        num.append(f"CASE WHEN a{k} IS NOT NULL THEN {w!r} * a{k} ELSE 0 END")
        den.append(f"CASE WHEN a{k} IS NOT NULL THEN {w!r} ELSE 0 END")
    return " + ".join(num), " + ".join(den)


_EWMA_NUM, _EWMA_DEN = _ewma_terms_sql()

_EWMA_ORACLE = f"""
WITH hourly AS (
  SELECT event_type,
    CAST(floor(epoch(ts) / 3600) AS BIGINT) AS bucket,
    avg(value) AS a
  FROM events GROUP BY 1, 2),
lagged AS (
  SELECT event_type, bucket,
    {', '.join(f'lag(a, {k}) OVER (PARTITION BY event_type ORDER BY bucket) AS a{k}' for k in range(_EWMA_TAPS))}
  FROM hourly)
SELECT event_type, bucket,
  floor((({_EWMA_NUM}) / ({_EWMA_DEN})) * 1000000 + 0.5) / 1000000 AS ewma
FROM lagged ORDER BY event_type, bucket
"""


@query("q_ts_ewma", oracle=_EWMA_ORACLE, tags=("timeseries",))
def q_ts_ewma(spark, sf_dir):
    """Exponentially weighted moving average of the hourly mean per
    event type — truncated to 8 taps so it is a FINITE window
    (recursive EWMA needs unbounded history; 8 taps of alpha=0.5
    carry 99.6% of the mass and make the operator a pure window
    expression, mergeable and backfill-friendly).  One shuffle on
    (event_type) serves all 8 lags; weights renormalize over the
    taps that exist near series start."""
    ev = Catalog(spark, sf_dir).events
    hourly = ev.groupBy(
        "event_type",
        F.floor(F.unix_timestamp("ts") / 3600)
        .cast("bigint")
        .alias("bucket"),
    ).agg(F.avg("value").alias("a"))
    w = Window.partitionBy("event_type").orderBy("bucket")
    lagged = hourly.select(
        "event_type",
        "bucket",
        *[F.lag("a", k).over(w).alias(f"a{k}") for k in range(_EWMA_TAPS)],
    )
    return lagged.select(
        "event_type",
        "bucket",
        quantize(
            F.expr(f"({_EWMA_NUM}) / ({_EWMA_DEN})"), 6
        ).alias("ewma"),
    ).orderBy("event_type", "bucket")
