"""Composite TPC-H-shape queries, all 22 (SURVEY.md §2.13): multi-operator
end-to-end pipelines (scan + pushed filters + multi-join + agg + top-k
in one plan).

The reference's published workload is TPC-H lineitem [P1]; these are
the classic composite shapes adapted to the fixture schema (no
partsupp table; o_orderpriority in place of o_shippriority).  They
exercise Catalyst's join reordering + broadcast selection + partial
aggregation on realistic multi-way plans — the query shapes a real
user migrating from the reference runs daily.  The fixture has no
partsupp table and no commit/receipt dates or comment columns, so
Q2/Q9/Q11/Q16/Q20 derive the part-supplier relation from lineitem,
Q21 uses latest-shipper semantics on l_shipdate, and Q16 excludes on
an acctbal threshold; every adaptation is mirrored exactly in the
oracle.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql.functions import broadcast

from skyhookdb_ceph_spark.queries._util import Catalog, F, money, quantize, ratio
from skyhookdb_ceph_spark.registry import query


@query(
    "q_tpch_q3",
    oracle=(
        "SELECT l_orderkey, floor((sum(l_extendedprice * (1 - l_discount))) * 100 + 0.5) / 100 AS revenue, "
        "CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS o_date, o_orderpriority "
        "FROM customer JOIN orders ON c_custkey = o_custkey "
        "JOIN lineitem ON l_orderkey = o_orderkey "
        "WHERE c_mktsegment = 'BUILDING' "
        "AND o_orderdate < TIMESTAMP '1995-03-15' AND l_shipdate > TIMESTAMP '1995-03-15' "
        "GROUP BY l_orderkey, o_orderdate, o_orderpriority "
        "ORDER BY revenue DESC, o_date, l_orderkey LIMIT 10"
    ),
)
def q_tpch_q3(spark, sf_dir):
    """Q3 shipping-priority shape: segment filter on the dim, date
    bands pushed to both fact scans, 3-way join, grouped revenue,
    top-10.  Plan: pushed filters -> join -> partial/final agg ->
    TakeOrderedAndProject.  The filtered customer side carries NO
    broadcast hint: it is ~1/5 of a table that scales with the corpus,
    so a pinned broadcast OOMs executors at 100 TB — Catalyst picks
    broadcast at bench scale from size stats, AQE re-decides at runtime
    on clusters."""
    c = Catalog(spark, sf_dir)
    cust = c.customer.filter(F.col("c_mktsegment") == "BUILDING")
    cutoff = F.lit("1995-03-15").cast("timestamp")
    return (
        c.orders.filter(F.col("o_orderdate") < cutoff)
        .join(cust, F.col("c_custkey") == F.col("o_custkey"))
        .join(
            c.lineitem.filter(F.col("l_shipdate") > cutoff),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            money(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
                "revenue"
            )
        )
        .select(
            "l_orderkey",
            "revenue",
            F.col("o_orderdate").cast("date").cast("string").alias("o_date"),
            "o_orderpriority",
        )
        .orderBy(F.col("revenue").desc(), "o_date", "l_orderkey")
        .limit(10)
    )


@query(
    "q_tpch_q5",
    oracle=(
        "SELECT n_name, floor((sum(l_extendedprice * (1 - l_discount))) * 100 + 0.5) / 100 AS revenue "
        "FROM region JOIN nation ON r_regionkey = n_regionkey "
        "JOIN customer ON n_nationkey = c_nationkey "
        "JOIN orders ON c_custkey = o_custkey "
        "JOIN lineitem ON l_orderkey = o_orderkey "
        "JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = n_nationkey "
        "WHERE r_name = 'ASIA' GROUP BY n_name ORDER BY revenue DESC, n_name"
    ),
)
def q_tpch_q5(spark, sf_dir):
    """Q5 local-supplier-volume shape: 6-way star+snowflake join with
    the local-supplier constraint (s_nationkey = n_nationkey) — the
    join-reordering stress test.  Only the BOUNDED dims (region 5
    rows, nation 25 rows by schema contract) carry broadcast hints —
    supplier and customer scale with the corpus, so their join
    strategy is left to Catalyst stats + AQE (broadcast at bench
    scale, shuffle at 100 TB)."""
    c = Catalog(spark, sf_dir)
    return (
        broadcast(c.region.filter(F.col("r_name") == "ASIA"))
        .join(broadcast(c.nation), F.col("r_regionkey") == F.col("n_regionkey"))
        .join(c.customer, F.col("n_nationkey") == F.col("c_nationkey"))
        .join(c.orders, F.col("c_custkey") == F.col("o_custkey"))
        .join(c.lineitem, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            c.supplier,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("s_nationkey") == F.col("n_nationkey")),
        )
        .groupBy("n_name")
        .agg(
            money(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
                "revenue"
            )
        )
        .orderBy(F.col("revenue").desc(), "n_name")
    )


@query(
    "q_tpch_q10",
    oracle=(
        "SELECT c_custkey, c_name, n_name, "
        "floor((sum(l_extendedprice * (1 - l_discount))) * 100 + 0.5) / 100 AS revenue "
        "FROM customer JOIN orders ON c_custkey = o_custkey "
        "JOIN lineitem ON l_orderkey = o_orderkey "
        "JOIN nation ON c_nationkey = n_nationkey "
        "WHERE l_returnflag = 'R' "
        "AND o_orderdate >= TIMESTAMP '1996-01-01' "
        "AND o_orderdate < TIMESTAMP '1996-04-01' "
        "GROUP BY c_custkey, c_name, n_name "
        "ORDER BY revenue DESC, c_custkey LIMIT 20"
    ),
)
def q_tpch_q10(spark, sf_dir):
    """Q10 returned-item shape: a quarter of orders x returned lineitems,
    revenue lost per customer, top 20."""
    c = Catalog(spark, sf_dir)
    return (
        c.orders.filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .join(
            c.lineitem.filter(F.col("l_returnflag") == "R"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(c.customer, F.col("c_custkey") == F.col("o_custkey"))
        .join(broadcast(c.nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            money(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
                "revenue"
            )
        )
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


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
            money(F.sum("l_quantity")).alias("sum_qty"),
            money(F.sum("l_extendedprice")).alias("sum_base_price"),
            money(F.sum(disc_price)).alias("sum_disc_price"),
            money(
                F.sum(disc_price * (1 + F.col("l_tax")))
            ).alias("sum_charge"),
            ratio(F.avg("l_quantity")).alias("avg_qty"),
            ratio(F.avg("l_extendedprice")).alias("avg_price"),
            ratio(F.avg("l_discount")).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


_Q2_ORACLE = """
WITH ps AS (
  SELECT l_partkey, l_suppkey,
         min(floor(l_extendedprice / l_quantity * 100 + 0.5) / 100)
           AS supplycost
  FROM lineitem GROUP BY l_partkey, l_suppkey),
eu AS (
  SELECT s_suppkey, s_name, s_acctbal, n_name
  FROM supplier
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'),
cand AS (
  SELECT s_acctbal, s_name, n_name, p_partkey, p_name, supplycost,
         min(supplycost) OVER (PARTITION BY p_partkey) AS min_cost
  FROM part
  JOIN ps ON l_partkey = p_partkey
  JOIN eu ON s_suppkey = l_suppkey
  WHERE p_size <= 25 AND p_type = 'STANDARD')
SELECT s_acctbal, s_name, n_name, p_partkey, p_name, supplycost
FROM cand WHERE supplycost = min_cost
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100
"""


@query("q_tpch_q2", oracle=_Q2_ORACLE, tags=("tpch",))
def q_tpch_q2(spark, sf_dir):
    """TPC-H Q2 shape: for each qualifying part, the EUROPE supplier(s)
    offering the minimum supply cost.  partsupp is reconstructed from
    lineitem as min unit price per (part, supplier) — quantized to
    cents BEFORE the min so the correlated equality compares exact
    cent values in both engines.  The correlated MIN subquery is
    decorrelated the way Catalyst itself would: one aggregate over the
    candidate set, joined back on (partkey, cost) — expressed here as
    a per-part window min over the already-joined candidates, so the
    candidate set is computed ONCE (no second scan of the ps bridge).
    At 100 TB: ps aggregates shuffle on (partkey, suppkey); the EU
    supplier dim (supplier x nation x region) broadcasts; the window
    partitions by p_partkey — bounded groups, no global order."""
    c = Catalog(spark, sf_dir)
    ps = (
        c.lineitem.groupBy("l_partkey", "l_suppkey")
        .agg(
            F.min(
                money(F.col("l_extendedprice") / F.col("l_quantity"))
            ).alias("supplycost")
        )
    )
    eu = (
        c.supplier.join(
            F.broadcast(c.nation),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(c.region.filter(F.col("r_name") == "EUROPE")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    parts = c.part.filter(
        (F.col("p_size") <= 25) & (F.col("p_type") == "STANDARD")
    ).select("p_partkey", "p_name")
    cand = (
        parts.join(ps, F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(eu), F.col("s_suppkey") == F.col("l_suppkey"))
    )
    w = Window.partitionBy("p_partkey")
    return (
        cand.withColumn("min_cost", F.min("supplycost").over(w))
        .filter(F.col("supplycost") == F.col("min_cost"))
        .select(
            "s_acctbal", "s_name", "n_name", "p_partkey", "p_name",
            "supplycost",
        )
        .orderBy(F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


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
            money(
                F.sum(F.col("l_extendedprice") * F.col("l_discount"))
            ).alias("revenue")
        )
    )


_Q7_ORACLE = """
SELECT supp_nation, cust_nation, l_year,
  floor(sum(volume) * 100 + 0.5) / 100 AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(year(l_shipdate) AS BIGINT) AS l_year,
         l_extendedprice * (1 - l_discount) AS volume
  FROM supplier
  JOIN lineitem ON s_suppkey = l_suppkey
  JOIN orders ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE n1.n_name IN ('NATION_1', 'NATION_2')
    AND n2.n_name IN ('NATION_1', 'NATION_2')
    AND n1.n_name <> n2.n_name) t
GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
"""


@query("q_tpch_q7", oracle=_Q7_ORACLE, tags=("tpch",))
def q_tpch_q7(spark, sf_dir):
    """TPC-H Q7 volume-shipping shape: revenue between two nations by
    ship year, in both directions.  The nation filters reach BOTH
    sides before the fact joins (supplier and customer each pre-join
    their 25-row nation dim broadcast-style and filter to the pair),
    so the expensive lineitem-orders shuffle only carries rows whose
    endpoints survive — the same dim-first pruning the reference's
    storage-side filters deliver."""
    c = Catalog(spark, sf_dir)
    n1 = c.nation.filter(
        F.col("n_name").isin("NATION_1", "NATION_2")
    ).selectExpr("n_nationkey AS sk", "n_name AS supp_nation")
    n2 = c.nation.filter(
        F.col("n_name").isin("NATION_1", "NATION_2")
    ).selectExpr("n_nationkey AS ck", "n_name AS cust_nation")
    sup = c.supplier.join(n1, F.col("s_nationkey") == F.col("sk")).select(
        "s_suppkey", "supp_nation"
    )
    cust = c.customer.join(n2, F.col("c_nationkey") == F.col("ck")).select(
        "c_custkey", "cust_nation"
    )
    return (
        c.lineitem.join(sup, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(c.orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(cust, F.col("c_custkey") == F.col("o_custkey"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("bigint").alias("l_year"),
        )
        .agg(
            money(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            ).alias("revenue")
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


_Q8_ORACLE = """
SELECT o_year,
  floor((sum(CASE WHEN nation = 'NATION_3' THEN volume ELSE 0 END)
         / sum(volume)) * 1000000 + 0.5) / 1000000 AS mkt_share
FROM (
  SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
         l_extendedprice * (1 - l_discount) AS volume,
         n2.n_name AS nation
  FROM part
  JOIN lineitem ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region ON n1.n_regionkey = r_regionkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE r_name = 'ASIA' AND p_type = 'PROMO') t
GROUP BY o_year ORDER BY o_year
"""


@query("q_tpch_q8", oracle=_Q8_ORACLE, tags=("tpch",))
def q_tpch_q8(spark, sf_dir):
    """TPC-H Q8 market-share shape: a 7-way join (3 dims on each side
    of the fact path) with a conditional-share aggregate per order
    year.  Every dim filter (region, part type) prunes before the
    fact shuffles; the supplier nation arrives as a second broadcast
    of the same 25-row dim.  The share division happens after ONE
    grouped aggregate (both sums in the same pass)."""
    c = Catalog(spark, sf_dir)
    cust_asia = (
        c.customer.join(
            c.nation, F.col("c_nationkey") == F.col("n_nationkey")
        )
        .join(
            c.region.filter(F.col("r_name") == "ASIA"),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("c_custkey")
    )
    supp_nat = c.supplier.join(
        c.nation.selectExpr("n_nationkey AS snk", "n_name AS nation"),
        F.col("s_nationkey") == F.col("snk"),
    ).select("s_suppkey", "nation")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        c.lineitem.join(
            c.part.filter(F.col("p_type") == "PROMO"),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(supp_nat, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(c.orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust_asia, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(F.year("o_orderdate").cast("bigint").alias("o_year"))
        .agg(
            quantize(
                F.sum(
                    F.when(F.col("nation") == "NATION_3", vol).otherwise(0.0)
                )
                / F.sum(vol),
                6,
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


_Q9_ORACLE = """
SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
  sum(CAST(floor((l_extendedprice * (1 - l_discount)
                  - 0.1 * p_retailprice * l_quantity) * 100 + 0.5)
           AS BIGINT)) / 100.0
    AS sum_profit
FROM lineitem
JOIN part ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN orders ON o_orderkey = l_orderkey
WHERE p_name LIKE '%widget%'
GROUP BY n_name, year(o_orderdate) ORDER BY nation, o_year DESC
"""


@query("q_tpch_q9", oracle=_Q9_ORACLE, tags=("tpch",))
def q_tpch_q9(spark, sf_dir):
    """TPC-H Q9 shape: profit per supplier-nation per order-year over
    a part-name pattern.  ps_supplycost is modeled as 10% of
    p_retailprice (deterministic, schema-local) — the plan shape is
    the point: a 5-way join where the p_name LIKE filter prunes the
    part side FIRST, then lineitem joins the pruned parts before
    touching orders (Catalyst's size-based reordering does this from
    stats; the explicit join order here matches).  supplier/nation
    broadcast at any SF; orders joins on the already-part-pruned fact.
    At 100 TB the only big shuffle is the final (nation, year) agg —
    25 x ~7 groups, map-side combined."""
    c = Catalog(spark, sf_dir)
    parts = c.part.filter(F.col("p_name").like("%widget%")).select(
        "p_partkey", "p_retailprice"
    )
    li = c.lineitem.join(parts, F.col("p_partkey") == F.col("l_partkey"))
    sn = c.supplier.join(
        F.broadcast(c.nation), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey", "n_name")
    return (
        li.join(F.broadcast(sn), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(
            c.orders.select("o_orderkey", "o_orderdate"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(
            (
                F.sum(
                    F.floor(
                        (
                            F.col("l_extendedprice")
                            * (1 - F.col("l_discount"))
                            - 0.1
                            * F.col("p_retailprice")
                            * F.col("l_quantity")
                        )
                        * 100
                        + F.lit(0.5)
                    ).cast("bigint")
                )
                / 100.0
            ).alias("sum_profit")
        )
        .orderBy("nation", F.col("o_year").desc())
    )


_Q11_ORACLE = """
WITH val AS (
  SELECT l_partkey AS partkey,
         CAST(floor(sum(l_extendedprice * l_quantity) * 100 + 0.5)
              AS BIGINT) AS cents
  FROM lineitem
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
  GROUP BY l_partkey),
tot AS (SELECT sum(cents) AS total_cents,
               CAST(count(*) AS BIGINT) AS n FROM val)
SELECT partkey, cents / 100.0 AS part_value
FROM val, tot
WHERE cents * n > 2 * total_cents
ORDER BY part_value DESC, partkey
"""


@query("q_tpch_q11", oracle=_Q11_ORACLE, tags=("tpch",))
def q_tpch_q11(spark, sf_dir):
    """TPC-H Q11 shape: per-part traded value for one region's
    suppliers, kept when above a scalar-subquery threshold (here
    2x the mean part value — scale-free, unlike the original's
    0.0001/SF literal).  The threshold compare runs in EXACT integer
    cents (value * count > 2 * total) so no floating-point ulp can
    flip a row near the boundary — the one engine-divergence risk a
    raw-double compare would carry.  Plan: region-pruned supplier dim
    broadcasts into the fact agg (one shuffle on partkey); the 1-row
    total broadcasts back as a cross join — the scalar subquery never
    re-scans the aggregate.  At 100 TB both sides of the compare are
    already tiny (one row per part)."""
    c = Catalog(spark, sf_dir)
    eu = (
        c.supplier.join(
            F.broadcast(c.nation), F.col("s_nationkey") == F.col("n_nationkey")
        )
        .join(
            F.broadcast(c.region.filter(F.col("r_name") == "EUROPE")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("s_suppkey")
    )
    val = (
        c.lineitem.join(F.broadcast(eu), F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy(F.col("l_partkey").alias("partkey"))
        .agg(
            F.floor(
                F.sum(F.col("l_extendedprice") * F.col("l_quantity")) * 100
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("cents")
        )
    )
    tot = val.agg(
        F.sum("cents").alias("total_cents"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    return (
        val.join(F.broadcast(tot))
        .filter(F.col("cents") * F.col("n") > 2 * F.col("total_cents"))
        .select("partkey", (F.col("cents") / 100.0).alias("part_value"))
        .orderBy(F.col("part_value").desc(), "partkey")
    )


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


_Q13_ORACLE = """
SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
FROM (
  SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
  FROM customer LEFT JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey) t
GROUP BY c_count ORDER BY custdist DESC, c_count DESC
"""


@query("q_tpch_q13", oracle=_Q13_ORACLE, tags=("tpch",))
def q_tpch_q13(spark, sf_dir):
    """TPC-H Q13 customer-distribution shape: LEFT join with an extra
    join-side predicate (excluded priority), count per customer
    including zero-order customers, then the histogram of counts.
    Two grouped aggregates; the second runs on at most |customers|
    rows.  The join-side filter must NOT become a WHERE (that would
    drop zero-order customers) — stated identically in both
    engines."""
    c = Catalog(spark, sf_dir)
    joined = c.customer.join(
        c.orders,
        (F.col("c_custkey") == F.col("o_custkey"))
        & (F.col("o_orderpriority") != "1-URGENT"),
        "left",
    )
    per_cust = joined.groupBy("c_custkey").agg(
        F.count("o_orderkey").alias("c_count")
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


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
            money(
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


_Q16_ORACLE = """
WITH bridge AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
SELECT p_brand, p_type, p_size,
       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM bridge JOIN part ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#3' AND p_type <> 'PROMO'
  AND p_size IN (1, 7, 13, 19, 25, 31, 37, 43)
  AND l_suppkey NOT IN
      (SELECT s_suppkey FROM supplier WHERE s_acctbal < 1000.0)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


@query("q_tpch_q16", oracle=_Q16_ORACLE, tags=("tpch",))
def q_tpch_q16(spark, sf_dir):
    """TPC-H Q16 shape: distinct-supplier count per (brand, type,
    size) over a NOT-IN-excluded supplier set.  The part<->supplier
    bridge is distinct (l_partkey, l_suppkey) from lineitem (no
    partsupp in the fixture schema); the complaints exclusion is an
    acctbal threshold.  NOT IN compiles to a LEFT ANTI join against
    the (tiny, broadcast) excluded-supplier list — never a per-row
    subquery.  At 100 TB: the bridge distinct is one shuffle on the
    pair key; part filters push to the parquet scan (brand/type/size
    are all scan-level predicates); count(DISTINCT) is Catalyst's
    two-phase expand+agg, map-side combined."""
    c = Catalog(spark, sf_dir)
    bridge = c.lineitem.select("l_partkey", "l_suppkey").distinct()
    excl = c.supplier.filter(F.col("s_acctbal") < 1000.0).select("s_suppkey")
    parts = c.part.filter(
        (F.col("p_brand") != "Brand#3")
        & (F.col("p_type") != "PROMO")
        & (F.col("p_size").isin(1, 7, 13, 19, 25, 31, 37, 43))
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    return (
        bridge.join(
            F.broadcast(excl),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .join(parts, F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(
            F.countDistinct("l_suppkey").cast("bigint").alias("supplier_cnt")
        )
        .orderBy(
            F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size"
        )
    )


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
            money(F.sum("l_extendedprice") / 7.0).alias("avg_yearly")
        )
    )


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
            money(F.col("o_totalprice")).alias("total_price"),
            money(F.col("raw_qty")).alias("sum_qty"),
        )
        .orderBy(F.desc("total_price"), "o_orderkey")
        .limit(100)
    )


_Q19_ORACLE = """
SELECT floor(sum(l_extendedprice * (1 - l_discount)) * 100 + 0.5) / 100
       AS revenue
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
       AND l_quantity >= 1 AND l_quantity <= 11)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 25
       AND l_quantity >= 10 AND l_quantity <= 20)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 35
       AND l_quantity >= 20 AND l_quantity <= 30)
"""


@query("q_tpch_q19", oracle=_Q19_ORACLE, tags=("tpch",))
def q_tpch_q19(spark, sf_dir):
    """TPC-H Q19 disjunctive-predicate shape: three OR'd brand/size/
    quantity conjunctions across the join.  Catalyst derives the
    common implied ranges (l_quantity in [1,30], p_size in [1,35]) and
    pushes them into BOTH scans even though the full disjunction can
    only evaluate post-join — the query that shows predicate
    simplification working, not just pushdown of literal filters."""
    c = Catalog(spark, sf_dir)
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 15)
            & (F.col("l_quantity") >= 1)
            & (F.col("l_quantity") <= 11)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(10, 25)
            & (F.col("l_quantity") >= 10)
            & (F.col("l_quantity") <= 20)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(20, 35)
            & (F.col("l_quantity") >= 20)
            & (F.col("l_quantity") <= 30)
        )
    )
    return (
        c.lineitem.join(c.part, F.col("l_partkey") == F.col("p_partkey"))
        .filter(cond)
        .agg(
            money(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            ).alias("revenue")
        )
    )


_Q20_ORACLE = """
WITH fp AS (SELECT p_partkey FROM part WHERE p_name LIKE 'small%'),
shipped AS (
  SELECT l_suppkey, l_partkey, sum(l_quantity) AS qty95
  FROM lineitem JOIN fp ON p_partkey = l_partkey
  WHERE l_shipdate >= TIMESTAMP '1995-01-01'
    AND l_shipdate < TIMESTAMP '1996-01-01'
  GROUP BY l_suppkey, l_partkey),
alltime AS (
  SELECT l_suppkey, l_partkey, sum(l_quantity) AS qty_all
  FROM lineitem JOIN fp ON p_partkey = l_partkey
  GROUP BY l_suppkey, l_partkey),
cand AS (
  SELECT DISTINCT shipped.l_suppkey AS ck
  FROM shipped JOIN alltime
    ON shipped.l_suppkey = alltime.l_suppkey
   AND shipped.l_partkey = alltime.l_partkey
  WHERE 2 * qty95 > qty_all)
SELECT s_suppkey, s_name, n_name
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'EUROPE' AND s_suppkey IN (SELECT ck FROM cand)
ORDER BY s_name, s_suppkey
"""


@query("q_tpch_q20", oracle=_Q20_ORACLE, tags=("tpch",))
def q_tpch_q20(spark, sf_dir):
    """TPC-H Q20 shape: suppliers whose 1995 shipments of 'small%'
    parts exceed half their all-time shipments of the same part — the
    original's availqty-vs-half-year-demand gate re-expressed on
    fixture columns.  The shape is the point: a part-name semi filter
    feeding two keyed aggregates over the same fact, joined on the
    compound key, collapsed to a distinct supplier set that SEMI-joins
    the supplier dim.  Quantities are integer-valued doubles, so the
    2*qty95 > qty_all compare is exact in both engines.  At 100 TB
    both aggregates shuffle on (suppkey, partkey) — same key, so AQE
    can reuse the exchange; the final IN is a broadcast semi join
    (distinct suppliers are bounded by the supplier table)."""
    c = Catalog(spark, sf_dir)
    fp = c.part.filter(F.col("p_name").like("small%")).select("p_partkey")
    li = c.lineitem.join(
        F.broadcast(fp), F.col("p_partkey") == F.col("l_partkey")
    ).select("l_suppkey", "l_partkey", "l_quantity", "l_shipdate")
    shipped = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp"))
        )
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("qty95"))
    )
    alltime = li.groupBy("l_suppkey", "l_partkey").agg(
        F.sum("l_quantity").alias("qty_all")
    )
    cand = (
        shipped.join(
            alltime.withColumnsRenamed(
                {"l_suppkey": "a_suppkey", "l_partkey": "a_partkey"}
            ),
            (F.col("l_suppkey") == F.col("a_suppkey"))
            & (F.col("l_partkey") == F.col("a_partkey")),
        )
        .filter(2 * F.col("qty95") > F.col("qty_all"))
        .select(F.col("l_suppkey").alias("ck"))
        .distinct()
    )
    return (
        c.supplier.join(
            F.broadcast(c.nation), F.col("s_nationkey") == F.col("n_nationkey")
        )
        .join(
            F.broadcast(c.region.filter(F.col("r_name") == "EUROPE")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .join(
            F.broadcast(cand), F.col("s_suppkey") == F.col("ck"), "leftsemi"
        )
        .select("s_suppkey", "s_name", "n_name")
        .orderBy("s_name", "s_suppkey")
    )


_Q21_ORACLE = """
SELECT s_name, CAST(count(DISTINCT l1.l_orderkey) AS BIGINT) AS numwait
FROM lineitem l1
JOIN orders ON o_orderkey = l1.l_orderkey
JOIN supplier ON s_suppkey = l1.l_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE o_orderstatus = 'F' AND r_name = 'EUROPE'
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_shipdate > l1.l_shipdate)
GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 100
"""


@query("q_tpch_q21", oracle=_Q21_ORACLE, tags=("tpch",))
def q_tpch_q21(spark, sf_dir):
    """TPC-H Q21 shape: in finished multi-supplier orders, the
    supplier who shipped LAST (strictly no other supplier shipped
    later) held the order up — latest-shipper semantics on l_shipdate
    replacing the fixture-absent receipt/commit dates.  The shape is
    the classic EXISTS + NOT EXISTS self-join pair on one fact table:
    a LEFT SEMI join (another supplier exists in the order) and a LEFT
    ANTI join (no other supplier shipped later), both keyed on
    l_orderkey with the suppkey/date conditions as residuals — never a
    per-row subquery.  numwait counts DISTINCT orders so duplicate
    line items cannot double-bill a wait.  At 100 TB all three
    instances of lineitem shuffle on l_orderkey — one exchange reused
    across semi and anti by AQE — and the EU supplier dim broadcasts."""
    c = Catalog(spark, sf_dir)
    li = c.lineitem.select("l_orderkey", "l_suppkey", "l_shipdate")
    f_orders = c.orders.filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey"
    )
    l1 = (
        li.join(f_orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .select("l_orderkey", "l_suppkey", "l_shipdate")
    )
    l2 = li.select(
        F.col("l_orderkey").alias("k2"), F.col("l_suppkey").alias("s2")
    )
    l3 = li.select(
        F.col("l_orderkey").alias("k3"),
        F.col("l_suppkey").alias("s3"),
        F.col("l_shipdate").alias("d3"),
    )
    waits = (
        l1.join(
            l2,
            (F.col("k2") == F.col("l_orderkey"))
            & (F.col("s2") != F.col("l_suppkey")),
            "leftsemi",
        )
        .join(
            l3,
            (F.col("k3") == F.col("l_orderkey"))
            & (F.col("s3") != F.col("l_suppkey"))
            & (F.col("d3") > F.col("l_shipdate")),
            "left_anti",
        )
    )
    eu_sup = (
        c.supplier.join(
            F.broadcast(c.nation), F.col("s_nationkey") == F.col("n_nationkey")
        )
        .join(
            F.broadcast(c.region.filter(F.col("r_name") == "EUROPE")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("s_suppkey", "s_name")
    )
    return (
        waits.join(
            F.broadcast(eu_sup), F.col("s_suppkey") == F.col("l_suppkey")
        )
        .groupBy("s_name")
        .agg(F.countDistinct("l_orderkey").cast("bigint").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(100)
    )


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
            money(F.sum("c_acctbal")).alias("totacctbal"),
        )
        .orderBy("cntry")
    )
