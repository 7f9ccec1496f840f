"""Round-5 wave 2 (SURVEY.md §2.17): TPC-H completion + training-set ops.

Completes the TPC-H-shape family to all 22 queries (q2/q9/q11/q16/q20/
q21 were the missing six), adapted to the fixture schema the same way
q3/q5/q10 were: no partsupp table, so the part<->supplier relation is
derived from lineitem (distinct (l_partkey, l_suppkey) with a
min-unit-price supplycost analog); no l_commitdate/l_receiptdate, so
Q21's "kept orders waiting" uses latest-shipper semantics on
l_shipdate; no s_comment/p_comment, so Q16's complaints exclusion is an
acctbal-threshold exclusion.  Every adaptation is mirrored EXACTLY in
the DuckDB oracle, so the differential check still proves the plan
shape (correlated min, scalar-subquery threshold, distinct-count over a
bridge, nested semi/anti self-joins) — which is the point of the
family: these six shapes exercise Catalyst paths (broadcast min
join-back, exact-integer threshold compare, anti-join NOT IN,
double-semi-join chains, self-join EXISTS/NOT-EXISTS) the first sixteen
did not.

Training-set management: temperature-scaled mixture reweighting and a
deterministic multiplicative-hash train/val/test split (pure integer
arithmetic, identical in any engine, no RNG).

Round-5 wave 3 (same §2.17): exact median with no global sort,
corrupt-record-tolerant JSON ingestion, sweep-line peak concurrency,
and lost-task-recovery fault injection (q_fault_task_retry, with session.py's local[N,2]).

House rules unchanged: money via quantize2 both sides, identical
aliases, deterministic tie-breaks, no all-pairs joins, no global
windows without a boundary-merge or guard, no corpus-sized collect().
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from skyhookdb_ceph_spark.queries._util import (
    Catalog,
    collect_local,
    quantize,
    quantize2,
    scoped_conf,
    scratch,
)
from skyhookdb_ceph_spark.registry import query


# ---------------------------------------------------------------------------
# §2.17.1 TPC-H Q2: minimum-cost supplier (correlated MIN subquery)
# ---------------------------------------------------------------------------

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
                quantize2(F.col("l_extendedprice") / F.col("l_quantity"))
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


# ---------------------------------------------------------------------------
# §2.17.2 TPC-H Q9: product-line profit by nation and year
# ---------------------------------------------------------------------------

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


# ---------------------------------------------------------------------------
# §2.17.3 TPC-H Q11: important stock (scalar-subquery threshold)
# ---------------------------------------------------------------------------

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


# ---------------------------------------------------------------------------
# §2.17.4 TPC-H Q16: supplier count per part descriptor (anti NOT IN)
# ---------------------------------------------------------------------------

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


# ---------------------------------------------------------------------------
# §2.17.5 TPC-H Q20: promotion-eligible suppliers (nested semi chain)
# ---------------------------------------------------------------------------

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


# ---------------------------------------------------------------------------
# §2.17.6 TPC-H Q21: suppliers who kept orders waiting (EXISTS + NOT EXISTS)
# ---------------------------------------------------------------------------

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


# ---------------------------------------------------------------------------
# §2.17.7 temperature-scaled mixture weights (multilingual rebalancing)
# ---------------------------------------------------------------------------

_MIX_ORACLE = """
WITH n AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS n_chars_tot
  FROM documents GROUP BY source),
tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n_total FROM n),
scaled AS (
  SELECT source, n_docs, n_chars_tot, n_total,
         pow(n_docs * 1.0 / n_total, 0.5) AS unnorm
  FROM n, tot),
z AS (SELECT sum(unnorm) AS z FROM scaled)
SELECT source, n_docs,
       floor((n_docs * 1.0 / n_total) * 1000000 + 0.5) / 1000000
         AS raw_share,
       floor((unnorm / z) * 1000000 + 0.5) / 1000000 AS mix_weight,
       CAST(floor((unnorm / z) * n_total + 0.5) AS BIGINT)
         AS target_docs
FROM scaled, z ORDER BY source
"""


@query("q_data_mix", oracle=_MIX_ORACLE, tags=("llm", "sampling"))
def q_data_mix(spark, sf_dir):
    """Temperature-scaled mixture reweighting — the standard
    multilingual / multi-domain rebalancing step (sample source s with
    probability proportional to p_s^(1/T); here T=2, i.e. sqrt
    scaling): low-resource sources are up-weighted, dominant sources
    down-weighted, and target_docs gives the per-source sample budget
    a downstream sampler consumes.  Two 1-row scalar aggregates
    (corpus total, normalizer Z) broadcast back as cross joins — the
    per-source table is computed once and never re-scanned, and at
    100 TB everything after the single (source) agg shuffle operates
    on one row per source.  pow/sqrt on doubles is IEEE-identical in
    both engines; shares are quantized to 1e-6 before compare."""
    c = Catalog(spark, sf_dir)
    n = c.documents.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("n_chars_tot"),
    )
    tot = n.agg(F.sum("n_docs").cast("bigint").alias("n_total"))
    scaled = n.join(F.broadcast(tot)).withColumn(
        "unnorm", F.pow(F.col("n_docs") * 1.0 / F.col("n_total"), 0.5)
    )
    z = scaled.agg(F.sum("unnorm").alias("z"))
    return (
        scaled.join(F.broadcast(z))
        .select(
            "source",
            "n_docs",
            quantize(F.col("n_docs") * 1.0 / F.col("n_total"), 6).alias(
                "raw_share"
            ),
            quantize(F.col("unnorm") / F.col("z"), 6).alias("mix_weight"),
            F.floor(
                (F.col("unnorm") / F.col("z")) * F.col("n_total") + F.lit(0.5)
            )
            .cast("bigint")
            .alias("target_docs"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# §2.17.8 deterministic train/val/test split (multiplicative hash)
# ---------------------------------------------------------------------------

# Knuth multiplicative hash in exact BIGINT arithmetic — engine-
# invariant by construction (no engine hash function involved).
# Pre-mod by 2^31-1: unguarded, the product overflows BIGINT under
# ANSI for ids past ~3.4e9 (r12 scale smoke, BASELINE.md §L.7).
_SPLIT_BUCKET = "(((doc_id % 2147483647) * 2654435761) % 4294967296) % 100"

_SPLIT_ORACLE = f"""
WITH b AS (
  SELECT doc_id, lang, n_chars,
         CASE WHEN {_SPLIT_BUCKET} < 80 THEN 'train'
              WHEN {_SPLIT_BUCKET} < 90 THEN 'val'
              ELSE 'test' END AS split
  FROM documents)
SELECT split, lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       CAST(min(doc_id) AS BIGINT) AS min_doc
FROM b GROUP BY split, lang ORDER BY split, lang
"""


@query("q_data_split", oracle=_SPLIT_ORACLE, tags=("llm", "sampling"))
def q_data_split(spark, sf_dir):
    """Deterministic 80/10/10 train/val/test split — the dataset-
    management primitive every training pipeline needs to be
    reproducible across runs AND engines.  The bucket is a Knuth
    multiplicative hash ((id * 2654435761) mod 2^32) mod 100 in exact
    BIGINT arithmetic, so ANY engine computes the identical
    assignment (no dependence on an engine-specific hash builtin) and
    a document's split never changes as the corpus grows — the
    property random %-sampling lacks.  Plan: pure map + one grouped
    agg; the split column is codegen'd integer math the parquet scan
    feeds directly.  At 100 TB this is a single map-side-combined
    shuffle on (split, lang) — 3 x n_langs groups."""
    c = Catalog(spark, sf_dir)
    bucket = (F.col("doc_id") % 2147483647) * 2654435761 % 4294967296 % 100
    return (
        c.documents.select(
            "doc_id",
            "lang",
            "n_chars",
            F.when(bucket < 80, "train")
            .when(bucket < 90, "val")
            .otherwise("test")
            .alias("split"),
        )
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
            F.min("doc_id").cast("bigint").alias("min_doc"),
        )
        .orderBy("split", "lang")
    )


# ---------------------------------------------------------------------------
# §2.17.9 exact median without a global sort (two-pass bucket refinement)
# ---------------------------------------------------------------------------

_MEDIAN_ORACLE = """
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       floor(median(l_extendedprice) * 1000000 + 0.5) / 1000000 AS med
FROM lineitem
"""


@query("q_agg_median_exact", oracle=_MEDIAN_ORACLE, tags=("agg", "scale-design"))
def q_agg_median_exact(spark, sf_dir):
    """EXACT median with NO global sort — the two-pass order-statistic
    pattern that scales where sort-everything cannot: pass 1 histograms
    the column into 1024 equal-width buckets (one map-combined shuffle
    of <=1024 rows); a prefix sum over the BUCKET TABLE (tiny — the
    boundary-merge class, never corpus-sized) locates the bucket(s)
    holding global ranks floor((N+1)/2) and N//2+1; pass 2 sorts ONLY
    the candidate bucket's rows (~N/1024) inside a bucket-partitioned
    window and averages the two middle values — exactly DuckDB's
    interpolating median, proven by the oracle using median() itself.
    Contrast q_agg_approx_quantile (sketch, error-bounded) and
    q_agg_percentiles (Spark's exact percentile, which materializes
    per-group value multisets): this path touches each row twice,
    sorts 0.1% of them, and is exact.  At 100 TB: two scans, two
    bounded shuffles, candidate set fits one executor by construction
    (add a refinement level if a single bucket is still too large)."""
    c = Catalog(spark, sf_dir)
    x = c.lineitem.select(F.col("l_extendedprice").alias("x"))
    stats = x.agg(
        F.min("x").alias("mn"),
        F.max("x").alias("mx"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    nbkt = 1024
    b = x.join(F.broadcast(stats)).select(
        "x",
        "n",
        F.least(
            F.lit(nbkt - 1),
            F.floor((F.col("x") - F.col("mn")) / ((F.col("mx") - F.col("mn")) / nbkt + 1e-300)),
        )
        .cast("bigint")
        .alias("bkt"),
    )
    counts = b.groupBy("bkt", "n").agg(F.count(F.lit(1)).alias("c"))
    wb = Window.orderBy("bkt")  # <=1024 rows: the tiny merge pass
    cum = counts.select(
        "bkt",
        "n",
        (F.sum("c").over(wb.rowsBetween(Window.unboundedPreceding, 0)) - F.col("c")).alias("cum_start"),
        F.sum("c").over(wb.rowsBetween(Window.unboundedPreceding, 0)).alias("cum_end"),
        (((F.col("n") + 1) / 2).cast("bigint")).alias("lo"),
        ((F.col("n") / 2).cast("bigint") + 1).alias("hi"),
    )
    cand_b = cum.filter(
        (F.col("cum_end") >= F.col("lo")) & (F.col("cum_start") < F.col("hi"))
    ).select("bkt", "cum_start", "lo", "hi")
    cand = b.join(
        F.broadcast(cand_b.withColumnsRenamed({"bkt": "cb"})),
        F.col("bkt") == F.col("cb"),
    )
    win = Window.partitionBy("bkt").orderBy("x")
    mids = cand.withColumn(
        "grank", F.col("cum_start") + F.row_number().over(win)
    ).filter((F.col("grank") == F.col("lo")) | (F.col("grank") == F.col("hi")))
    return mids.groupBy("n").agg(
        quantize(F.avg("x"), 6).alias("med")
    ).select(F.col("n").alias("n_rows"), "med")


# ---------------------------------------------------------------------------
# §2.17.11 corrupt-record-tolerant JSON ingestion (PERMISSIVE mode)
# ---------------------------------------------------------------------------

_CORRUPT_ORACLE = """
SELECT CAST(sum(CASE WHEN doc_id % 7 <> 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_good,
       CAST(sum(CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_corrupt,
       CAST(sum(CASE WHEN doc_id % 7 <> 0 THEN n_chars ELSE 0 END)
            AS BIGINT) AS sum_chars_good
FROM documents
"""


@query("q_scan_corrupt_json", oracle=_CORRUPT_ORACLE, tags=("scan", "robustness"))
def q_scan_corrupt_json(spark, sf_dir):
    """Malformed-input tolerance — the ingestion reality every 100 TB
    crawl pipeline faces: JSON lines are synthesized from documents
    with every 7th record TRUNCATED mid-object, then read back in
    PERMISSIVE mode with an explicit schema + _corrupt_record column.
    Good rows parse to typed columns; malformed lines land intact in
    the corrupt column instead of failing the job (contrast FAILFAST)
    — the oracle recomputes the expected partition of good/corrupt
    from the source table, so the assertion is that PERMISSIVE
    classifies EXACTLY the malformed set and loses no good record.
    Both write and read are distributed (text sink/source, pure map);
    the only shuffle is the final 1-row aggregate."""
    from pyspark.sql import types as T

    c = Catalog(spark, sf_dir)
    with scratch("skyhook_corrupt_") as tmp:
        lines = c.documents.select(
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(
                    F.lit('{"id": '),
                    F.col("doc_id").cast("string"),
                    F.lit(', "lang": "'),
                ),
            )
            .otherwise(
                F.to_json(
                    F.struct(
                        F.col("doc_id").alias("id"),
                        F.col("lang"),
                        F.col("n_chars").alias("n"),
                    )
                )
            )
            .alias("value")
        )
        lines.write.mode("overwrite").text(f"{tmp}/lines")
        schema = T.StructType(
            [
                T.StructField("id", T.LongType()),
                T.StructField("lang", T.StringType()),
                T.StructField("n", T.LongType()),
                T.StructField("_corrupt_record", T.StringType()),
            ]
        )
        parsed = spark.read.schema(schema).option("mode", "PERMISSIVE").json(
            f"{tmp}/lines"
        )
        out = parsed.agg(
            F.sum(
                F.when(F.col("_corrupt_record").isNull(), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_good"),
            F.sum(
                F.when(F.col("_corrupt_record").isNotNull(), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_corrupt"),
            F.sum(
                F.when(F.col("_corrupt_record").isNull(), F.col("n")).otherwise(0)
            )
            .cast("bigint")
            .alias("sum_chars_good"),
        )
        # Materialize before the scratch dir is removed.
        return collect_local(out)


# ---------------------------------------------------------------------------
# §2.17.13 sweep-line peak concurrency (interval analytics, two-level)
# ---------------------------------------------------------------------------

_CONCURRENCY_ORACLE = """
WITH pts AS (
  SELECT event_type, ts AS t, 1 AS delta FROM events
  UNION ALL
  SELECT event_type, ts + INTERVAL '30 minutes' AS t, -1 AS delta
  FROM events),
cum AS (
  SELECT event_type, t,
    sum(delta) OVER (PARTITION BY event_type ORDER BY t, delta
                     ROWS UNBOUNDED PRECEDING) AS conc
  FROM pts),
peak AS (
  SELECT event_type, CAST(max(conc) AS BIGINT) AS peak_conc
  FROM cum GROUP BY event_type)
SELECT cum.event_type, peak_conc, min(t) AS first_peak_ts
FROM cum JOIN peak ON cum.event_type = peak.event_type
WHERE conc = peak_conc
GROUP BY cum.event_type, peak_conc ORDER BY cum.event_type
"""


@query(
    "q_win_peak_concurrency",
    oracle=_CONCURRENCY_ORACLE,
    tags=("window", "scale-design"),
)
def q_win_peak_concurrency(spark, sf_dir):
    """Sweep-line interval analytics: peak number of concurrently-open
    30-minute sessions per event type, and when the peak is first hit
    — the max-concurrency question every capacity dashboard asks.
    Each event contributes (+1 at ts, -1 at ts+30min); concurrency is
    the running sum in (t, delta) order (delta ascending, so at equal
    instants ends close before starts open — half-open interval
    semantics, mirrored verbatim in the oracle).

    Scale design: the running sum is TWO-LEVEL (the q_win_gaps /
    boundary-merge family), because a per-type window alone still
    means one task per type at 100 TB: points partition by
    (event_type, day); the in-day running sum is a bounded-group
    window; per-day net deltas — one row per (type, day) — get the
    tiny cross-day prefix (carry), and in-day sum + carry is the
    global concurrency.  Tie runs of identical (t, delta) yield an
    order-invariant (t, conc) multiset, so peak and first-peak time
    are engine-exact without any quantization."""
    e = Catalog(spark, sf_dir).events
    starts = e.select(
        "event_type", F.col("ts").alias("t"), F.lit(1).alias("delta")
    )
    ends = e.select(
        "event_type",
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("t"),
        F.lit(-1).alias("delta"),
    )
    pts = starts.unionAll(ends).withColumn("blk", F.to_date("t"))
    w_in = (
        Window.partitionBy("event_type", "blk")
        .orderBy("t", "delta")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    with_rs = pts.withColumn("rs", F.sum("delta").over(w_in))
    net = pts.groupBy("event_type", "blk").agg(F.sum("delta").alias("net"))
    w_blk = (
        Window.partitionBy("event_type")
        .orderBy("blk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carry = net.select(
        F.col("event_type").alias("c_type"),
        F.col("blk").alias("c_blk"),
        F.coalesce(F.sum("net").over(w_blk), F.lit(0)).alias("carry"),
    )
    cum = with_rs.join(
        F.broadcast(carry),
        (F.col("event_type") == F.col("c_type"))
        & (F.col("blk") == F.col("c_blk")),
    ).select(
        "event_type", "t", (F.col("rs") + F.col("carry")).alias("conc")
    )
    peak = cum.groupBy("event_type").agg(
        F.max("conc").cast("bigint").alias("peak_conc")
    )
    return (
        cum.join(
            F.broadcast(peak.withColumnsRenamed({"event_type": "p_type"})),
            (F.col("event_type") == F.col("p_type"))
            & (F.col("conc") == F.col("peak_conc")),
        )
        .groupBy("event_type", "peak_conc")
        .agg(F.min("t").alias("first_peak_ts"))
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# §2.17.14 task-retry fault tolerance (lost-task recovery semantics)
# ---------------------------------------------------------------------------

_RETRY_ORACLE = """
SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
         AS sum_cents
FROM events GROUP BY event_type ORDER BY event_type
"""


@query("q_fault_task_retry", oracle=_RETRY_ORACLE, tags=("fault", "scale-design"))
def q_fault_task_retry(spark, sf_dir):
    """Lost-task recovery — the resilience dimension a 1000-executor
    job lives on (spark.task.maxFailures): one partition's FIRST task
    attempt deliberately raises mid-computation; Spark discards the
    failed attempt's output and reschedules, and the final answer must
    be byte-identical to a clean run — no loss, no double counting.
    The per-partition work is an Arrow-batched partial aggregate (the
    map-combine shape), so the retried unit is exactly the unit a
    lost executor would forfeit at scale.  Injection triggers only
    when the session allows >1 task attempt (engine sessions run
    local[N,2]; under a retry-less harness session this degrades to a
    clean run, same green result either way — tests/test_fault.py
    asserts the retry path actually fires in the engine session)."""
    import os

    import pandas as pd

    from pyspark.sql import types as T

    from skyhookdb_ceph_spark.session import task_retries_available

    retry_capable = task_retries_available(spark)
    # Firing evidence (tests/test_fault.py): accumulator updates from
    # FAILED task attempts are discarded by Spark's scheduler, so the
    # injection signals through a marker file instead — written only
    # when the test sets SPARK_GRAFT_FAULT_MARKER (driver/bench runs
    # have no side effects).  Every attempt of partition 0 drops a
    # `.{partition}.{attempt}` marker, so the test can assert BOTH the
    # injected attempt-0 failure and the successful attempt-1 retry.
    marker = os.environ.get("SPARK_GRAFT_FAULT_MARKER")

    out_schema = T.StructType(
        [
            T.StructField("event_type", T.StringType()),
            T.StructField("cnt", T.LongType()),
            T.StructField("cents", T.LongType()),
        ]
    )

    def partial(batches):
        from pyspark import TaskContext

        import numpy as np

        tc = TaskContext.get()
        inject = (
            retry_capable
            and tc is not None
            and tc.partitionId() == 0
            and tc.attemptNumber() == 0
        )
        if marker and tc is not None and tc.partitionId() == 0:
            with open(f"{marker}.reduce.{tc.attemptNumber()}", "w") as fh:
                fh.write("attempt ran")
        acc: dict = {}
        for pdf in batches:
            cents = np.floor(pdf["value"].to_numpy() * 100).astype("int64")
            for et, c in zip(pdf["event_type"], cents):
                n, s = acc.get(et, (0, 0))
                acc[et] = (n + 1, s + int(c))
            if inject:
                # Fail AFTER partial work so a buggy retry that kept
                # attempt-0 output would double-count and go red.
                raise RuntimeError(
                    "injected task failure (attempt 0, partition 0)"
                )
        yield pd.DataFrame(
            [
                {"event_type": k, "cnt": n, "cents": s}
                for k, (n, s) in acc.items()
            ],
            columns=["event_type", "cnt", "cents"],
        )

    e = Catalog(spark, sf_dir).events.select("event_type", "value")
    partials = e.repartition(8, "event_type").mapInPandas(partial, out_schema)
    return (
        partials.groupBy("event_type")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_events"),
            F.sum("cents").cast("bigint").alias("sum_cents"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# §2.17.15 seasonal decomposition: hour-of-day baseline + residuals
# ---------------------------------------------------------------------------

_SEASONAL_ORACLE = """
WITH hourly AS (
  SELECT event_type,
    CAST(floor(epoch(ts) / 3600) AS BIGINT) AS bucket,
    sum(value) AS v
  FROM events GROUP BY 1, 2),
hod AS (
  SELECT event_type, CAST(bucket % 24 AS INT) AS hour_of_day, v
  FROM hourly),
season AS (
  SELECT event_type, hour_of_day,
    CAST(count(*) AS BIGINT) AS n_days, avg(v) AS s_mu
  FROM hod GROUP BY event_type, hour_of_day)
SELECT h.event_type, h.hour_of_day, n_days,
  floor(s_mu * 1000000 + 0.5) / 1000000 AS seasonal_avg,
  floor(max(h.v - s_mu) * 1000000 + 0.5) / 1000000 AS max_resid
FROM hod h JOIN season s
  ON h.event_type = s.event_type AND h.hour_of_day = s.hour_of_day
GROUP BY h.event_type, h.hour_of_day, n_days, s_mu
ORDER BY h.event_type, h.hour_of_day
"""


@query("q_ts_seasonal", oracle=_SEASONAL_ORACLE, tags=("timeseries",))
def q_ts_seasonal(spark, sf_dir):
    """Seasonal decomposition — the daily-cycle baseline every ops
    dashboard subtracts before alerting: hourly volumes fold into a
    24-point hour-of-day profile per event type (seasonal_avg over
    ~30 days of fixture data), and the residual against that profile
    exposes what the global z-score (q_ts_anomaly) cannot: a value
    normal at 14:00 but anomalous at 03:00.  Plan: one (type, hour)
    agg for the hourly series, one (type, hod) agg for the 120-row
    profile, profile broadcast back for residuals — at 100 TB the
    profile stays 24 x n_types rows no matter the history length, and
    both aggs map-side combine."""
    e = Catalog(spark, sf_dir).events
    hourly = (
        e.groupBy(
            "event_type",
            F.floor(F.unix_timestamp("ts") / 3600)
            .cast("bigint")
            .alias("bucket"),
        )
        .agg(F.sum("value").alias("v"))
        .withColumn("hour_of_day", (F.col("bucket") % 24).cast("int"))
    )
    season = hourly.groupBy("event_type", "hour_of_day").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.avg("v").alias("s_mu"),
    )
    return (
        hourly.join(
            F.broadcast(
                season.withColumnsRenamed(
                    {"event_type": "s_type", "hour_of_day": "s_hod"}
                )
            ),
            (F.col("event_type") == F.col("s_type"))
            & (F.col("hour_of_day") == F.col("s_hod")),
        )
        .groupBy("event_type", "hour_of_day", "n_days", "s_mu")
        .agg(quantize(F.max(F.col("v") - F.col("s_mu")), 6).alias("max_resid"))
        .select(
            "event_type",
            "hour_of_day",
            "n_days",
            quantize(F.col("s_mu"), 6).alias("seasonal_avg"),
            "max_resid",
        )
        .orderBy("event_type", "hour_of_day")
    )


# ---------------------------------------------------------------------------
# §2.17.18 GDPR subject-access export (cross-table per-user extract)
# ---------------------------------------------------------------------------

_GDPR_EXPORT_ORACLE = """
SELECT 'customer' AS src, CAST(c_custkey AS BIGINT) AS rec_id,
       c_mktsegment AS info,
       CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS amount_cents
FROM customer WHERE c_custkey = 42
UNION ALL
SELECT 'orders', CAST(o_orderkey AS BIGINT), o_orderpriority,
       CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
FROM orders WHERE o_custkey = 42
UNION ALL
SELECT 'events', CAST(event_id AS BIGINT), event_type,
       CAST(floor(value * 100) AS BIGINT)
FROM events WHERE user_id = 42
ORDER BY src, rec_id
"""


@query("q_gdpr_export", oracle=_GDPR_EXPORT_ORACLE, tags=("pipeline", "compliance"))
def q_gdpr_export(spark, sf_dir):
    """Subject-access request (GDPR Art. 15, the read twin of
    q_gdpr_delete's Art. 17): every record a subject owns, unioned
    across the three tables that reference them, in one uniform
    (src, rec_id, info, amount_cents) schema — money normalized to
    integer cents so the union never stringifies doubles (engine
    double->string formatting differs; integer cents are exact).
    Plan: three scans each with the subject-key filter PUSHED to
    parquet (at scale: partition/row-group pruning on the key),
    union, tiny sort — no join, no shuffle beyond the sort of one
    subject's rows."""
    c = Catalog(spark, sf_dir)
    cust = c.customer.filter(F.col("c_custkey") == 42).select(
        F.lit("customer").alias("src"),
        F.col("c_custkey").cast("bigint").alias("rec_id"),
        F.col("c_mktsegment").alias("info"),
        F.floor(F.col("c_acctbal") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("amount_cents"),
    )
    orders = c.orders.filter(F.col("o_custkey") == 42).select(
        F.lit("orders").alias("src"),
        F.col("o_orderkey").cast("bigint").alias("rec_id"),
        F.col("o_orderpriority").alias("info"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("amount_cents"),
    )
    events = c.events.filter(F.col("user_id") == 42).select(
        F.lit("events").alias("src"),
        F.col("event_id").cast("bigint").alias("rec_id"),
        F.col("event_type").alias("info"),
        F.floor(F.col("value") * 100).cast("bigint").alias("amount_cents"),
    )
    return cust.unionAll(orders).unionAll(events).orderBy("src", "rec_id")


# ---------------------------------------------------------------------------
# §2.17.19 Gini concentration coefficient (exact-integer formulation)
# ---------------------------------------------------------------------------

_GINI_ORACLE = """
WITH rev AS (
  SELECT l_suppkey,
    CAST(floor(sum(l_extendedprice * (1 - l_discount)) * 100 + 0.5)
         AS BIGINT) AS cents
  FROM lineitem GROUP BY l_suppkey),
ranked AS (
  SELECT cents,
    CAST(row_number() OVER (ORDER BY cents, l_suppkey) AS BIGINT) AS i,
    CAST(count(*) OVER () AS BIGINT) AS n
  FROM rev)
SELECT n AS n_suppliers,
  CAST(sum(cents) AS BIGINT) AS total_cents,
  floor((sum((2 * i - n - 1) * cents) * 1.0 / (n * sum(cents)))
        * 1000000 + 0.5) / 1000000 AS gini
FROM ranked GROUP BY n
"""


@query("q_agg_gini", oracle=_GINI_ORACLE, tags=("agg",))
def q_agg_gini(spark, sf_dir):
    """Gini concentration of supplier revenue — the inequality metric
    behind 'is our supply chain concentrated?' dashboards.  Uses the
    rank formulation G = sum((2i - n - 1) x_i) / (n sum(x)) over
    ascending-ranked values, computed ENTIRELY in exact integer cents
    (rank, n, and all products are BIGINT; one final division) so no
    accumulation order can move the result.  The rank window runs
    over the per-supplier AGGREGATE — bounded by the supplier table,
    never the fact table, at any scale (same bounded-aggregate-window
    class as q_tpch_q15); the fact scan itself is one map-combined
    (suppkey) shuffle."""
    c = Catalog(spark, sf_dir)
    rev = (
        c.lineitem.groupBy("l_suppkey")
        .agg(
            F.floor(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
                * 100
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("cents")
        )
    )
    w = Window.orderBy("cents", "l_suppkey")  # supplier-bounded aggregate
    ranked = rev.select(
        "cents",
        F.row_number().over(w).cast("bigint").alias("i"),
        F.count(F.lit(1)).over(Window.partitionBy()).cast("bigint").alias("n"),
    )
    return (
        ranked.groupBy("n")
        .agg(
            F.sum("cents").cast("bigint").alias("total_cents"),
            quantize(
                F.sum((2 * F.col("i") - F.col("n") - 1) * F.col("cents"))
                * 1.0
                / (F.col("n") * F.sum("cents")),
                6,
            ).alias("gini"),
        )
        .select(
            F.col("n").alias("n_suppliers"), "total_cents", "gini"
        )
    )


# ---------------------------------------------------------------------------
# §2.17.20 binaryFile source: whole-file multimodal ingestion
# ---------------------------------------------------------------------------

_BINARYFILE_ORACLE = """
WITH k AS (SELECT unnest(generate_series(0, 19)) AS k)
SELECT k AS file_k,
  CAST(length('payload-' || k || '-' || repeat('x', k * 7)) AS BIGINT)
    AS n_bytes,
  md5('payload-' || k || '-' || repeat('x', k * 7)) AS digest
FROM k ORDER BY file_k
"""


@query(
    "q_scan_binary_file",
    oracle=_BINARYFILE_ORACLE,
    tags=("scan", "multimodal"),
)
def q_scan_binary_file(spark, sf_dir):
    """Whole-file ingestion via Spark's `binaryFile` source — how raw
    media objects (images, audio, model checkpoints) actually enter a
    pipeline before any codec runs: each file becomes one row of
    (path, modificationTime, length, content).  Twenty deterministic
    payload files are materialized to scratch, read back through the
    source, and verified by length + md5 against an oracle that
    rebuilds the same payloads from the file index parsed out of the
    path.  At 100 TB the source lists files into splits like any
    other (maxPartitionBytes governs grouping of small files) and
    content bytes stay executor-side — only the tiny digest rows
    move.  Deliberately driver-written fixtures: 20 files is a
    metadata-scale setup, not a data write."""
    import os

    with scratch("skyhook_binfile_") as tmp:
        for k in range(20):
            payload = f"payload-{k}-" + "x" * (k * 7)
            with open(os.path.join(tmp, f"blob_{k:04d}.bin"), "wb") as fh:
                fh.write(payload.encode("ascii"))
        files = spark.read.format("binaryFile").load(tmp)
        out = (
            files.select(
                F.regexp_extract(F.col("path"), r"blob_(\d+)\.bin$", 1)
                .cast("bigint")
                .alias("file_k"),
                F.col("length").cast("bigint").alias("n_bytes"),
                F.md5(F.col("content").cast("string")).alias("digest"),
            )
            .orderBy("file_k")
        )
        # Materialize before the scratch dir is removed.
        return collect_local(out)


# ---------------------------------------------------------------------------
# §2.17.21 checkpoint resume: incremental file discovery across restarts
# ---------------------------------------------------------------------------

_RESUME_ORACLE = """
SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
         AS sum_cents
FROM (SELECT * FROM events UNION ALL SELECT * FROM events)
GROUP BY event_type ORDER BY event_type
"""


@query(
    "q_stream_resume",
    oracle=_RESUME_ORACLE,
    tags=("stream", "live-stream"),
)
def q_stream_resume(spark, sf_dir):
    """Checkpoint RESUME — the operational property production
    streaming lives on: a stopped query restarted against the SAME
    checkpoint must process exactly the files that arrived while it
    was down, never reprocessing committed input.  Run 1 drains file
    A to a transactional parquet sink; file B then lands in the
    source directory; run 2 starts from the same checkpoint and may
    process ONLY B.  The oracle expects exactly 2x the fixture
    (A + B are both copies of events) — a resume bug that replays A
    yields 3x and goes red, a resume bug that skips B yields 1x and
    goes red.  Both runs are AvailableNow drains through the
    _spark_metadata-committed file sink, so the read-back sees only
    committed batches; at 100 TB this restart loop IS the daily
    operations of every incremental ingest pipeline."""
    import os
    import shutil

    from skyhookdb_ceph_spark.streaming.replay import events_stream

    with scratch("skyhook_resume_") as tmp:
        src, out, ckpt = f"{tmp}/src", f"{tmp}/out", f"{tmp}/ckpt"
        os.makedirs(src, exist_ok=True)

        def drain_once():
            stream = events_stream(spark, src, glob="*.parquet").select(
                "event_type", "value"
            )
            with scoped_conf(spark, {"spark.sql.shuffle.partitions": "2"}):
                q = (
                    stream.writeStream.format("parquet")
                    .option("path", out)
                    .option("checkpointLocation", ckpt)
                    .outputMode("append")
                    .trigger(availableNow=True)
                    .start()
                )
                q.awaitTermination()

        shutil.copy(f"{sf_dir}/events.parquet", f"{src}/a.parquet")
        drain_once()  # run 1: processes A, commits offsets to ckpt
        shutil.copy(f"{sf_dir}/events.parquet", f"{src}/b.parquet")
        drain_once()  # run 2: SAME checkpoint -> must process only B
        committed = spark.read.parquet(out)
        agg = (
            committed.groupBy("event_type")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_events"),
                F.sum(F.floor(F.col("value") * 100).cast("bigint"))
                .cast("bigint")
                .alias("sum_cents"),
            )
            .orderBy("event_type")
        )
        # Materialize before the scratch dir is removed.
        return collect_local(agg)


# ---------------------------------------------------------------------------
# §2.17.22 GROUPING() markers: subtotal-NULL vs data-NULL disambiguation
# ---------------------------------------------------------------------------

_GROUPING_ID_ORACLE = """
SELECT l_returnflag, l_linestatus,
  CAST(grouping(l_returnflag) AS INT) AS g_flag,
  CAST(grouping(l_linestatus) AS INT) AS g_status,
  CAST(count(*) AS BIGINT) AS cnt
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
ORDER BY g_flag, g_status, l_returnflag, l_linestatus
"""


@query("q_agg_grouping_id", oracle=_GROUPING_ID_ORACLE, tags=("agg",))
def q_agg_grouping_id(spark, sf_dir):
    """GROUPING() markers on a ROLLUP — the disambiguation every
    report over nullable group columns needs: a NULL in a subtotal
    row (grouping()=1) is not a NULL data value (grouping()=0), and
    without the marker the two are indistinguishable downstream.
    Same Expand + two-phase aggregate plan as q_agg_rollup; the
    marker column is free metadata carried through the expand."""
    li = Catalog(spark, sf_dir).lineitem
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.grouping("l_returnflag").cast("int").alias("g_flag"),
            F.grouping("l_linestatus").cast("int").alias("g_status"),
            F.count(F.lit(1)).cast("bigint").alias("cnt"),
        )
        .select(
            "l_returnflag", "l_linestatus", "g_flag", "g_status", "cnt"
        )
        .orderBy("g_flag", "g_status", "l_returnflag", "l_linestatus")
    )


# ---------------------------------------------------------------------------
# §2.17.23 null-key skew bypass: nullable-key join without the NULL reducer
# ---------------------------------------------------------------------------

_NULL_SKEW_ORACLE = """
WITH ev AS (
  SELECT CASE WHEN value < 20 THEN NULL ELSE user_id END AS k, value
  FROM events)
SELECT c_mktsegment,
  CAST(count(*) AS BIGINT) AS n_events,
  CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
FROM ev LEFT JOIN customer ON k = c_custkey
GROUP BY c_mktsegment ORDER BY c_mktsegment NULLS FIRST
"""


@query("q_join_null_skew", oracle=_NULL_SKEW_ORACLE, tags=("join", "skew"))
def q_join_null_skew(spark, sf_dir):
    """Nullable-key outer join WITHOUT the NULL-reducer hotspot: NULL
    keys can never match, yet a naive shuffle hash-partitions every
    NULL row to ONE reducer — at 100 TB a 20%-null key column makes
    that reducer the job.  The rewrite splits the stream: non-null
    rows take the keyed join, NULL rows bypass it entirely (their
    join columns are NULL by definition) and rejoin via UNION before
    the aggregate — semantics identical to the plain LEFT JOIN the
    oracle runs, which is the point: the oracle proves the bypass
    changes the plan, not the answer."""
    c = Catalog(spark, sf_dir)
    ev = c.events.select(
        F.when(F.col("value") < 20, None)
        .otherwise(F.col("user_id"))
        .alias("k"),
        "value",
    )
    cust = c.customer.select("c_custkey", "c_mktsegment")
    matched = ev.filter(F.col("k").isNotNull()).join(
        cust, F.col("k") == F.col("c_custkey"), "left"
    ).select("c_mktsegment", "value")
    bypass = ev.filter(F.col("k").isNull()).select(
        F.lit(None).cast("string").alias("c_mktsegment"), "value"
    )
    return (
        matched.unionByName(bypass)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum(F.floor(F.col("value") * 100).cast("bigint"))
            .cast("bigint")
            .alias("sum_cents"),
        )
        .orderBy(F.col("c_mktsegment").asc_nulls_first())
    )


# ---------------------------------------------------------------------------
# §2.17.24 null-safe equi-join (NULL <=> NULL matches)
# ---------------------------------------------------------------------------

_NULL_SAFE_JOIN_ORACLE = """
WITH ev AS (
  SELECT CASE WHEN value < 20 THEN NULL ELSE user_id % 50 END AS k
  FROM events),
dim AS (
  SELECT CAST(NULL AS BIGINT) AS dk, 'missing' AS label
  UNION ALL
  SELECT DISTINCT c_custkey % 50 AS dk,
         'bucket-' || CAST(c_custkey % 50 AS VARCHAR) AS label
  FROM customer)
SELECT label, CAST(count(*) AS BIGINT) AS n_events
FROM ev JOIN dim ON k IS NOT DISTINCT FROM dk
GROUP BY label ORDER BY label
"""


@query("q_join_null_safe", oracle=_NULL_SAFE_JOIN_ORACLE, tags=("join",))
def q_join_null_safe(spark, sf_dir):
    """Null-safe equi-join: <=> (IS NOT DISTINCT FROM) treats NULL as
    a joinable value, so the 'missing' dimension row captures every
    null-key event — the lookup-with-default pattern that a plain
    equi-join silently drops rows from.  Catalyst keeps <=> a KEYED
    hash join (NULL hashes as a value; no fallback to nested loop),
    so the plan class is identical to a normal equi-join at any
    scale — contrast q_join_null_skew, where NULLs can never match
    and the win is routing them around the shuffle."""
    c = Catalog(spark, sf_dir)
    ev = c.events.select(
        F.when(F.col("value") < 20, None)
        .otherwise(F.col("user_id") % 50)
        .alias("k")
    )
    buckets = (
        c.customer.select((F.col("c_custkey") % 50).alias("dk"))
        .distinct()
        .select(
            "dk", F.concat(F.lit("bucket-"), F.col("dk")).alias("label")
        )
    )
    null_row = spark.range(1).select(
        F.lit(None).cast("bigint").alias("dk"),
        F.lit("missing").alias("label"),
    )
    dim = null_row.unionByName(buckets)
    return (
        ev.join(F.broadcast(dim), F.col("k").eqNullSafe(F.col("dk")))
        .groupBy("label")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# §2.17.25 trailing-time range frame (per-key rolling hour)
# ---------------------------------------------------------------------------

_TRAILING_ORACLE = """
WITH s AS (
  SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS sec, value
  FROM events WHERE user_id < 50)
SELECT event_type, sec,
  CAST(count(*) OVER w AS BIGINT) AS n_last_hour,
  CAST(sum(CAST(floor(value * 100) AS BIGINT)) OVER w AS BIGINT)
    AS cents_last_hour
FROM s
WINDOW w AS (PARTITION BY event_type ORDER BY sec
             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
ORDER BY event_type, sec, n_last_hour, cents_last_hour
"""


@query("q_win_trailing_hour", oracle=_TRAILING_ORACLE, tags=("window", "timeseries"))
def q_win_trailing_hour(spark, sf_dir):
    """Trailing-hour rolling aggregate via a RANGE frame — the
    rate-limit / rolling-count primitive: for each event, how many
    events (and cents) the same type saw in the preceding 3600
    seconds INCLUDING all same-second peers (RANGE semantics — a ROWS
    frame would split ties arbitrarily and diverge between engines).
    Ordering is on epoch SECONDS in both engines so frame boundaries
    are integer-exact.

    Scale design (the day-block boundary merge, q_win_peak_concurrency
    / q_win_gaps family): a window partitioned by event_type alone is
    ONE task per type at 100 TB.  Because the trailing frame is
    value-BOUNDED (3600 s) and strictly narrower than a day block
    (86 400 s), a row's frame reaches at most ONE block back — so rows
    from the LAST HOUR of each block are duplicated into the next
    block as contributor-only ghosts (emit=0, ≤4.2 % row inflation),
    and the RANGE window runs per (event_type, day-block): every
    frame is fully local to its block, results are exactly the
    per-type global window's, and parallelism scales with type×days
    instead of types.  Ghost and real rows can never tie on sec
    (ghost sec < block start ≤ real sec), so RANGE peer semantics are
    unchanged; ghosts are dropped after the window (the emit filter
    cannot push below it — emit is not a partition key)."""
    e = Catalog(spark, sf_dir).events.filter(F.col("user_id") < 50)
    s = e.select(
        "event_type",
        F.floor(F.unix_timestamp("ts")).cast("bigint").alias("sec"),
        F.floor(F.col("value") * 100).cast("bigint").alias("cents"),
    ).withColumn("blk", F.floor(F.col("sec") / 86400))
    real = s.withColumn("emit", F.lit(1))
    ghost = (
        s.filter(F.col("sec") % 86400 >= 86400 - 3600)
        .withColumn("blk", F.col("blk") + 1)
        .withColumn("emit", F.lit(0))
    )
    w = (
        Window.partitionBy("event_type", "blk")
        .orderBy("sec")
        .rangeBetween(-3600, 0)
    )
    return (
        real.unionByName(ghost)
        .select(
            "event_type",
            "sec",
            "emit",
            F.count(F.lit(1)).over(w).cast("bigint").alias("n_last_hour"),
            F.sum("cents").over(w).cast("bigint").alias("cents_last_hour"),
        )
        .filter(F.col("emit") == 1)
        .drop("emit")
        .orderBy("event_type", "sec", "n_last_hour", "cents_last_hour")
    )


# ---------------------------------------------------------------------------
# §2.17.26 end-to-end curation pipeline in ONE plan
# ---------------------------------------------------------------------------

_E2E_ORACLE = """
WITH dedup AS (
  SELECT min(doc_id) AS doc_id
  FROM documents GROUP BY md5(text)),
kept AS (
  SELECT d.doc_id, d.lang, d.n_chars, d.text
  FROM documents d JOIN dedup USING (doc_id)
  WHERE d.n_chars BETWEEN 50 AND 5000),
split AS (
  SELECT doc_id, lang, n_chars,
    CAST(length(string_split(trim(text), ' ')) AS BIGINT) AS n_tokens,
    CASE WHEN (((doc_id % 2147483647) * 2654435761) % 4294967296) % 100 < 80
         THEN 'train'
         WHEN (((doc_id % 2147483647) * 2654435761) % 4294967296) % 100 < 90
         THEN 'val' ELSE 'test' END AS part
  FROM kept)
SELECT part,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
  CAST(min(doc_id) AS BIGINT) AS min_doc
FROM split GROUP BY part ORDER BY part
"""


@query("q_pipeline_e2e", oracle=_E2E_ORACLE, tags=("llm", "pipeline"))
def q_pipeline_e2e(spark, sf_dir):
    """The whole curation pipeline as ONE Catalyst plan — exact dedup
    (keep min doc_id per text digest), quality gate (length bounds),
    deterministic 80/10/10 hash split, per-split token accounting —
    composed the way a user actually runs it, not as four separate
    jobs.  The point of expressing it declaratively: Catalyst sees
    the WHOLE pipeline, so the length filter pushes below the dedup
    join, the digest agg and the final split agg are each one
    map-combined shuffle, and no intermediate ever materializes.  At
    100 TB this one plan replaces a 4-stage workflow with 2 keyed
    shuffles + 1 broadcast semi join + 1 final agg — the difference
    between an overnight DAG and one job."""
    d = Catalog(spark, sf_dir).documents
    dedup = d.groupBy(F.md5("text")).agg(F.min("doc_id").alias("doc_id"))
    kept = d.join(
        F.broadcast(dedup.select("doc_id")), "doc_id", "leftsemi"
    ).filter(F.col("n_chars").between(50, 5000))
    # pre-mod by 2^31-1: unguarded, the Knuth product overflows BIGINT
    # under ANSI for ids past ~3.4e9 (r12 scale smoke, BASELINE.md §L.7)
    bucket = (F.col("doc_id") % 2147483647) * 2654435761 % 4294967296 % 100
    split = kept.select(
        "doc_id",
        "lang",
        F.size(F.split(F.trim("text"), " ")).cast("bigint").alias("n_tokens"),
        F.when(bucket < 80, "train")
        .when(bucket < 90, "val")
        .otherwise("test")
        .alias("part"),
    )
    return (
        split.groupBy("part")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.countDistinct("lang").cast("bigint").alias("n_langs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            F.min("doc_id").cast("bigint").alias("min_doc"),
        )
        .orderBy("part")
    )


# ---------------------------------------------------------------------------
# §2.17.27 dense_rank vs rank on tie-heavy bands
# ---------------------------------------------------------------------------

_DENSE_RANK_ORACLE = """
WITH b AS (
  SELECT o_orderpriority,
    CAST(floor(o_totalprice / 50000) AS BIGINT) AS band,
    o_orderkey
  FROM orders WHERE o_custkey < 200)
SELECT o_orderpriority, band, o_orderkey,
  CAST(rank() OVER w AS BIGINT) AS rnk,
  CAST(dense_rank() OVER w AS BIGINT) AS drnk
FROM b
WINDOW w AS (PARTITION BY o_orderpriority ORDER BY band)
ORDER BY o_orderpriority, band, o_orderkey
"""


@query("q_win_dense_rank", oracle=_DENSE_RANK_ORACLE, tags=("window",))
def q_win_dense_rank(spark, sf_dir):
    """rank() vs dense_rank() on a tie-heavy ordering (price bands):
    rank leaves gaps after tie groups, dense_rank does not — the
    distinction every leaderboard with ties hits, exercised on bands
    where ties are the COMMON case.  Ranking by the integer band (not
    the raw price) makes tie membership engine-exact; row identity
    carries o_orderkey so output order is fully deterministic.
    Partitioned window, bounded groups, no global order."""
    o = Catalog(spark, sf_dir).orders.filter(F.col("o_custkey") < 200)
    b = o.select(
        "o_orderpriority",
        F.floor(F.col("o_totalprice") / 50000).cast("bigint").alias("band"),
        "o_orderkey",
    )
    w = Window.partitionBy("o_orderpriority").orderBy("band")
    return (
        b.select(
            "o_orderpriority",
            "band",
            "o_orderkey",
            F.rank().over(w).cast("bigint").alias("rnk"),
            F.dense_rank().over(w).cast("bigint").alias("drnk"),
        )
        .orderBy("o_orderpriority", "band", "o_orderkey")
    )


# ---------------------------------------------------------------------------
# §2.17.28 aggregate pushdown INTO the scan (footer-stats answering)
# ---------------------------------------------------------------------------

_AGG_PUSHDOWN_ORACLE = """
SELECT CAST(count(*) AS BIGINT) AS cnt,
       min(l_shipdate) AS min_ship,
       max(l_extendedprice) AS max_price
FROM lineitem
"""


@query(
    "q_scan_agg_pushdown",
    oracle=_AGG_PUSHDOWN_ORACLE,
    tags=("scan", "pushdown"),
)
def q_scan_agg_pushdown(spark, sf_dir):
    """Aggregate pushdown INTO the storage layer — the closest Spark
    gets to the reference's literal architecture (COUNT/MIN/MAX
    evaluated where the data lives instead of scanning it out): with
    parquet v2 + aggregatePushdown, the scan answers count(*)/min/max
    from ROW-GROUP FOOTER STATISTICS and reads zero data pages — the
    plan carries `PushedAggregation: [COUNT(*), MIN(..), MAX(..)]`
    (asserted in tests/test_plans.py).  At 100 TB this turns a
    full-table statistics query into a footer-metadata sweep, exactly
    the --use-cls win the reference measured.  The two confs are
    scoped to this query (v2 source switching is session-global, so
    the result materializes under the confs and both are restored
    before returning)."""
    with scoped_conf(
        spark,
        {
            "spark.sql.parquet.aggregatePushdown": "true",
            "spark.sql.sources.useV1SourceList": "",
        },
    ):
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        out = li.selectExpr(
            "CAST(count(*) AS BIGINT) AS cnt",
            "min(l_shipdate) AS min_ship",
            "max(l_extendedprice) AS max_price",
        )
        # Materialize UNDER the pushdown confs (1 row), then restore.
        return collect_local(out)


# ---------------------------------------------------------------------------
# §2.17.29 error-safe arithmetic (try_* functions)
# ---------------------------------------------------------------------------

_TRY_ARITH_ORACLE = """
WITH t AS (
  SELECT o_orderkey,
    CASE WHEN o_orderkey % 7 = 0 THEN 0.0 ELSE CAST(o_orderkey % 5 AS DOUBLE) END
      AS denom,
    o_totalprice
  FROM orders WHERE o_custkey < 100)
SELECT
  CAST(count(*) AS BIGINT) AS n_rows,
  CAST(sum(CASE WHEN denom = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_null_div,
  floor(sum(CASE WHEN denom = 0 THEN NULL
            ELSE o_totalprice / denom END) * 100 + 0.5) / 100
    AS sum_safe_ratio
FROM t
"""


@query("q_fn_try_arith", oracle=_TRY_ARITH_ORACLE, tags=("functions",))
def q_fn_try_arith(spark, sf_dir):
    """Error-safe arithmetic — try_divide yields NULL on a zero
    divisor instead of Infinity (non-ANSI float semantics) or a job
    abort (ANSI mode): the difference between one bad row poisoning a
    100 TB aggregate and that row degrading to NULL.  The oracle
    expresses the identical semantics as an explicit CASE guard, so
    the try_* fast path is proven equivalent to the defensive SQL
    users write by hand.  Pure codegen map + one scalar aggregate."""
    o = Catalog(spark, sf_dir).orders.filter(F.col("o_custkey") < 100)
    t = o.select(
        "o_totalprice",
        F.when(F.col("o_orderkey") % 7 == 0, F.lit(0.0))
        .otherwise((F.col("o_orderkey") % 5).cast("double"))
        .alias("denom"),
    )
    safe = t.withColumn(
        "ratio", F.expr("try_divide(o_totalprice, nullif(denom, 0.0))")
    )
    return safe.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(F.when(F.col("denom") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_null_div"),
        quantize2(F.sum("ratio")).alias("sum_safe_ratio"),
    )
