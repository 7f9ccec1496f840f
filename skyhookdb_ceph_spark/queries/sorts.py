"""Sorts / limits / top-k (SURVEY.md §2.6).

Reference: ordering was client-side over merged partials
[U: run-query.cc — result print loop; no order-by flag].  Spark plans
top-k as TakeOrderedAndProject: each task keeps a k-row heap and only k
rows per partition reach the driver — at 100 TB the full sort never
materializes.  All top-k queries carry a deterministic tie-break key so
the result SET is engine-invariant (order-insensitive hash).
"""

from __future__ import annotations

from skyhookdb_ceph_spark.queries._util import Catalog, F, money
from skyhookdb_ceph_spark.registry import query


@query(
    "q_sort_orderby",
    oracle=(
        "SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM customer "
        "ORDER BY c_mktsegment ASC, c_acctbal DESC NULLS LAST, c_custkey ASC"
    ),
)
def q_sort_orderby(spark, sf_dir):
    """Multi-key order-by with explicit null placement (range-partitioned
    global sort in Spark; AQE sizes the range partitions)."""
    c = Catalog(spark, sf_dir).customer
    return c.select("c_custkey", "c_name", "c_acctbal", "c_mktsegment").orderBy(
        F.col("c_mktsegment").asc(),
        F.col("c_acctbal").desc_nulls_last(),
        F.col("c_custkey").asc(),
    )


@query(
    "q_limit",
    oracle=(
        "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem "
        "ORDER BY l_orderkey, l_linenumber LIMIT 100"
    ),
)
def q_limit(spark, sf_dir):
    """Deterministic limit (ordered by the table key; a bare LIMIT has
    engine-dependent row choice and cannot be oracle-checked)."""
    li = Catalog(spark, sf_dir).lineitem
    return (
        li.select("l_orderkey", "l_linenumber", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber")
        .limit(100)
    )


@query(
    "q_topk",
    oracle=(
        "SELECT l_orderkey, floor((sum(l_extendedprice * (1 - l_discount))) * 100 + 0.5) / 100 AS revenue "
        "FROM lineitem GROUP BY l_orderkey "
        "ORDER BY revenue DESC, l_orderkey ASC LIMIT 10"
    ),
)
def q_topk(spark, sf_dir):
    """Top-k by aggregated measure; revenue rounded BEFORE ordering and
    tie-broken by key so the boundary row set matches the oracle."""
    li = Catalog(spark, sf_dir).lineitem
    return (
        li.groupBy("l_orderkey")
        .agg(money(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


@query(
    "q_sort_nulls",
    oracle=(
        "SELECT o_orderkey, nullif(o_orderstatus, 'P') AS status_np "
        "FROM orders "
        "ORDER BY status_np ASC NULLS FIRST, o_orderkey ASC LIMIT 100"
    ),
)
def q_sort_nulls(spark, sf_dir):
    """Explicit NULL placement in sort order.  The engines DISAGREE by
    default (Spark: NULLS FIRST on ASC; DuckDB: NULLS LAST), so any
    portable ordering must spell it out — asc_nulls_first here, NULLS
    FIRST in the oracle.  The LIMIT makes placement observable through
    the driver's order-insensitive hash: the returned row SET is the
    100 lowest keys among NULL-status rows only if nulls sort first."""
    o = Catalog(spark, sf_dir).orders
    return (
        o.select(
            "o_orderkey",
            F.nullif(F.col("o_orderstatus"), F.lit("P")).alias("status_np"),
        )
        .orderBy(F.col("status_np").asc_nulls_first(), F.col("o_orderkey").asc())
        .limit(100)
    )


_PAGINATION_ORACLE = """
SELECT o_orderkey, o_custkey,
  floor(o_totalprice * 100 + 0.5) / 100 AS total_price
FROM orders ORDER BY o_totalprice DESC, o_orderkey
LIMIT 20 OFFSET 40
"""


@query("q_sort_pagination", oracle=_PAGINATION_ORACLE, tags=("sort",))
def q_sort_pagination(spark, sf_dir):
    """Keyset-free pagination: page 3 of the price-ranked orders via
    ORDER BY + LIMIT/OFFSET.  Spark plans offset+limit as a combined
    top-(offset+limit) (per-partition heaps of 60 rows, driver
    discards the first 40) — fine for UI-depth pages; deep pagination
    at 100 TB should switch to keyset predicates (WHERE key > last)
    which q_filter_range_conj's pushdown shape covers.  Unique
    orderkey tie-break keeps both engines' page boundary identical."""
    o = Catalog(spark, sf_dir).orders
    return (
        o.select(
            "o_orderkey",
            "o_custkey",
            money(F.col("o_totalprice")).alias("total_price"),
        )
        .orderBy(F.desc(F.col("o_totalprice")), "o_orderkey")
        .offset(40)
        .limit(20)
    )
