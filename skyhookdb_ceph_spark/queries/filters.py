"""Filters / predicates (SURVEY.md §2.2).

Reference predicate machine: per-column TypedPredicate with op enum
SOT_{lt,gt,eq,ne,leq,geq,like,in,between,logical_and/or/not,...},
';'-chained predicates are conjunctions
[U: cls_tabular_utils.h — SOT_* enum, TypedPredicate, applyPredicates;
 run-query.cc — --select-preds parsing].

Spark mapping: plain Column predicates.  Every one of these compiles to
a pushed Parquet filter (verify: .explain shows PushedFilters) — the
exact analog of the reference evaluating predicates inside the OSD
before any bytes cross the network.  At 100 TB this is the single most
important property: selectivity * 100 TB is what crosses the shuffle.
"""

from __future__ import annotations

from skyhookdb_ceph_spark.queries._util import (
    Catalog,
    F,
    _hexval8,
    _hexval8_spark,
    money,
)
from skyhookdb_ceph_spark.registry import query


@query("q_filter_gt", oracle="SELECT * FROM lineitem WHERE l_extendedprice > 91400")
def q_filter_gt(spark, sf_dir):
    """Canonical SkyhookDM demo predicate (extendedprice > 91400, [P1])."""
    return Catalog(spark, sf_dir).lineitem.filter(F.col("l_extendedprice") > 91400)


@query(
    "q_filter_eq_point",
    oracle="SELECT * FROM lineitem WHERE l_orderkey = 42 AND l_linenumber = 1",
)
def q_filter_eq_point(spark, sf_dir):
    """Conjunctive equality point query ([U: run-query.cc — query d]).
    With a sorted/partitioned layout this is a row-group-stats skip —
    the analog of the reference's RID/value index lookup."""
    li = Catalog(spark, sf_dir).lineitem
    return li.filter((F.col("l_orderkey") == 42) & (F.col("l_linenumber") == 1))


@query(
    "q_filter_range_conj",
    oracle=(
        "SELECT * FROM lineitem WHERE l_shipdate >= TIMESTAMP '1996-01-01' "
        "AND l_shipdate < TIMESTAMP '1997-01-01' "
        "AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24"
    ),
)
def q_filter_range_conj(spark, sf_dir):
    """TPC-H Q6-shape range conjunction ([U: run-query.cc — query e])."""
    li = Catalog(spark, sf_dir).lineitem
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & F.col("l_discount").between(0.05, 0.07)
        & (F.col("l_quantity") < 24)
    )


@query("q_filter_like", oracle="SELECT * FROM part WHERE p_name LIKE '%red%'")
def q_filter_like(spark, sf_dir):
    """LIKE / regex predicate (SOT_like, [U: run-query.cc — query f
    --comment_regex])."""
    return Catalog(spark, sf_dir).part.filter(F.col("p_name").like("%red%"))


@query(
    "q_filter_regex",
    oracle="SELECT * FROM part WHERE regexp_matches(p_name, '^(red|blue) ')",
)
def q_filter_regex(spark, sf_dir):
    """Full regex variant of SOT_like (reference compiles the pattern
    with std::regex/RE2 per scan)."""
    return Catalog(spark, sf_dir).part.filter(F.col("p_name").rlike("^(red|blue) "))


@query(
    "q_filter_in",
    oracle="SELECT * FROM lineitem WHERE l_returnflag IN ('A', 'R')",
)
def q_filter_in(spark, sf_dir):
    return Catalog(spark, sf_dir).lineitem.filter(F.col("l_returnflag").isin("A", "R"))


@query(
    "q_filter_between",
    oracle="SELECT * FROM lineitem WHERE l_quantity BETWEEN 5 AND 15",
)
def q_filter_between(spark, sf_dir):
    return Catalog(spark, sf_dir).lineitem.filter(F.col("l_quantity").between(5, 15))


@query(
    "q_filter_or_not",
    oracle=(
        "SELECT * FROM customer WHERE (c_mktsegment = 'BUILDING' "
        "OR c_mktsegment = 'MACHINERY') AND NOT (c_acctbal < 0)"
    ),
)
def q_filter_or_not(spark, sf_dir):
    """Disjunction + negation (SOT_logical_or / SOT_logical_not)."""
    c = Catalog(spark, sf_dir).customer
    return c.filter(
        ((F.col("c_mktsegment") == "BUILDING") | (F.col("c_mktsegment") == "MACHINERY"))
        & ~(F.col("c_acctbal") < 0)
    )


@query(
    "q_filter_null",
    oracle=(
        "SELECT o_orderkey, nullif(o_orderstatus, 'P') AS status_np FROM orders "
        "WHERE nullif(o_orderstatus, 'P') IS NOT NULL"
    ),
)
def q_filter_null(spark, sf_dir):
    """SQL 3-valued NULL semantics (reference: nullbit vector skips the
    row, [U: *.fbs — Record.nullbits]).  Fixtures carry no physical
    NULLs, so NULLIF manufactures them deterministically."""
    o = Catalog(spark, sf_dir).orders
    return o.select(
        "o_orderkey", F.nullif(F.col("o_orderstatus"), F.lit("P")).alias("status_np")
    ).filter(F.col("status_np").isNotNull())


@query(
    "q_filter_null_safe_eq",
    oracle=(
        "SELECT o_orderkey, status_np FROM ("
        "SELECT o_orderkey, nullif(o_orderstatus, 'P') AS status_np FROM orders) "
        "WHERE status_np IS NOT DISTINCT FROM NULL "
        "OR status_np IS NOT DISTINCT FROM 'F'"
    ),
)
def q_filter_null_safe_eq(spark, sf_dir):
    """Null-safe equality (<=> / IS NOT DISTINCT FROM): NULL <=> NULL
    is true, unlike ordinary 3VL equality — the predicate that makes
    NULL-keyed joins and dedup well-defined."""
    o = Catalog(spark, sf_dir).orders
    np = F.nullif(F.col("o_orderstatus"), F.lit("P")).alias("status_np")
    return (
        o.select("o_orderkey", np)
        .filter(
            F.col("status_np").eqNullSafe(F.lit(None).cast("string"))
            | F.col("status_np").eqNullSafe("F")
        )
    )


@query(
    "q_project_compute",
    oracle=(
        "SELECT l_orderkey, l_linenumber, "
        "floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) / 100 AS revenue, "
        "floor(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 100 + 0.5) / 100 AS charge "
        "FROM lineitem"
    ),
)
def q_project_compute(spark, sf_dir):
    """Computed projection (arithmetic op surface SOT_add/mul,
    [U: cls_tabular_utils.h — SOT arithmetic in the agg path]).
    Per-row money goes through money() (not round): engine-invariant IEEE
    integer-math quantization mirrored exactly in the oracle SQL."""
    li = Catalog(spark, sf_dir).lineitem
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.select(
        "l_orderkey",
        "l_linenumber",
        money(disc).alias("revenue"),
        money(disc * (1 + F.col("l_tax"))).alias("charge"),
    )


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
