"""Subquery surface (SQL door parity): the same ANSI SQL text runs on
Spark (via registered views) and the DuckDB oracle — proving the
engine's SQL entry point handles correlated/scalar subqueries, which
Catalyst decorrelates into joins (SURVEY.md §4 row 11).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from skyhookdb_ceph_spark.queries._util import Catalog
from skyhookdb_ceph_spark.registry import query


_EXISTS_SQL = (
    "SELECT c_custkey, c_name, c_acctbal FROM customer WHERE EXISTS "
    "(SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 450000)"
)


@query("q_subquery_exists", oracle=_EXISTS_SQL)
def q_subquery_exists(spark, sf_dir):
    """Correlated EXISTS — Catalyst rewrites to a left-semi join (no
    per-row re-execution); IDENTICAL SQL text on both engines."""
    Catalog(spark, sf_dir).register_views()
    return spark.sql(_EXISTS_SQL)


_SCALAR_SQL = (
    "SELECT o_orderkey, o_totalprice FROM orders "
    "WHERE o_totalprice > 1.5 * (SELECT avg(o_totalprice) FROM orders)"
)


@query("q_subquery_scalar", oracle=_SCALAR_SQL)
def q_subquery_scalar(spark, sf_dir):
    """Scalar subquery threshold — planned as a broadcast of the 1-row
    aggregate, one scan each side."""
    Catalog(spark, sf_dir).register_views()
    return spark.sql(_SCALAR_SQL)


_IN_SQL = (
    "SELECT s_suppkey, s_name FROM supplier WHERE s_nationkey IN "
    "(SELECT n_nationkey FROM nation WHERE n_regionkey = 2)"
)


@query("q_subquery_in", oracle=_IN_SQL)
def q_subquery_in(spark, sf_dir):
    """Uncorrelated IN subquery -> semi join on the subquery result."""
    Catalog(spark, sf_dir).register_views()
    return spark.sql(_IN_SQL)


# ---------------------------------------------------------------------------
# Round-4 SQL-door additions: shared-dialect ANSI through spark.sql()
# ---------------------------------------------------------------------------

_CTE_SQL = (
    "WITH seg AS ("
    "  SELECT c_mktsegment AS seg, CAST(count(*) AS BIGINT) AS n_cust, "
    "  floor(avg(c_acctbal) * 1000000 + 0.5) / 1000000 AS avg_bal "
    "  FROM customer GROUP BY c_mktsegment) "
    "SELECT a.seg, a.n_cust, a.avg_bal, CAST(b.n_cust AS BIGINT) AS bldg_n "
    "FROM seg a JOIN seg b ON a.seg <> b.seg AND b.seg = 'BUILDING' "
    "WHERE a.seg <> 'BUILDING' ORDER BY a.seg"
)


@query("q_sql_cte", oracle=_CTE_SQL)
def q_sql_cte(spark, sf_dir):
    """CTE referenced twice (self-join on the aggregate) — IDENTICAL
    SQL text on both engines.  Catalyst either inlines or reuses the
    CTE subplan; semantics must not depend on which."""
    Catalog(spark, sf_dir).register_views()
    return spark.sql(_CTE_SQL)


_VALUES_SQL = (
    "SELECT t.tier, CAST(count(*) AS BIGINT) AS n, "
    "floor(sum(c_acctbal) * 100 + 0.5) / 100 AS bal "
    "FROM customer JOIN (VALUES (0, 'low'), (1, 'mid'), (2, 'high')) "
    "AS t(k, tier) "
    "ON CAST(floor((c_acctbal + 1000) / 4000) AS INT) = t.k "
    "GROUP BY t.tier ORDER BY t.tier"
)


@query("q_sql_values", oracle=_VALUES_SQL)
def q_sql_values(spark, sf_dir):
    """Inline VALUES relation joined as a lookup (band -> tier label)
    — IDENTICAL SQL text on both engines; the literal table broadcasts
    by construction."""
    Catalog(spark, sf_dir).register_views()
    return spark.sql(_VALUES_SQL)


_NAMED_WINDOW_SQL = (
    "SELECT o_custkey, o_orderkey, rank() OVER w AS rk, "
    "CAST(count(*) OVER w AS BIGINT) AS n_so_far "
    "FROM orders "
    "WINDOW w AS (PARTITION BY o_custkey "
    "ORDER BY year(o_orderdate), o_orderkey)"
)


@query("q_sql_named_window", oracle=_NAMED_WINDOW_SQL)
def q_sql_named_window(spark, sf_dir):
    """Named WINDOW clause shared by two window functions — IDENTICAL
    SQL text; one (o_custkey) exchange serves both, and the unique
    orderkey tie-break makes rank and the running count
    deterministic."""
    Catalog(spark, sf_dir).register_views()
    return spark.sql(_NAMED_WINDOW_SQL)


_RECURSIVE_SQL = (
    "WITH RECURSIVE fib(i, a, b) AS ("
    "  SELECT 1, CAST(0 AS BIGINT), CAST(1 AS BIGINT) "
    "  UNION ALL "
    "  SELECT i + 1, b, a + b FROM fib WHERE i < 40) "
    "SELECT i, a AS fib_i FROM fib ORDER BY i"
)


@query("q_sql_recursive", oracle=_RECURSIVE_SQL)
def q_sql_recursive(spark, sf_dir):
    """WITH RECURSIVE (Spark 4 / DuckDB shared dialect) — IDENTICAL
    SQL text; the feature-parity proof for iterative SQL, bounded at
    40 steps.  Data-scale recursion lives in q_graph_components (the
    Spark side there uses the convergent-join fixpoint because a
    recursive CTE over fact-scale edges has no partial-aggregation
    escape — this query proves the DIALECT, that one proves the
    scale path)."""
    Catalog(spark, sf_dir).register_views()
    return spark.sql(_RECURSIVE_SQL)


_EXISTS_FLAG_SQL = (
    "SELECT c_mktsegment, "
    "CAST(sum(CASE WHEN EXISTS (SELECT 1 FROM orders "
    "  WHERE o_custkey = c_custkey AND o_totalprice > 50000) "
    "  THEN 1 ELSE 0 END) AS BIGINT) AS n_big_spenders, "
    "CAST(count(*) AS BIGINT) AS n_customers "
    "FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment"
)


@query("q_sql_exists_flag", oracle=_EXISTS_FLAG_SQL)
def q_sql_exists_flag(spark, sf_dir):
    """EXISTS used as a VALUE (inside CASE), not as a filter — the
    'mark join' shape: the row survives either way and carries a
    boolean.  Catalyst plans this as an ExistenceJoin (a keyed hash
    join emitting the exists bit; asserted in tests/test_plans.py) —
    never a per-row subquery — so at 100 TB it is one keyed join plus
    the grouped aggregate, same cost class as a semi join.  IDENTICAL
    SQL text runs on both engines."""
    Catalog(spark, sf_dir).register_views()
    return spark.sql(_EXISTS_FLAG_SQL)


_LATERAL_SQL = (
    "SELECT c_custkey, o_orderkey, o_totalprice "
    "FROM customer, LATERAL ("
    "  SELECT o_orderkey, o_totalprice FROM orders "
    "  WHERE o_custkey = c_custkey "
    "  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t "
    "WHERE c_custkey < 50 "
    "ORDER BY c_custkey, o_orderkey"
)


@query("q_sql_lateral", oracle=_LATERAL_SQL)
def q_sql_lateral(spark, sf_dir):
    """LATERAL correlated derived table — top-2 orders PER customer
    expressed as a per-row subquery with ORDER BY + LIMIT, the SQL
    shape users reach for before learning window functions.  Catalyst
    DECORRELATES it: the per-row subquery becomes a keyed join plus a
    per-key rank filter, so at 100 TB this is one shuffle on the
    correlation key — never an actual per-row execution.  IDENTICAL
    SQL text runs on both engines (DuckDB executes LATERAL natively);
    ties broken by o_orderkey so both engines elect the same rows."""
    Catalog(spark, sf_dir).register_views()
    return spark.sql(_LATERAL_SQL)


_GROUP_BY_ALL_SQL = (
    "SELECT event_type, CAST(count(*) AS BIGINT) AS cnt, "
    "floor(sum(value) * 100 + 0.5) / 100 AS sv "
    "FROM events GROUP BY ALL ORDER BY ALL"
)


@query("q_sql_group_by_all", oracle=_GROUP_BY_ALL_SQL)
def q_sql_group_by_all(spark, sf_dir):
    """GROUP BY ALL / ORDER BY ALL — the modern analytic-SQL
    convenience (every non-aggregate select item becomes a group key;
    the whole select list becomes the sort key) that both engines
    resolve to the identical explicit query.  IDENTICAL SQL text runs
    on both; the plan is the ordinary partial/final aggregate — the
    sugar is purely front-end, which is exactly what the differential
    check proves."""
    Catalog(spark, sf_dir).register_views()
    return spark.sql(_GROUP_BY_ALL_SQL)


# Provably-empty predicate: orderkeys are positive, so the filter
# pushes to the parquet scan and prunes every row group — the rollup
# genuinely executes over zero rows, which is the whole point.
_EMPTY_PRED = "o_orderkey < 0"

_EMPTY_ROLLUP_ORACLE = f"""
SELECT o_orderpriority,
  CAST(count(*) AS BIGINT) AS cnt,
  floor(sum(o_totalprice) * 100 + 0.5) / 100 AS sum_price
FROM orders WHERE {_EMPTY_PRED}
GROUP BY ROLLUP(o_orderpriority)
"""


@query(
    "q_sql_empty_rollup",
    oracle=_EMPTY_ROLLUP_ORACLE,
    tags=("sql", "divergence", "fuzz-found"),
)
def q_sql_empty_rollup(spark, sf_dir):
    """The empty-input ROLLUP divergence — the single REAL engine
    difference 14,000 differential-fuzz seeds ever surfaced (round
    12, grammar v2) — pinned as a registered artifact instead of a
    branch inside the fuzzer's compare().

    THE DIVERGENCE (verified by hand, Spark 4.1.2 vs DuckDB 1.x):
    `GROUP BY ROLLUP(a)` / `CUBE(a)` / `GROUPING SETS ((a), ())`
    over an EMPTY input returns **0 rows in Spark**, while the SQL
    standard — and DuckDB, and PostgreSQL — emit the () grouping
    set's GRAND-TOTAL row (count 0, other aggregates NULL), exactly
    as a global aggregate with no GROUP BY does.  Spark implements
    the expanded grouping sets as a regular hash aggregate over an
    Expand node, and a grouped aggregate over zero rows yields zero
    groups — the () set is not special-cased.  Both engines DO agree
    on the plain global aggregate (one row even on empty input).

    THE IDIOM a user needs (shipped here, branch-free, correct at
    ANY input cardinality): union the global aggregate's row, kept
    only when its own count says the input was empty —

        rollup(...)  UNION ALL  global_agg(...) WHERE cnt = 0

    On empty input the rollup contributes nothing and the guarded
    grand row restores the standard's contract; on non-empty input
    the guard drops it and the rollup's own () row already carries
    the grand total — no double counting, no driver-side branching,
    one extra aggregate over an already-pruned scan.  The oracle is
    the plain standard ROLLUP, so the pair certifies the idiom
    reproduces the standard semantics Spark omits.

    Plan note: the empty predicate (`o_orderkey < 0` on a positive
    key) reaches the parquet scan as a PushedFilter, so both the
    rollup and the guard aggregate read row-group statistics and no
    data pages — the idiom's overhead at 100 TB is metadata-only."""
    o = Catalog(spark, sf_dir).orders.filter(_EMPTY_PRED)
    rolled = (
        o.rollup("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("cnt"),
            F.expr(
                "floor(sum(o_totalprice) * 100 + 0.5) / 100"
            ).alias("sum_price"),
        )
        .select("o_orderpriority", "cnt", "sum_price")
    )
    grand = (
        o.agg(
            F.count(F.lit(1)).cast("bigint").alias("cnt"),
            F.expr(
                "floor(sum(o_totalprice) * 100 + 0.5) / 100"
            ).alias("sum_price"),
        )
        .filter("cnt = 0")
        .selectExpr(
            "CAST(NULL AS STRING) AS o_orderpriority", "cnt", "sum_price"
        )
    )
    return rolled.unionByName(grand)


# The ORACLE is the plain-SQL equivalent (DuckDB has no pipe parser);
# proving the pipe form returns identical rows shows it is pure
# front-end sugar over the same logical plan.
_PIPE_ORACLE = """
SELECT l_returnflag, l_linestatus,
       CAST(count(*) AS BIGINT) AS n_items,
       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""

_PIPE_SQL = """
FROM lineitem
|> WHERE l_shipdate <= TIMESTAMP '1998-09-02'
|> AGGREGATE CAST(count(*) AS BIGINT) AS n_items,
             CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
   GROUP BY l_returnflag, l_linestatus
|> SELECT l_returnflag, l_linestatus, n_items, sum_qty
|> ORDER BY l_returnflag, l_linestatus
"""


@query("q_sql_pipe", oracle=_PIPE_ORACLE, tags=("sql",))
def q_sql_pipe(spark, sf_dir):
    """SQL PIPE syntax (`|>`) — Spark 4's linear query form (the
    SQL-pipe proposal adopted from GoogleSQL): FROM → WHERE →
    AGGREGATE → SELECT → ORDER BY as sequential stages instead of
    inside-out clauses.  The fifth SQL door (after CTE / VALUES /
    named-window / recursive): the pipe text parses to EXACTLY the
    plan the clause form plans — same pushed filter, same
    partial/final aggregate — which the differential check proves by
    running the clause form on DuckDB (which has no pipe parser) and
    demanding identical rows.  Front-end plurality matters at an
    organization level: pipeline authors write linear SQL, the engine
    optimizes it identically."""
    Catalog(spark, sf_dir).register_views()
    return spark.sql(_PIPE_SQL)


_PARAM_SQL_ORACLE = """
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS cnt,
       floor(sum(o_totalprice) * 100 + 0.5) / 100 AS sum_price
FROM orders WHERE o_totalprice > 150000.0
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


@query("q_sql_parameterized", oracle=_PARAM_SQL_ORACLE, tags=("sql",))
def q_sql_parameterized(spark, sf_dir):
    """PARAMETERIZED SQL — named `:param` markers bound server-side
    (spark.sql(..., args=...)) plus `{df}` templating for the table
    reference: the injection-safe front door every SQL-speaking
    application should use instead of string interpolation (a
    user-supplied threshold can never smuggle SQL past the parser —
    parameters bind as typed literals AFTER parsing).  The sixth SQL
    door next to CTE / VALUES / named-window / recursive / pipe.
    Same plan as the literal form — pushed filter, partial/final
    agg — because binding happens before optimization; the oracle IS
    the literal form, proving the bound parameter reaches the plan
    with identical semantics."""
    orders = Catalog(spark, sf_dir).orders
    return spark.sql(
        "SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS cnt, "
        "floor(sum(o_totalprice) * 100 + 0.5) / 100 AS sum_price "
        "FROM {orders} WHERE o_totalprice > :minp "
        "GROUP BY o_orderpriority ORDER BY o_orderpriority",
        args={"minp": 150000.0},
        orders=orders,
    )
