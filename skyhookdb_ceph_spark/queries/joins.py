"""Joins (SURVEY.md §2.3).

Reference: no storage-side join — cross-table composition was
client-side key lookup [P1 "future work"; U: run-query.cc — no join
flag].  Spark provides every algorithm behind one API; what matters at
100 TB is strategy choice per query:

- fact x small dim  -> broadcast hash join (dim ships to every executor,
  NO shuffle of the 100 TB side);
- fact x fact       -> sort-merge on the join key (both sides shuffle
  once; AQE splits skewed keys);
- existence checks  -> semi/anti join (never materializes the payload);
- bounded band predicates -> bucketed equi-join (operators/range_join.py);
- time alignment    -> as-of via union+window (operators/asof.py).

tests/test_plans.py asserts the chosen strategy per query via the
plans/explain.py helpers.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql.functions import broadcast

from skyhookdb_ceph_spark.operators.asof import asof_join
from skyhookdb_ceph_spark.operators.range_join import banded_interval_join
from skyhookdb_ceph_spark.operators.skew import salted_join
from skyhookdb_ceph_spark.operators.stats import (
    BROADCAST_BUDGET_BYTES,
    measured_dim_bytes,
    measured_shuffle_width,
)
from skyhookdb_ceph_spark.queries._util import (
    Catalog,
    F,
    collect_local,
    local_df,
    money,
    quantize,
    scratch,
)
from skyhookdb_ceph_spark.registry import query


@query(
    "q_join_inner_hash",
    oracle=(
        "SELECT o_orderstatus, count(*) AS cnt, floor((sum(l_extendedprice)) * 100 + 0.5) / 100 AS sum_price "
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
        "GROUP BY o_orderstatus"
    ),
)
def q_join_inner_hash(spark, sf_dir):
    """Equi inner join fact<->orders, then aggregate.  shuffle_hash hint:
    orders is far smaller than lineitem, so hashing the small side beats
    sorting both (no sort phase at all)."""
    c = Catalog(spark, sf_dir)
    return (
        c.lineitem.join(
            c.orders.hint("shuffle_hash"),
            F.col("l_orderkey") == F.col("o_orderkey"),
            "inner",
        )
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            money(F.sum("l_extendedprice")).alias("sum_price"),
        )
    )


@query(
    "q_join_broadcast",
    oracle=(
        "SELECT n_name, count(*) AS customer_cnt, floor((sum(c_acctbal)) * 100 + 0.5) / 100 AS sum_bal "
        "FROM customer JOIN nation ON c_nationkey = n_nationkey "
        "GROUP BY n_name"
    ),
)
def q_join_broadcast(spark, sf_dir):
    """Small-dim broadcast: nation (25 rows at EVERY scale factor) ships
    to executors; the customer side never shuffles."""
    c = Catalog(spark, sf_dir)
    return (
        c.customer.join(
            broadcast(c.nation), F.col("c_nationkey") == F.col("n_nationkey")
        )
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("customer_cnt"),
            money(F.sum("c_acctbal")).alias("sum_bal"),
        )
    )


@query(
    "q_join_sortmerge",
    oracle=(
        "SELECT l_returnflag, count(*) AS cnt, floor((avg(o_totalprice)) * 10000 + 0.5) / 10000 AS avg_total "
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
        "GROUP BY l_returnflag"
    ),
)
def q_join_sortmerge(spark, sf_dir):
    """Large-large sort-merge (hint('merge')): the 100-TB-safe default —
    both sides spill-safe, skew handled by AQE."""
    c = Catalog(spark, sf_dir)
    return (
        c.lineitem.hint("merge")
        .join(c.orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            quantize(F.avg("o_totalprice"), 4).alias("avg_total"),
        )
    )


@query(
    "q_join_left",
    oracle=(
        "SELECT c_custkey, count(o_orderkey) AS order_cnt "
        "FROM customer LEFT JOIN orders ON c_custkey = o_custkey "
        "GROUP BY c_custkey"
    ),
)
def q_join_left(spark, sf_dir):
    """Left outer: customers with zero orders survive with count 0
    (count over a NULL key column skips NULLs in both engines)."""
    c = Catalog(spark, sf_dir)
    return (
        c.customer.join(c.orders, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("order_cnt"))
    )


@query(
    "q_join_right",
    oracle=(
        "SELECT c_custkey, c_name, o_orderkey, o_totalprice "
        "FROM orders RIGHT JOIN customer ON o_custkey = c_custkey"
    ),
)
def q_join_right(spark, sf_dir):
    """Right outer join: every customer survives, orders nullable."""
    c = Catalog(spark, sf_dir)
    return c.orders.join(
        c.customer, F.col("o_custkey") == F.col("c_custkey"), "right"
    ).select("c_custkey", "c_name", "o_orderkey", "o_totalprice")


@query(
    "q_join_full",
    oracle=(
        "SELECT coalesce(a.k, b.k) AS k, a.order_cnt, b.line_cnt FROM "
        "(SELECT o_orderstatus AS k, count(*) AS order_cnt FROM orders GROUP BY 1) a "
        "FULL JOIN "
        "(SELECT l_returnflag AS k, count(*) AS line_cnt FROM lineitem GROUP BY 1) b "
        "ON a.k = b.k"
    ),
)
def q_join_full(spark, sf_dir):
    """Full outer join over two aggregates; key domains only partially
    overlap ({P,O,F} vs {A,N,R}) so both null sides are exercised."""
    c = Catalog(spark, sf_dir)
    a = c.orders.groupBy(F.col("o_orderstatus").alias("k")).agg(
        F.count(F.lit(1)).alias("order_cnt")
    )
    b = c.lineitem.groupBy(F.col("l_returnflag").alias("k")).agg(
        F.count(F.lit(1)).alias("line_cnt")
    )
    return a.join(b, a["k"] == b["k"], "full").select(
        F.coalesce(a["k"], b["k"]).alias("k"), "order_cnt", "line_cnt"
    )


@query(
    "q_join_semi",
    oracle=(
        "SELECT * FROM customer WHERE c_custkey IN "
        "(SELECT o_custkey FROM orders WHERE o_totalprice > 400000)"
    ),
)
def q_join_semi(spark, sf_dir):
    """Existence semi-join: payload of orders never materializes; only
    the distinct key set crosses the shuffle."""
    c = Catalog(spark, sf_dir)
    big = c.orders.filter(F.col("o_totalprice") > 400000)
    return c.customer.join(
        big, F.col("c_custkey") == F.col("o_custkey"), "left_semi"
    )


@query(
    "q_join_anti",
    oracle=(
        "SELECT * FROM customer WHERE c_custkey NOT IN "
        "(SELECT o_custkey FROM orders)"
    ),
)
def q_join_anti(spark, sf_dir):
    """Anti join: customers with no orders at all."""
    c = Catalog(spark, sf_dir)
    return c.customer.join(
        c.orders, F.col("c_custkey") == F.col("o_custkey"), "left_anti"
    )


@query(
    "q_join_theta",
    oracle=(
        "SELECT s_suppkey, s_name, p_partkey, p_retailprice "
        "FROM supplier JOIN part ON p_retailprice BETWEEN s_acctbal / 4 "
        "AND s_acctbal / 4 + 20"
    ),
)
def q_join_theta(spark, sf_dir):
    """Non-equi (band) theta join, bucketized: Spark's default plan for
    a band predicate is BroadcastNestedLoopJoin (quadratic once neither
    side broadcasts).  banded_interval_join explodes each supplier's
    [lo, lo+20] interval to its <= 2 covering 20-wide buckets and
    equi-joins on bucket id + residual filter — one hash shuffle,
    linear at any scale (tests/test_plans.py asserts no BNL)."""
    c = Catalog(spark, sf_dir)
    s = c.supplier.select("s_suppkey", "s_name", "s_acctbal")
    p = c.part.select("p_partkey", "p_retailprice")
    lo = F.col("s_acctbal") / 4
    return banded_interval_join(
        p, s, "p_retailprice", lo, lo + 20, width=20.0
    ).select("s_suppkey", "s_name", "p_partkey", "p_retailprice")


@query(
    "q_join_cross",
    oracle=(
        "SELECT r_name, n_name FROM region CROSS JOIN nation"
    ),
)
def q_join_cross(spark, sf_dir):
    """Explicit cartesian product — legitimate ONLY when one side is
    dimension-sized (here 5x25); Spark plans a broadcast nested loop.
    Any fact-side cartesian is a bug, which is why q_join_theta goes
    through the bucketed rewrite instead."""
    c = Catalog(spark, sf_dir)
    return c.region.select("r_name").crossJoin(c.nation.select("n_name"))


@query(
    "q_join_asof",
    oracle=(
        "SELECT p.event_id, p.ts, "
        "(SELECT max(c.ts) FROM events c WHERE c.user_id = p.user_id "
        "AND c.event_type = 'click' AND c.ts <= p.ts) AS last_click_ts "
        "FROM events p WHERE p.event_type = 'purchase'"
    ),
)
def q_join_asof(spark, sf_dir):
    """As-of join: each purchase event aligned to the user's most
    recent click at-or-before it (operators/asof.py union+window
    recipe — one shuffle on user_id, no range explosion).  The oracle
    states the same semantics as a correlated max subquery."""
    c = Catalog(spark, sf_dir)
    e = c.events
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts"), F.col("ts").alias("click_ts")
    )
    return asof_join(
        purchases,
        clicks,
        key="user_id",
        left_ts="ts",
        right_ts="ts",
        value_col="click_ts",
        out_col="last_click_ts",
    ).select("event_id", "ts", "last_click_ts")


@query(
    "q_join_multiway",
    oracle=(
        "SELECT r_name, count(*) AS order_cnt, floor((sum(o_totalprice)) * 100 + 0.5) / 100 AS sum_total "
        "FROM region JOIN nation ON r_regionkey = n_regionkey "
        "JOIN customer ON n_nationkey = c_nationkey "
        "JOIN orders ON c_custkey = o_custkey "
        "GROUP BY r_name"
    ),
)
def q_join_multiway(spark, sf_dir):
    """4-way star join orders->customer->nation->region, fully
    declarative: fact first, dims joined with NO hints and pre-pruned
    select lists, so Catalyst broadcasts every dim under the size
    threshold (measured plan: three BroadcastHashJoins fused in one
    whole-stage-codegen pass over the fact scan, single shuffle for
    the final groupBy) and AQE re-decides per-dim at cluster scale.
    Round-2's explicit broadcast(region)⋈broadcast(nation) prefix cost
    an extra broadcast-exchange job and was ~40% slower at sf0.1."""
    c = Catalog(spark, sf_dir)
    return (
        c.orders.select("o_custkey", "o_totalprice")
        .join(
            c.customer.select("c_custkey", "c_nationkey"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            c.nation.select("n_nationkey", "n_regionkey"),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(
            c.region.select("r_regionkey", "r_name"),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("order_cnt"),
            money(F.sum("o_totalprice")).alias("sum_total"),
        )
    )


_IVL_MIN = 30  # interval length, minutes


def _ivl_side_duckdb(etype: str, p: str) -> str:
    return (
        f"SELECT ts AS {p}_ts, ts + INTERVAL {_IVL_MIN} MINUTE AS {p}_end "
        f"FROM events WHERE event_type = '{etype}'"
    )


_INTERVAL_GRID_ORACLE = f"""
WITH a AS ({_ivl_side_duckdb('click', 'a')}),
b AS ({_ivl_side_duckdb('purchase', 'b')})
SELECT CAST(CAST(greatest(a_ts, b_ts) AS DATE) AS VARCHAR) AS day,
  CAST(count(*) AS BIGINT) AS n_pairs
FROM a, b
WHERE a_ts <= b_end AND b_ts <= a_end
GROUP BY 1
"""


_GRID_TARGET_PAIRS = 1024  # per-cell pair-work budget for the probe


def _interval_grid(spark, sf_dir, target_pairs):
    """Shared body so tests can force either branch via target_pairs
    (tiny target -> probed fine grid; shipped target at fixture
    density -> the probe surrenders and the static hour grid runs)."""
    from skyhookdb_ceph_spark.operators.stats import (
        measured_grid_cell_width,
    )

    ev = Catalog(spark, sf_dir).events

    def side(etype: str, p: str):
        return ev.filter(F.col("event_type") == etype).selectExpr(
            f"ts AS {p}_ts", f"ts + INTERVAL {_IVL_MIN} MINUTE AS {p}_end"
        )

    a_side, b_side = side("click", "a"), side("purchase", "b")
    w = measured_grid_cell_width(
        a_side, "a_ts", b_side, "b_ts", target_pairs
    )

    def cells(df, p: str):
        if w is None:
            # static hour grid: probe measured per-cell work under
            # target at this density, finer cells buy nothing
            seq = (
                f"sequence(date_trunc('HOUR', {p}_ts), "
                f"date_trunc('HOUR', {p}_end), INTERVAL 1 HOUR)"
            )
        else:
            # probed fine grid: integer cell ids at the measured
            # width (floor-of-floor identity keeps coverage exact:
            # floor(floor(epoch)/w) = floor(epoch/w) for integer w)
            seq = (
                f"sequence(CAST(floor(unix_timestamp({p}_ts) / {w}) "
                f"AS BIGINT), CAST(floor(unix_timestamp({p}_end) / {w}) "
                f"AS BIGINT))"
            )
        return df.withColumn("cell", F.explode(F.expr(seq)))

    resp = (
        "date_trunc('HOUR', greatest(a_ts, b_ts)) = cell"
        if w is None
        else f"CAST(floor(unix_timestamp(greatest(a_ts, b_ts)) / {w}) "
        "AS BIGINT) = cell"
    )
    return (
        cells(a_side, "a")
        .join(cells(b_side, "b"), "cell")
        .filter("a_ts <= b_end AND b_ts <= a_end")
        .filter(resp)
        .selectExpr("CAST(to_date(greatest(a_ts, b_ts)) AS STRING) AS day")
        .groupBy("day")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
    )


@query(
    "q_join_interval_grid",
    oracle=_INTERVAL_GRID_ORACLE,
    tags=("join", "interval", "scale-design", "stats-driven"),
)
def q_join_interval_grid(spark, sf_dir):
    """Interval-overlap JOIN with no equi-key — click windows vs
    purchase windows (each event opens a 30-minute interval), pairs
    counted per day of the later start.  A naive overlap theta-join
    plans BroadcastNestedLoop (quadratic once neither side
    broadcasts); the scalable form grid-buckets both interval sets
    into cells, equi-joins on the cell id, and de-duplicates across
    cells with the RESPONSIBILITY rule: only the cell containing the
    later start emits the pair.  greatest(a_ts, b_ts) lies inside
    both intervals whenever they overlap, so exactly one cell owns
    each overlapping pair — no distinct needed, no pair counted
    twice.

    The cell width is PROBED, not static (r12 verdict item 6 — the
    sixth measured-stats consumer): per-cell work is
    (rate_a * w) * (rate_b * w), quadratic in the width, so the right
    grid depends on the measured arrival rates —
    operators/stats.measured_grid_cell_width solves
    w = sqrt(target / (rate_a * rate_b)) from one union-tagged probe
    job and surrenders to the static hour grid when the measured
    width is an hour or coarser (fixture densities land there; one
    decade denser flips to the fine grid — both branches are
    row-identical under the responsibility rule, so the naive-theta
    oracle never needs to know which ran; both plan shapes pinned in
    tests/test_plans.py).

    One keyed shuffle on the cell; an ADVERSARIAL burst (one hot
    cell) is the same skew class as a hot join key: split the hot
    cell's A side into s salted sub-buckets and replicate the B side
    s ways — the exact recipe measured in q_join_skew_salted — or
    let AQE's skew-join splitting do it at runtime; the
    responsibility rule is unaffected because it depends only on
    (cell, timestamps), not the salt.  The oracle runs the NAIVE
    theta join (DuckDB plans IEJoin) so the grid semantics are
    pinned against the textbook definition."""
    return _interval_grid(spark, sf_dir, _GRID_TARGET_PAIRS)


_TIERS = [
    ("bronze", 0.0, 99999.99),
    ("silver", 100000.0, 199999.99),
    ("gold", 200000.0, 299999.99),
    ("platinum", 300000.0, 599999.99),
]
_TIERS_SQL = ", ".join(f"('{t}', {lo}, {hi})" for t, lo, hi in _TIERS)


@query(
    "q_join_range",
    oracle=(
        f"SELECT tier, CAST(count(*) AS BIGINT) AS n_orders, "
        f"floor((sum(o_totalprice)) * 100 + 0.5) / 100 AS sum_total "
        f"FROM orders JOIN (VALUES {_TIERS_SQL}) t(tier, lo, hi) "
        f"ON o_totalprice BETWEEN lo AND hi GROUP BY tier"
    ),
    tags=("pipeline", "join"),
)
def q_join_range(spark, sf_dir):
    """Range (band) join: orders priced into value tiers.  A naive
    BETWEEN join plans BroadcastNestedLoop (quadratic once the dim
    outgrows broadcast); banded_interval_join explodes each interval
    to its covered width-100k buckets and equi-joins on bucket id —
    one keyed shuffle, linear work, any scale (operators/range_join.py;
    same recipe as q_join_theta)."""
    o = Catalog(spark, sf_dir).orders.select("o_orderkey", "o_totalprice")
    tiers = local_df(spark, _TIERS, "tier string, lo double, hi double")
    joined = banded_interval_join(
        o, tiers, "o_totalprice", F.col("lo"), F.col("hi"), width=100000.0
    )
    return joined.groupBy("tier").agg(
        F.count(F.lit(1)).alias("n_orders"),
        money(F.sum("o_totalprice")).alias("sum_total"),
    )


_SKEW_JOIN_ORACLE = """
SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS cnt,
  floor(sum(o_totalprice) * 100 + 0.5) / 100 AS sum_price
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


@query(
    "q_join_skew_salted",
    oracle=_SKEW_JOIN_ORACLE,
    tags=("pipeline", "join", "skew"),
)
def q_join_skew_salted(spark, sf_dir):
    """Skew-safe fact-dim join via key salting (operators/skew.py
    salted_join): orders' custkey is salted with hash(o_orderkey) mod 8
    and customer is replicated once per salt, joining on (key, salt).
    A plain equi-join funnels a hot key's rows into one shuffle task;
    salting spreads them over n_salts tasks at the cost of replicating
    the (much smaller) dim side — the standing fix when the dim is too
    big to broadcast and AQE's sort-merge skew split doesn't apply.
    The salt is a deterministic hash, so the join result — and the
    per-segment rollup checked here — is identical to the unsalted
    join."""
    c = Catalog(spark, sf_dir)
    joined = salted_join(
        c.orders,
        c.customer,
        "o_custkey",
        "c_custkey",
        F.col("o_orderkey"),
        n_salts=8,
    )
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("cnt"),
        quantize(F.sum("o_totalprice"), 2).alias("sum_price"),
    )


_NEAREST_ORACLE = """
WITH e AS (
  SELECT event_id, user_id, event_type,
         CAST(floor(epoch(ts)) AS BIGINT) AS sec
  FROM events),
c AS (SELECT event_id AS click_id, user_id, sec AS c_sec
      FROM e WHERE event_type = 'click'),
p AS (SELECT event_id AS purchase_id, user_id, sec AS p_sec
      FROM e WHERE event_type = 'purchase'),
j AS (
  SELECT c.click_id, p.purchase_id, abs(p.p_sec - c.c_sec) AS gap_s
  FROM c JOIN p USING (user_id)
  WHERE p.p_sec BETWEEN c.c_sec - 21600 AND c.c_sec + 21600),
r AS (
  SELECT *, row_number() OVER (
    PARTITION BY click_id ORDER BY gap_s, purchase_id) AS rn
  FROM j)
SELECT click_id, purchase_id, gap_s FROM r WHERE rn = 1
"""


@query("q_join_nearest", oracle=_NEAREST_ORACLE, tags=("pipeline", "join"))
def q_join_nearest(spark, sf_dir):
    """Nearest-neighbor time join: for every click, the SAME USER's
    temporally closest purchase within ±6 h — the bidirectional
    generalization of q_join_asof (which only looks backward).  The
    join is an equi-join on user_id plus a band predicate, so the
    candidate set per click is bounded by the band (never the user's
    whole history); the argmin is a per-click row_number window.  All
    time math is whole epoch seconds (engine-invariant BIGINTs);
    clicks with no purchase in the band drop out in both engines.  At
    skew (one bot user) the user_id key salts exactly like any
    equi-join — see operators/skew.salted_join."""
    ev = Catalog(spark, sf_dir).events.select(
        "event_id", "user_id", "event_type", F.unix_timestamp("ts").alias("sec")
    )
    clicks = ev.where("event_type = 'click'").selectExpr(
        "event_id AS click_id", "user_id", "sec AS c_sec"
    )
    buys = ev.where("event_type = 'purchase'").selectExpr(
        "event_id AS purchase_id", "user_id", "sec AS p_sec"
    )
    j = (
        clicks.join(buys, "user_id")
        .where("p_sec BETWEEN c_sec - 21600 AND c_sec + 21600")
        .withColumn("gap_s", F.abs(F.col("p_sec") - F.col("c_sec")))
    )
    w = Window.partitionBy("click_id").orderBy("gap_s", "purchase_id")
    return (
        j.withColumn("rn", F.row_number().over(w))
        .where("rn = 1")
        .select("click_id", "purchase_id", "gap_s")
    )


_SPATIAL_ORACLE = """
WITH pts AS (
  SELECT p_partkey AS id, CAST(p_size AS BIGINT) AS x,
    CAST(CAST(floor(p_retailprice) AS BIGINT) % 50 AS BIGINT) AS y
  FROM part),
probes AS (
  SELECT id, x, y, x + dx.v AS px, y + dy.v AS py
  FROM pts,
    (SELECT unnest(generate_series(-1, 1)) AS v) dx,
    (SELECT unnest(generate_series(-1, 1)) AS v) dy),
pairs AS (
  SELECT DISTINCT a.id AS ia, b.id AS ib
  FROM probes a JOIN pts b ON a.px = b.x AND a.py = b.y AND a.id < b.id)
SELECT CAST(count(*) AS BIGINT) AS n_close_pairs,
  CAST(count(DISTINCT ia) AS BIGINT) AS n_left_points
FROM pairs
"""


@query("q_join_spatial_grid", oracle=_SPATIAL_ORACLE, tags=("join", "spatial"))
def q_join_spatial_grid(spark, sf_dir):
    """2-D close-pair join via grid bucketing: points on an integer
    grid, pairs within Chebyshev distance 1 found by probing the 3x3
    neighbor cells — the standard spatial-join pattern (9x bounded
    fan-out + equi-join on the cell, NEVER an all-pairs distance
    filter).  The 1-D analog is operators/range_join.py; this is its
    2-D extension, and at scale the cell key doubles as the partition
    column.  Output is the close-pair audit (pair count, points with
    a neighbor)."""
    p = Catalog(spark, sf_dir).part
    pts = p.selectExpr(
        "p_partkey AS id",
        "CAST(p_size AS BIGINT) AS x",
        "CAST(CAST(floor(p_retailprice) AS BIGINT) % 50 AS BIGINT) AS y",
    )
    probes = pts.selectExpr(
        "id",
        "explode(sequence(-1, 1)) AS dxv",
        "x",
        "y",
    ).selectExpr("id", "x + dxv AS basex", "y", "explode(sequence(-1, 1)) AS dyv").selectExpr(
        "id", "basex AS px", "y + dyv AS py"
    )
    b = pts.selectExpr("id AS ib", "x AS bx", "y AS by")
    pairs = (
        probes.join(
            b,
            (F.col("px") == F.col("bx"))
            & (F.col("py") == F.col("by"))
            & (F.col("id") < F.col("ib")),
        )
        .select(F.col("id").alias("ia"), "ib")
        .distinct()
    )
    return pairs.agg(
        F.count(F.lit(1)).alias("n_close_pairs"),
        F.count_distinct("ia").cast("bigint").alias("n_left_points"),
    )


_BUCKETED_ORACLE = """
SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_orders,
  floor(sum(o_totalprice) * 100 + 0.5) / 100 AS revenue
FROM customer JOIN orders ON c_custkey = o_custkey
GROUP BY c_mktsegment ORDER BY c_mktsegment
"""


@query("q_join_bucketed", oracle=_BUCKETED_ORACLE, tags=("join", "layout"))
def q_join_bucketed(spark, sf_dir):
    """Exchange-free co-located join: customer and orders are written
    bucketBy(8, custkey) into the catalog, then joined WITHOUT any
    shuffle on either side (tests/test_bucketing.py asserts the plan
    has no Exchange before the SortMergeJoin) — the pay-the-shuffle-
    once-at-ingest layout that makes repeated fact-fact joins cheap at
    100 TB.  The write is part of the query here to stay
    self-contained; a real deployment writes once and joins many
    times.  The oracle is the plain join — bucketing must never
    change results, only the plan."""
    from skyhookdb_ceph_spark.operators.bucketing import (
        colocated_join,
        write_bucketed,
    )

    c = Catalog(spark, sf_dir)
    write_bucketed(
        c.customer.select("c_custkey", "c_mktsegment"),
        "bq_customer",
        ["c_custkey"],
        8,
        sort_cols=["c_custkey"],
    )
    write_bucketed(
        c.orders.select("o_custkey", "o_totalprice"),
        "bq_orders",
        ["o_custkey"],
        8,
        sort_cols=["o_custkey"],
    )
    cust = spark.table("bq_customer")
    orders = spark.table("bq_orders")
    joined = cust.join(
        orders, F.col("c_custkey") == F.col("o_custkey")
    )
    return (
        joined.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            money(F.sum("o_totalprice")).alias("revenue"),
        )
        .orderBy("c_mktsegment")
    )


_SCD2_ORACLE = """
WITH dim AS (
  SELECT c_custkey, CAST(c_nationkey AS BIGINT) AS attr,
    TIMESTAMP '1995-01-01' AS valid_from, TIMESTAMP '1998-01-01' AS valid_to
  FROM customer
  UNION ALL
  SELECT c_custkey, CAST((c_nationkey + 1) % 25 AS BIGINT),
    TIMESTAMP '1998-01-01', TIMESTAMP '2005-01-01'
  FROM customer)
SELECT attr AS nation_at_order, CAST(count(*) AS BIGINT) AS n_orders,
  floor(sum(o_totalprice) * 100 + 0.5) / 100 AS revenue
FROM orders JOIN dim
  ON o_custkey = c_custkey
  AND o_orderdate >= valid_from AND o_orderdate < valid_to
GROUP BY attr ORDER BY nation_at_order
"""


@query("q_join_scd2", oracle=_SCD2_ORACLE, tags=("join", "temporal"))
def q_join_scd2(spark, sf_dir):
    """SCD type-2 point-in-time join: each order joins the dimension
    VERSION that was valid at its order date (a two-era synthetic
    history over customer) — the temporal-consistency join every
    warehouse fact load needs.  The join key stays the equi custkey
    with the validity range as a residual predicate, so the plan is a
    keyed join (broadcast at fixture scale, sort-merge at 100 TB) and
    never a nested loop; version count per key bounds the residual
    fan-out."""
    c = Catalog(spark, sf_dir)
    era1 = c.customer.selectExpr(
        "c_custkey",
        "CAST(c_nationkey AS BIGINT) AS attr",
        "TIMESTAMP '1995-01-01' AS valid_from",
        "TIMESTAMP '1998-01-01' AS valid_to",
    )
    era2 = c.customer.selectExpr(
        "c_custkey",
        "CAST((c_nationkey + 1) % 25 AS BIGINT) AS attr",
        "TIMESTAMP '1998-01-01' AS valid_from",
        "TIMESTAMP '2005-01-01' AS valid_to",
    )
    dim = era1.unionByName(era2)
    return (
        c.orders.join(
            dim,
            (F.col("o_custkey") == F.col("c_custkey"))
            & (F.col("o_orderdate") >= F.col("valid_from"))
            & (F.col("o_orderdate") < F.col("valid_to")),
        )
        .groupBy(F.col("attr").alias("nation_at_order"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            money(F.sum("o_totalprice")).alias("revenue"),
        )
        .orderBy("nation_at_order")
    )


# OR'd equalities instead of IN: DuckDB 1.0.0 mismatches
# CAST(ts AS DATE) IN (DATE ...) (returns empty) while = matches.
_DPP_ORACLE = """
WITH dim AS (
  SELECT DISTINCT CAST(ts AS DATE) AS d FROM events
  WHERE CAST(ts AS DATE) = DATE '2024-01-05'
     OR CAST(ts AS DATE) = DATE '2024-01-15'
     OR CAST(ts AS DATE) = DATE '2024-01-25')
SELECT CAST(e.event_date AS VARCHAR) AS event_date, e.event_type,
  CAST(count(*) AS BIGINT) AS cnt
FROM (SELECT CAST(ts AS DATE) AS event_date, event_type FROM events) e
JOIN dim ON e.event_date = dim.d
GROUP BY 1, 2 ORDER BY 1, 2
"""


@query("q_join_dpp", oracle=_DPP_ORACLE, tags=("join", "layout"))
def q_join_dpp(spark, sf_dir):
    """Dynamic partition pruning: the fact table is laid out
    partitionBy(event_date); the selective DIMENSION (3 chosen dates)
    arrives only through a join, so no static filter exists on the
    fact — Spark inserts a runtime dynamicpruning subquery that reads
    the dim first and prunes the fact's partition listing to the 3
    matching directories BEFORE scanning (tests/test_plans.py asserts
    the dynamicpruningexpression).  This is THE star-join feature at
    100 TB: the fact side's IO is decided by the dim filter at
    runtime, exactly like the reference deciding which objects to
    touch from an index lookup."""
    ev = Catalog(spark, sf_dir).events
    with scratch("skyhook_dpp_") as tmp:
        path = f"{tmp}/events_by_date"
        (
            ev.withColumn("event_date", F.col("ts").cast("date"))
            .repartition("event_date")
            .write.mode("overwrite")
            .partitionBy("event_date")
            .parquet(path)
        )
        fact = spark.read.parquet(path)
        dim = (
            ev.select(F.col("ts").cast("date").alias("d"))
            .filter(
                F.col("d").isin(
                    [F.lit(x).cast("date") for x in
                     ("2024-01-05", "2024-01-15", "2024-01-25")]
                )
            )
            .distinct()
        )
        out = (
            fact.join(dim, fact.event_date == dim.d)
            .groupBy(
                F.col("event_date").cast("string").alias("event_date"),
                "event_type",
            )
            .agg(F.count(F.lit(1)).alias("cnt"))
            .orderBy("event_date", "event_type")
        )
        return collect_local(out)


_STATS_JOIN_ORACLE = """
SELECT c_nationkey,
  CAST(count(*) AS BIGINT) AS order_cnt,
  floor(sum(o_totalprice) * 100 + 0.5) / 100 AS sum_total
FROM orders JOIN customer ON o_custkey = c_custkey
WHERE c_nationkey < 5
GROUP BY c_nationkey ORDER BY c_nationkey
"""


@query("q_join_stats_driven", oracle=_STATS_JOIN_ORACLE, tags=("join", "stats"))
def q_join_stats_driven(spark, sf_dir):
    """The reference's selectivity-stats idea (q_runstats / §2.11) as a
    LIVE optimizer input: before joining, run a one-row statistics
    aggregate over the filtered dim side (post-filter row count — the
    number static file-size heuristics can NOT see), estimate its
    in-memory size, and choose broadcast-hash vs shuffle join on the
    measurement.  This is exactly what AQE does mid-query and what
    `ANALYZE TABLE`-fed CBO does at plan time; doing it explicitly
    makes the decision testable (tests/test_plans.py asserts the
    broadcast materializes for the selective filter).  The stats job
    is a 1-row driver aggregate — a planning decision, not a data
    collect; at 100 TB it costs one columnar scan of the dim's filter
    column, far cheaper than a mis-planned shuffle of the fact."""
    c = Catalog(spark, sf_dir)
    dim = c.customer.filter(F.col("c_nationkey") < 5).select(
        "c_custkey", "c_nationkey"
    )
    # two 8-byte keys per row, no strings
    if measured_dim_bytes(dim, string_cols=[]) <= BROADCAST_BUDGET_BYTES:
        dim = F.broadcast(dim)
    return (
        c.orders.select("o_custkey", "o_totalprice")
        .join(dim, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("order_cnt"),
            money(F.sum("o_totalprice")).alias("sum_total"),
        )
        .orderBy("c_nationkey")
    )


_RANGE_BUCKET_ORACLE = """
SELECT r.range_id, CAST(count(*) AS BIGINT) AS n_events,
  floor(sum(e.value) * 100 + 0.5) / 100 AS sum_value
FROM (SELECT CAST(i AS INT) AS range_id, i * 25.0 AS lo, i * 25.0 + 35.0 AS hi
      FROM generate_series(0, 19) t(i)) r
JOIN events e ON e.value >= r.lo AND e.value < r.hi
GROUP BY r.range_id ORDER BY r.range_id
"""


@query("q_join_range_bucket", oracle=_RANGE_BUCKET_ORACLE, tags=("join", "range"))
def q_join_range_bucket(spark, sf_dir):
    """Numeric RANGE join (event value in [lo, hi), intervals overlap)
    executed as a bucketed EQUI-join: quantize the number line into
    fixed-width buckets, explode each interval onto the buckets it
    covers (bounded by interval_width/bucket_width + 1 rows), hash-join
    on bucket, then verify the exact range predicate.  The naive plan
    is a theta join = broadcast-nested-loop over every (event, range)
    pair — O(n*m); this is O(n + m*spans) with an equi-join shuffle
    Catalyst can hash — the same candidate-generate-then-verify shape
    as the LSH dedup family, applied to 1-D ranges.  Ranges are a
    40-row broadcast here; the pattern holds when both sides are
    large (bucket becomes the shuffle key)."""
    ev = Catalog(spark, sf_dir).events
    ranges = spark.range(20).selectExpr(
        "CAST(id AS INT) AS range_id",
        "id * 25.0 AS lo",
        "id * 25.0 + 35.0 AS hi",
    )
    rb = ranges.select(
        "range_id",
        "lo",
        "hi",
        F.explode(
            F.expr(
                "sequence(CAST(floor(lo / 25) AS INT), "
                "CAST(floor((hi - 0.000000001) / 25) AS INT))"
            )
        ).alias("bucket"),
    )
    eb = ev.select(
        "value", F.expr("CAST(floor(value / 25) AS INT)").alias("bucket")
    )
    return (
        eb.join(F.broadcast(rb), "bucket")
        .filter((F.col("value") >= F.col("lo")) & (F.col("value") < F.col("hi")))
        .groupBy("range_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            money(F.sum("value")).alias("sum_value"),
        )
        .orderBy("range_id")
    )


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


_JOIN_SKEW_ADAPTIVE_ORACLE = """
SELECT e.event_type, CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
       CAST(max(type_len) AS INT) AS type_len
FROM events e
JOIN (SELECT DISTINCT event_type,
             CAST(length(event_type) AS INT) AS type_len
      FROM events) d
  ON e.event_type = d.event_type
GROUP BY e.event_type ORDER BY e.event_type
"""


@query(
    "q_join_skew_adaptive",
    oracle=_JOIN_SKEW_ADAPTIVE_ORACLE,
    tags=("join", "stats", "skew", "scale-design"),
)
def q_join_skew_adaptive(spark, sf_dir):
    """Stats-driven JOIN strategy — the runstats→optimizer story
    (q_runstats → q_join_stats_driven → q_agg_skew_adaptive) closed
    for the JOIN side: the same 1-row max_key_share probe decides
    whether the fact side's join key is hot enough to salt
    (operators/skew.py adaptive_join).  events.event_type has ~5
    values (hot share ≈ 0.2 ≫ 1/32), so this query always takes the
    salted branch — the fact is salted with hash(event_id) mod 8 and
    the dim replicated per salt, joining on (key, salt); the plain
    branch is plan-asserted separately on a uniform high-cardinality
    key (tests/test_skew.py).  Both branches return identical rows
    for any salt assignment, so the oracle is branch-invariant —
    the property a real optimizer hides behind.  The dim is the
    distinct event-type reference derived in one tiny keyed agg
    (never broadcast-forced: the point is the shuffle-side shape;
    AQE off in the bench still gets the skew-safe plan because the
    salting rewrote the shuffle itself, not the schedule)."""
    from skyhookdb_ceph_spark.operators.skew import adaptive_join

    e = Catalog(spark, sf_dir).events
    dim = (
        e.select("event_type").distinct()
        .select(
            F.col("event_type").alias("d_type"),
            F.length("event_type").cast("int").alias("type_len"),
        )
    )
    joined = adaptive_join(
        e.select("event_type", "value", "event_id"),
        dim,
        "event_type",
        "d_type",
        F.col("event_id"),
        n_salts=8,
    )
    return (
        joined.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum(F.floor(F.col("value") * 100).cast("bigint"))
            .cast("bigint")
            .alias("sum_cents"),
            F.max("type_len").cast("int").alias("type_len"),
        )
        .orderBy("event_type")
    )


_ASOF_TOL_ORACLE = """
SELECT e.event_id, e.ts,
  (SELECT max(c.ts) FROM events c
   WHERE c.user_id = e.user_id AND c.event_type = 'click'
     AND c.ts <= e.ts
     AND c.ts >= e.ts - INTERVAL 30 MINUTE) AS click_30m
FROM events e WHERE e.event_type = 'purchase'
"""


@query("q_join_asof_tolerance", oracle=_ASOF_TOL_ORACLE, tags=("join",))
def q_join_asof_tolerance(spark, sf_dir):
    """As-of join with a STALENESS TOLERANCE — q_join_asof's missing
    parameter: a purchase aligns to the user's most recent click only
    if that click is at most 30 minutes old; staler matches are
    rejected to NULL (pandas merge_asof's `tolerance`, the guard
    against joining a price quote from last week to today's trade).
    Implemented as the tolerance FILTER over the same union+window
    as-of recipe (operators/asof.py — one shuffle on user_id, no
    range explosion): the window still finds the latest preceding
    click, and the bound check nulls it after the fact — rejecting
    rows post-window is exact because anything older than the latest
    preceding click is older still.  Same bounded-state shape at
    100 TB as q_join_asof; the tolerance adds zero shuffles."""
    c = Catalog(spark, sf_dir)
    e = c.events

    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts"), F.col("ts").alias("click_ts")
    )
    joined = asof_join(
        purchases,
        clicks,
        key="user_id",
        left_ts="ts",
        right_ts="ts",
        value_col="click_ts",
        out_col="last_click_ts",
    )
    within = F.col("last_click_ts") >= F.col("ts") - F.expr(
        "INTERVAL 30 MINUTES"
    )
    return joined.select(
        "event_id",
        "ts",
        F.when(within, F.col("last_click_ts")).alias("click_30m"),
    )


_WIDTH_ORACLE = """
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS cnt,
  floor((sum(l_quantity)) * 100 + 0.5) / 100 AS sum_qty
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""

_WIDTH_TARGET_ROWS = 16384


def _width_probed_join(spark, sf_dir, target_rows):
    """Shared body so tests can force either branch via target_rows
    (tiny target -> probed explicit width; huge target -> planner
    default)."""
    c = Catalog(spark, sf_dir)
    li = c.lineitem.select("l_orderkey", "l_quantity")
    o = c.orders.select("o_orderkey", "o_orderpriority")
    width = measured_shuffle_width(li, target_rows)
    if width is None:
        # planner default: input fits one task's budget, the exchange
        # cost is noise and an explicit repartition only adds nodes
        joined = li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
    else:
        # both sides repartitioned to the MEASURED width on the join
        # key: EnsureRequirements sees the children co-partitioned and
        # adds NO further exchange — the join's shuffle now has an
        # input-proportional task count instead of the session-static
        # spark.sql.shuffle.partitions.  shuffle_hash hint because the
        # branch models the fact-fact case (at 100 TB neither side
        # broadcasts); at fixture scale the planner would otherwise
        # broadcast orders and strand both repartitions as dead cost
        joined = li.repartition(width, "l_orderkey").join(
            o.repartition(width, "o_orderkey").hint("shuffle_hash"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
    return (
        joined.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            money(F.sum("l_quantity")).alias("sum_qty"),
        )
        # output cardinality is SCHEMA-bounded (5 priorities at any
        # scale factor): q_agg_groupby's bounded-tail precedent
        .coalesce(1)
        .sortWithinPartitions("o_orderpriority")
    )


@query(
    "q_join_width_probed",
    oracle=_WIDTH_ORACLE,
    tags=("join", "scale-design", "stats-driven"),
)
def q_join_width_probed(spark, sf_dir):
    """Fact-fact equi-join whose keyed-exchange width is computed from
    a measured row-count probe — the shuffle-sizing consumer of the
    measured-statistics machinery (after the agg/join skew branches
    and the window density blocks).

    `spark.sql.shuffle.partitions` is ONE static number for every
    exchange in the session; at 100 TB the lineitem-orders shuffle
    wants tens of thousands of tasks while a dimension shuffle in the
    same session wants dozens.  The probe (one count() job — column
    pruning makes it read row-group metadata, no data pages) sizes
    THIS exchange at ceil(rows / target_rows_per_task); both join
    inputs are repartitioned to that width on the join key, so
    EnsureRequirements sees them co-partitioned and the join itself
    adds no further exchange (plan-asserted).  When the measured input
    fits one task the planner's default plan is kept — both branches
    are row-identical, so the oracle is branch-invariant.  AQE's
    coalescing only merges a too-wide shuffle downward; it can never
    split an undersized one, which is exactly the failure the probe
    prevents."""
    return _width_probed_join(spark, sf_dir, _WIDTH_TARGET_ROWS)


_BCAST_ORACLE = """
SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_orders,
  floor((sum(o_totalprice)) * 100 + 0.5) / 100 AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment ORDER BY c_mktsegment
"""


def _broadcast_probed_join(spark, sf_dir, threshold_bytes):
    """Shared body so tests can force either branch via the threshold
    (tiny threshold -> shuffle branch; BROADCAST_BUDGET_BYTES ->
    broadcast)."""
    c = Catalog(spark, sf_dir)
    o = c.orders.select("o_custkey", "o_totalprice")
    dim = c.customer.select("c_custkey", "c_mktsegment")
    est = measured_dim_bytes(dim, string_cols=["c_mktsegment"])
    if est <= threshold_bytes:
        # measured payload fits the broadcast budget: dim ships to
        # every executor, the fact side never shuffles
        joined = o.join(
            F.broadcast(dim), F.col("o_custkey") == F.col("c_custkey")
        )
    else:
        # measured payload too big to replicate: keyed shuffle join
        joined = o.join(
            dim.hint("shuffle_hash"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
    return (
        joined.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            money(F.sum("o_totalprice")).alias("revenue"),
        )
        .coalesce(1)  # 5 segments at any scale factor
        .sortWithinPartitions("c_mktsegment")
    )


@query(
    "q_join_broadcast_probed",
    oracle=_BCAST_ORACLE,
    tags=("join", "scale-design", "stats-driven"),
)
def q_join_broadcast_probed(spark, sf_dir):
    """Broadcast-vs-shuffle join strategy chosen from a MEASURED
    dimension payload — the fifth consumer of the measured-stats
    machinery (agg salt, join salt, window blocks, shuffle width, now
    join strategy).

    The static alternative, autoBroadcastJoinThreshold, compares
    against FILE statistics: the full table's on-disk size, which for
    a two-column projection of a wide table overestimates by the
    table's width ratio (and for decompressed strings underestimates)
    — so real deployments routinely broadcast too little or OOM
    broadcasting too much.  The probe (operators/stats.
    measured_dim_bytes, one aggregate job) measures the
    post-projection payload actually being replicated and compares it
    to the same budget the planner gets (stats.BROADCAST_BUDGET_BYTES).
    AQE can convert a sort-merge to broadcast at
    RUNTIME from shuffle-stage sizes, but only after planning (and
    partially executing) the shuffle stage — the probe decides before
    any exchange exists, and works with AQE off (the bench profile).
    Both branches are row-identical; the oracle is branch-invariant.
    Plan shapes pinned both ways in tests/test_plans.py."""
    return _broadcast_probed_join(spark, sf_dir, BROADCAST_BUDGET_BYTES)
