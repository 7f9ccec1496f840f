"""Window / analytic functions (SURVEY.md §2.5) — [EXT] (the reference
has no analytic executor; required for capability-complete surface).

Scale note: a window partitioned by a key shuffles once on that key and
sorts within partitions — same cost envelope as a groupBy.  A window
with NO partition key (global running total) is a single-task
bottleneck at 100 TB; every query below partitions.

Operators driven: `operators/stats.py` — `measured_block_width` sizes
the time blocks of a trailing RANGE window and `ghost_blocks` splits
the rows into them (`q_win_trailing_hour`, `q_win_density_blocks`).
"""

from __future__ import annotations

from pyspark.sql import Window

from skyhookdb_ceph_spark.operators import ensure_parallelism
from skyhookdb_ceph_spark.operators.stats import ghost_blocks, measured_block_width
from skyhookdb_ceph_spark.queries._util import Catalog, F, money, quantize, ratio
from skyhookdb_ceph_spark.registry import query


@query(
    "q_win_rank",
    oracle=(
        "SELECT * FROM (SELECT o_custkey, o_orderkey, o_totalprice, "
        "CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rn, "
        "CAST(rank() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rk "
        "FROM orders) t WHERE rn <= 3"
    ),
)
def q_win_rank(spark, sf_dir):
    """Top-3 orders per customer (row_number/rank; ties broken by
    orderkey so numbering is engine-invariant)."""
    o = Catalog(spark, sf_dir).orders
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).alias("rn"),
            F.rank().over(w).alias("rk"),
        )
        .filter(F.col("rn") <= 3)
    )


@query(
    "q_win_running",
    oracle=(
        "SELECT o_custkey, o_orderkey, "
        "floor((sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) * 100 + 0.5) / 100 AS running_spend, "
        "floor((avg(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey "
        "ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)) * 10000 + 0.5) / 10000 AS moving_avg "
        "FROM orders"
    ),
)
def q_win_running(spark, sf_dir):
    """Running sum + 4-row moving average per customer."""
    o = Catalog(spark, sf_dir).orders
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        money(
            F.sum("o_totalprice").over(w.rowsBetween(Window.unboundedPreceding, 0))
        ).alias("running_spend"),
        quantize(
            F.avg("o_totalprice").over(w.rowsBetween(-3, 0)), 4
        ).alias("moving_avg"),
    )


@query(
    "q_win_lag_lead",
    oracle=(
        "SELECT user_id, event_id, ts, "
        "lag(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type, "
        "lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type, "
        "CAST(date_diff('second', lag(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id), ts) AS BIGINT) AS gap_sec "
        "FROM events"
    ),
)
def q_win_lag_lead(spark, sf_dir):
    """Per-user event sequencing: previous/next event type and
    inter-event gap in seconds."""
    e = Catalog(spark, sf_dir).events
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "user_id",
        "event_id",
        "ts",
        F.lag("event_type", 1).over(w).alias("prev_type"),
        F.lead("event_type", 1).over(w).alias("next_type"),
        (
            F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts", 1).over(w))
        ).alias("gap_sec"),
    )


@query(
    "q_win_ntile_pct",
    oracle=(
        "SELECT c_custkey, c_acctbal, "
        "CAST(ntile(4) OVER (ORDER BY c_acctbal, c_custkey) AS INT) AS quartile, "
        "floor((percent_rank() OVER (ORDER BY c_acctbal, c_custkey)) * 1000000 + 0.5) / 1000000 AS pct_rank, "
        "floor((cume_dist() OVER (ORDER BY c_acctbal, c_custkey)) * 1000000 + 0.5) / 1000000 AS cum_dist "
        "FROM customer"
    ),
)
def q_win_ntile_pct(spark, sf_dir):
    """Distribution analytics.  NOTE: intentionally unpartitioned to
    match SQL semantics (global quartiles) — the single-task window is
    acceptable ONLY on dimension-sized input, and guard_global_window
    ENFORCES that (fails fast past 10M rows instead of OOMing the
    sort task); q_win_quartile_scalable below is the fact-table
    formulation (percentile boundaries + broadcast, no global sort)."""
    from skyhookdb_ceph_spark.operators import guard_global_window

    c = guard_global_window(Catalog(spark, sf_dir).customer)
    w = Window.orderBy("c_acctbal", "c_custkey")
    return c.select(
        "c_custkey",
        "c_acctbal",
        F.ntile(4).over(w).alias("quartile"),
        ratio(F.percent_rank().over(w)).alias("pct_rank"),
        ratio(F.cume_dist().over(w)).alias("cum_dist"),
    )


@query(
    "q_win_first_last",
    oracle=(
        "SELECT o_custkey, o_orderkey, "
        "first_value(o_orderkey) OVER w AS first_order, "
        "last_value(o_orderkey) OVER w AS last_order, "
        "nth_value(o_orderkey, 2) OVER w AS second_order "
        "FROM orders WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)"
    ),
)
def q_win_first_last(spark, sf_dir):
    """first/last/nth_value with an explicit full-partition frame (the
    default RANGE frame would make last_value = current row — a classic
    portability trap; the explicit frame is identical in both engines)."""
    o = Catalog(spark, sf_dir).orders
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.first("o_orderkey").over(w).alias("first_order"),
        F.last("o_orderkey").over(w).alias("last_order"),
        F.nth_value("o_orderkey", 2).over(w).alias("second_order"),
    )


@query(
    "q_win_quartile_scalable",
    oracle=(
        "WITH b AS (SELECT quantile_cont(c_acctbal, 0.25) AS q1, "
        "quantile_cont(c_acctbal, 0.5) AS q2, "
        "quantile_cont(c_acctbal, 0.75) AS q3 FROM customer) "
        "SELECT c_custkey, c_acctbal, CAST(CASE WHEN c_acctbal <= q1 THEN 1 "
        "WHEN c_acctbal <= q2 THEN 2 WHEN c_acctbal <= q3 THEN 3 ELSE 4 END AS INT) "
        "AS quartile FROM customer, b"
    ),
)
def q_win_quartile_scalable(spark, sf_dir):
    """The 100-TB-safe alternative to q_win_ntile_pct's global window:
    compute quartile BOUNDARIES with an aggregate (percentile is a
    mergeable partial aggregate — or approx_percentile for sketched
    constant memory), broadcast the 3 boundaries, and assign per row.
    No global sort, no single-task window — scan + tiny broadcast.
    Boundary assignment (<= on exact interpolated quantiles) is
    mirrored in the oracle."""
    c = Catalog(spark, sf_dir).customer
    b = c.agg(
        F.expr("percentile(c_acctbal, 0.25)").alias("q1"),
        F.expr("percentile(c_acctbal, 0.5)").alias("q2"),
        F.expr("percentile(c_acctbal, 0.75)").alias("q3"),
    )
    return c.crossJoin(F.broadcast(b)).selectExpr(
        "c_custkey",
        "c_acctbal",
        "CAST(CASE WHEN c_acctbal <= q1 THEN 1 WHEN c_acctbal <= q2 THEN 2 "
        "WHEN c_acctbal <= q3 THEN 3 ELSE 4 END AS INT) AS quartile",
    )


@query(
    "q_win_range_frame",
    oracle=(
        "SELECT o_custkey, o_orderkey, o_totalprice, "
        "count(*) OVER (PARTITION BY o_custkey ORDER BY o_totalprice "
        "RANGE BETWEEN 10000 PRECEDING AND 10000 FOLLOWING) AS similar_cnt "
        "FROM orders"
    ),
)
def q_win_range_frame(spark, sf_dir):
    """Value-based (RANGE) frame: per order, how many of the same
    customer's orders fall within +/-10000 of its price."""
    o = Catalog(spark, sf_dir).orders
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_totalprice")
        .rangeBetween(-10000, 10000)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        F.count(F.lit(1)).over(w).alias("similar_cnt"),
    )


# Varying interval lengths (1..60 min by event_id) are the point: with
# constant durations the union degenerates to gap-sessionization
# (q_win_sessionize); with varying ones an interval can be CONTAINED in
# an earlier longer one, so island detection needs the running MAX of
# interval ends, not the previous row's end.
_IVU_LEN_US = "(1 + event_id % 60) * 60000000"

_INTERVAL_UNION_ORACLE = f"""
WITH iv AS (
  SELECT user_id, epoch_us(ts) AS s,
    epoch_us(ts) + {_IVU_LEN_US} AS e
  FROM events),
mk AS (
  SELECT user_id, s, e,
    max(e) OVER (PARTITION BY user_id ORDER BY s, e
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      AS prev_max_e
  FROM iv),
isl AS (
  SELECT user_id, s, e,
    sum(CASE WHEN prev_max_e IS NULL OR s > prev_max_e THEN 1 ELSE 0 END)
      OVER (PARTITION BY user_id ORDER BY s, e
            ROWS UNBOUNDED PRECEDING) AS island
  FROM mk),
per AS (
  SELECT user_id, island,
    CAST(count(*) AS BIGINT) AS n_ev,
    CAST(max(e) - min(s) AS BIGINT) AS cover_us
  FROM isl GROUP BY user_id, island)
SELECT user_id,
  CAST(sum(n_ev) AS BIGINT) AS n_events,
  CAST(count(*) AS BIGINT) AS n_islands,
  CAST(sum(cover_us) AS BIGINT) AS covered_us
FROM per GROUP BY user_id
"""


@query(
    "q_win_interval_union",
    oracle=_INTERVAL_UNION_ORACLE,
    tags=("window", "interval", "scale-design"),
)
def q_win_interval_union(spark, sf_dir):
    """Per-user interval UNION: total covered time, merged-interval
    (island) count and event count over intervals of VARYING length
    (1-60 min by event_id) — the SLA-uptime / sensor-coverage /
    billing-dedup operator.  Varying durations are what distinguish
    this from gap sessionization (q_win_sessionize): an interval can
    be wholly CONTAINED in an earlier longer one, so a new island
    starts only when the start exceeds the running MAX of ALL prior
    ends (the classic sweep), not the previous row's end.

    All arithmetic in BIGINT epoch-microseconds (no timestamp-type
    parity risk; exact in both engines).  Plan: both windows (running
    max-end, island cumsum) and both aggregations share ONE
    user_id-keyed partitioning — a single keyed Exchange in the whole
    plan, no global window, nothing corpus-sized beyond it.  Window
    width is per-user event count; a pathological single hot user is
    the same bounded-key-skew class as q_win_sessionize and splits
    the same way (sub-island two-level merge, the q_win_islands
    boundary decomposition) if a deployment needs it."""
    # ts is TIMESTAMP_NTZ in the catalog; the session TZ is UTC, so
    # CAST to TIMESTAMP + unix_micros equals DuckDB's epoch_us on the
    # same naive value
    iv = Catalog(spark, sf_dir).events.selectExpr(
        "user_id",
        "unix_micros(CAST(ts AS TIMESTAMP)) AS s",
        f"unix_micros(CAST(ts AS TIMESTAMP)) + {_IVU_LEN_US} AS e",
    )
    wprev = (
        Window.partitionBy("user_id")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wcum = (
        Window.partitionBy("user_id")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    isl = (
        iv.withColumn("prev_max_e", F.max("e").over(wprev))
        .withColumn(
            "island",
            F.sum(
                F.expr(
                    "CASE WHEN prev_max_e IS NULL OR s > prev_max_e "
                    "THEN 1 ELSE 0 END"
                )
            ).over(wcum),
        )
    )
    per = isl.groupBy("user_id", "island").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_ev"),
        (F.max("e") - F.min("s")).cast("bigint").alias("cover_us"),
    )
    return per.groupBy("user_id").agg(
        F.sum("n_ev").cast("bigint").alias("n_events"),
        F.count(F.lit(1)).cast("bigint").alias("n_islands"),
        F.sum("cover_us").cast("bigint").alias("covered_us"),
    )


@query(
    "q_win_sessionize",
    oracle=(
        "SELECT user_id, event_id, ts, "
        "CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id "
        "ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq "
        "FROM (SELECT user_id, event_id, ts, "
        "CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL "
        "OR date_diff('second', lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id), ts) > 43200 "
        "THEN 1 ELSE 0 END AS is_new FROM events)"
    ),
    tags=("pipeline", "window"),
)
def q_win_sessionize(spark, sf_dir):
    """Batch sessionization (gaps-and-islands): a new session starts
    when a user's inter-event gap exceeds 12 h; session_seq is the
    running count of session starts.  Two stacked windows over the
    SAME (user_id; ts, event_id) partitioning — one shuffle, one sort,
    both window ops pipeline over it.  The streaming twin is
    q_stream_session (session_window); this is the backfill/batch
    formulation every event pipeline also needs."""
    e = Catalog(spark, sf_dir).events
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    is_new = F.when(gap.isNull() | (gap > 43200), 1).otherwise(0)
    flagged = e.select("user_id", "event_id", "ts", is_new.alias("is_new"))
    wc = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return flagged.select(
        "user_id",
        "event_id",
        "ts",
        F.sum("is_new").over(wc).cast("bigint").alias("session_seq"),
    )


_SLIDING_DISTINCT_ORACLE = """
WITH e AS (SELECT CAST(ts AS DATE) AS d, user_id FROM events),
b AS (SELECT max(d) AS hi FROM e),
x AS (
  SELECT e.d + o.o AS w_day, e.user_id
  FROM e, (SELECT CAST(unnest(range(0, 7)) AS INTEGER) AS o) o, b
  WHERE e.d + o.o <= b.hi)
SELECT CAST(w_day AS VARCHAR) AS w_day,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM x GROUP BY 1
"""


@query(
    "q_win_sliding_distinct",
    oracle=_SLIDING_DISTINCT_ORACLE,
    tags=("pipeline", "window"),
)
def q_win_sliding_distinct(spark, sf_dir):
    """Trailing 7-day distinct-user count for EVERY day — the sliding
    count-distinct that defeats both window frames (distinct is not
    frame-mergeable) and naive per-day self-joins.  The scale shape:
    each event replicates into exactly the 7 window-ends it can
    influence (bounded, data-independent fan-out), then ONE
    (day)-keyed distinct aggregation — shuffle volume is 7x the
    (day, user) pairs, never quadratic, and AQE coalesces the tiny
    day partitions.  Replication factor = window/step, the same
    arithmetic Structured Streaming uses for sliding windows."""
    ev = Catalog(spark, sf_dir).events.select(
        F.to_date("ts").alias("d"), "user_id"
    )
    hi = ev.agg(F.max("d").alias("hi"))
    return (
        ev.select(
            "d", "user_id", F.explode(F.sequence(F.lit(0), F.lit(6))).alias("o")
        )
        .withColumn("w_day", F.date_add(F.col("d"), F.col("o")))
        .crossJoin(F.broadcast(hi))
        .where(F.col("w_day") <= F.col("hi"))
        .groupBy(F.col("w_day").cast("string").alias("w_day"))
        .agg(F.count_distinct("user_id").cast("bigint").alias("n_users"))
    )


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


_COHORT_ORACLE = """
WITH act AS (
  SELECT DISTINCT user_id,
    CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT) AS d
  FROM events),
cohort AS (SELECT user_id, min(d) AS c0 FROM act GROUP BY user_id)
SELECT c0 AS cohort_day, a.d - c.c0 AS day_k,
  CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_active
FROM act a JOIN cohort c ON a.user_id = c.user_id
WHERE a.d - c.c0 <= 7
GROUP BY 1, 2 ORDER BY 1, 2
"""


@query("q_win_retention_cohort", oracle=_COHORT_ORACLE, tags=("analytics",))
def q_win_retention_cohort(spark, sf_dir):
    """Cohort retention triangle: users grouped by first-activity day,
    counted on each of their next 7 active days — the standard
    retention matrix.  (user, day) distinct first (one keyed partial
    agg collapses event volume to at most users x days rows), cohort
    day via a per-user min re-joined on user_id; the final count is a
    (cohort, k) aggregate.  Every stage shuffles on bounded
    cardinalities, never raw events."""
    ev = Catalog(spark, sf_dir).events
    act = (
        ev.select(
            "user_id",
            F.datediff(
                F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
            )
            .cast("bigint")
            .alias("d"),
        )
        .distinct()
    )
    cohort = act.groupBy("user_id").agg(F.min("d").alias("c0"))
    return (
        act.join(cohort, "user_id")
        .withColumn("day_k", F.col("d") - F.col("c0"))
        .filter(F.col("day_k") <= 7)
        .groupBy(F.col("c0").alias("cohort_day"), "day_k")
        .agg(F.count_distinct("user_id").cast("bigint").alias("n_active"))
        .orderBy("cohort_day", "day_k")
    )


_ISLANDS_ORACLE = """
WITH keys AS (
  SELECT DISTINCT o_orderkey AS k FROM orders WHERE o_orderkey % 7 <> 0),
grp AS (
  SELECT k, k - row_number() OVER (ORDER BY k) AS g FROM keys)
SELECT min(k) AS island_start, max(k) AS island_end,
  CAST(count(*) AS BIGINT) AS island_len
FROM grp GROUP BY g
HAVING count(*) >= 3
ORDER BY island_start
"""


@query("q_win_islands", oracle=_ISLANDS_ORACLE, tags=("window", "analytics"))
def q_win_islands(spark, sf_dir):
    """Gaps-and-islands: contiguous runs in a key sequence (orderkeys
    with every 7th removed), via the k - row_number() grouping
    constant — the sequence-integrity / missing-range audit.

    Two-level boundary-merge plan (VERDICT r4 item 4; same
    decomposition as q_win_gaps): keys are block-partitioned
    (k div 8192), maximal runs are found with the islands trick inside
    a window PARTITIONED by block, and only runs TOUCHING a block edge
    (s at the block's first key slot or e at its last — at most 2 per
    block) enter the cross-block merge, a chained-interval pass over
    that 2n/8192-row summary (run chains: adjacent runs with
    end+1 == next start collapse via a cumulative new-chain flag).
    Interior runs are final as computed.  No corpus-sized total-order
    window anywhere; recursing the same split bounds the summary too."""
    B = 8192
    o = Catalog(spark, sf_dir).orders
    keys = (
        o.filter(F.expr("o_orderkey % 7 <> 0"))
        .select(F.col("o_orderkey").alias("k"))
        .distinct()
        .withColumn("blk", F.expr(f"k div {B}"))
    )
    in_w = Window.partitionBy("blk").orderBy("k")
    runs = (
        keys.withColumn("g", F.col("k") - F.row_number().over(in_w))
        .groupBy("blk", "g")
        .agg(F.min("k").alias("s"), F.max("k").alias("e"))
    )
    is_boundary = F.expr(f"s % {B} = 0 OR e % {B} = {B - 1}")
    interior = runs.filter(~is_boundary).select("s", "e")
    bruns = runs.filter(is_boundary).select("s", "e")
    # Chain-merge the (<= 2 per block) boundary runs: a run starts a
    # new chain unless it begins exactly one past the previous run's
    # end; cumulative sum of the flag numbers the chains.
    ch_w = Window.orderBy("s")
    chained = bruns.withColumn(
        "new_chain",
        F.when(
            F.col("s") - F.lag("e").over(ch_w) == 1, F.lit(0)
        ).otherwise(F.lit(1)),
    ).withColumn(
        "chain",
        F.sum("new_chain").over(
            Window.orderBy("s").rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    merged = chained.groupBy("chain").agg(
        F.min("s").alias("s"), F.max("e").alias("e")
    ).select("s", "e")
    return (
        interior.unionByName(merged)
        .selectExpr(
            "s AS island_start",
            "e AS island_end",
            "CAST(e - s + 1 AS BIGINT) AS island_len",
        )
        .filter(F.col("island_len") >= 3)
        .orderBy("island_start")
    )


_NTH_ORACLE = """
SELECT DISTINCT o_custkey,
  nth_value(o_orderkey, 2) OVER w AS second_order,
  nth_value(o_orderkey, 3) OVER w AS third_order
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
ORDER BY o_custkey
"""


@query("q_win_nth_value", oracle=_NTH_ORACLE, tags=("window",))
def q_win_nth_value(spark, sf_dir):
    """nth_value over the full partition frame: each customer's 2nd
    and 3rd order by date — completing the window-function surface
    (first/last/lag/lead/rank/ntile/cume_dist already covered).
    Partitioned window + unique tie-break; DISTINCT collapses to one
    row per customer."""
    o = Catalog(spark, sf_dir).orders
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return (
        o.select(
            "o_custkey",
            F.nth_value("o_orderkey", 2).over(w).alias("second_order"),
            F.nth_value("o_orderkey", 3).over(w).alias("third_order"),
        )
        .distinct()
        .orderBy("o_custkey")
    )


_GAPS_ORACLE = """
WITH ids AS (SELECT event_id AS id FROM events WHERE event_id % 3 <> 0),
n AS (SELECT id, lead(id) OVER (ORDER BY id) AS nxt FROM ids)
SELECT id + 1 AS gap_start, nxt - 1 AS gap_end,
  CAST(nxt - id - 1 AS BIGINT) AS gap_len
FROM n WHERE nxt - id > 1 ORDER BY gap_start
"""


@query("q_win_gaps", oracle=_GAPS_ORACLE, tags=("window", "scale-design"))
def q_win_gaps(spark, sf_dir):
    """Missing-range detection over an id sequence (the dual of
    q_win_islands) WITHOUT a global total-order window: ids are block-
    partitioned (id div 8192), in-block gaps come from a lead() window
    PARTITIONED by block, and cross-block gaps from a lead() over the
    per-block (min, max) summary — a table n/8192 the size of the
    input.  This is the boundary-merge decomposition a total-order op
    needs at 100 TB: every corpus-sized window is key-partitioned;
    only the block-count-bounded summary sees a global order (and
    recursing the same trick bounds that too).  The two branches are
    disjoint by construction (in-block pairs share a block; the
    summary pairs adjacent blocks), so a distinct-free union is
    exact."""
    ids = (
        ensure_parallelism(Catalog(spark, sf_dir).events)
        .filter("event_id % 3 != 0")
        .selectExpr("event_id AS id")
        .withColumn("blk", F.expr("id div 8192"))
    )
    in_w = Window.partitionBy("blk").orderBy("id")
    in_gaps = (
        ids.withColumn("nxt", F.lead("id").over(in_w))
        .filter("nxt - id > 1")
        .selectExpr(
            "id + 1 AS gap_start",
            "nxt - 1 AS gap_end",
            "CAST(nxt - id - 1 AS BIGINT) AS gap_len",
        )
    )
    summary = ids.groupBy("blk").agg(
        F.min("id").alias("mn"), F.max("id").alias("mx")
    )
    sum_w = Window.orderBy("blk")
    cross_gaps = (
        summary.withColumn("next_mn", F.lead("mn").over(sum_w))
        .filter("next_mn - mx > 1")
        .selectExpr(
            "mx + 1 AS gap_start",
            "next_mn - 1 AS gap_end",
            "CAST(next_mn - mx - 1 AS BIGINT) AS gap_len",
        )
    )
    return in_gaps.unionByName(cross_gaps).orderBy("gap_start")


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
    block as contributor-only ghosts (emit=0, ≤4.2 % row inflation;
    operators/stats.ghost_blocks), and the RANGE window runs per (event_type, day-block): every
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
    )
    w = (
        Window.partitionBy("event_type", "blk")
        .orderBy("sec")
        .rangeBetween(-3600, 0)
    )
    return (
        ghost_blocks(s, 86400, 3600)
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


_DENSITY_ORACLE = """
WITH s AS (
  SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS sec,
         CAST(floor(value * 100) AS BIGINT) AS cents
  FROM events WHERE user_id < 50)
SELECT event_type, sec,
  CAST(count(*) OVER w AS BIGINT) AS n_last_hour,
  CAST(max(cents) OVER w AS BIGINT) AS max_cents_last_hour
FROM s
WINDOW w AS (PARTITION BY event_type ORDER BY sec
             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
ORDER BY event_type, sec, n_last_hour, max_cents_last_hour
"""

_FRAME_SEC = 3600
_TARGET_ROWS_PER_BLOCK = 128


def _trailing_hour_window(spark, sf_dir, target_rows):
    """Shared body so tests can force either branch via target_rows
    (tiny target -> narrow blocks; huge target -> plain window)."""
    e = Catalog(spark, sf_dir).events.filter(F.col("user_id") < 50)
    s = e.select(
        "event_type",
        F.floor(F.unix_timestamp("ts")).cast("bigint").alias("sec"),
        F.floor(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    width = measured_block_width(
        s, "event_type", "sec", _FRAME_SEC, target_rows
    )
    if width is None:
        # plain per-type window: the measured density says block
        # decomposition would not buy parallelism worth the ghosts
        w = (
            Window.partitionBy("event_type")
            .orderBy("sec")
            .rangeBetween(-_FRAME_SEC, 0)
        )
        windowed = s
    else:
        # day-block decomposition at the MEASURED width: parallelism
        # becomes types x (span/width) tasks
        windowed = ghost_blocks(s, width, _FRAME_SEC)
        w = (
            Window.partitionBy("event_type", "blk")
            .orderBy("sec")
            .rangeBetween(-_FRAME_SEC, 0)
        )
    out = windowed.select(
        "event_type",
        "sec",
        *(["emit"] if width is not None else []),
        F.count(F.lit(1)).over(w).cast("bigint").alias("n_last_hour"),
        F.max("cents").over(w).cast("bigint").alias("max_cents_last_hour"),
    )
    if width is not None:
        out = out.filter(F.col("emit") == 1).drop("emit")
    return out.orderBy(
        "event_type", "sec", "n_last_hour", "max_cents_last_hour"
    )


@query(
    "q_win_density_blocks",
    oracle=_DENSITY_ORACLE,
    tags=("window", "timeseries", "scale-design", "stats-driven"),
)
def q_win_density_blocks(spark, sf_dir):
    """Trailing-hour rolling count/max whose PHYSICAL window layout is
    chosen from a measured density probe — the window-planning
    consumer of the measured-statistics machinery (skew.max_key_share
    drives the agg and join branches; stats.measured_block_width
    drives this one).

    The probe (one map-combined job, one driver row) measures the
    densest event_type's row count and the time span; the RANGE
    window is then decomposed into time blocks sized so a
    (type, block) task holds ~128 rows of the densest type — or left
    as the plain per-type window when the measured width would cover
    the whole span (sparse data: decomposition pays ghost-row
    duplication for no parallelism).  Both branches return identical
    rows (the q_win_trailing_hour ghost-row argument: width >= frame
    means a frame reaches at most one block back, ghosts can never
    tie with real rows on sec), so the oracle is the plain global
    window either way.  At 100 TB this is the difference between one
    task per type and types x days parallelism — chosen from the
    post-filter density no static file stat can see."""
    return _trailing_hour_window(spark, sf_dir, _TARGET_ROWS_PER_BLOCK)


_PATTERN = "s[vc]*p"  # signup -> (view|click)* -> purchase, contiguous

_PATTERN_ORACLE = f"""
WITH s AS (
  SELECT user_id,
    string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id) AS seq
  FROM events GROUP BY user_id)
SELECT user_id, CAST(length(seq) AS INT) AS seq_len,
  CAST(len(regexp_extract_all(seq, '{_PATTERN}')) AS INT) AS n_funnels,
  CASE WHEN len(regexp_extract_all(seq, '{_PATTERN}')) > 0 THEN 1 ELSE 0 END
    AS has_funnel
FROM s ORDER BY user_id
"""


@query(
    "q_win_event_pattern",
    oracle=_PATTERN_ORACLE,
    tags=("window", "pipeline", "scale-design"),
)
def q_win_event_pattern(spark, sf_dir):
    """MATCH_RECOGNIZE-style event-sequence pattern matching: per user,
    the time-ordered event stream compiles to a compact symbol string
    (one char per event) and the funnel 'signup -> (view|click)* ->
    purchase, uninterrupted' becomes the REGEX s[vc]*p counted
    non-overlapping per user — the complex-event-processing shape that
    q_agg_funnel's fixed-stage count and q_win_sessionize's gap rule
    cannot express (arbitrary repetition + interruption semantics in
    one pattern).

    Scale shape: ONE keyed aggregate builds the per-user string
    (collect_list -> sort_array for a deterministic (ts, event_id)
    order — the q_win_sessionize per-key-bounded-history argument: a
    user's event count is human-bounded at any corpus size, so the
    per-key string is KB-sized while the corpus is 100 TB), then the
    regex runs ONCE per user on the compact string, JVM-side — no
    self-join chain (the k-stage-join funnel alternative multiplies
    the fact table k times), no window over raw events, no Python.
    Tie order pinned by (ts, event_id) in both engines."""
    e = Catalog(spark, sf_dir).events
    seq = e.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.sort_array(
                    F.collect_list(
                        F.struct(
                            F.col("ts"),
                            F.col("event_id"),
                            F.substring("event_type", 1, 1).alias("c"),
                        )
                    )
                ),
                lambda x: x["c"],
            ),
            "",
        ).alias("seq")
    )
    n = F.size(F.regexp_extract_all("seq", F.lit(_PATTERN), F.lit(0)))
    return seq.select(
        "user_id",
        F.length("seq").cast("int").alias("seq_len"),
        n.cast("int").alias("n_funnels"),
        F.when(n > 0, 1).otherwise(0).alias("has_funnel"),
    ).orderBy("user_id")
