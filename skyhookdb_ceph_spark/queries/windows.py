"""Window / analytic functions (SURVEY.md §2.5) — [EXT] (the reference
has no analytic executor; required for capability-complete surface).

Scale note: a window partitioned by a key shuffles once on that key and
sorts within partitions — same cost envelope as a groupBy.  A window
with NO partition key (global running total) is a single-task
bottleneck at 100 TB; every query below partitions.
"""

from __future__ import annotations

from pyspark.sql import Window

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
