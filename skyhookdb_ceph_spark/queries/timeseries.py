"""Time-series operators (SURVEY.md §2.14): gap-fill and resampling,
as-of interpolation, EWMA, seasonal baselines, anomaly, outlier,
change-point and autocorrelation screens over the `events` table,
with their DuckDB oracles.

No operator module is driven: every query is Spark built-ins —
epoch-second bucket math, keyed aggregates and windows partitioned by
the series key, never a global window.  Time arithmetic is on whole
epoch seconds, so the ns-vs-µs timestamp precision of the two engines
can never reorder ties; ordering keys are (sec, event_id), both exact
BIGINTs.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from skyhookdb_ceph_spark.queries._util import Catalog, money, quantize
from skyhookdb_ceph_spark.registry import query


_GAPFILL_ORACLE = """
WITH bounds AS (
  SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi
  FROM events),
types AS (SELECT DISTINCT event_type FROM events),
grid AS (
  SELECT t.event_type,
         unnest(generate_series(b.lo, b.hi, INTERVAL 1 HOUR)) AS bucket_ts
  FROM types t, bounds b),
agg AS (
  SELECT event_type, date_trunc('hour', ts) AS bucket_ts,
         CAST(count(*) AS BIGINT) AS n_events, avg(value) AS avg_raw
  FROM events GROUP BY 1, 2)
SELECT g.event_type, g.bucket_ts,
  coalesce(a.n_events, 0) AS n_events,
  floor(last_value(a.avg_raw IGNORE NULLS) OVER (
      PARTITION BY g.event_type ORDER BY g.bucket_ts
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 1000000 + 0.5)
    / 1000000 AS value_locf
FROM grid g LEFT JOIN agg a USING (event_type, bucket_ts)
"""


@query("q_ts_gapfill", oracle=_GAPFILL_ORACLE, tags=("pipeline", "timeseries"))
def q_ts_gapfill(spark, sf_dir):
    """Time-series regularization: densify an irregular event stream
    onto an hourly grid — zero-fill counts, last-observation-carried-
    forward for the hourly mean — the standard prep before windowed
    feature extraction.  The grid is SPAN-bound, not row-bound
    (hours-in-range x event types), so it stays tiny at 100 TB; the
    only row-bound work is one partial-aggregating groupBy of the raw
    events.  Bounds are a 1-row aggregate broadcast into the grid
    build; LOCF is a per-type running `last(ignorenulls)` window —
    partitioned by event_type, never global.  Leading buckets with no
    prior observation stay NULL in both engines."""
    ev = Catalog(spark, sf_dir).events
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("bucket_ts")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.avg("value").alias("avg_raw"),
    )
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    grid = (
        ev.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.explode(F.expr("sequence(lo, hi, interval 1 hour)")).alias(
                "bucket_ts"
            ),
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("bucket_ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return grid.join(hourly, ["event_type", "bucket_ts"], "left").select(
        "event_type",
        "bucket_ts",
        F.coalesce(F.col("n_events"), F.lit(0)).cast("bigint").alias("n_events"),
        quantize(F.last("avg_raw", ignorenulls=True).over(w), 6).alias(
            "value_locf"
        ),
    )


_DOWNSAMPLE_ORACLE = """
WITH b AS (
  SELECT event_type, event_id, value,
    CAST(floor(epoch(ts)) AS BIGINT) AS sec,
    CAST(floor(floor(epoch(ts)) / 21600) * 21600 AS BIGINT) AS bucket_sec
  FROM events),
r AS (
  SELECT *,
    row_number() OVER (PARTITION BY event_type, bucket_sec
                       ORDER BY sec, event_id) AS rn_a,
    row_number() OVER (PARTITION BY event_type, bucket_sec
                       ORDER BY sec DESC, event_id DESC) AS rn_d
  FROM b)
SELECT event_type, bucket_sec,
  max(CASE WHEN rn_a = 1 THEN value END) AS open_v,
  max(value) AS high_v,
  min(value) AS low_v,
  max(CASE WHEN rn_d = 1 THEN value END) AS close_v,
  CAST(count(*) AS BIGINT) AS n_events
FROM r GROUP BY 1, 2
"""


@query("q_ts_downsample", oracle=_DOWNSAMPLE_ORACLE, tags=("pipeline", "timeseries"))
def q_ts_downsample(spark, sf_dir):
    """OHLC downsampling: collapse the raw stream into 6-hour
    open/high/low/close/count bars per event type — the lossy
    time-series compaction step (hypertable rollup analog).  Buckets
    are pure epoch-second arithmetic (no timezone, no tz-aware
    timestamp round-trip); open/close come from row_number windows
    ordered by (sec, event_id) — exact BIGINTs, so the ns-vs-µs
    precision gap between engines cannot flip a tie.  One keyed
    shuffle on (event_type, bucket); bars = span/6h x types, tiny at
    any corpus size; values are untouched doubles (bit-identical)."""
    ev = Catalog(spark, sf_dir).events
    b = ev.select(
        "event_type",
        "event_id",
        "value",
        F.unix_timestamp("ts").alias("sec"),
    ).withColumn(
        "bucket_sec", (F.floor(F.col("sec") / 21600) * 21600).cast("bigint")
    )
    w_asc = Window.partitionBy("event_type", "bucket_sec").orderBy(
        "sec", "event_id"
    )
    w_desc = Window.partitionBy("event_type", "bucket_sec").orderBy(
        F.desc("sec"), F.desc("event_id")
    )
    r = b.withColumn("rn_a", F.row_number().over(w_asc)).withColumn(
        "rn_d", F.row_number().over(w_desc)
    )
    return r.groupBy("event_type", "bucket_sec").agg(
        F.max(F.when(F.col("rn_a") == 1, F.col("value"))).alias("open_v"),
        F.max("value").alias("high_v"),
        F.min("value").alias("low_v"),
        F.max(F.when(F.col("rn_d") == 1, F.col("value"))).alias("close_v"),
        F.count(F.lit(1)).alias("n_events"),
    )


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


_ANOMALY_ORACLE = """
WITH hourly AS (
  SELECT event_type,
    CAST(floor(epoch(ts) / 3600) AS BIGINT) AS bucket,
    sum(value) AS v
  FROM events GROUP BY 1, 2),
stats AS (
  SELECT event_type, avg(v) AS mu, stddev_samp(v) AS sigma
  FROM hourly GROUP BY event_type)
SELECT h.event_type, h.bucket,
  floor(h.v * 1000000 + 0.5) / 1000000 AS v,
  floor(((h.v - s.mu) / s.sigma) * 1000 + 0.5) / 1000 AS z,
  CASE WHEN abs((h.v - s.mu) / s.sigma) > 2.5 THEN 1 ELSE 0 END AS is_anomaly
FROM hourly h JOIN stats s ON h.event_type = s.event_type
ORDER BY h.event_type, h.bucket
"""


@query("q_ts_anomaly", oracle=_ANOMALY_ORACLE, tags=("timeseries",))
def q_ts_anomaly(spark, sf_dir):
    """Z-score anomaly flagging on hourly sums per event type: one
    partial-aggregating rollup of raw events, per-type mean/stddev as
    a type-count-bounded aggregate broadcast back, per-bucket z and a
    2.5-sigma flag.  The z column is quantized at 3 decimals (not 6):
    it is a RATIO of two accumulated doubles, where cross-engine
    summation-order drift is amplified near sigma ~ 0; 3 decimals is
    still far finer than any anomaly threshold cares about."""
    ev = Catalog(spark, sf_dir).events
    hourly = ev.groupBy(
        "event_type",
        F.floor(F.unix_timestamp("ts") / 3600).cast("bigint").alias("bucket"),
    ).agg(F.sum("value").alias("v"))
    stats = hourly.groupBy(F.col("event_type").alias("et")).agg(
        F.avg("v").alias("mu"), F.stddev_samp("v").alias("sigma")
    )
    z = (F.col("v") - F.col("mu")) / F.col("sigma")
    return (
        hourly.join(F.broadcast(stats), F.col("event_type") == F.col("et"))
        .select(
            "event_type",
            "bucket",
            quantize(F.col("v"), 6).alias("v"),
            quantize(z, 3).alias("z"),
            F.when(F.abs(z) > 2.5, 1).otherwise(0).alias("is_anomaly"),
        )
        .orderBy("event_type", "bucket")
    )


_ROLLUP2_ORACLE = """
SELECT event_type, CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
  CAST(count(*) AS BIGINT) AS n_events,
  floor(sum(value) * 100 + 0.5) / 100 AS sum_value,
  floor(min(value) * 1000000 + 0.5) / 1000000 AS min_value,
  floor(max(value) * 1000000 + 0.5) / 1000000 AS max_value
FROM events GROUP BY 1, 2 ORDER BY 1, 2
"""


@query("q_ts_rollup_two_level", oracle=_ROLLUP2_ORACLE, tags=("timeseries",))
def q_ts_rollup_two_level(spark, sf_dir):
    """Continuous-aggregate hierarchy: DAILY stats computed FROM the
    HOURLY materialization's partial states (count/sum re-sum,
    min/max re-min/max) — never from raw events — and the oracle
    computes the same dailies directly from raw, so the diff PROVES
    the rollup's mergeability (the property that makes hypertable /
    materialized-rollup maintenance incremental: a late hour
    re-aggregates one hourly row, not a day of raw data).  The raw
    scan happens once (hourly level); the daily level aggregates
    24x fewer rows."""
    ev = Catalog(spark, sf_dir).events
    hourly = ev.groupBy(
        "event_type",
        F.date_trunc("hour", F.col("ts")).alias("h"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("value").alias("s"),
        F.min("value").alias("mn"),
        F.max("value").alias("mx"),
    )
    return (
        hourly.groupBy(
            "event_type",
            F.col("h").cast("date").cast("string").alias("day"),
        )
        .agg(
            F.sum("n").alias("n_events"),
            money(F.sum("s")).alias("sum_value"),
            quantize(F.min("mn"), 6).alias("min_value"),
            quantize(F.max("mx"), 6).alias("max_value"),
        )
        .orderBy("event_type", "day")
    )


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


_MAD_ORACLE = """
WITH hourly AS (
  SELECT event_type,
         CAST(floor(epoch(ts) / 3600) AS BIGINT) AS bucket,
         sum(value) AS v
  FROM events GROUP BY 1, 2),
med AS (
  SELECT event_type AS et, quantile_cont(v, 0.5) AS med
  FROM hourly GROUP BY 1),
mad AS (
  SELECT h.event_type AS et2, quantile_cont(abs(h.v - m.med), 0.5) AS mad
  FROM hourly h JOIN med m ON h.event_type = m.et GROUP BY 1)
SELECT h.event_type, h.bucket,
  floor(h.v * 1000000 + 0.5) / 1000000 AS v,
  floor((abs(h.v - m.med) / (1.4826 * d.mad)) * 1000 + 0.5) / 1000
    AS mad_z,
  CASE WHEN abs(h.v - m.med) > 3 * 1.4826 * d.mad THEN 1 ELSE 0 END
    AS is_outlier
FROM hourly h
JOIN med m ON h.event_type = m.et
JOIN mad d ON h.event_type = d.et2
ORDER BY h.event_type, h.bucket
"""


@query("q_ts_outlier_mad", oracle=_MAD_ORACLE, tags=("timeseries",))
def q_ts_outlier_mad(spark, sf_dir):
    """Robust outlier flagging on hourly sums: median + MAD (median
    absolute deviation, x1.4826 for normal consistency) instead of
    q_ts_anomaly's mean/stddev z-score — the estimator that does NOT
    move when the outliers themselves inflate the baseline (one 100x
    spike shifts mean and stddev enough to mask a 10x spike; it moves
    the median by at most one rank).  Two exact interpolated medians
    per type (Spark percentile == DuckDB quantile_cont), each a
    type-count-bounded aggregate broadcast back to the hourly rollup —
    hourly buckets per type are bounded by the time span, so at
    100 TB both median inputs are aggregate-sized, never raw-event-
    sized.  mad_z quantized at 3 decimals (a ratio of accumulated
    doubles — the q_ts_anomaly precision precedent)."""
    ev = Catalog(spark, sf_dir).events

    hourly = ev.groupBy(
        "event_type",
        F.floor(F.unix_timestamp("ts") / 3600).cast("bigint").alias(
            "bucket"
        ),
    ).agg(F.sum("value").alias("v"))
    med = hourly.groupBy(F.col("event_type").alias("et")).agg(
        F.expr("percentile(v, 0.5)").alias("med")
    )
    dev = hourly.join(F.broadcast(med), F.col("event_type") == F.col("et"))
    mad = dev.groupBy(F.col("event_type").alias("et2")).agg(
        F.expr("percentile(abs(v - med), 0.5)").alias("mad")
    )
    z = F.abs(F.col("v") - F.col("med")) / (1.4826 * F.col("mad"))
    return (
        dev.join(F.broadcast(mad), F.col("event_type") == F.col("et2"))
        .select(
            "event_type",
            "bucket",
            quantize(F.col("v"), 6).alias("v"),
            quantize(z, 3).alias("mad_z"),
            F.when(
                F.abs(F.col("v") - F.col("med"))
                > 3 * 1.4826 * F.col("mad"),
                1,
            )
            .otherwise(0)
            .alias("is_outlier"),
        )
        .orderBy("event_type", "bucket")
    )


_CUSUM_ORACLE = """
WITH hourly AS (
  SELECT event_type,
         CAST(floor(epoch(ts) / 3600) AS BIGINT) AS bucket,
         sum(value) AS v
  FROM events GROUP BY 1, 2),
mu AS (
  SELECT event_type AS et, avg(v) AS mu, stddev_samp(v) AS sigma
  FROM hourly GROUP BY 1),
p0 AS (
  -- DuckDB forbids nesting window calls (min(sum(...) OVER w) OVER w),
  -- so the prefix sum materializes one CTE level before the running min
  -- -- the same two stacked selects the Spark plan uses.
  SELECT h.event_type, h.bucket,
    sum(h.v - m.mu - 0.5 * m.sigma) OVER w AS pref,
    m.sigma
  FROM hourly h JOIN mu m ON h.event_type = m.et
  WINDOW w AS (PARTITION BY h.event_type ORDER BY h.bucket)),
p AS (
  SELECT event_type, bucket, pref, sigma,
    min(pref) OVER (PARTITION BY event_type ORDER BY bucket) AS pref_min
  FROM p0)
SELECT event_type, bucket,
  floor((pref - least(pref_min, 0)) * 1000 + 0.5) / 1000 AS cusum,
  CASE WHEN pref - least(pref_min, 0) > 5 * sigma THEN 1 ELSE 0 END
    AS is_shift
FROM p ORDER BY event_type, bucket
"""


@query(
    "q_ts_cusum",
    oracle=_CUSUM_ORACLE,
    tags=("timeseries", "scale-design"),
)
def q_ts_cusum(spark, sf_dir):
    """One-sided CUSUM change-point detection on hourly sums — the
    classic S_t = max(0, S_{t-1} + (v_t - mu - slack)) recursion,
    which looks inherently sequential but is exactly expressible as
    two window functions via the prefix-min identity:

        S_t = P_t - min(0, min_{i<=t} P_i),   P = prefix sum of
                                              (v - mu - 0.5 sigma)

    so the engine runs cumulative-sum + running-min inside ONE sorted
    window partition instead of a row-at-a-time recursion (no UDF, no
    iterative driver loop — the same make-the-recursion-algebraic
    move as q_ts_ewma's closed form).  A shift flags when S_t exceeds
    5 sigma.  Buckets per type are time-bounded, so the window input
    is aggregate-sized at any corpus size; mu/sigma are a
    type-bounded broadcast.  cusum quantized at 3 decimals (chained
    double accumulation, the z-score precedent)."""
    ev = Catalog(spark, sf_dir).events

    hourly = ev.groupBy(
        "event_type",
        F.floor(F.unix_timestamp("ts") / 3600).cast("bigint").alias(
            "bucket"
        ),
    ).agg(F.sum("value").alias("v"))
    mu = hourly.groupBy(F.col("event_type").alias("et")).agg(
        F.avg("v").alias("mu"), F.stddev_samp("v").alias("sigma")
    )
    w = Window.partitionBy("event_type").orderBy("bucket")
    wcum = w.rowsBetween(Window.unboundedPreceding, 0)
    d = hourly.join(F.broadcast(mu), F.col("event_type") == F.col("et"))
    pref = F.sum(
        F.col("v") - F.col("mu") - 0.5 * F.col("sigma")
    ).over(wcum)
    p = d.select(
        "event_type",
        "bucket",
        "sigma",
        pref.alias("pref"),
    ).select(
        "event_type",
        "bucket",
        "sigma",
        "pref",
        F.min("pref").over(wcum).alias("pref_min"),
    )
    s = F.col("pref") - F.least(F.col("pref_min"), F.lit(0.0))
    return p.select(
        "event_type",
        "bucket",
        quantize(s, 3).alias("cusum"),
        F.when(s > 5 * F.col("sigma"), 1).otherwise(0).alias("is_shift"),
    ).orderBy("event_type", "bucket")


_AUTOCORR_ORACLE = """
WITH hourly AS (
  SELECT event_type,
         CAST(floor(epoch(ts) / 3600) AS BIGINT) AS bucket,
         sum(value) AS v
  FROM events GROUP BY 1, 2),
lagged AS (
  SELECT event_type, v,
    lag(v, 1) OVER (PARTITION BY event_type ORDER BY bucket) AS v1,
    lag(v, 24) OVER (PARTITION BY event_type ORDER BY bucket) AS v24
  FROM hourly)
SELECT event_type,
  CAST(count(v1) AS BIGINT) AS n_lag1,
  floor((corr(v, v1)) * 1000000 + 0.5) / 1000000 AS r_lag1,
  floor((corr(v, v24)) * 1000000 + 0.5) / 1000000 AS r_lag24
FROM lagged GROUP BY event_type ORDER BY event_type
"""


@query("q_ts_autocorr", oracle=_AUTOCORR_ORACLE, tags=("timeseries",))
def q_ts_autocorr(spark, sf_dir):
    """Lag-1 and lag-24 autocorrelation of the hourly series per type
    — the seasonality screen (a daily cycle shows as r_lag24 >>
    r_lag1) that decides whether q_ts_seasonal's decomposition is
    worth running at all.  Shape: hourly rollup (map-combined), lag
    via one sorted window per type over the AGGREGATE-sized series,
    then corr as a single-pass mergeable co-moment aggregate
    (q_agg_corr's machinery applied to the series against its own
    shift).  Nothing here ever re-touches raw events after the first
    rollup — at 100 TB the windowed data is bounded by types x
    time-buckets regardless of corpus size."""
    ev = Catalog(spark, sf_dir).events

    hourly = ev.groupBy(
        "event_type",
        F.floor(F.unix_timestamp("ts") / 3600).cast("bigint").alias(
            "bucket"
        ),
    ).agg(F.sum("value").alias("v"))
    w = Window.partitionBy("event_type").orderBy("bucket")
    lagged = hourly.select(
        "event_type",
        "v",
        F.lag("v", 1).over(w).alias("v1"),
        F.lag("v", 24).over(w).alias("v24"),
    )
    return (
        lagged.groupBy("event_type")
        .agg(
            F.count("v1").cast("bigint").alias("n_lag1"),
            quantize(F.corr("v", "v1"), 6).alias("r_lag1"),
            quantize(F.corr("v", "v24"), 6).alias("r_lag24"),
        )
        .orderBy("event_type")
    )
