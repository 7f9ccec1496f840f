"""Training-data pipeline operators, round 3 wave 7 (SURVEY.md §2.14)
— time-series regularization (gap-fill/LOCF, OHLC downsampling),
exact-k reservoir sampling, tokenizer-training pair mining, nearest-event joins, and parquet schema evolution.

Same house rules as pipeline.py/pipeline2.py: deterministic (no RNG),
every computed column quantized engine-invariantly and aliased
identically in Spark and oracle SQL.  Time arithmetic is done on
whole epoch seconds (unix_timestamp / floor(epoch())) so the ns-vs-µs
timestamp precision difference between the two engines can never
reorder ties — ordering keys are (sec, event_id), both exact BIGINTs.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import Window
from pyspark.sql import functions as F

from skyhookdb_ceph_spark.operators import ensure_parallelism
from skyhookdb_ceph_spark.queries._util import Catalog, _scratch_dir, quantize, scratch
from skyhookdb_ceph_spark.registry import query


# q_schema_evolve's merged-snapshot dir lives for the process (the
# returned DataFrame reads it) and is reclaimed here at exit so tmpfs
# scratch never accumulates one dir per process.
_EVOLVE_OUT_DIRS: set[str] = set()


def _cleanup_evolve_out() -> None:
    for d in _EVOLVE_OUT_DIRS:
        shutil.rmtree(d, ignore_errors=True)
    _EVOLVE_OUT_DIRS.clear()


import atexit  # noqa: E402

atexit.register(_cleanup_evolve_out)

# ---------------------------------------------------------------------------
# Time-series gap-fill: dense hourly grid + zero-fill + LOCF
# ---------------------------------------------------------------------------

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


# ---------------------------------------------------------------------------
# OHLC downsampling: 6-hour bars per event type
# ---------------------------------------------------------------------------

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


# ---------------------------------------------------------------------------
# Exact-k deterministic reservoir (priority) sample per stratum
# ---------------------------------------------------------------------------

_RESERVOIR_ORACLE = """
SELECT doc_id, lang, rnk FROM (
  SELECT doc_id, lang,
    CAST(row_number() OVER (
      PARTITION BY lang
      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS INT) AS rnk
  FROM documents)
WHERE rnk <= 20
"""


@query("q_sample_reservoir", oracle=_RESERVOIR_ORACLE, tags=("pipeline", "sampling"))
def q_sample_reservoir(spark, sf_dir):
    """Exactly-k-per-stratum deterministic sample: rank every doc
    inside its language by a content-independent hash (md5 of id) and
    keep the k smallest — distributed priority/reservoir sampling.
    Unlike q_sample_stratified's rate-based filter (which yields a
    BINOMIAL count per stratum), this guarantees exactly k rows per
    stratum, reproducibly.  The per-stratum top-k is a partial
    TakeOrdered per partition then a k-row merge per key — never a
    global sort; strata are languages, so the window key never skews
    beyond corpus language balance (salt the hash prefix into the
    partition key if one stratum dominates)."""
    d = Catalog(spark, sf_dir).documents
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        d.select("doc_id", "lang")
        .withColumn("rnk", F.row_number().over(w).cast("int"))
        .where("rnk <= 20")
    )


# ---------------------------------------------------------------------------
# Tokenizer-training pair mining (BPE first-merge statistics)
# ---------------------------------------------------------------------------

_VOCAB_PAIRS_ORACLE = """
WITH w AS (SELECT string_split(text, ' ') AS words FROM documents),
p AS (
  SELECT unnest(CASE WHEN len(words) >= 2 THEN
    list_transform(generate_series(1, len(words) - 1),
      i -> array_to_string(list_slice(words, i, i + 1), ' '))
    ELSE [] END) AS pair
  FROM w),
c AS (SELECT pair, CAST(count(*) AS BIGINT) AS n FROM p GROUP BY pair)
SELECT pair, n, rnk FROM (
  SELECT pair, n,
    CAST(row_number() OVER (ORDER BY n DESC, pair) AS INT) AS rnk
  FROM c)
WHERE rnk <= 20
"""


@query("q_vocab_pairs", oracle=_VOCAB_PAIRS_ORACLE, tags=("pipeline", "text"))
def q_vocab_pairs(spark, sf_dir):
    """Adjacent-pair frequency mining — the inner statistic of BPE /
    WordPiece tokenizer training (which symbol pair to merge next) and
    of collocation analysis.  Per-doc pair extraction is a pure map
    (no shuffle); counting is one partial-aggregating groupBy on the
    pair string; the top-20 is computed per-partition first (row_number
    after a 20-row TakeOrdered), so nothing global ever sorts the full
    pair vocabulary.  Sub-2-word docs contribute no pairs in either
    engine (identical CASE guard)."""
    d = ensure_parallelism(Catalog(spark, sf_dir).documents)
    # posexplode + lead instead of a transform/slice lambda per pair:
    # the higher-order-function form interpreted one lambda call per
    # pair (measured 4.0 s at sf0.1); the window form is whole-stage
    # codegen over a doc-keyed shuffle whose per-doc row count is
    # bounded by document length (0.5 s).  Sub-2-word docs contribute
    # no pairs in either engine (lead is NULL at doc end).
    words = d.selectExpr(
        "doc_id", "posexplode(split(text, ' ')) AS (pos, w)"
    )
    wnd = Window.partitionBy("doc_id").orderBy("pos")
    counts = (
        words.withColumn("nxt", F.lead("w").over(wnd))
        .filter(F.col("nxt").isNotNull())
        .selectExpr("w || ' ' || nxt AS pair")
        .groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    top = counts.orderBy(F.desc("n"), "pair").limit(20)
    w = Window.orderBy(F.desc("n"), "pair")  # 20 rows post-limit: single tiny task
    return top.withColumn("rnk", F.row_number().over(w).cast("int"))


# ---------------------------------------------------------------------------
# Nearest-event join (band-limited |Δt| argmin)
# ---------------------------------------------------------------------------

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


# ---------------------------------------------------------------------------
# Parquet schema evolution (mergeSchema read across snapshot versions)
# ---------------------------------------------------------------------------

_EVOLVE_ORACLE = """
SELECT doc_id, lang, CAST(NULL AS VARCHAR) AS source
FROM documents WHERE doc_id % 2 = 0
UNION ALL
SELECT doc_id, lang, source FROM documents WHERE doc_id % 2 = 1
"""


@query("q_schema_evolve", oracle=_EVOLVE_ORACLE, tags=("pipeline", "storage"))
def q_schema_evolve(spark, sf_dir):
    """Schema evolution across dataset snapshots: an old snapshot
    written WITHOUT a column and a new snapshot written WITH it read
    back as ONE dataset via mergeSchema — old rows surface NULL for
    the added column, byte-for-byte what the UNION-by-name oracle
    computes.  This is the lakehouse additive-column contract every
    long-lived training corpus relies on (schema drift without
    rewrite).  mergeSchema costs one footer read per FILE at planning
    time — at 100 TB restrict it to snapshot boundaries (explicit
    paths, as here) rather than globbing the whole lake.  Scratch:
    see ``_util.scratch``."""
    with scratch("skyhook_evolve_") as tmp:
        d = Catalog(spark, sf_dir).documents
        d.where("doc_id % 2 = 0").select("doc_id", "lang").write.mode(
            "overwrite"
        ).parquet(f"{tmp}/v1")
        d.where("doc_id % 2 = 1").select("doc_id", "lang", "source").write.mode(
            "overwrite"
        ).parquet(f"{tmp}/v2")
        merged = (
            spark.read.option("mergeSchema", True)
            .parquet(f"{tmp}/v1", f"{tmp}/v2")
            .select("doc_id", "lang", "source")
        )
        # Persist the merged view DISTRIBUTED (executor-side parquet
        # write to a process-lived scratch path, then re-read) instead
        # of the old corpus-sized collect()+createDataFrame round-trip
        # through the driver — at 100 TB the merged snapshot never fits
        # driver memory; a write-back is one map-only pass.
        out = os.path.join(
            _scratch_dir(), f"skyhook_evolve_out_{os.getpid()}"
        )
        merged.write.mode("overwrite").parquet(out)
        # Process-lived by design (the returned frame reads it), but it
        # MUST NOT outlive the process: on tmpfs scratch one leaked dir
        # per process accumulates in RAM (the r14/r15 ADVICE leak
        # class, found here by a /dev/shm census this round).
        _EVOLVE_OUT_DIRS.add(out)
        return spark.read.parquet(out).select("doc_id", "lang", "source")


# ---------------------------------------------------------------------------
# Sliding-window distinct users (bounded-replication explode, never a
# sliding-state scan)
# ---------------------------------------------------------------------------

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


# ---------------------------------------------------------------------------
# Dataset snapshot diff (added / removed / changed / unchanged)
# ---------------------------------------------------------------------------

_SNAPSHOT_DIFF_ORACLE = """
WITH v1 AS (
  SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 5 <> 4),
v2 AS (
  SELECT doc_id,
    md5(CASE WHEN doc_id % 3 = 0 THEN text || ' v2' ELSE text END) AS h
  FROM documents WHERE doc_id % 7 <> 0)
SELECT coalesce(v1.doc_id, v2.doc_id) AS doc_id,
  CASE WHEN v1.doc_id IS NULL THEN 'added'
       WHEN v2.doc_id IS NULL THEN 'removed'
       WHEN v1.h <> v2.h THEN 'changed'
       ELSE 'unchanged' END AS change
FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
"""


@query("q_snapshot_diff", oracle=_SNAPSHOT_DIFF_ORACLE, tags=("pipeline", "storage"))
def q_snapshot_diff(spark, sf_dir):
    """Dataset-version diff: classify every document as added /
    removed / changed / unchanged between two snapshots by comparing
    content hashes under a full outer join on the stable id — the
    audit step before promoting a new training-corpus version.  Only
    (id, 16-byte hash) pairs shuffle, never document bodies; the join
    is a plain equi-join on the id, so it buckets/salts like any
    other.  Snapshots here are deterministic fixture slices (v1 drops
    id%5==4, v2 drops id%7==0 and rewrites id%3==0)."""
    docs = Catalog(spark, sf_dir).documents
    v1 = docs.where("doc_id % 5 <> 4").select(
        "doc_id", F.md5("text").alias("h")
    )
    v2 = docs.where("doc_id % 7 <> 0").select(
        "doc_id",
        F.md5(
            F.when(F.col("doc_id") % 3 == 0, F.concat("text", F.lit(" v2")))
            .otherwise(F.col("text"))
        ).alias("h"),
    )
    j = v1.alias("a").join(
        v2.alias("b"), F.col("a.doc_id") == F.col("b.doc_id"), "full_outer"
    )
    return j.select(
        F.coalesce(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_id"),
        F.when(F.col("a.doc_id").isNull(), "added")
        .when(F.col("b.doc_id").isNull(), "removed")
        .when(F.col("a.h") != F.col("b.h"), "changed")
        .otherwise("unchanged")
        .alias("change"),
    )


# ---------------------------------------------------------------------------
# Per-source token entropy (vocabulary-diversity quality signal)
# ---------------------------------------------------------------------------

_ENTROPY_ORACLE = """
WITH t AS (
  SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents),
c AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS n
      FROM t GROUP BY source, tok),
tot AS (SELECT source, CAST(sum(n) AS BIGINT) AS n_tokens,
               CAST(count(*) AS BIGINT) AS vocab
        FROM c GROUP BY source)
SELECT c.source, tot.n_tokens, tot.vocab,
  floor(-sum((n * 1.0 / n_tokens) * ln(n * 1.0 / n_tokens)) * 1000000 + 0.5)
    / 1000000 AS entropy
FROM c JOIN tot USING (source)
GROUP BY c.source, tot.n_tokens, tot.vocab
"""


@query("q_agg_entropy", oracle=_ENTROPY_ORACLE, tags=("pipeline", "text"))
def q_agg_entropy(spark, sf_dir):
    """Shannon entropy of the token distribution per source — the
    vocabulary-diversity signal quality filters use to catch template
    spam (low entropy) and binary junk (spuriously high entropy).
    Two keyed shuffles total: token counts partial-aggregate map-side
    on (source, token); per-source totals are a second tiny agg
    joined back broadcast-small.  Cross-engine float drift from
    summation order is ~1e-12 against a 5e-7 quantization threshold
    (same tolerance argument as q_text_unigram_lp/q_agg_corr)."""
    t = ensure_parallelism(Catalog(spark, sf_dir).documents).select(
        "source", F.explode(F.split("text", " ")).alias("tok")
    )
    c = t.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("n"))
    tot = c.groupBy("source").agg(
        F.sum("n").alias("n_tokens"), F.count(F.lit(1)).alias("vocab")
    )
    p = F.col("n") * 1.0 / F.col("n_tokens")
    return (
        c.join(F.broadcast(tot), "source")
        .groupBy("source", "n_tokens", "vocab")
        .agg(quantize(-F.sum(p * F.log(p)), 6).alias("entropy"))
    )
