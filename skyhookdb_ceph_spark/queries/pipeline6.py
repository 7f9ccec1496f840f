"""Round-5 wave operators (SURVEY.md §2.16) — REAL multimodal decode
(WAV/RIFF PCM, no external codec), stats-driven join strategy (the
runstats idea wired into a live plan decision), bucketed range join, two-level sequence-gap detection, weighted sampling and
weighted moments, and product-quantization coding for the ANN family.

Same house rules as pipeline4/5: deterministic (no RNG, no clock),
engine-invariant quantization, identical aliases both sides, unique
tie-breaks, no all-pairs joins, no corpus-sized collect().
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from skyhookdb_ceph_spark.operators import ensure_parallelism, map_rows
from skyhookdb_ceph_spark.queries._util import Catalog, money, quantize
from skyhookdb_ceph_spark.registry import query

# ---------------------------------------------------------------------------
# §2.16.1 REAL multimodal decode: WAV synth -> RIFF/PCM parse
# ---------------------------------------------------------------------------

# Both engines derive the SAME audio parameters from doc_id; Spark then
# round-trips them through REAL WAV bytes (synth -> header walk -> int16
# sample decode) while DuckDB computes them directly — so any header
# mis-parse, sample mis-decode, or off-by-one in the codec shows up as a
# value mismatch.  Sample k (interleaved frame-major) is
# ((doc_id*31 + k*7) % 2001) - 1000, an exact-integer sequence.
_WAV_DECODE_ORACLE = """
WITH p AS (
  SELECT doc_id AS media_id,
    CAST(8000 + (doc_id % 5) * 2000 AS INT) AS sample_rate,
    CAST(1 + (doc_id % 2) AS INT) AS n_channels,
    CAST(50 + (doc_id % 100) AS BIGINT) AS n_frames
  FROM documents WHERE doc_id % 10 = 0),
s AS (
  SELECT media_id, sample_rate, n_channels, CAST(16 AS INT) AS bits,
    n_frames, (n_frames * 1000000) // sample_rate AS duration_us,
    list_transform(
      generate_series(0, CAST(n_frames * n_channels AS INT) - 1),
      k -> ((media_id * 31 + k * 7) % 2001) - 1000) AS ss
  FROM p)
SELECT media_id, sample_rate, n_channels, bits, n_frames, duration_us,
  CAST(list_aggregate(ss, 'min') AS INT) AS min_s,
  CAST(list_aggregate(ss, 'max') AS INT) AS max_s,
  CAST(list_aggregate(ss, 'sum') AS BIGINT) AS sum_s
FROM s ORDER BY media_id
"""


@query(
    "q_multimodal_decode",
    oracle=_WAV_DECODE_ORACLE,
    tags=("pipeline", "multimodal"),
)
def q_multimodal_decode(spark, sf_dir):
    """De-stubbed multimodal decode: synthesize a REAL WAV file per
    selected document (RIFF header + fmt chunk + interleaved int16 PCM
    frames, operators/multimodal.wav_bytes), then decode it with the
    pure-Python RIFF parser (parse_wav: chunk walk, fmt unpack,
    numpy int16 sample decode) and emit metadata + sample statistics.
    Both stages are Arrow-batched row maps (operators.map_rows) —
    decode parallelism = partition count, zero shuffle; at 100 TB the
    payloads stream through executors batch-by-batch and only the
    tiny per-file metadata rows ever move."""
    import numpy as np

    from skyhookdb_ceph_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        decode_wav,
        wav_bytes,
    )

    params = (
        ensure_parallelism(Catalog(spark, sf_dir).documents)
        .filter("doc_id % 10 = 0")
        .selectExpr(
            "doc_id AS media_id",
            "CAST(8000 + (doc_id % 5) * 2000 AS INT) AS sample_rate",
            "CAST(1 + (doc_id % 2) AS INT) AS n_channels",
            "CAST(50 + (doc_id % 100) AS BIGINT) AS n_frames",
        )
    )

    def synth(mid, sr, nch, nfr):
        k = np.arange(int(nfr) * int(nch), dtype=np.int64)
        samples = ((int(mid) * 31 + k * 7) % 2001) - 1000
        payload = wav_bytes(samples, int(sr), int(nch))
        return [{"media_id": int(mid), "payload": payload}]

    cols = ["media_id", "sample_rate", "n_channels", "n_frames"]
    media = map_rows(params, cols, synth, MEDIA_SCHEMA)
    return decode_wav(media).orderBy("media_id")


# ---------------------------------------------------------------------------
# §2.16.2 Stats-driven join strategy (runstats as an optimizer input)
# ---------------------------------------------------------------------------

_STATS_JOIN_ORACLE = """
SELECT c_nationkey,
  CAST(count(*) AS BIGINT) AS order_cnt,
  floor(sum(o_totalprice) * 100 + 0.5) / 100 AS sum_total
FROM orders JOIN customer ON o_custkey = c_custkey
WHERE c_nationkey < 5
GROUP BY c_nationkey ORDER BY c_nationkey
"""

# Dim-side byte budget under which we force a broadcast join (mirrors
# spark.sql.autoBroadcastJoinThreshold's intent, but driven by OUR
# runstats measurement instead of file-size guesses).
_BCAST_BUDGET_BYTES = 32 * 1024 * 1024


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
    n = dim.agg(F.count(F.lit(1)).alias("n")).first()["n"]
    est_bytes = n * 16  # two 8-byte keys per row
    if est_bytes <= _BCAST_BUDGET_BYTES:
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


# ---------------------------------------------------------------------------
# §2.16.4 Bucketed numeric range join (interval overlap without theta)
# ---------------------------------------------------------------------------

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


# ---------------------------------------------------------------------------
# §2.16.5 Sequence-gap detection, two-level (no global window)
# ---------------------------------------------------------------------------

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


# ---------------------------------------------------------------------------
# §2.16.6 Deterministic weighted (importance) sampling
# ---------------------------------------------------------------------------

_WSAMPLE_ORACLE = """
SELECT doc_id, lang, n_chars
FROM documents
WHERE (((doc_id % 2147483647) * 2654435761) % 1048576) * 600 < n_chars * 1048576
ORDER BY doc_id
"""


@query("q_sample_length_biased", oracle=_WSAMPLE_ORACLE, tags=("pipeline", "sampling"))
def q_sample_length_biased(spark, sf_dir):
    """Weight-proportional Bernoulli sampling: keep each document with
    probability n_chars/600 using a Knuth-multiplicative integer hash
    of its id as the uniform draw — length-biased corpus sampling
    (train on long documents more often) that is deterministic,
    repartition-invariant, and EXACT across engines because the keep
    test is pure 64-bit integer arithmetic (no float rounding, no RNG
    state).  Pure map over the scan: no shuffle, pushdown-friendly;
    the batch twin of weighted reservoir schemes.  Complements
    q_sample_hash (uniform), q_sample_stratified (per-stratum rate)
    and q_sample_weighted (mixture reweighting)."""
    d = ensure_parallelism(Catalog(spark, sf_dir).documents)
    return (
        d.filter(
            F.expr(
                # pre-mod by 2^31-1: overflow guard for huge ids
                # (r12 scale smoke, BASELINE.md §L.7)
                "(((doc_id % 2147483647) * 2654435761) % 1048576) * 600 "
                "< n_chars * 1048576"
            )
        )
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# §2.16.7 Weighted moments (weighted avg / weighted variance)
# ---------------------------------------------------------------------------

_WAVG_ORACLE = """
WITH w AS (
  SELECT event_type, value, CAST(event_id % 7 + 1 AS DOUBLE) AS wt
  FROM events)
SELECT event_type,
  floor(sum(wt) * 100 + 0.5) / 100 AS sum_wt,
  floor((sum(value * wt) / sum(wt)) * 1000000 + 0.5) / 1000000 AS wavg,
  floor((sum(value * value * wt) / sum(wt)
         - (sum(value * wt) / sum(wt)) * (sum(value * wt) / sum(wt)))
        * 10000 + 0.5) / 10000 AS wvar
FROM w GROUP BY event_type ORDER BY event_type
"""


@query("q_agg_weighted_avg", oracle=_WAVG_ORACLE, tags=("agg",))
def q_agg_weighted_avg(spark, sf_dir):
    """Weighted mean and weighted variance per group — the moments
    every importance-weighted training metric needs (loss reweighting,
    stratification corrections).  All three sums (w, v*w, v^2*w) are
    map-side-combinable partial aggregates in ONE shuffle; the moment
    algebra happens on the tiny per-group result.  wvar quantized to
    4 decimals: it subtracts two ~1e9 double sums, so the last two
    decimals of the 1e-6 grid are accumulation-order noise between
    engines."""
    ev = ensure_parallelism(Catalog(spark, sf_dir).events)
    w = ev.selectExpr(
        "event_type", "value", "CAST(event_id % 7 + 1 AS DOUBLE) AS wt"
    )
    g = w.groupBy("event_type").agg(
        F.sum("wt").alias("sw"),
        F.sum(F.expr("value * wt")).alias("svw"),
        F.sum(F.expr("value * value * wt")).alias("svvw"),
    )
    return g.select(
        "event_type",
        quantize(F.col("sw"), 2).alias("sum_wt"),
        quantize(F.col("svw") / F.col("sw"), 6).alias("wavg"),
        quantize(
            F.col("svvw") / F.col("sw")
            - (F.col("svw") / F.col("sw")) * (F.col("svw") / F.col("sw")),
            4,
        ).alias("wvar"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# §2.16.8 Product-quantization coding (ANN codebook assignment)
# ---------------------------------------------------------------------------

_PQ_ORACLE = """
WITH pos AS (
  SELECT vec_id, CAST(t.i AS INT) AS pos,
    CAST(embedding[CAST(t.i AS INT) + 1] AS DOUBLE) AS val
  FROM embeddings, unnest(generate_series(0, len(embedding) - 1)) t(i)),
sub AS (SELECT vec_id, pos // 16 AS ss, pos, val FROM pos),
codes AS (
  SELECT vec_id, ss,
    CASE WHEN max(CASE WHEN pos = ss * 16 THEN val END) >= 0
         THEN 1 ELSE 0 END AS c
  FROM sub GROUP BY vec_id, ss),
pq AS (
  SELECT vec_id,
    CAST(sum(c * (CASE ss WHEN 0 THEN 1 WHEN 1 THEN 2 WHEN 2 THEN 4
                  ELSE 8 END)) AS INT) AS pq_code
  FROM codes GROUP BY vec_id),
cents AS (
  SELECT s.ss, c.c, s.pos, avg(s.val) AS cent
  FROM sub s JOIN codes c ON s.vec_id = c.vec_id AND s.ss = c.ss
  GROUP BY s.ss, c.c, s.pos),
err AS (
  SELECT s.vec_id,
    sum((s.val - ct.cent) * (s.val - ct.cent)) AS e
  FROM sub s
  JOIN codes c ON s.vec_id = c.vec_id AND s.ss = c.ss
  JOIN cents ct ON ct.ss = s.ss AND ct.c = c.c AND ct.pos = s.pos
  GROUP BY s.vec_id)
SELECT p.vec_id, p.pq_code,
  floor(e.e * 10000 + 0.5) / 10000 AS recon_err
FROM pq p JOIN err e ON p.vec_id = e.vec_id ORDER BY p.vec_id
"""


@query("q_vec_pq_code", oracle=_PQ_ORACLE, tags=("llm", "vectors"))
def q_vec_pq_code(spark, sf_dir):
    """Product-quantization coding for the ANN family: split each
    64-dim embedding into 4 x 16-dim subspaces, assign each subspace a
    1-bit code (sign of the subspace's first component — an exact
    float comparison, so codes can never flip between engines the way
    a near-zero accumulated mean could), learn the per-(subspace,
    code) centroid as the cell average, and score each vector by its
    reconstruction error against its centroids — one k-means step with
    deterministic init, the training kernel of a real PQ index.  All
    stages are keyed groupBys/equi-joins on (vec_id|ss|code|pos):
    vectors never pairwise-compare, centroids are
    cells x dims-bounded, and at 100 TB the explode fans out to
    rows x dims — linear, shuffle-keyed, skew-free.  recon_err on a
    1e-4 grid (sums of 64 double squares accumulate in different
    orders per engine)."""
    e = ensure_parallelism(Catalog(spark, sf_dir).embeddings)
    pos = e.select(
        "vec_id", F.posexplode("embedding").alias("pos", "fval")
    ).selectExpr("vec_id", "pos", "CAST(fval AS DOUBLE) AS val")
    sub = pos.withColumn("ss", F.expr("pos div 16"))
    codes = (
        sub.filter(F.expr("pos = ss * 16"))
        .selectExpr(
            "vec_id", "ss", "CASE WHEN val >= 0 THEN 1 ELSE 0 END AS c"
        )
    )
    pq = codes.groupBy("vec_id").agg(
        F.expr(
            "CAST(sum(c * (CASE ss WHEN 0 THEN 1 WHEN 1 THEN 2 "
            "WHEN 2 THEN 4 ELSE 8 END)) AS INT)"
        ).alias("pq_code")
    )
    coded = sub.join(codes, ["vec_id", "ss"])
    cents = coded.groupBy("ss", "c", "pos").agg(
        F.avg("val").alias("cent")
    )
    err = (
        coded.join(cents, ["ss", "c", "pos"])
        .groupBy("vec_id")
        .agg(
            F.sum(
                F.expr("(val - cent) * (val - cent)")
            ).alias("e")
        )
    )
    return (
        pq.join(err, "vec_id")
        .select(
            "vec_id", "pq_code", quantize(F.col("e"), 4).alias("recon_err")
        )
        .orderBy("vec_id")
    )
