"""Round-14 wave (SURVEY.md §2.26) — the persisted ANN signature
index and the clustered-corpus recall audit.

Closes the one operator-level gap the r13 verdict named: both sketch
cascade tiers (q_sim_knn_binary's 16-byte sign signatures,
q_sim_knn_2bit's 48-byte thermometer planes) re-encoded the corpus on
every execution, while only the IVF family had the full persisted
build / incremental-append / probe-only story.  This wave gives the
signature tiers the same lifecycle the IVF layout already has
(q_vec_ivf_build / q_vec_ivf_incremental / q_vec_ivf_files_pruned):

1. q_vec_sig_build — encode once, persist (vec_id, sig_lo, sig_hi,
   p1l..p3h) plus the 64-row quartile threshold table as the index's
   frozen PARAMETERS; the verdict table is a sharded census of the
   READ-BACK layout proving persisted encode == direct encode.
2. q_sim_knn_binary_indexed / q_sim_knn_2bit_indexed — the cascade
   probes reading ONLY the persisted signature columns for the coarse
   stage (plan-asserted: no signature re-encode — no shiftleft
   packing, no posexplode, no percentile — before the rerank
   join-back to the float corpus).  Oracles are the SAME SQL as the
   per-execution tiers: the persisted index must change nothing about
   the answer.
3. q_vec_sig_incremental — append-only maintenance under the
   frozen-parameter rule: delta vectors are encoded with the BASE
   corpus's thresholds (re-deriving them from the grown corpus would
   silently re-key every existing signature — the q_vec_ivf_incremental
   nb lesson, applied to the 2-bit tier's 192 thresholds).
4. q_sim_recall_clustered — the r13 recall ladder (§P.8) measured the
   isotropic WORST case; real embedding corpora are clustered.  A
   deterministic label-centered mixture corpus (hash-seeded
   Irwin-Hall noise — dyadic-exact arithmetic, no RNG, reproducible
   in both engines) re-runs the 1-bit and 2-bit audits at the same
   shortlist budget, giving the ladder its realistic column.

The index itself — both encoders, the sigs/ + params/ layout,
build_sig_index / append_sig_index, the shortlist-and-rerank cascade
and the recall count — lives in operators/sig_index.py; this module
keeps the queries that run it and their DuckDB oracles.

Scale story (the reason this wave exists): at 100 TB the coarse scan
of a probe reads 16-48 B/vector from the persisted index instead of
re-reading 256 B of floats AND paying the encode (for the 2-bit tier,
a corpus-wide percentile probe) per query batch.  Build is once,
append is O(delta), probe IO is |index|, and the float corpus is
touched only by the shortlist-bounded rerank join-back.

House rules unchanged: identical aliases both sides, fixed fold
order, deterministic tie-breaks, bounded broadcast query sets, no
all-pairs against the corpus.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from skyhookdb_ceph_spark.operators import ensure_parallelism, vectors
from skyhookdb_ceph_spark.operators.sig_index import (
    _PLANES,
    _VQ,
    K,
    NCAND,
    append_sig_index,
    build_sig_index,
    exploded_sigs,
    probe_2bit,
    probe_binary,
    recall_at_k,
    shortlist,
)
from skyhookdb_ceph_spark.operators.text_index import bm25_search
from skyhookdb_ceph_spark.queries._util import Catalog, collect_local, scratch
from skyhookdb_ceph_spark.queries.pipeline14 import (
    _KNN_BINARY_ORACLE,
    _sig_duckdb,
)
from skyhookdb_ceph_spark.queries.pipeline15 import (
    _KNN_2BIT_ORACLE_SQL,
    _THR_DUCK,
    _l1_expr,
    _plane_expr,
)
from skyhookdb_ceph_spark.registry import query

# ---------------------------------------------------------------------------
# §2.26.1 index build + read-back census
# ---------------------------------------------------------------------------

# DuckDB's bit_count returns INT8 (overflows at 115 + 14, found at
# sf0.1); Spark's returns INT.  Casting each term to BIGINT is valid
# on both engines and keeps the string shared.
_BC = "CAST(bit_count({c}) AS BIGINT)"
_BITS1 = (
    f"CAST(sum({_BC.format(c='sig_lo')} + {_BC.format(c='sig_hi')}) "
    "AS BIGINT)"
)
_BITS2 = (
    "CAST(sum("
    + " + ".join(_BC.format(c=f"p{k}{h}") for k, h in _PLANES)
    + ") AS BIGINT)"
)

_SIG2_BASE_CTES = f"""
ex AS (
  SELECT vec_id, i.pos,
    {_VQ.format(v='embedding[i.pos]')} AS v
  FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS pos) i),
thr AS (
  SELECT pos, {_THR_DUCK}
  FROM ex GROUP BY pos),
s2 AS (
  SELECT vec_id, {', '.join(_plane_expr(k, h) for k, h in _PLANES)}
  FROM ex JOIN thr USING (pos) GROUP BY vec_id),
s1 AS (
  SELECT vec_id,
    {_sig_duckdb('embedding', 1, 32)} AS sig_lo,
    {_sig_duckdb('embedding', 33, 64)} AS sig_hi
  FROM embeddings)
"""

_SIG_BUILD_ORACLE = f"""
WITH {_SIG2_BASE_CTES}
SELECT CAST(s1.vec_id % 16 AS BIGINT) AS shard,
  CAST(count(*) AS BIGINT) AS n_vectors,
  {_BITS1} AS bits_1bit,
  {_BITS2} AS bits_2bit
FROM s1 JOIN s2 USING (vec_id)
GROUP BY 1 ORDER BY 1
"""


@query(
    "q_vec_sig_build",
    oracle=_SIG_BUILD_ORACLE,
    tags=("vector", "similarity", "layout", "scale-design"),
)
def q_vec_sig_build(spark, sf_dir):
    """Signature index BUILD as a persisted layout: one encode pass
    (posexplode -> broadcast 64-row threshold join -> keyed packing
    aggregation, all JVM) writes both cascade tiers' signatures —
    16 B sign bits + 48 B thermometer planes per vector — plus the
    quartile threshold sidecar (the index parameters an append job
    must reuse).  The verdict table is a 16-shard census of the
    READ-BACK layout (counts + popcount mass per tier), which the
    oracle re-derives by encoding directly from the float corpus:
    persisted-and-reloaded == computed-fresh, shard by shard.

    At 100 TB this build is the once-per-corpus cost the r13 §P.8
    decade curve attributed to every probe ("the per-execution
    signature build ... at 100 TB is the persisted index"); after it,
    probes pay 16-48 B/vector of index IO instead of 256 B of floats
    plus a corpus-wide percentile pass.  Matches the IVF family's
    lifecycle (q_vec_ivf_build) for the signature tiers."""
    with scratch("skyhook_sigbuild_") as tmp:
        build_sig_index(spark, Catalog(spark, sf_dir).embeddings, tmp)
        idx = spark.read.parquet(f"{tmp}/sigs")
        out = (
            idx.groupBy(
                (F.col("vec_id") % 16).cast("bigint").alias("shard")
            )
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
                F.expr(_BITS1).alias("bits_1bit"),
                F.expr(_BITS2).alias("bits_2bit"),
            )
            .orderBy("shard")
        )
        return collect_local(out)


# ---------------------------------------------------------------------------
# §2.26.2-3 probe-only cascade queries (persisted-index reads)
# ---------------------------------------------------------------------------


@query(
    "q_sim_knn_binary_indexed",
    oracle=_KNN_BINARY_ORACLE,
    tags=("llm", "similarity", "layout", "scale-design"),
)
def q_sim_knn_binary_indexed(spark, sf_dir):
    """q_sim_knn_binary's cascade run PROBE-ONLY against the persisted
    index: the coarse Hamming stage reads (vec_id, sig_lo, sig_hi)
    from the layout q_vec_sig_build wrote — no sign packing, no
    embedding scan before the rerank join-back (plan-asserted in
    tests/test_sig_index.py: the probe plan contains no shiftleft /
    posexplode / percentile).  The oracle is the IDENTICAL SQL as the
    per-execution tier: persisting the index must not change a single
    answer row.

    The build runs inside this query (fixture lifecycle, same as
    q_vec_ivf_build); tools/scale_smoke.py measures the probe with
    the build amortized out — at 100 TB the build is once and this
    query's marginal cost is the 16 B/vector coarse scan plus the
    |Q| x 100 rerank."""
    e = ensure_parallelism(Catalog(spark, sf_dir).embeddings)
    with scratch("skyhook_sigidx1_") as tmp:
        build_sig_index(spark, e, tmp)
        out = probe_binary(e, spark.read.parquet(f"{tmp}/sigs"))
        return collect_local(out)


@query(
    "q_sim_knn_2bit_indexed",
    oracle=_KNN_2BIT_ORACLE_SQL,
    tags=("llm", "similarity", "layout", "scale-design"),
)
def q_sim_knn_2bit_indexed(spark, sf_dir):
    """q_sim_knn_2bit's cascade run PROBE-ONLY against the persisted
    index: the coarse L1 stage reads the six plane-half columns
    (48 B/vector) from the layout — the corpus-wide quartile probe
    and the thermometer packing ran once at build and are absent from
    the probe plan (plan-asserted).  Oracle identical to the
    per-execution tier.  This is the operating point the r13 recall
    ladder priced (recall@5 0.92 at shortlist 100): with the index
    persisted, its per-query cost drops to the same two-instruction
    bit_count(xor) scan as the 1-bit tier, at 3x the index bytes."""
    e = ensure_parallelism(Catalog(spark, sf_dir).embeddings)
    with scratch("skyhook_sigidx2_") as tmp:
        build_sig_index(spark, e, tmp)
        out = probe_2bit(e, spark.read.parquet(f"{tmp}/sigs"))
        return collect_local(out)


# ---------------------------------------------------------------------------
# §2.26.4 incremental append under the frozen-parameter rule
# ---------------------------------------------------------------------------

_DELTA_PRED = "vec_id % 10 = 7"

_SIG_INC_ORACLE = f"""
WITH ex AS (
  SELECT vec_id, i.pos,
    {_VQ.format(v='embedding[i.pos]')} AS v
  FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS pos) i),
thr AS (
  SELECT pos, {_THR_DUCK}
  FROM ex WHERE NOT ({_DELTA_PRED}) GROUP BY pos),
s2 AS (
  SELECT vec_id, {', '.join(_plane_expr(k, h) for k, h in _PLANES)}
  FROM ex JOIN thr USING (pos) GROUP BY vec_id),
s1 AS (
  SELECT vec_id,
    {_sig_duckdb('embedding', 1, 32)} AS sig_lo,
    {_sig_duckdb('embedding', 33, 64)} AS sig_hi
  FROM embeddings)
SELECT CAST(CASE WHEN s1.vec_id % 10 = 7 THEN 1 ELSE 0 END AS INT)
    AS is_delta,
  CAST(count(*) AS BIGINT) AS n_vectors,
  {_BITS1} AS bits_1bit,
  {_BITS2} AS bits_2bit
FROM s1 JOIN s2 USING (vec_id)
GROUP BY 1 ORDER BY 1
"""


@query(
    "q_vec_sig_incremental",
    oracle=_SIG_INC_ORACLE,
    tags=("vector", "layout", "scale-design"),
)
def q_vec_sig_incremental(spark, sf_dir):
    """Incremental signature-index MAINTENANCE: newly arriving
    vectors (the {_DELTA_PRED} cohort) are encoded with the BASE
    corpus's FROZEN quartile thresholds and appended into the
    existing layout — new row files only, base files untouched
    (append-only proven in tests/test_sig_index.py).  Rebuilding per
    ingest batch costs O(corpus) encode + write; appending costs
    O(delta).

    The frozen-parameter rule is the whole point (the
    q_vec_ivf_incremental nb lesson, now for 192 real-valued
    thresholds): re-deriving quartiles from the grown corpus would
    silently shift plane bits of EXISTING vectors' would-be
    encodings, so index and corpus would disagree about what a
    signature means.  The oracle pins it by computing thr from the
    base cohort only — if the implementation re-derived from the full
    corpus, the delta cohort's plane popcounts (bits_2bit) would
    mismatch.  The 1-bit tier has no parameters (sign vs 0), so its
    column doubles as the append-integrity check.

    Runs the production lifecycle: build_sig_index on the base cohort,
    append_sig_index (which reads the stored params/) on the delta.
    The layout has no cohort column, so is_delta is derived from
    vec_id on read.  Encoding both cohorts in one pass and writing
    once would be cheaper here, but would no longer exercise the
    append-only lifecycle this query exists to pin."""
    e = Catalog(spark, sf_dir).embeddings
    with scratch("skyhook_siginc_") as tmp:
        build_sig_index(spark, e.filter(f"NOT ({_DELTA_PRED})"), tmp)
        append_sig_index(spark, e.filter(_DELTA_PRED), tmp)
        idx = spark.read.parquet(f"{tmp}/sigs")
        out = (
            idx.groupBy(F.expr(_DELTA_PRED).cast("int").alias("is_delta"))
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
                F.expr(_BITS1).alias("bits_1bit"),
                F.expr(_BITS2).alias("bits_2bit"),
            )
            .orderBy("is_delta")
        )
        return collect_local(out)


# ---------------------------------------------------------------------------
# §2.26.5 recall ladder on a CLUSTERED (realistic) corpus
# ---------------------------------------------------------------------------

# Deterministic label-centered mixture corpus, derived from vec_id by
# pure integer arithmetic so BOTH engines materialize bit-identical
# doubles (no RNG, oracle-reproducible — the q_sample_hash rule):
#   label   = vec_id % 8
#   center  = ((label + d*101) % 9 - 4) * 0.5          per dim d
#   noise   = (u1 + u2 + u3 + u4 - 2) * 0.75           Irwin-Hall(4)
#   u_k     = ((vec_id*A_k + d*B_k) % 2^20) / 2^20
# Every term is dyadic (the 2^20 modulus makes u_k exact in double;
# centers are halves; 0.75 is 3/4), magnitudes stay < 8, so the sum
# is EXACT double arithmetic — no 1-ulp parity risk before the
# cosine folds, which both engines run in the same left-to-right
# order.  Labels separate by >= 0.5 per dim in EVERY dim (101 = 2
# mod 9 walks all residues; label deltas 1..8 are nonzero mod 9)
# against noise sigma ~ 0.43/dim: same-label cosines cluster high,
# cross-label low — the structure real embedding corpora have and
# the isotropic fixture (r13 §P.8 ladder) deliberately lacks.

_MIX_A = (2654435761, 40503, 2246822519, 3266489917)
_MIX_B = (97, 1009, 8191, 524287)


def _clustered_expr(duck: bool) -> str:
    open_ = (
        "list_transform(generate_series(1, 64)"
        if duck
        else "transform(sequence(1, 64)"
    )

    def u(a: int, b: int) -> str:
        # vec_id pre-modded by 2^31-1: the scale fixtures carry
        # vec_ids up to ~3e11, and id * 3.3e9 overflows BIGINT under
        # ANSI (the q_sample_hash / r12-sf3 lesson) — the registered
        # fixture never trips it, a 100 TB corpus would.
        return (
            f"(CAST(((vec_id % 2147483647) * {a} + d * {b}) % 1048576 "
            "AS DOUBLE) / 1048576.0)"
        )

    noise = (
        "("
        + " + ".join(u(a, b) for a, b in zip(_MIX_A, _MIX_B))
        + " - 2.0) * 0.75"
    )
    center = "CAST(((vec_id % 8) + d * 101) % 9 - 4 AS DOUBLE) * 0.5"
    return f"{open_}, d -> {center} + {noise})"


def _clustered_recall_oracle() -> str:
    planes_duck = ", ".join(_plane_expr(k, h) for k, h in _PLANES)
    qz = "floor(({e}) * 1000000 + 0.5) / 1000000"
    exact_cos = qz.format(e=vectors.cosine_duckdb("d.emb", "q.qv"))
    rr_cos = qz.format(e=vectors.cosine_duckdb("e.emb", "q.qv"))

    def tier(tag, cand_cte):
        return f"""
a_{tag} AS (
  SELECT qid, vec_id FROM (
    SELECT c.qid, c.vec_id,
      row_number() OVER (PARTITION BY c.qid ORDER BY {rr_cos} DESC,
        c.vec_id) AS rnk
    FROM {cand_cte} c
    JOIN cl e ON e.vec_id = c.vec_id
    JOIN q ON q.qid = c.qid)
  WHERE rnk <= {K}),
r_{tag} AS (
  SELECT '{tag}' AS tier, exact.qid,
    CAST(count(a_{tag}.vec_id) AS BIGINT) AS n_hits,
    floor(CAST(count(a_{tag}.vec_id) AS DOUBLE) / {K} * 1000000
      + 0.5) / 1000000 AS recall
  FROM exact LEFT JOIN a_{tag}
    ON a_{tag}.qid = exact.qid AND a_{tag}.vec_id = exact.vec_id
  GROUP BY exact.qid)"""

    return f"""
WITH cl AS (
  SELECT vec_id, {_clustered_expr(True)} AS emb FROM embeddings),
q AS (SELECT vec_id AS qid, emb AS qv FROM cl WHERE vec_id % 100 = 0),
exact AS (
  SELECT qid, vec_id FROM (
    SELECT q.qid, d.vec_id,
      row_number() OVER (PARTITION BY q.qid ORDER BY {exact_cos} DESC,
        d.vec_id) AS rnk
    FROM cl d, q WHERE d.vec_id <> q.qid)
  WHERE rnk <= {K}),
s1 AS (
  SELECT vec_id,
    {_sig_duckdb('emb', 1, 32)} AS sig_lo,
    {_sig_duckdb('emb', 33, 64)} AS sig_hi
  FROM cl),
q1 AS (SELECT vec_id AS qid, sig_lo AS q_lo, sig_hi AS q_hi
       FROM s1 WHERE vec_id % 100 = 0),
c1 AS (
  SELECT qid, vec_id FROM (
    SELECT q.qid, s.vec_id,
      row_number() OVER (PARTITION BY q.qid ORDER BY
        CAST(bit_count(xor(s.sig_lo, q.q_lo))
           + bit_count(xor(s.sig_hi, q.q_hi)) AS INT), s.vec_id) AS cr
    FROM s1 s, q1 q WHERE s.vec_id <> q.qid)
  WHERE cr <= {NCAND}),
ex AS (
  SELECT vec_id, i.pos, {_VQ.format(v='emb[i.pos]')} AS v
  FROM cl, (SELECT unnest(generate_series(1, 64)) AS pos) i),
thr AS (SELECT pos, {_THR_DUCK} FROM ex GROUP BY pos),
s2 AS (
  SELECT vec_id, {planes_duck}
  FROM ex JOIN thr USING (pos) GROUP BY vec_id),
q2 AS (SELECT vec_id AS qid,
         {', '.join(f'p{k}{h} AS q{k}{h}' for k, h in _PLANES)}
       FROM s2 WHERE vec_id % 100 = 0),
c2 AS (
  SELECT qid, vec_id FROM (
    SELECT q.qid, s.vec_id,
      row_number() OVER (PARTITION BY q.qid ORDER BY
        CAST({_l1_expr()} AS INT), s.vec_id) AS cr
    FROM s2 s, q2 q WHERE s.vec_id <> q.qid)
  WHERE cr <= {NCAND}),{tier('bin1', 'c1')},{tier('thermo2', 'c2')}
SELECT * FROM r_bin1
UNION ALL
SELECT * FROM r_thermo2
ORDER BY tier, qid
"""


@query(
    "q_sim_recall_clustered",
    oracle=_clustered_recall_oracle(),
    tags=("llm", "similarity", "audit"),
)
def q_sim_recall_clustered(spark, sf_dir):
    """The recall ladder re-measured on a CLUSTERED corpus — the r13
    §P.8 audits all ran on the fixture's isotropic random vectors,
    the quantization WORST case (cosines pile up near 0, sign bits
    carry minimal signal).  Real embedding corpora are clustered;
    this audit builds a deterministic label-centered mixture from
    vec_id alone (8 Gaussian-ish clusters via Irwin-Hall hash noise —
    dyadic-exact arithmetic, bit-identical in both engines, see
    _clustered_expr) and runs BOTH signature tiers' full cascades
    (shortlist 100 + exact rerank) against brute-force ground truth.

    Output is per-query per-tier recall@5 — the clustered column of
    the §P.8 ladder.  MEASURED at sf0.1: mean recall@5 = 1.00 for
    both tiers (vs 0.67 / 0.92 isotropic): on clustered data the
    cheap tiers are essentially exact, which is WHY production
    vector stores ship binary quantization as the default tier and
    why the isotropic numbers should be read as a floor, not an
    expectation.  Same plan shape as the shipped cascades: encode
    passes are keyed aggregations, query sets broadcast; the exact
    ground-truth stage is brute force vs the BROADCAST query set
    (|corpus| x |Q| float cosines — the accepted audit pattern), and
    corpus-x-corpus is what is avoided."""
    cl = ensure_parallelism(Catalog(spark, sf_dir).embeddings).selectExpr(
        "vec_id", _clustered_expr(False) + " AS embedding"
    )
    # one encode pass yields BOTH tiers' signatures (the machinery the
    # persisted index writes); each tier runs the shipped cascade
    sigs = exploded_sigs(cl)
    tiers = [
        recall_at_k(cl, *shortlist(cl, sigs, dist))
        .selectExpr(f"'{tier}' AS tier", "qid", "n_hits", "recall")
        for dist, tier in (("ham", "bin1"), ("l1", "thermo2"))
    ]
    return tiers[0].unionByName(tiers[1]).orderBy("tier", "qid")


# ---------------------------------------------------------------------------
# §2.26.6 the late-data contract, pinned (out-of-order replay)
# ---------------------------------------------------------------------------

_LATE_PRED = "event_id % 20 = 3"  # the 5% late cohort
_LATE_SPLIT = "2024-01-16"  # mid-fixture: file0 = on-time before this
_LATE_DELAY_S = 607  # prime, so max(ts) - delay never lands on a
# 30-min window boundary at any fixture (checked per fixture)

_LATE_ORACLE = f"""
WITH b AS (
  SELECT max(CASE WHEN NOT ({_LATE_PRED})
                   AND ts < TIMESTAMP '{_LATE_SPLIT}' THEN ts END)
           - INTERVAL {_LATE_DELAY_S} SECOND AS wm0,
         max(ts) - INTERVAL {_LATE_DELAY_S} SECOND AS wmf
  FROM events),
kept AS (
  SELECT time_bucket(INTERVAL '30 minutes', ts) AS wstart
  FROM events, b
  WHERE (NOT ({_LATE_PRED})
         OR time_bucket(INTERVAL '30 minutes', ts) + INTERVAL 30 MINUTE
            > b.wm0)
    AND time_bucket(INTERVAL '30 minutes', ts) + INTERVAL 30 MINUTE
        <= b.wmf)
SELECT CAST(epoch(wstart) AS BIGINT) AS ws,
  CAST(count(*) AS BIGINT) AS cnt
FROM kept GROUP BY 1
"""


@query(
    "q_stream_late_data",
    oracle=_LATE_ORACLE,
    tags=("stream", "live-stream", "divergence-pin"),
)
def q_stream_late_data(spark, sf_dir):
    """The LATE-DATA contract of watermarked append aggregation,
    pinned by a deliberately out-of-order replay — the surface the v4
    fuzzer's time-ordered replays keep deterministic by avoiding, here
    made deterministic by CONTROLLING it instead.  Three-batch replay:
    file0 = on-time rows before {_LATE_SPLIT}, file1 = the remaining
    on-time rows, file2 = the late cohort ({_LATE_PRED}, 5% of rows,
    historic timestamps replayed LAST).

    What Spark 4.1.2 actually does (calibrated batch-by-batch via
    StreamingQueryProgress before this oracle was written, and the
    folk model is WRONG on two counts):
    1. A below-watermark row is NOT unconditionally dropped.  It is
       dropped iff its window's state was already emitted+evicted
       (here: windows closed by wm0 = max(file0 ts) - delay, the
       watermark in force when file2 arrives; the engine's own
       numRowsDroppedByWatermark counter confirms exactly that
       subset, 26 of 50 at sf0.001).  The watermark bounds STATE
       LIFETIME; it is not an admission filter.
    2. Below-watermark rows whose window state is still resident are
       MERGED and included in the window's single append emission
       (the 2-batch variant of this replay emits counts including
       100% of the late cohort, dropped-counter 0).
    The emission gate is the one q_stream_watermark_append pinned:
    a window row appears iff window_end <= final watermark
    (max ts seen - delay).  The oracle states all three clauses
    declaratively: kept = on-time rows + late rows with window_end >
    wm0, emitted = window_end <= wmf.

    At 100 TB the practical reading: sizing the watermark delay is
    about WHERE late data stops being merged — a row later than
    (delay + one trigger interval) behind the front is silently
    lost, and the loss boundary moves with micro-batch timing, which
    is why this pin replays a FIXED batching (3 files,
    maxFilesPerTrigger=1) rather than trusting wall-clock accident."""
    import os

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from skyhookdb_ceph_spark.streaming import replay

    t = pq.read_table(f"{sf_dir}/events.parquet")
    # the catalog's ts-unit sniff applies to the stream read-back;
    # the split here just routes rows to files (comparisons work in
    # either unit since the whole table shares one)
    import pyarrow as pa

    ids = t["event_id"]
    late = pc.equal(
        pc.subtract(ids, pc.multiply(pc.divide(ids, 20), 20)), 3
    )
    split_ts = pa.scalar(
        __import__("datetime").datetime.fromisoformat(_LATE_SPLIT),
        type=t["ts"].type,
    )
    early = pc.and_(pc.invert(late), pc.less(t["ts"], split_ts))
    mid = pc.and_(pc.invert(late), pc.invert(pc.less(t["ts"], split_ts)))
    with scratch("skyhook_late_") as tmp:
        for i, mask in enumerate((early, mid, late)):
            p = t.filter(mask)
            p = p.take(pc.sort_indices(p, sort_keys=[("ts", "ascending")]))
            path = f"{tmp}/part-0{i}.parquet"
            pq.write_table(p, path)
            os.utime(path, (1000 + i, 1000 + i))
        stream = replay.events_stream(
            spark, tmp, glob="*.parquet",
            options={"maxFilesPerTrigger": "1"},
        )
        agg = (
            stream.withWatermark("ts", f"{_LATE_DELAY_S} seconds")
            .groupBy(F.window("ts", "30 minutes"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        )
        sink = replay.drain_to_memory(
            agg, output_mode="append", needs_watermark_batch=True
        )
        out = sink.selectExpr("CAST(window.start AS LONG) AS ws", "cnt")
        return collect_local(out)


# ---------------------------------------------------------------------------
# §2.26.7 hybrid retrieval fusion (BM25 + ANN -> reciprocal-rank fusion)
# ---------------------------------------------------------------------------

_RRF_K = 60  # the standard RRF constant
_RRF_SHORTLIST = 50  # per-leg candidates
_RRF_TOPK = 10

_RRF_ORACLE = f"""
WITH u AS (
  SELECT d.doc_id, d.text, e.embedding
  FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
  WHERE d.doc_id <> 0),
qv AS (SELECT embedding AS v FROM embeddings WHERE vec_id = 0),
d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM u),
dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM d),
stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, avg(dl) AS avgdl
          FROM dl),
tf AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM (
    SELECT doc_id, unnest(toks) AS term FROM d) x
  WHERE term IN ('table', 'query')
  GROUP BY doc_id, term),
df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
lex AS (
  SELECT doc_id, CAST(row_number() OVER (
      ORDER BY floor(raw * 1000000 + 0.5) / 1000000 DESC, doc_id)
    AS INT) AS r_lex
  FROM (
    SELECT tf.doc_id,
      sum(ln(1 + (s.n_docs - df.df + 0.5) / (df.df + 0.5))
          * tf.tf * (1.2 + 1)
          / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / s.avgdl))) AS raw
    FROM tf JOIN df USING (term) JOIN dl USING (doc_id), stats s
    GROUP BY tf.doc_id) sc
  QUALIFY r_lex <= {_RRF_SHORTLIST}),
vec AS (
  SELECT doc_id, CAST(row_number() OVER (
      ORDER BY floor(({{cos}}) * 1000000 + 0.5) / 1000000 DESC, doc_id)
    AS INT) AS r_vec
  FROM u, qv
  QUALIFY r_vec <= {_RRF_SHORTLIST}),
fused AS (
  SELECT coalesce(lex.doc_id, vec.doc_id) AS doc_id, r_lex, r_vec,
    floor((coalesce(CAST(1.0 AS DOUBLE) / ({_RRF_K} + r_lex), 0)
         + coalesce(CAST(1.0 AS DOUBLE) / ({_RRF_K} + r_vec), 0))
        * 1000000 + 0.5)
      / 1000000 AS rrf
  FROM lex FULL JOIN vec ON lex.doc_id = vec.doc_id)
SELECT doc_id, r_lex, r_vec, rrf,
  CAST(row_number() OVER (ORDER BY rrf DESC, doc_id) AS INT) AS rnk
FROM fused QUALIFY rnk <= {_RRF_TOPK}
"""


@query(
    "q_text_hybrid_rrf",
    oracle=_RRF_ORACLE.format(
        cos=vectors.cosine_duckdb("u.embedding", "qv.v")
    ),
    tags=("llm", "retrieval", "similarity", "text"),
)
def q_text_hybrid_rrf(spark, sf_dir):
    """Hybrid retrieval FUSION — the shape modern RAG stacks actually
    serve: a lexical leg (BM25 over the inverted-index postings, the
    q_text_bm25 scorer) and a vector leg (exact cosine vs a broadcast
    query embedding, the rerank tier of the ANN cascade) each
    shortlist top-50 over the SAME universe (documents that carry an
    embedding, query doc 0 excluded), then reciprocal-rank fusion
    combines them: score = sum over legs of 1/(60 + rank), absent leg
    contributes 0.  RRF needs no score calibration between legs —
    which is why it is the default fusion everywhere — and its
    arithmetic is engine-exact here: ranks are integers (quantized
    scores + doc_id tiebreaks), 1/(60+r) divides identical integers
    to identical doubles, and the two-term sum has a fixed order.

    Plan shape: both legs are shortlist-bounded (50 rows each) before
    the FULL OUTER fusion join, so fusion cost is independent of
    corpus size; the lexical leg shuffles only (doc, term) postings
    matching the 2 query terms; the vector leg broadcasts one query
    vector and never shuffles the corpus; stats/df are tiny
    broadcasts.  At 100 TB each leg is its own indexed retrieval
    (inverted index / ANN cascade) and RRF stays a 100-row join."""
    docs = Catalog(spark, sf_dir).documents
    emb = ensure_parallelism(Catalog(spark, sf_dir).embeddings)
    u = docs.join(
        emb.selectExpr("vec_id AS doc_id", "embedding"), "doc_id"
    ).filter("doc_id <> 0")
    qv = emb.filter("vec_id = 0").selectExpr("embedding AS v")

    # each leg: distributed TakeOrdered top-50 FIRST, then ranks over
    # the 50-row result — the global row_number never sees more than
    # the shortlist (a bare corpus-wide ranking window would funnel
    # the whole leg through one task at 100 TB); the (score DESC,
    # doc_id) total order makes limit-then-rank identical to
    # rank-then-filter
    lex = bm25_search(
        u.select("doc_id", "text"), ("table", "query"), _RRF_SHORTLIST
    ).selectExpr("doc_id", "rnk AS r_lex")
    w_vec = Window.orderBy(F.desc("sim"), F.asc("doc_id"))
    vec = (
        u.crossJoin(F.broadcast(qv))
        .selectExpr(
            "doc_id",
            f"floor(({vectors.cosine_expr('embedding', 'v')}) * 1000000"
            " + 0.5) / 1000000 AS sim",
        )
        .orderBy(F.desc("sim"), F.asc("doc_id"))
        .limit(_RRF_SHORTLIST)
        .withColumn("r_vec", F.row_number().over(w_vec).cast("int"))
        .select("doc_id", "r_vec")
    )
    fused = (
        lex.join(vec, "doc_id", "full")
        .selectExpr(
            "doc_id",
            "r_lex",
            "r_vec",
            # CAST the literal: both engines parse bare 1.0 as DECIMAL
            # and the decimal quotient leaks into the output dtype
            f"floor((coalesce(CAST(1.0 AS DOUBLE) / ({_RRF_K} + r_lex), 0)"
            f" + coalesce(CAST(1.0 AS DOUBLE) / ({_RRF_K} + r_vec), 0))"
            " * 1000000 + 0.5) / 1000000 AS rrf",
        )
    )
    w = Window.orderBy(F.desc("rrf"), F.asc("doc_id"))
    return (
        fused.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= _RRF_TOPK)
        .select("doc_id", "r_lex", "r_vec", "rrf", "rnk")
    )
