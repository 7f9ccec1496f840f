"""Round-13 wave (SURVEY.md §2.25).

Closing the r12 verdict's remaining surface items:

1. q_sql_empty_rollup — the one REAL engine divergence the
   differential fuzzer ever found (r12, grammar v2), promoted from a
   known-divergence branch inside tools/fuzz_differential.compare()
   to a first-class registered artifact: Spark's GROUP BY ROLLUP /
   CUBE over EMPTY input returns 0 rows, while the SQL standard (and
   DuckDB) yield the grand-total row (count 0, aggregates NULL).
   The query ships the production WORKAROUND idiom — union the
   globally-aggregated grand row guarded by `cnt = 0`, which is
   branch-free and correct at ANY input cardinality — and the oracle
   is the plain standard ROLLUP, so the pair pins both the
   divergence and its fix.

2. q_sim_knn_2bit — the 2-bit-per-dim thermometer-code ANN tier
   between the 1-bit sign cascade and full floats: per-dim QUARTILE
   thresholds from a measured probe (the seventh measured-stats
   consumer), 3 bit planes per dim, L1-as-Hamming coarse scan.
   Closes the recall ladder the r12 verdict asked for: 0.92 recall@5
   at the same shortlist-100 budget where the 1-bit tier measures
   0.67 (audited by q_sim_2bit_recall, the third recall audit).
   The encode, the L1 shortlist, the rerank and the recall count are
   operators/sig_index.py's; this module keeps the queries and their
   DuckDB oracles.

House rules unchanged: identical aliases both sides, deterministic
everything, no all-pairs, no corpus-sized collect().
"""

from __future__ import annotations

from pyspark.sql import functions as F

from skyhookdb_ceph_spark.operators import ensure_parallelism, vectors
from skyhookdb_ceph_spark.operators.sig_index import (
    _PLANES,
    _TQ,
    _VQ,
    K,
    NCAND,
    exploded_sigs,
    probe_2bit,
    recall_at_k,
    shortlist,
)
from skyhookdb_ceph_spark.queries._util import Catalog
from skyhookdb_ceph_spark.registry import query

# ---------------------------------------------------------------------------
# §2.25.1 empty-input ROLLUP: the fuzzer-found divergence, pinned
# ---------------------------------------------------------------------------

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


# ---------------------------------------------------------------------------
# §2.25.2-3 two-bit thermometer-code ANN tier + its recall audit
# ---------------------------------------------------------------------------

# Thermometer (unary) encoding: per dim, three bits b_k = (v > t_k)
# against the per-dim quartiles t1 < t2 < t3, one bit PLANE per
# quartile.  L1 distance between the 2-bit quantized levels equals
# plain Hamming distance over the planes:
#   |level_a - level_b| = popcount(thermo_a XOR thermo_b)  (per dim)
# so the coarse metric stays two CPU instructions per candidate —
# bit_count(xor) per plane-half — exactly like the 1-bit tier, at 3x
# the index bytes (6 BIGINTs = 48 B/vector vs 16).
#
# The oracle encodes with its own DuckDB twins of the planes and the
# L1 scan below; the 1e-6 grid templates (_VQ, _TQ) and the plane
# order are the index's (operators/sig_index.py).  The thresholds agree
# because Spark percentile() and DuckDB quantile_cont() share the
# linear-interpolation definition and any last-ulp drift collapses
# under the same quantization (verified cell-exact on the fixture).


def _plane_expr(k: int, half: str) -> str:
    """One packed plane-half: bit (pos-1)%32 set iff v_q > t_k."""
    lo, hi = (1, 32) if half == "l" else (33, 64)
    return (
        f"CAST(sum(CASE WHEN pos BETWEEN {lo} AND {hi} AND v > t{k} "
        f"THEN (CAST(1 AS BIGINT) << (pos - {lo})) ELSE CAST(0 AS BIGINT) "
        f"END) AS BIGINT) AS p{k}{half}"
    )


def _l1_expr() -> str:
    # DuckDB's bit_count returns INT8 and + propagates it, so the
    # six-term chain overflows once a partial sum passes 127 — the
    # isotropic fixture stays under by luck, a clustered corpus does
    # not (found by q_sim_recall_clustered, r14).  Cast each term.
    return " + ".join(
        f"CAST(bit_count(xor(s.p{k}{h}, q.q{k}{h})) AS BIGINT)"
        for k, h in _PLANES
    )


# Thresholds interpolate over the QUANTIZED v (the ex CTE), exactly
# like the Spark twin's percentile-over-v — interpolating over raw
# values can land one 1e-6 grid step away from the quantized-input
# result and flip a plane bit on one engine only (r13 ADVICE).
_THR_DUCK = ", ".join(
    _TQ.format(fn="quantile_cont", arg="v", p=p) + f" AS t{k}"
    for k, p in ((1, 0.25), (2, 0.50), (3, 0.75))
)

_SIG2_CTES = f"""
ex AS (
  SELECT vec_id, i.pos,
    {_VQ.format(v='embedding[i.pos]')} AS v
  FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS pos) i),
thr AS (
  SELECT pos, {_THR_DUCK}
  FROM ex
  GROUP BY pos),
s AS (
  SELECT vec_id, {', '.join(_plane_expr(k, h) for k, h in _PLANES)}
  FROM ex JOIN thr USING (pos) GROUP BY vec_id),
q AS (
  SELECT s.vec_id AS qid, e.embedding AS qv,
    {', '.join(f's.p{k}{h} AS q{k}{h}' for k, h in _PLANES)}
  FROM s JOIN embeddings e ON e.vec_id = s.vec_id
  WHERE s.vec_id % 100 = 0),
h AS (
  SELECT q.qid, s.vec_id,
    CAST({_l1_expr()} AS INT) AS l1
  FROM s, q WHERE s.vec_id <> q.qid)
"""

_KNN_2BIT_ORACLE = f"""
WITH {_SIG2_CTES},
cand AS (
  SELECT qid, vec_id, l1,
    row_number() OVER (PARTITION BY qid ORDER BY l1, vec_id) AS cr
  FROM h),
rr AS (
  SELECT c.qid, c.vec_id, c.l1,
    floor(({{cos}}) * 1000000 + 0.5) / 1000000 AS sim
  FROM cand c
  JOIN embeddings e ON e.vec_id = c.vec_id
  JOIN q ON q.qid = c.qid
  WHERE c.cr <= {NCAND}),
rk AS (
  SELECT qid, vec_id, l1, sim,
    CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id)
      AS INT) AS rnk
  FROM rr)
SELECT qid, vec_id, l1, sim, rnk FROM rk WHERE rnk <= {K}
"""


# Formatted once: also the oracle of the persisted-index probe
# (pipeline16.q_sim_knn_2bit_indexed), which must return answers
# identical to this per-execution-encode tier.
_KNN_2BIT_ORACLE_SQL = _KNN_2BIT_ORACLE.format(
    cos="list_aggregate(list_transform(generate_series(1, 64), "
    "j -> CAST(e.embedding[j] AS DOUBLE) * CAST(q.qv[j] AS DOUBLE)), "
    "'sum') / (sqrt(list_aggregate(list_transform(generate_series(1, "
    "64), j -> CAST(e.embedding[j] AS DOUBLE) * CAST(e.embedding[j] "
    "AS DOUBLE)), 'sum')) * sqrt(list_aggregate(list_transform("
    "generate_series(1, 64), j -> CAST(q.qv[j] AS DOUBLE) * "
    "CAST(q.qv[j] AS DOUBLE)), 'sum')))"
)


@query(
    "q_sim_knn_2bit",
    oracle=_KNN_2BIT_ORACLE_SQL,
    tags=("llm", "similarity", "scale-design"),
)
def q_sim_knn_2bit(spark, sf_dir):
    """Two-bit-per-dim quantized ANN — the tier between the 1-bit
    sign cascade (q_sim_knn_binary) and full floats, and the third
    recall lever the r12 verdict named (beside shortlist width and
    multiprobe): per dim, quantize the value into 4 levels against
    the corpus's own per-dim QUARTILES (a measured probe — the
    seventh measured-stats consumer: the thresholds come from one
    percentile aggregation over the exploded corpus, not a static
    assumption about the distribution), thermometer-encode the level
    into 3 bit planes, and search coarse candidates by L1 distance —
    which under thermometer coding IS Hamming distance over the
    planes, so the scan stays bit_count(xor) per plane: the same two
    CPU instructions per candidate as the 1-bit tier at 3x the index
    bytes (48 B/vector vs 16, still 5.3x smaller than float32).

    Why it beats sign bits on hard (isotropic) corpora: sign
    quantization keeps 1 bit of each dim's magnitude; quartile
    thermometer coding keeps 2, and the L1 metric weights disagreement
    by HOW FAR apart the quantized levels are, so near-tie neighbors
    stop being coarse-indistinguishable.  Measured on the fixture
    (the recall audit below): recall@5 = 0.92 at shortlist 100 vs
    0.67 for the 1-bit tier at the same shortlist budget.

    Plan shape identical to the 1-bit cascade: signature projection
    (one posexplode pass + broadcast 64-row threshold join + keyed
    packing aggregation, all JVM), bounded query set broadcasts, the
    float corpus never rides the coarse cross-score, candidates
    re-enter by vec_id equi-join for the exact rerank.  The encode is
    sig_index.exploded_sigs and the cascade its probe_2bit — the same
    probe the persisted tier runs over a read-back index."""
    e = ensure_parallelism(Catalog(spark, sf_dir).embeddings)
    return probe_2bit(e, exploded_sigs(e))


def _bit2_recall_oracle() -> str:
    qz = "floor(({e}) * 1000000 + 0.5) / 1000000"
    exact_cos = qz.format(e=vectors.cosine_duckdb("d.embedding", "q.qv"))
    rr_cos = qz.format(e=vectors.cosine_duckdb("e.embedding", "q.qv"))
    return f"""
WITH {_SIG2_CTES},
exact AS (
  SELECT qid, vec_id FROM (
    SELECT q.qid, d.vec_id,
      row_number() OVER (PARTITION BY q.qid ORDER BY
        {exact_cos} DESC, d.vec_id) AS rnk
    FROM embeddings d, q WHERE d.vec_id <> q.qid)
  WHERE rnk <= {K}),
cand AS (
  SELECT qid, vec_id FROM (
    SELECT qid, vec_id,
      row_number() OVER (PARTITION BY qid ORDER BY l1, vec_id) AS cr
    FROM h)
  WHERE cr <= {NCAND}),
approx AS (
  SELECT qid, vec_id FROM (
    SELECT c.qid, c.vec_id,
      row_number() OVER (PARTITION BY c.qid ORDER BY
        {rr_cos} DESC, c.vec_id) AS rnk
    FROM cand c
    JOIN embeddings e ON e.vec_id = c.vec_id
    JOIN q ON q.qid = c.qid)
  WHERE rnk <= {K})
SELECT exact.qid,
  CAST(count(approx.vec_id) AS BIGINT) AS n_hits,
  floor(CAST(count(approx.vec_id) AS DOUBLE) / {K} * 1000000 + 0.5)
    / 1000000 AS recall
FROM exact LEFT JOIN approx
  ON approx.qid = exact.qid AND approx.vec_id = exact.vec_id
GROUP BY exact.qid
"""


@query(
    "q_sim_2bit_recall",
    oracle=_bit2_recall_oracle(),
    tags=("llm", "similarity", "audit"),
)
def q_sim_2bit_recall(spark, sf_dir):
    """Recall audit for the 2-bit thermometer tier — the same
    audit-the-shipped-operator protocol as q_sim_binary_recall (and
    q_dedup_minhash_recall before it): per query, recall@5 of
    q_sim_knn_2bit's answer (L1 shortlist of 100 + exact cosine
    rerank) against the exact brute-force cosine top-5.

    MEASURED at sf0.1: mean recall@5 = 0.92 at the shared
    shortlist-100 budget, vs 0.67 for the 1-bit sign tier at the
    same budget (q_sim_binary_recall) — two extra bits of per-dim
    magnitude buy +0.25 recall on the isotropic worst-case fixture
    for 3x the index bytes and identical scan instructions.  The
    recall LADDER a deployment now tunes on its own corpus:
    1-bit/shortlist-20 0.37 -> 1-bit/100 0.67 -> 2-bit/100 0.92 ->
    wider shortlists / exact.  Both paths are the shipped
    operator's (sig_index.shortlist + recall_at_k), so the audit
    measures the production cascade, not a reimplementation."""
    e = ensure_parallelism(Catalog(spark, sf_dir).embeddings)
    return recall_at_k(e, *shortlist(e, exploded_sigs(e), "l1"))
