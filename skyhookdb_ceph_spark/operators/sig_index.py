"""ANN signature index (SURVEY.md §2.24-§2.26) — the vector analog of
SkyhookDM's build-once index [U: cls_tabular.cc —
exec_build_sky_index_op]: encode the corpus once, persist the codes,
and let every probe scan 16-48 B/vector instead of 256 B of floats.

This module is the only code that knows the index.  Its frozen
parameters:

- embeddings have exactly 64 dims (`vectors.dims_checked`, the check
  every vector index shares).  Any other size, NULL included, fails
  the job with a message naming the vec_id: unchecked, the per-row
  fold would pack the dims it has (or index past the end) and the
  exploded pass would drop a NULL row from the index outright;
- 1-bit tier: bit j of ``sig_lo`` / ``sig_hi`` is set iff dim j+1 /
  j+33 > 0 (16 B/vector); the coarse metric is Hamming distance;
- 2-bit tier: per dim, three thermometer bits v > t1, t2, t3 against
  the dim's quartiles, value and thresholds both on the 1e-6 grid,
  packed as six plane-halves ``p1l`` .. ``p3h`` (48 B/vector).  L1
  between the quantized levels equals Hamming distance over the planes,
  so both tiers scan with bit_count(xor);
- ``sigs/`` = (vec_id, sig_lo, sig_hi, p1l .. p3h), ``params/`` = the
  64-row (pos, t1, t2, t3) threshold table.  An append encodes with the
  stored table: re-deriving it from the grown corpus would silently
  re-key every existing signature.

Two encoders, kept for their plan shapes: `fold_sigs` packs the 1-bit
tier with a per-row fold (a pure map — the inline tiers need no
shuffle); `_exploded` -> `_thresholds` -> `_encode` packs both tiers in
one posexplode pass under a threshold table (a keyed aggregation — the
build, the append and the inline 2-bit tier via `exploded_sigs`).

Lifecycle: `build_sig_index(spark, vectors, path)` writes sigs and
params; `append_sig_index(spark, vectors, path)` adds a delta's sigs as
new files under the stored params (base files untouched).
Reads, over any sigs frame (inline or read back): `shortlist` (each
query's top `NCAND` by Hamming or L1), `rerank` (join back to the
floats, exact top `K`), `probe_binary` / `probe_2bit` (the two
composed) and `recall_at_k` (the recall audits).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from skyhookdb_ceph_spark.operators import ensure_parallelism
from skyhookdb_ceph_spark.operators.vectors import cosine_expr, dims_checked
from skyhookdb_ceph_spark.queries._util import collect_local

K = 5  # final top-k of every tier
NCAND = 100  # coarse survivors per query.  r12 shipped 20 and measured
# recall@5 = 0.37 on the isotropic fixture; r13 widened it to 100
# (0.67), the rerank staying shortlist-bounded (+~2 ms/query)
Q_PRED = "vec_id % 100 = 0"  # the registered queries' cohort

# The 1e-6 grid: both engines quantize values AND thresholds before the
# > comparison, so a value within float noise of a quartile cannot flip
# a plane bit on one engine only.
_VQ = "floor(CAST({v} AS DOUBLE) * 1000000 + 0.5) / 1000000"
_TQ = "floor({fn}({arg}, {p}) * 1000000 + 0.5) / 1000000"

_PLANES = [(k, h) for k in (1, 2, 3) for h in ("l", "h")]
_HALVES = {"l": (1, 32), "h": (33, 64)}
_PLANE_COLS = [f"p{k}{h}" for k, h in _PLANES]
_SIG_COLS = ["sig_lo", "sig_hi", *_PLANE_COLS]

HAMMING = "bit_count(sig_lo ^ q_lo) + bit_count(sig_hi ^ q_hi)"
# distance column -> (index columns, their query-side names, Spark SQL)
_TIERS = {
    "ham": (["sig_lo", "sig_hi"], ["q_lo", "q_hi"], HAMMING),
    "l1": (
        _PLANE_COLS,
        [f"q{k}{h}" for k, h in _PLANES],
        " + ".join(f"bit_count(p{k}{h} ^ q{k}{h})" for k, h in _PLANES),
    ),
}


# ---------------------------------------------------------------------------
# encoders
# ---------------------------------------------------------------------------


def _sig_expr(lo: int, hi: int) -> str:
    """Sign-bit packing of dims [lo, hi] into one BIGINT (bit j set iff
    dim lo+j > 0).  Left-to-right fold, pure integer."""
    return (
        f"aggregate(sequence({lo}, {hi}), CAST(0 AS BIGINT), "
        "(acc, i) -> acc + IF(element_at(embedding, i) > 0, "
        f"shiftleft(CAST(1 AS BIGINT), i - {lo}), CAST(0 AS BIGINT)))"
    )


def fold_sigs(e: DataFrame) -> DataFrame:
    """(vec_id, sig_lo, sig_hi) of a vectors frame by a per-row fold:
    a pure map, so a probe over it needs no shuffle before the coarse
    cross-score."""
    return e.selectExpr(
        "vec_id",
        f"{dims_checked(_sig_expr(1, 32))} AS sig_lo",
        f"{dims_checked(_sig_expr(33, 64))} AS sig_hi",
    )


def _exploded(e: DataFrame) -> DataFrame:
    """(vec_id, pos, valf raw, v quantized) — one posexplode pass; the
    raw value feeds the sign bits, the quantized one the thresholds and
    plane bits."""
    return e.select(
        "vec_id", F.posexplode(F.expr(dims_checked("embedding"))).alias("pos0", "valf")
    ).selectExpr(
        "vec_id", "pos0 + 1 AS pos", "valf", _VQ.format(v="valf") + " AS v"
    )


def _thresholds(ex: DataFrame) -> DataFrame:
    """Per-dim quartile table (64 rows) — the index parameters, derived
    from whichever cohort the caller explodes."""
    return ex.groupBy("pos").agg(
        *[
            F.expr(_TQ.format(fn="percentile", arg="v", p=p)).alias(f"t{k}")
            for k, p in ((1, 0.25), (2, 0.50), (3, 0.75))
        ]
    )


def _pack1_expr(cond: str, lo: int, hi: int) -> str:
    """One packed BIGINT over the exploded rows: bit pos-lo set iff
    `cond` holds at pos in [lo, hi]."""
    return (
        f"CAST(sum(CASE WHEN pos BETWEEN {lo} AND {hi} AND {cond} "
        f"THEN shiftleft(CAST(1 AS BIGINT), pos - {lo}) "
        "ELSE CAST(0 AS BIGINT) END) AS BIGINT)"
    )


def _encode(ex: DataFrame, thr: DataFrame) -> DataFrame:
    """Signature rows (vec_id, sig_lo, sig_hi, p1l..p3h) of an exploded
    corpus under a threshold table: a broadcast 64-row join and one
    keyed packing aggregation, all JVM."""
    aggs = [
        F.expr(_pack1_expr("valf > 0", 1, 32)).alias("sig_lo"),
        F.expr(_pack1_expr("valf > 0", 33, 64)).alias("sig_hi"),
    ] + [
        F.expr(_pack1_expr(f"v > t{k}", *_HALVES[h])).alias(f"p{k}{h}")
        for k, h in _PLANES
    ]
    return ex.join(F.broadcast(thr), "pos").groupBy("vec_id").agg(*aggs)


def exploded_sigs(e: DataFrame) -> DataFrame:
    """Both tiers of a vectors frame, thresholds derived from the frame
    itself (the inline 2-bit tier: no persisted parameters)."""
    return _encode(_exploded(e), _thresholds(_exploded(e)))


# ---------------------------------------------------------------------------
# lifecycle: build / append
# ---------------------------------------------------------------------------


def _write_sigs(ex: DataFrame, thr: DataFrame, path: str, mode: str) -> None:
    # a pinned column order keeps appended files schema-identical
    _encode(ex, thr).select("vec_id", *_SIG_COLS).write.mode(mode).parquet(
        f"{path}/sigs"
    )


def build_sig_index(spark, vectors: DataFrame, path: str) -> None:
    """Build the index of a (vec_id, embedding) frame under ``path``:
    ``sigs/`` with both tiers, ``params/`` with the thresholds derived
    from this frame.  The 64-row table is collected once: left lazy it
    would run its posexplode + percentile pass over the corpus twice,
    inside the sigs job's broadcast and again for the params write."""
    ex = _exploded(ensure_parallelism(vectors))
    thr = collect_local(_thresholds(ex))
    _write_sigs(ex, thr, path, "overwrite")
    thr.coalesce(1).write.mode("overwrite").parquet(f"{path}/params")


def append_sig_index(spark, vectors: DataFrame, path: str) -> None:
    """Append a delta (vec_id, embedding) frame to the index at
    ``path``: encoded under the stored ``params/``, written as new
    ``sigs/`` files — O(delta), base files untouched."""
    thr = spark.read.parquet(f"{path}/params")
    _write_sigs(_exploded(ensure_parallelism(vectors)), thr, path, "append")


# ---------------------------------------------------------------------------
# reads: the one shortlist-and-rerank cascade
# ---------------------------------------------------------------------------


def shortlist(
    e: DataFrame,
    sigs: DataFrame,
    dist: str = "ham",
    q_pred: str = Q_PRED,
    ncand: int = NCAND,
) -> tuple[DataFrame, DataFrame]:
    """Coarse stage over a sigs frame: returns ``(q, cand)``, the query
    set (qid, qv) picked by `q_pred`, and each query's top `ncand`
    (qid, vec_id, <dist>) by (dist, vec_id).  `dist` is "ham" (1-bit)
    or "l1" (2-bit).  Only that tier's columns ride the broadcast
    cross-score; the floats of `e` enter only as the bounded qv."""
    cols, qcols, dist_sql = _TIERS[dist]
    sigs = sigs.select("vec_id", *cols)
    q = (
        sigs.filter(q_pred)
        .join(e.selectExpr("vec_id", "embedding AS qv"), "vec_id")
        .selectExpr(
            "vec_id AS qid",
            "qv",
            *[f"{c} AS {qc}" for c, qc in zip(cols, qcols)],
        )
    )
    scored = (
        sigs.crossJoin(F.broadcast(q.drop("qv")))
        .filter("vec_id <> qid")
        .selectExpr("qid", "vec_id", f"CAST({dist_sql} AS INT) AS {dist}")
    )
    w = Window.partitionBy("qid").orderBy(F.asc(dist), F.asc("vec_id"))
    cand = (
        scored.withColumn("cr", F.row_number().over(w))
        .filter(F.col("cr") <= ncand)
        .drop("cr")
    )
    return q.select("qid", "qv"), cand


def rerank(
    e: DataFrame,
    q: DataFrame,
    cand: DataFrame,
    score_sql: str | None = None,
    score: str = "sim",
) -> DataFrame:
    """Exact stage: the shortlist joins back to `e` by vec_id, each row
    is scored against its broadcast query vector on the 1e-6 grid
    (cosine, or `score_sql` over embedding and qv) and each query keeps its
    top K by (score DESC, vec_id) as rnk: cand's columns, `score`,
    rnk."""
    score_sql = score_sql or cosine_expr("embedding", "qv")
    rr = (
        cand.join(e.select("vec_id", "embedding"), "vec_id")
        .join(F.broadcast(q), "qid")
        .selectExpr(
            *cand.columns,
            f"floor(({score_sql}) * 1000000 + 0.5) / 1000000 AS {score}",
        )
    )
    w = Window.partitionBy("qid").orderBy(F.desc(score), F.asc("vec_id"))
    return (
        rr.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= K)
        .select(*cand.columns, score, "rnk")
    )


def probe_binary(e: DataFrame, sigs: DataFrame, q_pred: str = Q_PRED) -> DataFrame:
    """1-bit cascade (qid, vec_id, ham, sim, rnk): Hamming shortlist
    over (vec_id, sig_lo, sig_hi), exact cosine rerank.  Over a
    read-back index the plan has no encode pass at all."""
    return rerank(e, *shortlist(e, sigs, "ham", q_pred))


def probe_2bit(e: DataFrame, sigs: DataFrame, q_pred: str = Q_PRED) -> DataFrame:
    """2-bit cascade (qid, vec_id, l1, sim, rnk): L1 shortlist over the
    six plane-halves, exact cosine rerank."""
    return rerank(e, *shortlist(e, sigs, "l1", q_pred))


def recall_at_k(e: DataFrame, q: DataFrame, cand: DataFrame) -> DataFrame:
    """(qid, n_hits, recall): how many of each query's exact top K
    (brute-force cosine against the broadcast query set) the cascade's
    reranked top K over `cand` finds."""
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc("vec_id"))
    exact = (
        e.crossJoin(F.broadcast(q))
        .filter("vec_id <> qid")
        .selectExpr(
            "qid",
            "vec_id",
            f"floor(({cosine_expr('embedding', 'qv')}) * 1000000"
            " + 0.5) / 1000000 AS sim",
        )
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= K)
        .select("qid", "vec_id")
    )
    approx = rerank(e, q, cand).selectExpr(
        "qid AS aqid", "vec_id AS avid"
    )
    return (
        exact.join(
            approx,
            (F.col("qid") == F.col("aqid")) & (F.col("vec_id") == F.col("avid")),
            "left",
        )
        .groupBy("qid")
        .agg(
            F.count("avid").cast("bigint").alias("n_hits"),
            F.expr(
                f"floor(CAST(count(avid) AS DOUBLE) / {K} * 1000000"
                " + 0.5) / 1000000"
            ).alias("recall"),
        )
    )
