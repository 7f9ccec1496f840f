"""Vector similarity queries (SURVEY.md §2.12): exact and approximate
k-NN, similarity joins, embedding transforms, the IVF and signature
index lifecycles and their recall audits, with their DuckDB oracles.

Operators driven:
- `operators/vectors.py` — cosine / dot / norm terms in both engines,
  sign-bucket cells and banded pairs, and the IVF index (build,
  append, read, probe);
- `operators/sig_index.py` — the 1-bit and 2-bit signature index:
  encoders, build / append, the shortlist-and-rerank cascade, the
  probes and `recall_at_k`.

The DuckDB twins of the signature encodings (`_sig_duckdb`,
`_plane_expr`, `_l1_expr`, `_THR_DUCK`) are the oracles' own statement
of the index format; `text.py` imports `_sig_duckdb` for the hybrid
retrieval oracles.

House rules: vector math is widened to double in a fixed fold order on
both sides, top-k carries a `vec_id` tie-break, query sets are bounded
broadcasts, and no step scores all pairs of the corpus.
"""

from __future__ import annotations

import math

from pyspark.sql import Window
from pyspark.sql import functions as F

from skyhookdb_ceph_spark.operators import ensure_parallelism, vectors
from skyhookdb_ceph_spark.operators.sig_index import (
    _PLANES,
    _TQ,
    _VQ,
    NCAND,
    K,
    append_sig_index,
    build_sig_index,
    exploded_sigs,
    fold_sigs,
    probe_2bit,
    probe_binary,
    recall_at_k,
    rerank,
    shortlist,
)
from skyhookdb_ceph_spark.operators.vectors import cosine_duckdb, cosine_expr
from skyhookdb_ceph_spark.queries._util import (
    Catalog,
    collect_local,
    local_df,
    quantize,
    ratio,
    scratch,
)
from skyhookdb_ceph_spark.registry import query


_NORMALIZE_ORACLE = f"""
SELECT vec_id,
  floor((CAST(embedding[1] AS DOUBLE) / sqrt({vectors.dot_duckdb('embedding', 'embedding')})) * 1000000 + 0.5) / 1000000 AS u1,
  floor((CAST(embedding[2] AS DOUBLE) / sqrt({vectors.dot_duckdb('embedding', 'embedding')})) * 1000000 + 0.5) / 1000000 AS u2,
  floor((sqrt({vectors.dot_duckdb('embedding', 'embedding')})) * 1000000 + 0.5) / 1000000 AS norm
FROM embeddings
"""


@query("q_vec_normalize", oracle=_NORMALIZE_ORACLE, tags=("llm", "similarity"))
def q_vec_normalize(spark, sf_dir):
    """Vector normalization (the preprocessing step every cosine
    pipeline needs): L2 norm via the JVM higher-order fold, unit
    components checked on the first two dims.  Pure per-row math, no
    shuffle."""
    e = ensure_parallelism(Catalog(spark, sf_dir).embeddings)
    nrm = f"sqrt({vectors.norm_sq_expr('embedding')})"
    return e.selectExpr(
        "vec_id",
        f"floor((cast(element_at(embedding, 1) AS double) / {nrm}) * 1000000 + 0.5) / 1000000 AS u1",
        f"floor((cast(element_at(embedding, 2) AS double) / {nrm}) * 1000000 + 0.5) / 1000000 AS u2",
        f"floor(({nrm}) * 1000000 + 0.5) / 1000000 AS norm",
    )


_KNN_ORACLE = f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
SELECT vec_id, floor(({vectors.cosine_duckdb('embedding', 'qv')}) * 1000000 + 0.5) / 1000000 AS sim
FROM embeddings, q
ORDER BY sim DESC, vec_id LIMIT 10
"""


@query("q_sim_knn", oracle=_KNN_ORACLE, tags=("llm", "similarity"))
def q_sim_knn(spark, sf_dir):
    """Brute-force cosine top-k vs one query vector (vec_id=0).  The
    query vector is a 1-row broadcast cross-join; per-row math is a
    JVM-side higher-order fold (no Python); the plan is scan ->
    TakeOrderedAndProject — at 100 TB each partition keeps a k-heap and
    the driver merges k rows per partition, no global sort.  The
    IVF-style scale path (prune by bucket first) is q_sim_pairs'
    machinery composed with this scorer."""
    e = Catalog(spark, sf_dir).embeddings
    q = e.filter(F.col("vec_id") == 0).selectExpr("embedding AS qv")
    return (
        e.crossJoin(F.broadcast(q))
        .selectExpr("vec_id", f"floor(({vectors.cosine_expr('embedding', 'qv')}) * 1000000 + 0.5) / 1000000 AS sim")
        .orderBy(F.col("sim").desc(), "vec_id")
        .limit(10)
    )


_PAIRS_ORACLE = f"""
WITH {vectors.banded_cells_cte_duckdb()},
cand AS (
  SELECT DISTINCT a.vec_id AS va, c.vec_id AS vb
  FROM cells a JOIN cells c ON a.bucket = c.bucket AND a.vec_id < c.vec_id)
SELECT cand.va AS vec_a, cand.vb AS vec_b,
  floor(({vectors.cosine_duckdb('x.embedding', 'y.embedding')}) * 1000000 + 0.5) / 1000000 AS sim
FROM cand JOIN embeddings x ON x.vec_id = cand.va
          JOIN embeddings y ON y.vec_id = cand.vb
WHERE floor(({vectors.cosine_duckdb('x.embedding', 'y.embedding')}) * 1000000 + 0.5) / 1000000 > 0.25
"""


@query("q_sim_pairs", oracle=_PAIRS_ORACLE, tags=("llm", "similarity"))
def q_sim_pairs(spark, sf_dir):
    """All-pairs similarity above a threshold, LSH-pruned: candidates
    come only from shared LSH buckets, with the bit count derived from
    the corpus size (expected bucket ~TARGET_BUCKET_ROWS, so candidate
    volume grows O(n·target), not O(n²/const)) and 4 OR-amplified bands
    for recall.  The oracle computes identical banded semantics."""
    e = Catalog(spark, sf_dir).embeddings
    pairs = vectors.bucketed_pairs(e)
    return (
        pairs.selectExpr(
            "va AS vec_a",
            "vb AS vec_b",
            f"floor(({vectors.cosine_expr('ea', 'eb')}) * 1000000 + 0.5) / 1000000 AS sim",
        )
        .filter("sim > 0.25")
    )


_KNN_IVF_ORACLE = f"""
WITH {vectors.primary_cell_cte_duckdb()},
q AS (SELECT embedding AS qv, bucket AS qbucket FROM b WHERE vec_id = 0)
SELECT vec_id, floor(({vectors.cosine_duckdb('embedding', 'qv')}) * 1000000 + 0.5) / 1000000 AS sim
FROM b, q WHERE b.bucket = q.qbucket
ORDER BY sim DESC, vec_id LIMIT 10
"""


@query("q_sim_knn_ivf", oracle=_KNN_IVF_ORACLE, tags=("llm", "similarity"))
def q_sim_knn_ivf(spark, sf_dir):
    """IVF-style ANN: vectors are pre-assigned to coarse cells (the
    deterministic sign-bucket quantizer, bit count scaled to corpus
    size so cells stay ~TARGET_BUCKET_ROWS); the query probes ONLY its
    own cell, scoring ~n/cells candidates instead of n.  This is the
    scale path for q_sim_knn: at 100 TB the cell assignment is a
    partition column, so probing a cell is partition pruning, and
    recall is traded via n_bits / multi-probe.  The oracle computes the
    identical cell-restricted search."""
    e = Catalog(spark, sf_dir).embeddings
    return vectors.probe(vectors.bucketed_cells(e), 10)


_QUANT_ORACLE = """
WITH s AS (
  SELECT vec_id, embedding,
    CAST(127 AS DOUBLE) / greatest(
      list_aggregate(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))), 'max'),
      CAST(1e-12 AS DOUBLE)) AS scale
  FROM embeddings)
SELECT vec_id,
  floor(scale * 1000000 + 0.5) / 1000000 AS scale_q,
  CAST(list_aggregate(list_transform(embedding,
    x -> CAST(floor(CAST(x AS DOUBLE) * scale + 0.5) AS BIGINT)), 'sum') AS BIGINT) AS q_sum,
  CAST(floor(CAST(embedding[1] AS DOUBLE) * scale + 0.5) AS BIGINT) AS q1
FROM s
"""


@query("q_embed_quantize", oracle=_QUANT_ORACLE, tags=("llm", "similarity"))
def q_embed_quantize(spark, sf_dir):
    """Int8 scalar quantization of embedding vectors (symmetric,
    per-vector max-abs scale) — the storage/bandwidth lever for
    billion-vector ANN indexes (4x smaller than float32).  All JVM
    higher-order functions, zero shuffle; checked output is the scale
    plus integer digests of the quantized vector (integer sums are
    fold-order-independent, so the check is deterministic)."""
    e = Catalog(spark, sf_dir).embeddings
    s = e.selectExpr(
        "vec_id",
        "embedding",
        "cast(127 AS double) / greatest("
        "array_max(transform(embedding, x -> abs(cast(x AS double)))), "
        "cast(1e-12 AS double)) AS scale",
    )
    return s.selectExpr(
        "vec_id",
        "floor(scale * 1000000 + 0.5) / 1000000 AS scale_q",
        "cast(aggregate(transform(embedding, "
        "x -> cast(floor(cast(x AS double) * scale + 0.5) AS bigint)), "
        "cast(0 AS bigint), (a, x) -> a + x) AS bigint) AS q_sum",
        "cast(floor(cast(element_at(embedding, 1) AS double) * scale + 0.5) AS bigint) AS q1",
    )


@query(
    "q_vec_centroids",
    oracle=(
        "SELECT lang, CAST(count(*) AS BIGINT) AS n_vecs, "
        "floor((avg(CAST(embedding[1] AS DOUBLE))) * 1000000 + 0.5) / 1000000 AS c1, "
        "floor((avg(CAST(embedding[2] AS DOUBLE))) * 1000000 + 0.5) / 1000000 AS c2 "
        "FROM embeddings JOIN documents ON vec_id = doc_id GROUP BY lang"
    ),
    tags=("pipeline", "similarity"),
)
def q_vec_centroids(spark, sf_dir):
    """Per-class embedding centroids (first two dims + counts): the
    building block for IVF coarse-quantizer training and per-class
    drift monitoring.  Per-dimension avg is a plain partial-aggregable
    sum/count — one keyed shuffle; the doc metadata join broadcasts
    nothing explicitly (Catalyst decides by size)."""
    c = Catalog(spark, sf_dir)
    e = c.embeddings
    d = c.documents.select("doc_id", "lang")
    return (
        e.join(d, e.vec_id == d.doc_id)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            ratio(F.avg(F.element_at("embedding", 1).cast("double"))).alias("c1"),
            ratio(F.avg(F.element_at("embedding", 2).cast("double"))).alias("c2"),
        )
    )


_KNN_BATCH_ORACLE = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS q_emb
  FROM embeddings WHERE vec_id % 100 = 0),
s AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
    floor(({cosine_duckdb('q_emb', 'e.embedding')}) * 1000000 + 0.5)
      / 1000000 AS cos_sim
  FROM embeddings e, q WHERE e.vec_id <> q.query_id),
r AS (
  SELECT query_id, neighbor_id, cos_sim,
    CAST(row_number() OVER (
      PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS INT) AS rnk
  FROM s)
SELECT query_id, neighbor_id, cos_sim, rnk FROM r WHERE rnk <= 3
"""


@query("q_sim_knn_batch", oracle=_KNN_BATCH_ORACLE, tags=("pipeline", "similarity"))
def q_sim_knn_batch(spark, sf_dir):
    """Batch top-3 cosine retrieval: ONE pass over the corpus answers a
    whole set of query vectors (every vec_id % 100 == 0), vs
    q_sim_knn's single query.  The query set is broadcast, so the
    corpus never shuffles: per executor the work is |Q| JVM-fold
    cosines per row, and only the skinny (query_id, neighbor_id, sim)
    triples shuffle (keyed by query_id) for the per-query top-k
    window.  At 100 TB the corpus side streams exactly once; for very
    large |Q|, pre-prune candidates with the q_sim_knn_ivf cell join
    before scoring.  Tie-break on quantized sim + neighbor_id keeps
    rank deterministic cross-engine."""
    emb = Catalog(spark, sf_dir).embeddings
    q = emb.where("vec_id % 100 = 0").selectExpr(
        "vec_id AS query_id", "embedding AS q_emb"
    )
    scored = (
        emb.crossJoin(F.broadcast(q))
        .where("vec_id <> query_id")
        .selectExpr(
            "query_id",
            "vec_id AS neighbor_id",
            f"floor(({cosine_expr('q_emb', 'embedding')}) * 1000000 + 0.5)"
            " / 1000000 AS cos_sim",
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.col("neighbor_id")
    )
    return scored.withColumn("rnk", F.row_number().over(w)).where("rnk <= 3")


def _multiprobe_oracle() -> str:
    from skyhookdb_ceph_spark.operators import vectors

    return f"""
WITH {vectors.primary_cell_cte_duckdb()},
q AS (SELECT embedding AS qv, bucket AS qb FROM b WHERE vec_id = 0),
probes AS (
  SELECT qb AS pb FROM q
  UNION
  SELECT substr(q.qb, 1, t.i - 1)
         || (CASE WHEN substr(q.qb, t.i, 1) = '1' THEN '0' ELSE '1' END)
         || substr(q.qb, t.i + 1, nb.nb) AS pb
  FROM q, nb, unnest(generate_series(1, nb.nb)) t(i))
SELECT b.vec_id,
  floor(({vectors.cosine_duckdb('b.embedding', 'q.qv')}) * 1000000 + 0.5)
    / 1000000 AS sim
FROM b JOIN probes ON b.bucket = probes.pb, q
ORDER BY sim DESC, b.vec_id LIMIT 10
"""


@query(
    "q_sim_knn_multiprobe",
    oracle=_multiprobe_oracle(),
    tags=("llm", "similarity"),
)
def q_sim_knn_multiprobe(spark, sf_dir):
    """Multi-probe IVF ANN: the query probes its own LSH cell PLUS the
    nb Hamming-1 neighbor cells (each sign bit flipped once) — the
    standard recall recovery for sign-bucket quantizers: near
    neighbors that fell across a hyperplane boundary land in an
    adjacent cell, so probing nb+1 of the 2^nb cells recovers most of
    them while still scoring only ~(nb+1)/2^nb of the corpus.  The
    probe set is nb+1 rows built from the 1-row query broadcast; the
    candidate restriction stays a bucket equi-join (partition pruning
    at scale, like q_sim_knn_ivf)."""
    from skyhookdb_ceph_spark.operators import vectors

    e = Catalog(spark, sf_dir).embeddings
    return vectors.probe(vectors.bucketed_cells(e), 10, multiprobe=True)


def _ivf_build_oracle() -> str:
    from skyhookdb_ceph_spark.operators import vectors

    return f"""
WITH {vectors.primary_cell_cte_duckdb()},
q AS (SELECT embedding AS qv, bucket AS qb FROM b WHERE vec_id = 0)
SELECT b.vec_id,
  floor(({vectors.cosine_duckdb('b.embedding', 'q.qv')}) * 1000000 + 0.5)
    / 1000000 AS sim
FROM b JOIN q ON b.bucket = q.qb
ORDER BY sim DESC, b.vec_id LIMIT 5
"""


@query("q_vec_ivf_build", oracle=_ivf_build_oracle(), tags=("llm", "similarity", "layout"))
def q_vec_ivf_build(spark, sf_dir):
    """IVF index BUILD as physical layout: embeddings written
    partitionBy(cell) to scratch (operators/vectors.build_ivf_index),
    then the probe reads back with a cell filter — so the candidate
    restriction is DIRECTORY pruning, not even a row filter: the
    probe's IO is |cell|, not |corpus|.  This is what q_sim_knn_ivf's docstring
    promises at scale ('the cell assignment is a partition column'),
    demonstrated end-to-end.  Results are identical to the logical
    cell filter, which is what the oracle states."""
    from skyhookdb_ceph_spark.operators import vectors

    e = Catalog(spark, sf_dir).embeddings
    with scratch("skyhook_ivf_") as tmp:
        vectors.build_ivf_index(spark, e, tmp)
        # the query row is read back too: the probe never recomputes a
        # cell, and the bucket filter prunes directories
        out = vectors.probe(vectors.read_ivf_index(spark, tmp), 5)
        return collect_local(out)


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


def _recall_oracle():
    from skyhookdb_ceph_spark.operators import vectors

    sim_e = vectors.cosine_duckdb("e.embedding", "qv")
    sim_b = vectors.cosine_duckdb("b.embedding", "qv")
    return f"""
WITH {vectors.primary_cell_cte_duckdb()},
qs AS (SELECT vec_id AS qid, embedding AS qv, bucket AS qbucket
       FROM b WHERE vec_id % 50 = 0),
mprobes AS (
  SELECT qid, qbucket AS pb FROM qs
  UNION
  SELECT qid, substr(qs.qbucket, 1, t.i - 1)
         || (CASE WHEN substr(qs.qbucket, t.i, 1) = '1' THEN '0' ELSE '1' END)
         || substr(qs.qbucket, t.i + 1, nb.nb) AS pb
  FROM qs, nb, unnest(generate_series(1, nb.nb)) t(i)),
probes AS (
  SELECT qid, 1 AS pw, qbucket AS pb FROM qs
  UNION ALL
  SELECT qid, (SELECT nb + 1 FROM nb) AS pw, pb FROM mprobes),
exact AS (
  SELECT qid, e.vec_id, row_number() OVER (PARTITION BY qid
    ORDER BY floor(({sim_e}) * 1000000 + 0.5) / 1000000 DESC, e.vec_id)
    AS rn
  FROM embeddings e, qs),
cand AS (
  SELECT p.pw, p.qid, b.vec_id,
    floor(({sim_b}) * 1000000 + 0.5) / 1000000 AS sim
  FROM b JOIN probes p ON b.bucket = p.pb
  JOIN qs ON qs.qid = p.qid),
scored AS (
  SELECT pw, CAST(count(*) AS BIGINT) AS n_scored FROM cand GROUP BY pw),
ivf AS (
  SELECT pw, qid, vec_id, row_number() OVER (PARTITION BY pw, qid
    ORDER BY sim DESC, vec_id) AS rn
  FROM cand),
hit AS (
  SELECT iv.pw, ex.qid, CAST(count(*) AS BIGINT) AS hits
  FROM (SELECT qid, vec_id FROM exact WHERE rn <= 10) ex
  JOIN (SELECT pw, qid, vec_id FROM ivf WHERE rn <= 10) iv
    ON ex.qid = iv.qid AND ex.vec_id = iv.vec_id
  GROUP BY iv.pw, ex.qid),
pwdim AS (SELECT DISTINCT pw FROM probes),
per AS (
  SELECT pwdim.pw, qs.qid, CAST(coalesce(hits, 0) AS BIGINT) AS hits
  FROM pwdim CROSS JOIN qs
  LEFT JOIN hit ON hit.pw = pwdim.pw AND hit.qid = qs.qid),
n AS (SELECT CAST(count(*) AS BIGINT) AS corpus_n FROM embeddings)
SELECT CAST(per.pw AS INT) AS probe_width,
       CAST(count(*) AS BIGINT) AS n_queries,
       CAST(sum(hits) AS BIGINT) AS total_hits,
       sum(hits) / (10.0 * count(*)) AS avg_recall,
       CAST(min(hits) AS BIGINT) AS min_hits,
       floor((CAST(n_scored AS DOUBLE) / (count(*) * corpus_n))
             * 1000000 + 0.5) / 1000000 AS frac_scored
FROM per JOIN scored ON scored.pw = per.pw, n
GROUP BY per.pw, n_scored, corpus_n
ORDER BY probe_width
"""


@query(
    "q_vec_recall_eval",
    oracle=_recall_oracle(),
    tags=("llm", "vectors", "eval"),
)
def q_vec_recall_eval(spark, sf_dir):
    """ANN index QUALITY evaluation — the (probe_width, recall@10,
    frac_corpus_scored) tuning CURVE for the IVF coarse quantizer,
    against exact brute-force ground truth over a deterministic query
    sample (every 50th vector).  Two probe widths per run: 1 (the
    query's own cell) and nb+1 (own cell + all Hamming-1 neighbor
    cells, the q_sim_knn_multiprobe probe set) — the curve a real
    vector pipeline reads before trading recall for probe cost, with
    the cost axis measured (frac_scored = candidates scored / (|Q| ×
    corpus)), not assumed.  Ground truth per query via the
    broadcast-query-set brute-force scorer (q_sim_knn_batch shape —
    the corpus never shuffles); each IVF answer via the same quantized
    scorer restricted to the probe cells (bucket equi-join).  Both
    rankings use identical 1e-6-quantized sims + vec_id tie-breaks,
    so the intersection is engine-exact; recall and cost aggregates
    are EXACT INTEGER counts with one final division each (no FP
    accumulation anywhere).  Norms are precomputed ONCE per vector so
    each pair evaluates only the dot-product fold (the r4 HOF
    finding).  At 100 TB the ground-truth cost is |Q| × corpus,
    bounded by the sample, and each IVF side is partition pruning —
    probe_width × frac_scored is exactly the fraction of partitions a
    multiprobe read touches."""
    from skyhookdb_ceph_spark.operators import vectors

    e = Catalog(spark, sf_dir).embeddings
    b = vectors.bucketed_cells(e).withColumn(
        "nrm", F.expr(f"sqrt({vectors.norm_sq_expr('embedding')})")
    )
    qs = b.filter(F.col("vec_id") % 50 == 0).selectExpr(
        "vec_id AS qid", "embedding AS qv", "bucket AS qbucket",
        "nrm AS qnrm",
    )
    sim = (
        f"floor((({vectors.dot_expr('embedding', 'qv')}) / (nrm * qnrm))"
        " * 1000000 + 0.5) / 1000000"
    )
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), "vec_id")
    exact = (
        b.crossJoin(F.broadcast(qs))
        .selectExpr("qid", "vec_id", f"{sim} AS sim")
        .withColumn("rn", F.row_number().over(w))
        .filter("rn <= 10")
        .select("qid", "vec_id")
    )
    # probe sets: width 1 = own cell; width nb+1 = own + Hamming-1
    # flips (array_union dedups, mirroring the oracle's UNION)
    single = qs.select(
        "qid", "qv", "qnrm", F.lit(1).alias("pw"),
        F.col("qbucket").alias("pb"),
    )
    multi = qs.selectExpr(
        "qid", "qv", "qnrm", "cast(length(qbucket) + 1 AS int) AS pw",
        f"explode({vectors.hamming1_sql('qbucket')}) AS pb",
    )
    probes = single.unionByName(multi)
    cand = (
        b.join(F.broadcast(probes), F.col("bucket") == F.col("pb"))
        .selectExpr("pw", "qid", "vec_id", f"{sim} AS sim")
    )
    scored = cand.groupBy("pw").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_scored")
    )
    wp = Window.partitionBy("pw", "qid").orderBy(F.desc("sim"), "vec_id")
    ivf = (
        cand.withColumn("rn", F.row_number().over(wp))
        .filter("rn <= 10")
        .select(
            F.col("pw").alias("i_pw"),
            F.col("qid").alias("i_qid"),
            F.col("vec_id").alias("i_vid"),
        )
    )
    hits = (
        exact.join(
            ivf,
            (F.col("qid") == F.col("i_qid"))
            & (F.col("vec_id") == F.col("i_vid")),
        )
        .groupBy("i_pw", "qid")
        .agg(F.count(F.lit(1)).cast("bigint").alias("hits"))
        .withColumnRenamed("qid", "h_qid")
    )
    per = (
        probes.select("pw").distinct()
        .crossJoin(qs.select("qid"))
        .join(
            F.broadcast(hits),
            (F.col("pw") == F.col("i_pw")) & (F.col("qid") == F.col("h_qid")),
            "left",
        )
        .select(
            "pw", "qid",
            F.coalesce("hits", F.lit(0)).cast("bigint").alias("hits"),
        )
    )
    corpus_n = e.agg(F.count(F.lit(1)).cast("bigint").alias("corpus_n"))
    return (
        per.groupBy("pw")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_queries"),
            F.sum("hits").cast("bigint").alias("total_hits"),
            (F.sum("hits") / (10.0 * F.count(F.lit(1)))).alias("avg_recall"),
            F.min("hits").cast("bigint").alias("min_hits"),
        )
        .join(F.broadcast(scored), "pw")
        .crossJoin(F.broadcast(corpus_n))
        .select(
            F.col("pw").cast("int").alias("probe_width"),
            "n_queries",
            "total_hits",
            "avg_recall",
            "min_hits",
            (
                F.floor(
                    (
                        F.col("n_scored").cast("double")
                        / (F.col("n_queries") * F.col("corpus_n"))
                    )
                    * 1000000
                    + F.lit(0.5)
                )
                / 1000000
            ).alias("frac_scored"),
        )
        .orderBy("probe_width")
    )


def _matryoshka_oracle():
    from skyhookdb_ceph_spark.operators import vectors

    dot64 = vectors.dot_duckdb("e.embedding", "qv", 64)
    dot16 = vectors.dot_duckdb("e.embedding", "qv", 16)
    return f"""
WITH qs AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
            WHERE vec_id % 50 = 0),
full_rank AS (
  SELECT qid, e.vec_id, row_number() OVER (PARTITION BY qid
    ORDER BY floor(({dot64}) * 1000000 + 0.5) / 1000000 DESC, e.vec_id)
    AS rn
  FROM embeddings e, qs),
trunc_rank AS (
  SELECT qid, e.vec_id, row_number() OVER (PARTITION BY qid
    ORDER BY floor(({dot16}) * 1000000 + 0.5) / 1000000 DESC, e.vec_id)
    AS rn
  FROM embeddings e, qs),
hit AS (
  SELECT f.qid, CAST(count(*) AS BIGINT) AS hits
  FROM (SELECT qid, vec_id FROM full_rank WHERE rn <= 10) f
  JOIN (SELECT qid, vec_id FROM trunc_rank WHERE rn <= 10) t
    ON f.qid = t.qid AND f.vec_id = t.vec_id
  GROUP BY f.qid),
per AS (SELECT qs.qid, CAST(coalesce(hits, 0) AS BIGINT) AS hits
        FROM qs LEFT JOIN hit ON qs.qid = hit.qid)
SELECT CAST(count(*) AS BIGINT) AS n_queries,
       CAST(sum(hits) AS BIGINT) AS total_overlap,
       sum(hits) / (10.0 * count(*)) AS avg_overlap,
       CAST(min(hits) AS BIGINT) AS min_overlap
FROM per
"""


@query(
    "q_vec_matryoshka_eval",
    oracle=_matryoshka_oracle(),
    tags=("llm", "vectors", "eval"),
)
def q_vec_matryoshka_eval(spark, sf_dir):
    """Dimension-truncation quality evaluation (the matryoshka /
    MRL question): how much of the full-dimension top-10 ranking
    survives when scoring with only the FIRST 16 of 64 dims — the
    measurement behind serving embeddings at 1/4 the memory and 4x
    the scan rate.  Same integer-exact evaluation skeleton as
    q_vec_recall_eval: both rankings by 1e-6-quantized inner product
    with vec_id tie-breaks, overlap counted as exact integers, one
    final division.  The truncated scorer folds 16 elements instead
    of 64 — at 100 TB that ratio IS the bandwidth saving being
    evaluated; the corpus never shuffles (query set broadcasts)."""
    from skyhookdb_ceph_spark.operators import vectors

    e = Catalog(spark, sf_dir).embeddings
    qs = e.filter(F.col("vec_id") % 50 == 0).selectExpr(
        "vec_id AS qid", "embedding AS qv"
    )
    d64 = (
        f"floor(({vectors.dot_expr('embedding', 'qv')}) * 1000000 + 0.5)"
        " / 1000000"
    )
    d16 = (
        "floor(("
        + vectors.dot_expr("slice(embedding, 1, 16)", "slice(qv, 1, 16)")
        + ") * 1000000 + 0.5) / 1000000"
    )
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), "vec_id")
    scored = e.crossJoin(F.broadcast(qs))

    def topk(sim_expr, id_alias):
        return (
            scored.selectExpr("qid", "vec_id", f"{sim_expr} AS sim")
            .withColumn("rn", F.row_number().over(w))
            .filter("rn <= 10")
            .select(
                F.col("qid").alias(f"{id_alias}_qid"),
                F.col("vec_id").alias(f"{id_alias}_vid"),
            )
        )

    hits = (
        topk(d64, "f")
        .join(
            topk(d16, "t"),
            (F.col("f_qid") == F.col("t_qid"))
            & (F.col("f_vid") == F.col("t_vid")),
        )
        .groupBy("f_qid")
        .agg(F.count(F.lit(1)).cast("bigint").alias("hits"))
    )
    per = qs.select("qid").join(
        F.broadcast(hits), F.col("qid") == F.col("f_qid"), "left"
    ).select("qid", F.coalesce("hits", F.lit(0)).cast("bigint").alias("hits"))
    return per.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_queries"),
        F.sum("hits").cast("bigint").alias("total_overlap"),
        (F.sum("hits") / (10.0 * F.count(F.lit(1)))).alias("avg_overlap"),
        F.min("hits").cast("bigint").alias("min_overlap"),
    )


def _files_pruned_oracle() -> str:
    return f"""
WITH {vectors.primary_cell_cte_duckdb()},
qs AS (SELECT bucket AS qbucket FROM b WHERE vec_id % 50 = 0),
p1 AS (SELECT DISTINCT qbucket AS pb FROM qs),
pm AS (
  SELECT DISTINCT pb FROM (
    SELECT qbucket AS pb FROM qs
    UNION
    SELECT substr(qs.qbucket, 1, t.i - 1)
           || (CASE WHEN substr(qs.qbucket, t.i, 1) = '1'
               THEN '0' ELSE '1' END)
           || substr(qs.qbucket, t.i + 1, nb.nb) AS pb
    FROM qs, nb, unnest(generate_series(1, nb.nb)) t(i))),
tot AS (SELECT CAST(count(DISTINCT bucket) AS BIGINT) AS n_cells_total,
               CAST(count(*) AS BIGINT) AS corpus_n FROM b),
per AS (
  SELECT 1 AS pw,
         CAST(count(DISTINCT bucket) AS BIGINT) AS n_cells_probed,
         CAST(count(*) AS BIGINT) AS rows_read
  FROM b WHERE bucket IN (SELECT pb FROM p1)
  UNION ALL
  SELECT (SELECT nb + 1 FROM nb) AS pw,
         CAST(count(DISTINCT bucket) AS BIGINT),
         CAST(count(*) AS BIGINT)
  FROM b WHERE bucket IN (SELECT pb FROM pm))
SELECT CAST(pw AS INT) AS probe_width, n_cells_probed, n_cells_total,
       TRUE AS files_match_cells,
       floor((CAST(rows_read AS DOUBLE) / corpus_n) * 1000000 + 0.5)
         / 1000000 AS frac_corpus_read
FROM per, tot ORDER BY probe_width
"""


@query(
    "q_vec_ivf_files_pruned",
    oracle=_files_pruned_oracle(),
    tags=("llm", "vectors", "layout", "eval", "scale-design"),
)
def q_vec_ivf_files_pruned(spark, sf_dir):
    """The recall curve's COST AXIS measured on the PERSISTED layout —
    q_vec_recall_eval's frac_scored is computed from the LOGICAL probe
    set; this query persists the IVF cells partitionBy(bucket) (one
    file per cell — q_vec_ivf_build's layout) and proves that a probe
    read with the cells as a pushed-down IN filter touches exactly the
    probed directories: files actually contributing rows == probed
    cells present (files_match_cells, the banded-verdict column), and
    the fraction of the corpus those files hold equals the oracle's
    logical fraction (frac_corpus_read).  Probe sets per width follow
    q_vec_recall_eval exactly: width 1 = each query's own cell, width
    nb+1 = own + all Hamming-1 flips, deterministic query sample
    (vec_id % 50 == 0).  Driver-side materialization is the DISTINCT
    CELL LIST — bounded by 2^nb regardless of corpus size (the same
    boundedness that makes an IVF directory listing cheap at 100 TB) —
    never vectors or rows.  The index is built and read through
    operators/vectors.py's lifecycle, so cells come back as the
    strings they were written as and the probe pushes them as-is; the
    filter lands in PartitionFilters (asserted in
    tests/test_ivf_layout.py), which at 100 TB is the difference
    between listing nb+1 directories and scanning 2^nb."""
    e = Catalog(spark, sf_dir).embeddings
    with scratch("skyhook_ivfprune_") as tmp:
        vectors.build_ivf_index(spark, e, tmp)
        layout = vectors.read_ivf_index(spark, tmp)
        # distinct probe CELLS for both widths in ONE job (bounded by
        # 2^nb per width, collect-safe): width-1 cells are the query
        # buckets themselves; the multiprobe set adds the Hamming-1 flips
        per_width = (
            layout.filter(F.col("vec_id") % 50 == 0)
            .selectExpr(
                f"explode({vectors.hamming1_sql('bucket')}) AS pb", "bucket"
            )
            .groupBy("pb")
            .agg(F.max(F.col("pb") == F.col("bucket")).alias("own"))
            .collect()
        )
        cells1 = sorted(r["pb"] for r in per_width if r["own"])
        cellsm = sorted(r["pb"] for r in per_width)
        nb = len(cellsm[0])
        totals = layout.agg(
            F.count_distinct("bucket").cast("bigint").alias("n_cells_total"),
            F.count(F.lit(1)).cast("bigint").alias("corpus_n"),
        ).collect()[0]
        # both pruned widths measured in ONE job: union of the two
        # pushed-down reads, tagged by probe width (each leg keeps its
        # own PartitionFilters; the union is evaluated in one pass)
        legs = []
        for pw, cells in ((1, cells1), (nb + 1, cellsm)):
            legs.append(
                layout.filter(F.col("bucket").isin(cells))
                .withColumn("_file", F.input_file_name())
                .select(F.lit(pw).alias("pw"), "_file", "bucket")
            )
        per_pw = {
            r["pw"]: r
            for r in legs[0]
            .unionByName(legs[1])
            .groupBy("pw")
            .agg(
                F.count_distinct("_file").cast("bigint").alias("n_files"),
                F.count_distinct("bucket").cast("bigint").alias("n_cells"),
                F.count(F.lit(1)).cast("bigint").alias("rows_read"),
            )
            .collect()
        }
        rows = []
        for pw in (1, nb + 1):
            m = per_pw[pw]
            rows.append(
                (
                    pw,
                    m["n_cells"],
                    totals["n_cells_total"],
                    bool(m["n_files"] == m["n_cells"]),
                    # mirrors the oracle's floor(x*1e6 + 0.5)/1e6
                    float(
                        math.floor(
                            (m["rows_read"] / totals["corpus_n"]) * 1_000_000
                            + 0.5
                        )
                        / 1_000_000
                    ),
                )
            )
        return local_df(
            spark,
            rows,
            "probe_width int, n_cells_probed bigint, n_cells_total bigint, "
            "files_match_cells boolean, frac_corpus_read double",
        )


_IVF_INC_MOD = 4  # vec_id % 4 == 0 -> newly arriving vectors

_IVF_INC_ORACLE = f"""
WITH nb AS (
  SELECT least(greatest(CAST(ceil(log2(count(*) / 64.0)) AS INT), 4), 16)
    AS nb
  FROM embeddings WHERE vec_id % {_IVF_INC_MOD} != 0),
cells AS (
  SELECT vec_id,
    CASE WHEN vec_id % {_IVF_INC_MOD} = 0 THEN 1 ELSE 0 END AS is_delta,
    array_to_string(list_transform(generate_series(1, nb.nb),
      i -> CASE WHEN embedding[i] >= 0 THEN '1' ELSE '0' END), '')
      AS bucket
  FROM embeddings, nb)
SELECT bucket, CAST(sum(1 - is_delta) AS BIGINT) AS n_base,
  CAST(sum(is_delta) AS BIGINT) AS n_delta,
  CAST(count(*) AS BIGINT) AS n_total
FROM cells GROUP BY bucket ORDER BY bucket
"""


@query(
    "q_vec_ivf_incremental",
    oracle=_IVF_INC_ORACLE,
    tags=("vector", "layout", "scale-design"),
)
def q_vec_ivf_incremental(spark, sf_dir):
    """Incremental IVF index MAINTENANCE: newly arriving vectors are
    hashed with the index's FROZEN bit count and appended into the
    existing partitionBy(bucket) layout — new files in the affected
    cell directories, base files untouched (append-only proven in
    tests/test_ivf_layout.py) — completing the incremental-maintenance
    triad (aggregates: q_agg_incremental_merge, dedup:
    q_dedup_incremental, ANN index: here).  Rebuilding the layout per
    ingest batch costs O(corpus) writes; appending costs O(delta).

    The one real subtlety is pinned: nb is an index PARAMETER frozen
    from the BASE corpus at build time, not re-derived from the grown
    corpus — re-deriving would silently re-key every existing cell
    (the oracle computes nb from the base cohort the same way).  The
    verdict table is the per-cell (n_base, n_delta, n_total) census
    of the read-back index, cohorts told apart by vec_id, which the
    oracle re-derives from direct assignment — proving
    append-maintained == rebuilt-from-scratch."""
    e = Catalog(spark, sf_dir).embeddings
    delta = F.col("vec_id") % _IVF_INC_MOD == 0
    with scratch("skyhook_ivfinc_") as tmp:
        vectors.build_ivf_index(spark, e.filter(~delta), tmp)
        vectors.append_ivf_index(spark, e.filter(delta), tmp)
        out = (
            vectors.read_ivf_index(spark, tmp)
            .withColumn("is_delta", delta.cast("int"))
            .groupBy("bucket")
            .agg(
                F.sum(1 - F.col("is_delta")).cast("bigint").alias("n_base"),
                F.sum("is_delta").cast("bigint").alias("n_delta"),
                F.count(F.lit(1)).cast("bigint").alias("n_total"),
            )
            .orderBy("bucket")
        )
        return collect_local(out)  # cell census: bounded by 2^nb


_IVFPQ_R = 50  # PQ shortlist size feeding the exact rerank
_IVFPQ_K = 10  # final k


def _ivfpq_oracle() -> str:
    from skyhookdb_ceph_spark.operators import vectors

    return f"""WITH {vectors.primary_cell_cte_duckdb()},
q AS (SELECT embedding AS qv, bucket AS qbucket FROM b WHERE vec_id = 0),
pos AS (
  SELECT vec_id, CAST(t.i AS INT) AS pos,
    CAST(embedding[CAST(t.i AS INT) + 1] AS DOUBLE) AS val
  FROM embeddings, unnest(generate_series(0, len(embedding) - 1)) t(i)),
sub AS (SELECT vec_id, pos // 16 AS ss, pos, val FROM pos),
codes AS (
  SELECT vec_id, ss,
    CASE WHEN max(CASE WHEN pos = ss * 16 THEN val END) >= 0
         THEN 1 ELSE 0 END AS c
  FROM sub GROUP BY vec_id, ss),
cents AS (
  SELECT s.ss, c.c, s.pos,
    floor(avg(s.val) * 1000000 + 0.5) / 1000000 AS cent
  FROM sub s JOIN codes c ON s.vec_id = c.vec_id AND s.ss = c.ss
  GROUP BY s.ss, c.c, s.pos),
qpos AS (SELECT ss, pos, val AS qval FROM sub WHERE vec_id = 0),
dtab AS (
  SELECT ct.ss, ct.c,
    CAST(floor(sum((qp.qval - ct.cent) * (qp.qval - ct.cent))
      * 1000000 + 0.5) AS BIGINT) AS d_e6
  FROM cents ct JOIN qpos qp ON qp.ss = ct.ss AND qp.pos = ct.pos
  GROUP BY ct.ss, ct.c),
cand AS (SELECT b.vec_id, b.embedding FROM b, q WHERE b.bucket = q.qbucket),
adc AS (
  SELECT cd.vec_id, CAST(sum(dt.d_e6) AS BIGINT) AS adc_e6
  FROM cand cd
  JOIN codes co ON co.vec_id = cd.vec_id
  JOIN dtab dt ON dt.ss = co.ss AND dt.c = co.c
  GROUP BY cd.vec_id),
short AS (SELECT * FROM adc ORDER BY adc_e6, vec_id LIMIT {_IVFPQ_R})
SELECT s.vec_id, s.adc_e6,
  floor(({vectors.cosine_duckdb("c2.embedding", "q.qv")})
    * 1000000 + 0.5) / 1000000 AS sim
FROM short s JOIN cand c2 ON c2.vec_id = s.vec_id, q
ORDER BY sim DESC, s.vec_id LIMIT {_IVFPQ_K}"""


@query(
    "q_sim_knn_ivfpq",
    oracle=_ivfpq_oracle(),
    tags=("llm", "similarity", "scale-design"),
)
def q_sim_knn_ivfpq(spark, sf_dir):
    """IVF+PQ two-stage ANN — the production FAISS-style composition
    the repo had as parts (q_sim_knn_ivf coarse probe, q_vec_pq_code
    codebook) but never as one operator: (1) coarse IVF probe
    restricts candidates to the query's cell (partition pruning at
    scale); (2) PQ ASYMMETRIC-DISTANCE (ADC) ranks the candidates
    WITHOUT touching their full vectors — a per-query distance table
    of (subspace, code) -> partial distance, 8 entries here, joined
    to each candidate's compact codes; (3) only the top-R shortlist
    pays the exact cosine rerank against full embeddings.  At 100 TB
    stage 2 reads bytes-per-vector (the codes), not the vectors: the
    IO ratio is the whole point of PQ.

    Determinism across engines: centroids quantize at 1e-6 BEFORE the
    distance table; the table and every ADC total are EXACT BIGINT
    micro-units (floor to e6 once per (ss, code), then integer sums
    — no float accumulation order anywhere in the shortlist cut);
    ties break on vec_id at both cuts.  Output: vec_id, adc_e6
    (BIGINT micro-distance), sim (exact rerank cosine, 1e-6).

    Plan: every stage is keyed groupBy/equi-join on (vec_id|ss|c|pos);
    the query row, its cell id, and the 8-row distance table
    broadcast; no pairwise vector comparison outside the R-row
    rerank."""
    from skyhookdb_ceph_spark.operators import vectors

    e = Catalog(spark, sf_dir).embeddings
    withb = vectors.bucketed_cells(e)
    q = withb.filter(F.col("vec_id") == 0).selectExpr(
        "embedding AS qv", "bucket AS qbucket"
    )
    pos = e.select(
        "vec_id", F.posexplode("embedding").alias("pos", "fval")
    ).selectExpr("vec_id", "pos", "CAST(fval AS DOUBLE) AS val")
    sub = pos.withColumn("ss", F.expr("pos div 16"))
    codes = sub.filter("pos = ss * 16").selectExpr(
        "vec_id", "ss", "CASE WHEN val >= 0 THEN 1 ELSE 0 END AS c"
    )
    cents = (
        sub.join(codes, ["vec_id", "ss"])
        .groupBy("ss", "c", "pos")
        .agg(quantize(F.avg("val"), 6).alias("cent"))
    )
    qpos = sub.filter("vec_id = 0").selectExpr("ss", "pos", "val AS qval")
    dtab = (
        cents.join(F.broadcast(qpos), ["ss", "pos"])
        .groupBy("ss", "c")
        .agg(
            F.expr(
                "CAST(floor(sum((qval - cent) * (qval - cent)) "
                "* 1000000 + 0.5) AS BIGINT)"
            ).alias("d_e6")
        )
    )
    cand = withb.join(
        F.broadcast(q), F.col("bucket") == F.col("qbucket")
    ).select("vec_id", "embedding")
    adc = (
        cand.join(codes, "vec_id")
        .join(F.broadcast(dtab), ["ss", "c"])
        .groupBy("vec_id")
        .agg(F.sum("d_e6").cast("bigint").alias("adc_e6"))
    )
    short = adc.orderBy("adc_e6", "vec_id").limit(_IVFPQ_R)
    return (
        short.join(cand, "vec_id")
        .crossJoin(F.broadcast(q.select("qv")))
        .selectExpr(
            "vec_id",
            "adc_e6",
            f"floor(({vectors.cosine_expr('embedding', 'qv')}) "
            "* 1000000 + 0.5) / 1000000 AS sim",
        )
        .orderBy(F.desc("sim"), "vec_id")
        .limit(_IVFPQ_K)
    )


def _sig_duckdb(col: str, lo: int, hi: int) -> str:
    """Oracle twin of sig_index._sig_expr: identical bit for identical
    input."""
    return (
        f"CAST(list_aggregate(list_transform(generate_series({lo}, {hi}), "
        f"i -> CASE WHEN {col}[i] > 0 THEN (CAST(1 AS BIGINT) << (i - {lo})) "
        f"ELSE CAST(0 AS BIGINT) END), 'sum') AS BIGINT)"
    )


_KNN_BINARY_ORACLE = f"""
WITH s AS (
  SELECT vec_id,
    {_sig_duckdb('embedding', 1, 32)} AS sig_lo,
    {_sig_duckdb('embedding', 33, 64)} AS sig_hi
  FROM embeddings),
q AS (
  SELECT s.vec_id AS qid, e.embedding AS qv, s.sig_lo AS q_lo,
         s.sig_hi AS q_hi
  FROM s JOIN embeddings e ON e.vec_id = s.vec_id
  WHERE s.vec_id % 100 = 0),
h AS (
  SELECT q.qid, s.vec_id,
    CAST(bit_count(xor(s.sig_lo, q.q_lo))
       + bit_count(xor(s.sig_hi, q.q_hi)) AS INT) AS ham
  FROM s, q WHERE s.vec_id <> q.qid),
cand AS (
  SELECT qid, vec_id, ham,
    row_number() OVER (PARTITION BY qid ORDER BY ham, vec_id) AS cr
  FROM h),
rr AS (
  SELECT c.qid, c.vec_id, c.ham,
    floor(({vectors.cosine_duckdb('e.embedding', 'q.qv')}) * 1000000 + 0.5)
      / 1000000 AS sim
  FROM cand c
  JOIN embeddings e ON e.vec_id = c.vec_id
  JOIN q ON q.qid = c.qid
  WHERE c.cr <= {NCAND}),
rk AS (
  SELECT qid, vec_id, ham, sim,
    CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id)
      AS INT) AS rnk
  FROM rr)
SELECT qid, vec_id, ham, sim, rnk FROM rk WHERE rnk <= {K}
"""


@query(
    "q_sim_knn_binary",
    oracle=_KNN_BINARY_ORACLE,
    tags=("llm", "similarity", "scale-design"),
)
def q_sim_knn_binary(spark, sf_dir):
    """Binary-quantized ANN: pack the sign bit of each of the 64 dims
    into two BIGINTs (16 bytes/vector — 16x smaller than float32), do
    the coarse search in Hamming space (bit_count(xor) — two CPU
    instructions per candidate, all JVM codegen), keep the top
    NCAND by (ham, vec_id), then rerank ONLY those survivors with
    the exact float cosine.  This is the cheapest tier of the modern
    vector-store cascade (binary quantization + rescore).

    Plan shape: signature projection is a pure map; the query set
    (vec_id % 100 = 0, bounded) broadcasts, so the Hamming stage is a
    narrow broadcast cross-score carrying only (qid, vec_id, 2 sigs)
    — the float corpus NEVER moves.  The candidate window partitions
    by qid; survivors (|Q| * NCAND rows) join BACK to the corpus by
    vec_id for the exact rerank, so full embeddings are read twice
    but shuffled never.  At 100 TB the signature column is the
    persisted index (16 bytes/row scans ~400x faster than re-reading
    text+floats) and Hamming top-k per partition is a k-heap —
    TakeOrdered shape, no global sort.  Both stages are sig_index's
    (fold_sigs + probe_binary), the same probe the persisted tier
    runs over a read-back index."""
    e = ensure_parallelism(Catalog(spark, sf_dir).embeddings)
    return probe_binary(e, fold_sigs(e))


_SLICES = (1, 17, 33, 49)  # 4 sub-vectors of 16 dims each


def _dot16(q: str, d: str, qs: int, ds: int, duck: bool) -> str:
    if duck:
        return (
            f"list_aggregate(list_transform(generate_series(0, 15), "
            f"j -> CAST({q}[{qs} + j] AS DOUBLE) * CAST({d}[{ds} + j] "
            f"AS DOUBLE)), 'sum')"
        )
    return (
        f"aggregate(sequence(0, 15), CAST(0 AS DOUBLE), "
        f"(acc, j) -> acc + CAST(element_at({q}, {qs} + j) AS DOUBLE) "
        f"* CAST(element_at({d}, {ds} + j) AS DOUBLE))"
    )


def _maxsim(q: str, d: str, duck: bool) -> str:
    """sum over query sub-vectors of max over doc sub-vectors of the
    16-dim dot product — identical left-to-right shape both engines."""
    parts = [
        "greatest("
        + ", ".join(_dot16(q, d, qs, ds, duck) for ds in _SLICES)
        + ")"
        for qs in _SLICES
    ]
    return " + ".join(parts)


_MAXSIM_ORACLE = f"""
WITH q AS (
  SELECT vec_id AS qid, embedding AS qv FROM embeddings
  WHERE vec_id % 100 = 0),
sc AS (
  SELECT q.qid, d.vec_id,
    floor(({_maxsim('q.qv', 'd.embedding', True)}) * 1000000 + 0.5)
      / 1000000 AS score
  FROM embeddings d, q WHERE d.vec_id <> q.qid),
rk AS (
  SELECT qid, vec_id, score,
    CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id)
      AS INT) AS rnk
  FROM sc)
SELECT qid, vec_id, score, rnk FROM rk WHERE rnk <= {K}
"""


@query(
    "q_sim_maxsim",
    oracle=_MAXSIM_ORACLE,
    tags=("llm", "similarity", "scale-design"),
)
def q_sim_maxsim(spark, sf_dir):
    """Late-interaction retrieval scoring (the ColBERT/PLAID family):
    treat each embedding as a BAG of 4 sub-vectors (16 dims each) and
    score a (query, doc) pair as the sum over query sub-vectors of
    the MAX dot product against any doc sub-vector — the MaxSim
    operator.  Token-level embedding tables need exactly this
    plumbing; the slice derivation stands in for the token dimension
    so the operator is value-checkable on the fixture corpus.

    Plan: the bounded query set broadcasts; MaxSim is one JVM
    expression (16 fixed-order dot folds + greatest + sum — no
    Python, no explode, whole-stage codegen); top-k per query is a
    qid-partitioned window over narrow (qid, vec_id, score) rows.
    At 100 TB the coarse stage of q_sim_knn_binary (or the IVF
    layout of q_sim_knn_ivf) prunes the corpus first and MaxSim
    reranks survivors — the PLAID cascade; this operator is that
    rerank stage expressed Spark-native."""
    e = ensure_parallelism(Catalog(spark, sf_dir).embeddings)
    q = e.filter("vec_id % 100 = 0").selectExpr(
        "vec_id AS qid", "embedding AS qv"
    )
    sc = (
        e.crossJoin(F.broadcast(q))
        .filter("vec_id <> qid")
        .selectExpr(
            "qid",
            "vec_id",
            f"floor(({_maxsim('qv', 'embedding', False)}) * 1000000 + 0.5)"
            " / 1000000 AS score",
        )
    )
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("vec_id"))
    return (
        sc.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= K)
        .select("qid", "vec_id", "score", "rnk")
    )


_OOD_ORACLE = """
WITH ex AS (
  SELECT vec_id, label, i.pos,
         CAST(embedding[i.pos] AS DOUBLE) AS val
  FROM embeddings,
       (SELECT unnest(generate_series(1, 64)) AS pos) i),
cen AS (SELECT label, pos, avg(val) AS c FROM ex GROUP BY label, pos),
nc AS (SELECT label, sum(c * c) AS nc2 FROM cen GROUP BY label),
per AS (
  SELECT ex.vec_id, ex.label,
         sum(ex.val * cen.c) AS dot, sum(ex.val * ex.val) AS nv2
  FROM ex JOIN cen ON cen.label = ex.label AND cen.pos = ex.pos
  GROUP BY ex.vec_id, ex.label),
cosd AS (
  SELECT per.vec_id, per.label,
         per.dot / (sqrt(per.nv2) * sqrt(nc.nc2)) AS cosc
  FROM per JOIN nc ON nc.label = per.label),
st AS (SELECT label, avg(cosc) AS mu, stddev_samp(cosc) AS sd
       FROM cosd GROUP BY label)
SELECT c.vec_id, c.label,
  floor(c.cosc * 1000000 + 0.5) / 1000000 AS cos_c,
  CASE WHEN st.sd IS NULL OR isnan(st.sd) THEN NULL
    ELSE floor((c.cosc - (st.mu - 2 * st.sd)) * 10000 + 0.5) / 10000
  END AS margin,
  CAST(CASE WHEN st.sd IS NULL OR isnan(st.sd) THEN NULL
    ELSE floor((c.cosc - (st.mu - 2 * st.sd)) * 10000 + 0.5) / 10000 < 0
  END AS INT) AS is_ood
FROM cosd c JOIN st ON st.label = c.label
"""


@query(
    "q_vec_ood_filter",
    oracle=_OOD_ORACLE,
    tags=("llm", "similarity", "quality"),
)
def q_vec_ood_filter(spark, sf_dir):
    """Embedding out-of-distribution gate: cosine of every vector to
    its OWN label centroid, flagging vectors more than 2 sigma below
    the label's mean centroid-cosine — the embedding-space analogue
    of the text quality cascade (mislabeled rows, encoder glitches,
    and genuine outliers all land here first in production embedding
    pipelines).

    Derivation stays exploded (vec_id, label, pos, val) end-to-end —
    centroids, dots and norms are all plain keyed aggregations, so
    there is no array rebuild and no UDF.  Centroid and label-stat
    tables are |labels| x 64 and |labels| rows — broadcast joins; the
    only corpus-sized shuffles are the posexplode aggregation keyed
    by (label, pos) and per-vector re-aggregation keyed by vec_id.
    The OOD verdict compares the QUANTIZED margin (1e-4 grid) so the
    flag is engine-stable; margin itself is in the output so the
    hash check pins it.  Singleton labels are pinned explicitly
    (r12 ADVICE): stddev_samp of one row is NaN in Spark but NULL in
    DuckDB, so both engines route sd IS NULL OR isnan(sd) to a NULL
    margin / NULL is_ood — a one-vector label has no distribution to
    be out of, and the NULL says so instead of an engine-dependent
    flag."""
    e = ensure_parallelism(Catalog(spark, sf_dir).embeddings)
    ex = e.select(
        "vec_id", "label", F.posexplode("embedding").alias("pos0", "valf")
    ).selectExpr(
        "vec_id", "label", "pos0 + 1 AS pos", "CAST(valf AS DOUBLE) AS val"
    )
    cen = ex.groupBy("label", "pos").agg(F.avg("val").alias("c"))
    nc = cen.groupBy("label").agg(F.sum(F.expr("c * c")).alias("nc2"))
    per = (
        ex.join(F.broadcast(cen), ["label", "pos"])
        .groupBy("vec_id", "label")
        .agg(
            F.sum(F.expr("val * c")).alias("dot"),
            F.sum(F.expr("val * val")).alias("nv2"),
        )
    )
    cosd = per.join(F.broadcast(nc), "label").selectExpr(
        "vec_id", "label", "dot / (sqrt(nv2) * sqrt(nc2)) AS cosc"
    )
    st = cosd.groupBy("label").agg(
        F.avg("cosc").alias("mu"), F.stddev_samp("cosc").alias("sd")
    )
    return (
        cosd.join(F.broadcast(st), "label")
        .selectExpr(
            "vec_id",
            "label",
            "floor(cosc * 1000000 + 0.5) / 1000000 AS cos_c",
            "CASE WHEN sd IS NULL OR isnan(sd) THEN CAST(NULL AS DOUBLE)"
            " ELSE floor((cosc - (mu - 2 * sd)) * 10000 + 0.5) / 10000"
            " END AS margin",
        )
        .selectExpr(
            "vec_id",
            "label",
            "cos_c",
            "margin",
            "CAST(margin < 0 AS INT) AS is_ood",
        )
    )


_MAXSIM_PRUNED_ORACLE = f"""
WITH s AS (
  SELECT vec_id,
    {_sig_duckdb('embedding', 1, 32)} AS sig_lo,
    {_sig_duckdb('embedding', 33, 64)} AS sig_hi
  FROM embeddings),
q AS (
  SELECT s.vec_id AS qid, e.embedding AS qv, s.sig_lo AS q_lo,
         s.sig_hi AS q_hi
  FROM s JOIN embeddings e ON e.vec_id = s.vec_id
  WHERE s.vec_id % 100 = 0),
h AS (
  SELECT q.qid, s.vec_id,
    CAST(bit_count(xor(s.sig_lo, q.q_lo))
       + bit_count(xor(s.sig_hi, q.q_hi)) AS INT) AS ham
  FROM s, q WHERE s.vec_id <> q.qid),
cand AS (
  SELECT qid, vec_id, ham,
    row_number() OVER (PARTITION BY qid ORDER BY ham, vec_id) AS cr
  FROM h),
rr AS (
  SELECT c.qid, c.vec_id, c.ham,
    floor(({_maxsim('q.qv', 'e.embedding', True)}) * 1000000 + 0.5)
      / 1000000 AS score
  FROM cand c
  JOIN embeddings e ON e.vec_id = c.vec_id
  JOIN q ON q.qid = c.qid
  WHERE c.cr <= {NCAND}),
rk AS (
  SELECT qid, vec_id, ham, score,
    CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id)
      AS INT) AS rnk
  FROM rr)
SELECT qid, vec_id, ham, score, rnk FROM rk WHERE rnk <= {K}
"""


@query(
    "q_sim_maxsim_pruned",
    oracle=_MAXSIM_PRUNED_ORACLE,
    tags=("llm", "similarity", "scale-design"),
)
def q_sim_maxsim_pruned(spark, sf_dir):
    """The PLAID-style retrieval CASCADE composed as one operator:
    the binary-signature Hamming pass (q_sim_knn_binary's coarse
    stage) shortlists NCAND (100) candidates per query, and
    MaxSim late-interaction scoring (q_sim_maxsim's expression) runs
    ONLY on the shortlist for the final top-k.  This is the
    production shape the two component operators' scale curves point
    at (BASELINE §L.8): brute-force MaxSim is linear-in-corpus per
    query (451 ms/query at 100x), while here the expensive scorer
    touches a corpus-independent shortlist — per-query cost is the
    cheap bit-parallel scan plus a CONSTANT 100-row rerank (the
    shortlist was widened 50 -> 100 with the 1-bit tier's in r13:
    the coarse pass is the recall bottleneck).

    Plan shape: identical coarse stage to q_sim_knn_binary (signature
    projection, broadcast query set, narrow Hamming cross-score,
    qid-partitioned candidate window), then the shortlist joins BACK
    to the corpus by vec_id and the 16-fold MaxSim expression runs on
    |Q| x 100 rows.  Shared helpers (sig_index.shortlist / rerank,
    _maxsim) make cascade-vs-component drift impossible."""
    e = ensure_parallelism(Catalog(spark, sf_dir).embeddings)
    return rerank(
        e,
        *shortlist(e, fold_sigs(e)),
        score_sql=_maxsim("qv", "embedding", False),
        score="score",
    )


_BIN_RECALL_ORACLE = f"""
WITH s AS (
  SELECT vec_id,
    {_sig_duckdb('embedding', 1, 32)} AS sig_lo,
    {_sig_duckdb('embedding', 33, 64)} AS sig_hi
  FROM embeddings),
q AS (
  SELECT s.vec_id AS qid, e.embedding AS qv, s.sig_lo AS q_lo,
         s.sig_hi AS q_hi
  FROM s JOIN embeddings e ON e.vec_id = s.vec_id
  WHERE s.vec_id % 100 = 0),
exact AS (
  SELECT qid, vec_id FROM (
    SELECT q.qid, d.vec_id,
      row_number() OVER (PARTITION BY q.qid ORDER BY
        floor(({vectors.cosine_duckdb('d.embedding', 'q.qv')})
          * 1000000 + 0.5) / 1000000 DESC, d.vec_id) AS rnk
    FROM embeddings d, q WHERE d.vec_id <> q.qid)
  WHERE rnk <= {K}),
h AS (
  SELECT q.qid, s.vec_id,
    CAST(bit_count(xor(s.sig_lo, q.q_lo))
       + bit_count(xor(s.sig_hi, q.q_hi)) AS INT) AS ham
  FROM s, q WHERE s.vec_id <> q.qid),
cand AS (
  SELECT qid, vec_id FROM (
    SELECT qid, vec_id,
      row_number() OVER (PARTITION BY qid ORDER BY ham, vec_id) AS cr
    FROM h)
  WHERE cr <= {NCAND}),
approx AS (
  SELECT qid, vec_id FROM (
    SELECT c.qid, c.vec_id,
      row_number() OVER (PARTITION BY c.qid ORDER BY
        floor(({vectors.cosine_duckdb('e.embedding', 'q.qv')})
          * 1000000 + 0.5) / 1000000 DESC, c.vec_id) AS rnk
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
    "q_sim_binary_recall",
    oracle=_BIN_RECALL_ORACLE,
    tags=("llm", "similarity", "audit"),
)
def q_sim_binary_recall(spark, sf_dir):
    """Recall audit for the binary-quantized cascade — the accuracy
    half of the story whose speed half is measured in BASELINE §L.8:
    per query, recall@5 of q_sim_knn_binary's answer (Hamming
    top-100 shortlist + exact cosine rerank) against the exact
    brute-force cosine top-5 ground truth.  Same audit pattern
    as q_dedup_minhash_recall (measure the production approximation
    against an exact reference inside the engine, never trust the
    sketch on faith).

    Both paths are sig_index's (shortlist + recall_at_k, whose approx
    leg is the shipped rerank) so the audit measures the SHIPPED
    operator, not a reimplementation.
    The ground-truth pass is brute-force over the bounded broadcast
    query set (the same |Q| x corpus narrow cross-score shape); at
    100 TB the audit runs on a corpus-scaled SAMPLE of queries the
    way the minhash recall audit samples documents.

    MEASURED at sf0.1 (and the reason this audit ships): mean
    recall@5 = 0.67 at the production shortlist of 100 — the r12
    verdict's one measured QUALITY deficit was the old shortlist of
    20 (recall 0.37), and the r13 fix moved the shipped operating
    point up the measured curve: 0.37 / 0.48 / 0.67 / 0.75 at
    20/50/100/200 (builder-measured, same corpus; re-measured at the
    shipped 100 this round).  The fixture embeddings are ISOTROPIC
    random vectors, the worst case for 1-bit sign quantization (all
    cosines cluster near 0, true neighbors are near-ties the coarse
    pass cannot separate); real embedding distributions are
    anisotropic and quantize far better, but the audit exists
    precisely so a deployment MEASURES its own corpus instead of
    trusting that sentence.  Per-query cost stays shortlist-bounded:
    the rerank touches exactly NCAND corpus rows per query whatever
    the corpus size (delta measured in BASELINE §L.8-r13)."""
    e = ensure_parallelism(Catalog(spark, sf_dir).embeddings)
    return recall_at_k(e, *shortlist(e, fold_sigs(e)))


_MMR_LAMBDA = 0.7  # relevance weight
_MMR_MU = 0.3  # redundancy weight — a LITERAL, not 1-lambda: Python's
# (1 - 0.7) is 0.30000000000000004, and that last-ulp difference
# against an SQL literal 0.3 flipped a 1e-6 quantization boundary at
# sf0.1 (found by the oracle diff); both engines now share the exact
# same double constant
_MMR_K = 5  # selections per query
_MMR_NCAND = 20  # MMR shortlist width — deliberately NOT NCAND: the


def _mmr_oracle() -> str:
    """Unrolled greedy MMR in pure SQL: the selection at step i is the
    argmax over remaining candidates of
      floor((0.7*rel - 0.3*max(sim to selected)) * 1e6 + 0.5) / 1e6
    with (score DESC, vec_id) tie-break — five CTE steps, each joining
    the pairwise-sim table against the union of prior selections.  All
    sims are 1e-6-quantized BEFORE any comparison, so the greedy path
    is bit-identical to the Python fold in the Spark operator."""
    qz = "floor(({expr}) * 1000000 + 0.5) / 1000000"
    rel_cos = qz.format(expr=vectors.cosine_duckdb("e.embedding", "q.qv"))
    pair_cos = qz.format(expr=vectors.cosine_duckdb("ea.embedding", "eb.embedding"))
    parts = [f"""
WITH s AS (
  SELECT vec_id,
    {_sig_duckdb('embedding', 1, 32)} AS sig_lo,
    {_sig_duckdb('embedding', 33, 64)} AS sig_hi
  FROM embeddings),
q AS (
  SELECT s.vec_id AS qid, e.embedding AS qv, s.sig_lo AS q_lo,
         s.sig_hi AS q_hi
  FROM s JOIN embeddings e ON e.vec_id = s.vec_id
  WHERE s.vec_id % 100 = 0),
h AS (
  SELECT q.qid, s.vec_id,
    CAST(bit_count(xor(s.sig_lo, q.q_lo))
       + bit_count(xor(s.sig_hi, q.q_hi)) AS INT) AS ham
  FROM s, q WHERE s.vec_id <> q.qid),
cand AS (
  SELECT qid, vec_id FROM (
    SELECT qid, vec_id,
      row_number() OVER (PARTITION BY qid ORDER BY ham, vec_id) AS cr
    FROM h)
  WHERE cr <= {_MMR_NCAND}),
rel AS (
  SELECT c.qid, c.vec_id, {rel_cos} AS rel
  FROM cand c
  JOIN embeddings e ON e.vec_id = c.vec_id
  JOIN q ON q.qid = c.qid),
pair AS (
  SELECT a.qid, a.vec_id AS va, b.vec_id AS vb, {pair_cos} AS ps
  FROM rel a
  JOIN rel b ON b.qid = a.qid AND b.vec_id <> a.vec_id
  JOIN embeddings ea ON ea.vec_id = a.vec_id
  JOIN embeddings eb ON eb.vec_id = b.vec_id),
s1 AS (
  SELECT qid, vec_id, rel AS score FROM (
    SELECT qid, vec_id, rel,
      row_number() OVER (PARTITION BY qid ORDER BY rel DESC, vec_id) AS rn
    FROM rel) WHERE rn = 1)"""]
    for i in range(2, _MMR_K + 1):
        prev_union = " UNION ALL ".join(
            f"SELECT qid, vec_id FROM s{j}" for j in range(1, i)
        )
        parts.append(f""",
sel{i} AS ({prev_union}),
m{i} AS (
  SELECT r.qid, r.vec_id,
    floor(({_MMR_LAMBDA} * r.rel - {_MMR_MU} * max(p.ps))
      * 1000000 + 0.5) / 1000000 AS score
  FROM rel r
  JOIN sel{i} sp ON sp.qid = r.qid
  JOIN pair p ON p.qid = r.qid AND p.va = r.vec_id AND p.vb = sp.vec_id
  LEFT JOIN sel{i} x ON x.qid = r.qid AND x.vec_id = r.vec_id
  WHERE x.vec_id IS NULL
  GROUP BY r.qid, r.vec_id, r.rel),
s{i} AS (
  SELECT qid, vec_id, score FROM (
    SELECT qid, vec_id, score,
      row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) AS rn
    FROM m{i}) WHERE rn = 1)""")
    finals = " UNION ALL ".join(
        f"SELECT qid, vec_id, {i} AS rnk, score FROM s{i}"
        for i in range(1, _MMR_K + 1)
    )
    parts.append(f"\n{finals}")
    return "".join(parts)


@query(
    "q_sim_rerank_mmr",
    oracle=_mmr_oracle(),
    tags=("llm", "similarity", "scale-design"),
)
def q_sim_rerank_mmr(spark, sf_dir):
    """Maximal-Marginal-Relevance diversification of the retrieval
    shortlist — the rerank RAG stacks run after ANN so the k results
    are not five copies of the same passage: greedily select
    argmax of lambda*rel(q,d) - (1-lambda)*max_{s in S} sim(d, s),
    k times, over the binary cascade's Hamming shortlist.

    The greedy recurrence is inherently sequential in k, so this is
    the designed use of applyInPandas: one Arrow-batched group per
    query (exactly _MMR_NCAND candidate rows — shortlist-sized, NEVER
    corpus-sized), inside which a Python fold computes the pairwise
    cosines left-to-right in float64 (the identical operation order
    as the DuckDB oracle's list_aggregate fold, so the sims are
    bit-equal), quantizes them at 1e-6 BEFORE any comparison, and
    walks the k selections with a (score DESC, vec_id) tie-break.
    The oracle unrolls the same greedy walk as five SQL CTE steps —
    an engine-level differential test of a genuinely iterative
    operator.  Relevance scores are computed JVM-side (shared
    cosine fold) before the Python stage; candidate embeddings ride
    into the group as Arrow arrays (20 x 64 floats per query).  At
    100 TB the group size is constant: the shuffle carries
    |Q| x _MMR_NCAND rows whatever the corpus."""
    import math

    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    e = ensure_parallelism(Catalog(spark, sf_dir).embeddings)
    q, cand = shortlist(e, fold_sigs(e), ncand=_MMR_NCAND)
    rel = (
        cand.join(e.selectExpr("vec_id", "embedding"), "vec_id")
        .join(F.broadcast(q), "qid")
        .selectExpr(
            "qid",
            "vec_id",
            "embedding",
            f"floor(({vectors.cosine_expr('embedding', 'qv')}) * 1000000"
            " + 0.5) / 1000000 AS rel",
        )
    )
    out_schema = T.StructType(
        [
            T.StructField("qid", T.LongType()),
            T.StructField("vec_id", T.LongType()),
            T.StructField("rnk", T.IntegerType()),
            T.StructField("score", T.DoubleType()),
        ]
    )

    def qz(x: float) -> float:
        return math.floor(x * 1000000 + 0.5) / 1000000

    def cos_fold(a, b) -> float:
        # identical operation order to the DuckDB list_aggregate fold:
        # left-to-right double sums, then sqrt/multiply/divide
        dot = 0.0
        na = 0.0
        nb = 0.0
        for i in range(len(a)):
            x = float(a[i])
            y = float(b[i])
            dot += x * y
            na += x * x
            nb += y * y
        return dot / (math.sqrt(na) * math.sqrt(nb))

    def mmr_group(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        n = len(pdf)
        embs = [np.asarray(v) for v in pdf["embedding"]]
        ps = [[0.0] * n for _ in range(n)]
        for i in range(n):
            for j in range(n):
                if i != j:
                    ps[i][j] = qz(cos_fold(embs[i], embs[j]))
        rels = [float(r) for r in pdf["rel"]]
        vids = [int(v) for v in pdf["vec_id"]]
        qid = int(pdf["qid"].iloc[0])
        selected: list[int] = []
        rows = []
        for step in range(1, _MMR_K + 1):
            best = None
            for i in range(n):
                if i in selected:
                    continue
                if step == 1:
                    score = rels[i]
                else:
                    score = qz(
                        _MMR_LAMBDA * rels[i]
                        - _MMR_MU * max(ps[i][j] for j in selected)
                    )
                key = (-score, vids[i])
                if best is None or key < best[0]:
                    best = (key, i, score)
            if best is None:
                # fewer than _MMR_K candidates in this group (r12
                # ADVICE): emit only the selections made, matching
                # the unrolled oracle's graceful short-group rows
                break
            _, bi, bscore = best
            selected.append(bi)
            rows.append(
                {
                    "qid": qid,
                    "vec_id": vids[bi],
                    "rnk": step,
                    "score": bscore,
                }
            )
        return pd.DataFrame(rows, columns=["qid", "vec_id", "rnk", "score"])

    return rel.groupBy("qid").applyInPandas(mmr_group, out_schema)


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
# (q_sim_knn_2bit_indexed), which must return answers
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
