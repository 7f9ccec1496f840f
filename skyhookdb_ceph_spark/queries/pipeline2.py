"""Training-data pipeline operators, round 3 wave 5 (SURVEY.md §2.14)
— batch ANN retrieval, cross-corpus passage dedup, histogram
profiling, and Z-order layout keys (the reference's sort-on-write /
RID-index locality idea re-expressed as a measurable query).

Same house rules as pipeline.py: deterministic (no RNG), every
computed column quantized engine-invariantly and aliased identically
in Spark and oracle SQL.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from skyhookdb_ceph_spark.operators.multimodal import frame_sample
from skyhookdb_ceph_spark.operators.skew import salted_join
from skyhookdb_ceph_spark.operators.vectors import cosine_duckdb, cosine_expr
from skyhookdb_ceph_spark.queries._util import Catalog, collect_local, quantize, scratch
from skyhookdb_ceph_spark.registry import query
from skyhookdb_ceph_spark.streaming.replay import drain_to_files, events_stream

# ---------------------------------------------------------------------------
# Batch ANN: top-k neighbors for a SET of query vectors in one pass
# ---------------------------------------------------------------------------

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


# ---------------------------------------------------------------------------
# Cross-corpus passage dedup (C4/RefinedWeb-style repeated-span removal)
# ---------------------------------------------------------------------------

_PASSAGE_ORACLE = """
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS words FROM documents),
b AS (
  SELECT doc_id, unnest(CASE WHEN len(words) >= 4 THEN
    list_transform(generate_series(1, len(words) - 3, 4),
      i -> md5(array_to_string(list_slice(words, i, i + 3), ' ')))
    ELSE [] END) AS ph
  FROM w),
f AS (SELECT ph, count(DISTINCT doc_id) AS dw FROM b GROUP BY ph),
p AS (
  SELECT b.doc_id,
    CAST(count(*) AS BIGINT) AS n_blocks,
    CAST(count(CASE WHEN f.dw >= 2 THEN 1 END) AS BIGINT) AS n_dup_blocks
  FROM b LEFT JOIN f USING (ph) GROUP BY b.doc_id)
SELECT doc_id, n_blocks, n_dup_blocks,
  floor(n_dup_blocks * 1.0 / greatest(n_blocks, 1) * 1000000 + 0.5)
    / 1000000 AS dup_frac
FROM p
"""


@query("q_dedup_passage", oracle=_PASSAGE_ORACLE, tags=("pipeline", "dedup"))
def q_dedup_passage(spark, sf_dir):
    """Cross-document PASSAGE dedup: cut every doc into non-overlapping
    fixed-width word blocks, hash each block, and score each doc by the
    fraction of its blocks that also occur in ANOTHER doc — the
    repeated-span (boilerplate) signal C4-style pipelines filter on.
    Block width is a parameter; 4 here so the small fixtures exercise
    the cross-doc collision path.  Plan: explode (pure map) ->
    per-hash distinct-doc count (one keyed shuffle of (hash, doc_id))
    -> join back -> per-doc agg.  Hashes are uniform, so the groupBy
    key never skews; docs shorter than one block carry no passage
    evidence and drop out (both engines drop them identically)."""
    d = Catalog(spark, sf_dir).documents
    blocks = d.select(
        "doc_id",
        F.explode(
            F.expr(
                "CASE WHEN size(split(text, ' ')) >= 4 THEN "
                "transform(sequence(1, size(split(text, ' ')) - 3, 4), "
                "  i -> md5(concat_ws(' ', slice(split(text, ' '), i, 4)))) "
                "ELSE array() END"
            )
        ).alias("ph"),
    )
    freq = blocks.groupBy("ph").agg(F.count_distinct("doc_id").alias("dw"))
    per_doc = (
        blocks.join(freq, "ph", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_blocks"),
            F.count(F.when(F.col("dw") >= 2, 1)).alias("n_dup_blocks"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_blocks",
        "n_dup_blocks",
        quantize(
            F.col("n_dup_blocks") / F.greatest(F.col("n_blocks"), F.lit(1)), 6
        ).alias("dup_frac"),
    )


# ---------------------------------------------------------------------------
# Histogram profiling (fixed-width bins, one partial-agg pass)
# ---------------------------------------------------------------------------

_HISTOGRAM_ORACLE = """
WITH g AS (
  SELECT CAST(least(floor(l_extendedprice / 11000), 9) AS INT) AS bucket,
    CAST(count(*) AS BIGINT) AS cnt
  FROM lineitem GROUP BY 1)
SELECT bucket,
  CAST(bucket * 11000 AS DOUBLE) AS lo,
  CAST(bucket * 11000 + 11000 AS DOUBLE) AS hi,
  cnt,
  floor(cnt * 1.0 / sum(cnt) OVER () * 1000000 + 0.5) / 1000000 AS share
FROM g
"""


@query("q_fn_histogram", oracle=_HISTOGRAM_ORACLE, tags=("pipeline", "agg"))
def q_fn_histogram(spark, sf_dir):
    """Fixed-width histogram of l_extendedprice (10 bins of 11000, top
    bin open): the dataset-profiling pass a pipeline runs before
    choosing filters/curriculum thresholds.  Bin assignment is pure
    integer math (floor-divide), so it partial-aggregates map-side and
    the shuffle carries at most 10 rows regardless of input size; the
    share window runs over those 10 aggregate rows, never over data."""
    li = Catalog(spark, sf_dir).lineitem
    g = li.groupBy(
        F.least(F.floor(F.col("l_extendedprice") / 11000), F.lit(9))
        .cast("int")
        .alias("bucket")
    ).agg(F.count("*").alias("cnt"))
    return g.select(
        "bucket",
        (F.col("bucket").cast("double") * 11000).alias("lo"),
        (F.col("bucket").cast("double") * 11000 + 11000).alias("hi"),
        "cnt",
        quantize(F.col("cnt") / F.sum("cnt").over(Window.partitionBy()), 6).alias(
            "share"
        ),
    )


# ---------------------------------------------------------------------------
# Z-order (Morton) layout keys — the RID-index / sort-on-write analog
# ---------------------------------------------------------------------------


def _morton_terms(x: str, y: str, dialect: str) -> str:
    """16-term Morton interleave of two 8-bit ints, exact in both
    engines (shiftright/& in Spark, >>/& in DuckDB; plain int math)."""
    terms = []
    for i in range(8):
        if dialect == "spark":
            bx, by = f"(shiftright({x}, {i}) & 1)", f"(shiftright({y}, {i}) & 1)"
        else:
            bx, by = f"(({x} >> {i}) & 1)", f"(({y} >> {i}) & 1)"
        terms.append(f"{bx} * {1 << (2 * i)}")
        terms.append(f"{by} * {1 << (2 * i + 1)}")
    return " + ".join(terms)


_ZX = "CAST(least(floor(l_extendedprice / 412), 255) AS INT)"
_ZY = "CAST(least(greatest(CAST(l_quantity AS INT) - 1, 0), 255) AS INT)"

_ZORDER_ORACLE = f"""
WITH z AS (
  SELECT CAST(({_morton_terms(_ZX, _ZY, 'duckdb')}) // 1024 AS INT) AS zrange,
    {_ZX} AS x, {_ZY} AS y
  FROM lineitem)
SELECT zrange, CAST(count(*) AS BIGINT) AS cnt,
  min(x) AS min_x, max(x) AS max_x, min(y) AS min_y, max(y) AS max_y
FROM z GROUP BY zrange
"""


@query("q_layout_zorder", oracle=_ZORDER_ORACLE, tags=("pipeline", "layout"))
def q_layout_zorder(spark, sf_dir):
    """Z-order (Morton) layout keys over (price, quantity): interleave
    the bits of two quantized 8-bit dimensions so that sorting by the
    single zkey co-locates rows that are close in BOTH dimensions —
    Spark's analog of the reference's sort-on-write RID locality
    [U: cls_tabular.cc — SIT_IDX_RID; SURVEY §2.11].  The query groups
    rows into coarse z-ranges (zkey div 1024) and reports each range's
    x/y bounding box: tight boxes == tight row-group min/max stats ==
    2-D predicate pruning from a 1-D sort.  operators/layout.py writes
    the actual files; this is the measurable/oracle-checkable core.
    Pure per-row int math + one partial agg, any scale."""
    li = Catalog(spark, sf_dir).lineitem
    z = li.selectExpr(
        f"CAST(({_morton_terms(_ZX, _ZY, 'spark')}) div 1024 AS INT) AS zrange",
        f"{_ZX} AS x",
        f"{_ZY} AS y",
    )
    return z.groupBy("zrange").agg(
        F.count("*").alias("cnt"),
        F.min("x").alias("min_x"),
        F.max("x").alias("max_x"),
        F.min("y").alias("min_y"),
        F.max("y").alias("max_y"),
    )


# ---------------------------------------------------------------------------
# Wave 6: multimodal frame sampling, salted skew join, file-sink streaming
# ---------------------------------------------------------------------------

# Frames are 256 BYTES and the oracle slices CHARACTERS — exact parity
# holds because the documents fixture is pure ASCII (verified: 0 rows
# with octet_length <> length at sf0.001/sf0.01).  Real media payloads
# are opaque bytes with no char/byte ambiguity at all.
_FRAMES_ORACLE = """
SELECT doc_id, CAST((gs - 1) // 256 AS INT) AS frame_no,
  CAST(length(substr(text, CAST(gs AS INT), 256)) AS INT) AS frame_bytes,
  md5(substr(text, CAST(gs AS INT), 256)) AS frame_md5
FROM documents, unnest(generate_series(1, length(text), 512)) t(gs)
"""


@query(
    "q_multimodal_frames",
    oracle=_FRAMES_ORACLE,
    tags=("pipeline", "multimodal"),
)
def q_multimodal_frames(spark, sf_dir):
    """Video-style frame sampling over an opaque binary column: split
    each payload into fixed 256-byte pseudo-frames and keep every 2nd
    (operators/multimodal.py frame_sample — a row function run by
    operators.map_rows, the Arrow-batched shape every multimodal codec
    shares; frames are fixed byte slices, no video codec is involved).
    Pure map stage: frames never shuffle, output
    rows stay on the partition that scanned the payload, so at 100 TB
    cost is one pass over the media bytes.  The query fingerprints each
    kept frame (md5 + length) so the oracle can verify the exact frame
    boundaries and sampling phase cross-engine."""
    d = Catalog(spark, sf_dir).documents
    media = d.select(
        F.col("doc_id").alias("media_id"),
        F.col("text").cast("binary").alias("payload"),
    )
    frames = frame_sample(media, every_n=2)
    return frames.select(
        F.col("media_id").alias("doc_id"),
        "frame_no",
        F.length("frame").alias("frame_bytes"),
        F.md5("frame").alias("frame_md5"),
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


_FILESINK_ORACLE = """
SELECT event_type, CAST(count(*) AS BIGINT) AS cnt,
  floor(sum(value) * 100 + 0.5) / 100 AS sum_value
FROM events
WHERE event_type IN ('click', 'purchase') AND value > 10
GROUP BY event_type
"""


@query(
    "q_stream_filesink",
    oracle=_FILESINK_ORACLE,
    tags=("pipeline", "stream"),
)
def q_stream_filesink(spark, sf_dir):
    """Exactly-once streaming persistence: readStream over the events
    fixture -> stateless filter/projection -> transactional parquet
    FILE sink (streaming/replay.py drain_to_files) -> batch read of
    the committed files -> rollup.  The file sink's _spark_metadata
    commit log lists exactly the files of committed batches, so the
    read-back sees no partial output even if a task died mid-write —
    matching the oracle on the SOURCE proves the sink round-trip is
    lossless and exactly-once.  The streaming stage is a pure map
    (no state, no watermark), so at scale it's one pass per
    micro-batch with zero shuffle.  Scratch: see ``_util.scratch``."""
    with scratch("skyhook_filesink_") as tmp:
        src = (
            events_stream(spark, sf_dir)
            .where(
                F.col("event_type").isin("click", "purchase")
                & (F.col("value") > 10)
            )
            .select("event_id", "event_type", "value")
        )
        committed = drain_to_files(src, f"{tmp}/out")
        out = committed.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("cnt"),
            quantize(F.sum("value"), 2).alias("sum_value"),
        )
        # Materialize before the scratch dir is removed.
        return collect_local(out)
