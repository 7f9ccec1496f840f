"""Vector similarity expressions, sign-bucket LSH and the IVF index
(SURVEY.md §2.12).

Embedding columns are array<float>.  All math is widened to double in a
FIXED evaluation order (left-to-right fold) so Spark and the DuckDB
oracle produce bit-identical sums before the final round(…, 6).

100 TB design:
- knn vs one query vector: the query vector is a 1-row broadcast; the
  scan is embarrassingly parallel; top-k is TakeOrderedAndProject
  (per-partition heap + driver merge of k rows, never a global sort).
- all-pairs similarity: sign-bucket LSH (axis-aligned random-hyperplane
  family, deterministic: sign bits of a window of dimensions) turns the
  quadratic problem into an equi-join on bucket id.
- SCALED bucket count: n_bits is derived from the corpus size
  (ceil(log2(n / TARGET_BUCKET_ROWS)), clamped to the band width), so
  the expected bucket population stays ~TARGET_BUCKET_ROWS and the
  within-bucket self-join stays O(n · TARGET) instead of O(n²/2^const)
  as the corpus grows.  The count is a 1-row broadcast aggregate — no
  driver-side collect, the whole derivation stays in the plan.
- RECALL via OR-amplification: N_BANDS independent bands (disjoint
  dimension windows) each produce a bucket; a pair is a candidate if it
  collides in ANY band.  More bits per band cut false positives; more
  bands recover the recall the extra bits cost.  Candidate (a, b) id
  pairs are deduped BEFORE embeddings are re-joined, so the wide
  vectors never ride through the distinct.
- Beyond 2^BAND_STRIDE buckets per band (64-dim fixtures → 16-bit
  bands), swap the axis-sign family for md5-seeded random-hyperplane
  projections — same plan shape, more usable bits; not needed at any
  bench SF.

IVF index — the only code that knows it.  Cell key: `cell_sql`, '1'
per dim >= 0 over nb dims from an offset (band 0 = the IVF coarse cell,
band b from b * BAND_STRIDE), under `dims_checked`: a NULL or
non-64-dim embedding fails the job naming its vec_id.  Multiprobe:
`hamming1_sql`, the cell plus each 1-bit flip, nb = length(cell).
Layout: (vec_id, embedding) in `partitionBy(bucket)` dirs, one file per
cell.  `build_ivf_index` derives nb from the frame; `append_ivf_index`
keys a delta with the FROZEN nb (the stored cells' width — re-deriving
it would re-key every cell) as new files only; `read_ivf_index` reads
cells back as strings ('0110', not the inferred int 110), so a cell
filter stays a PartitionFilter.  `probe` is the one single-query probe
over any cells frame, inline or read back.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from skyhookdb_ceph_spark.operators import ensure_parallelism

# Expected rows per LSH bucket; n_bits ≈ log2(n / TARGET_BUCKET_ROWS).
TARGET_BUCKET_ROWS = 64
# Independent OR-amplification bands, each over its own dim window.
N_BANDS = 4
# Dimensions reserved per band (fixtures are 64-dim: 4 bands × 16).
BAND_STRIDE = 16
_MIN_BITS = 4
DIMS = 64  # every index over `embedding` keys exactly this many dims
QUERY_VEC_ID = 0  # the probe's query vector
_IVF_SCHEMA = "vec_id bigint, embedding array<float>, bucket string"


def dims_checked(value: str) -> str:
    """`value` when ``embedding`` has DIMS dims, else a task failure
    that names the vector and what it holds."""
    return (
        f"CASE WHEN size(embedding) = {DIMS} THEN {value} ELSE raise_error("
        f"concat('vector index needs {DIMS}-dim embeddings: vec_id ', "
        "CAST(vec_id AS STRING), ' has ', CASE WHEN embedding IS NULL "
        "THEN 'NULL' ELSE CAST(size(embedding) AS STRING) || ' dims' END)) END"
    )


def dot_expr(a: str, b: str) -> str:
    """Left-to-right double-precision dot product (Catalyst fold)."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> cast(x AS double) * cast(y AS double)), "
        f"cast(0 AS double), (acc, v) -> acc + v)"
    )


def norm_sq_expr(a: str) -> str:
    return dot_expr(a, a)


def cosine_expr(a: str, b: str) -> str:
    return f"({dot_expr(a, b)} / (sqrt({norm_sq_expr(a)}) * sqrt({norm_sq_expr(b)})))"


def dot_duckdb(a: str, b: str, dim: int = 64) -> str:
    """Oracle twin of dot_expr: explicit double math, sequential sum."""
    return (
        f"list_aggregate(list_transform(generate_series(1, {dim}), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), 'sum')"
    )


def cosine_duckdb(a: str, b: str, dim: int = 64) -> str:
    return (
        f"({dot_duckdb(a, b, dim)} / "
        f"(sqrt({dot_duckdb(a, a, dim)}) * sqrt({dot_duckdb(b, b, dim)})))"
    )


def scaled_bits_py(n: int) -> int:
    """Python twin of the n_bits derivation (for tests/planning)."""
    import math

    if n <= TARGET_BUCKET_ROWS:
        return _MIN_BITS
    return max(_MIN_BITS, min(BAND_STRIDE, math.ceil(math.log2(n / TARGET_BUCKET_ROWS))))


def corpus_bits(emb: DataFrame) -> DataFrame:
    """1-row DataFrame with the scaled bit count `nb` — broadcast into
    the bucket expression so the derivation never touches the driver."""
    return emb.agg(
        F.least(
            F.greatest(
                F.ceil(
                    F.log2(F.count(F.lit(1)).cast("double") / F.lit(float(TARGET_BUCKET_ROWS)))
                ),
                F.lit(_MIN_BITS),
            ),
            F.lit(BAND_STRIDE),
        )
        .cast("int")
        .alias("nb")
    )


_NB_DUCKDB = (
    f"least(greatest(CAST(ceil(log2(count(*) / {TARGET_BUCKET_ROWS}.0)) AS INT), "
    f"{_MIN_BITS}), {BAND_STRIDE})"
)


def banded_cells_cte_duckdb() -> str:
    """DuckDB CTE bodies `nb` + `cells`: (vec_id, bucket) per band, the
    oracle twin of banded_cells()."""
    return (
        f"nb AS (SELECT {_NB_DUCKDB} AS nb FROM embeddings),\n"
        f"cells AS (\n"
        f"  SELECT vec_id, CAST(t.band AS VARCHAR) || ':' || array_to_string(\n"
        f"    list_transform(generate_series(1, nb.nb),\n"
        f"      i -> CASE WHEN embedding[t.band * {BAND_STRIDE} + i] >= 0 "
        f"THEN '1' ELSE '0' END), '') AS bucket\n"
        f"  FROM embeddings, nb, unnest(generate_series(0, {N_BANDS - 1})) t(band))"
    )


def primary_cell_cte_duckdb() -> str:
    """DuckDB CTE bodies `nb` + `b`: the band-0 (IVF coarse) cell per
    vector, oracle twin of bucketed_cells(n_bits=None)."""
    return (
        f"nb AS (SELECT {_NB_DUCKDB} AS nb FROM embeddings),\n"
        f"b AS (\n"
        f"  SELECT vec_id, embedding, array_to_string(\n"
        f"    list_transform(generate_series(1, nb.nb),\n"
        f"      i -> CASE WHEN embedding[i] >= 0 THEN '1' ELSE '0' END), '') AS bucket\n"
        f"  FROM embeddings, nb)"
    )


# ---------------------------------------------------------------------------
# the cell key and its multiprobe set
# ---------------------------------------------------------------------------


def cell_sql(nb, offset: str = "") -> str:
    """The cell of ``embedding``: '1' iff dim offset + i >= 0, for i in
    1..nb (an int or a column).  The check sits inside concat_ws, which
    keeps the key non-nullable: Catalyst infers no isnotnull(cell)
    join filter that would evaluate it twice."""
    dim = f"{offset} + i" if offset else "i"
    return "concat_ws('', {})".format(dims_checked(
        f"transform(sequence(1, {nb}), "
        f"i -> CASE WHEN element_at(embedding, {dim}) >= 0 THEN '1' ELSE '0' END)"
    ))


def hamming1_sql(cell: str) -> str:
    """`cell` plus its Hamming-1 neighbours (array_union dedups, like
    the oracles' UNION)."""
    nb = f"length({cell})"
    return (
        f"array_union(array({cell}), transform(sequence(1, {nb}), "
        f"i -> concat(substr({cell}, 1, i - 1), "
        f"CASE WHEN substr({cell}, i, 1) = '1' THEN '0' ELSE '1' END, "
        f"substr({cell}, i + 1, {nb}))))"
    )


def bucketed_cells(emb: DataFrame, n_bits: int | None = None) -> DataFrame:
    """(vec_id, embedding, bucket): the band-0 cell per vector, nb
    derived from the corpus unless `n_bits` pins it."""
    e = ensure_parallelism(emb)
    if n_bits is None:
        e, n_bits = e.crossJoin(F.broadcast(corpus_bits(emb))), "nb"
    return _keyed(e, n_bits)


def _keyed(e: DataFrame, nb) -> DataFrame:
    return e.selectExpr("vec_id", "embedding", f"{cell_sql(nb)} AS bucket")


def banded_cells(emb: DataFrame) -> DataFrame:
    """(vec_id, bucket) rows, one per band — bucket embeds the band id so
    a single equi-join on `bucket` is the multi-band OR candidate join.
    Embeddings are deliberately NOT carried: the join + distinct move
    only (id, bucket) pairs."""
    e = ensure_parallelism(emb)
    return (
        e.crossJoin(F.broadcast(corpus_bits(emb)))
        .select(
            "vec_id",
            "embedding",
            "nb",
            F.explode(F.sequence(F.lit(0), F.lit(N_BANDS - 1))).alias("band"),
        )
        .selectExpr(
            "vec_id",
            "concat(cast(band AS string), ':', "
            f"{cell_sql('nb', f'band * {BAND_STRIDE}')}) AS bucket",
        )
    )


def bucketed_pairs(emb: DataFrame) -> DataFrame:
    """(a < b) vector pairs colliding in ANY LSH band.  Shape:
    band-join on (id, bucket) → distinct id pairs → re-join embeddings.
    The distinct sees only 8-byte id pairs; vectors join back after."""
    # (r16 A/B: localCheckpoint-ing cells measured a wash here — the
    # banded-cells projection is cheap relative to the checkpoint's
    # eager materialization job, unlike the simhash/edit-distance
    # fingerprint passes — so it stays lazy.)
    cells = banded_cells(emb)
    a = cells.selectExpr("vec_id AS va", "bucket")
    b = cells.selectExpr("vec_id AS vb", "bucket AS bucket2")
    cand = (
        a.join(b, (a.bucket == b.bucket2) & (a.va < b.vb))
        .select("va", "vb")
        .distinct()
    )
    ea = emb.selectExpr("vec_id AS ida", "embedding AS ea")
    eb = emb.selectExpr("vec_id AS idb", "embedding AS eb")
    # merge hints: never broadcast the embedding side of the re-join
    # — it is corpus-sized (the same Catalyst under-estimate that
    # OOMed the MinHash verify join at 100× fixture rows), and the
    # shuffle_hash build of the candidate side also exhausted the
    # shared local heap at sf10; SortMergeJoin spills instead of
    # dying (BASELINE.md §L.1)
    return (
        cand.hint("merge")
        .join(ea, cand.va == ea.ida)
        .hint("merge")
        .join(eb, cand.vb == eb.idb)
        .select("va", "vb", "ea", "eb")
    )


# ---------------------------------------------------------------------------
# IVF index: build / append / read, and the one probe
# ---------------------------------------------------------------------------


def _write_cells(cells: DataFrame, path: str, mode: str) -> None:
    # repartition by cell first, or every input partition writes a file
    # into every cell dir (32x the files at 32 partitions).  It is the
    # one shuffle: widening the input first (ensure_parallelism) for a
    # cheap per-row key would only add a stage.
    cells.repartition("bucket").write.mode(mode).partitionBy("bucket").parquet(path)


def build_ivf_index(spark, vectors: DataFrame, path: str) -> None:
    """Write the index of a (vec_id, embedding) frame to ``path``."""
    keyed = _keyed(vectors.crossJoin(F.broadcast(corpus_bits(vectors))), "nb")
    _write_cells(keyed, path, "overwrite")


def append_ivf_index(spark, vectors: DataFrame, path: str) -> None:
    """Add a delta frame to the index at ``path`` as new files, keyed
    with the stored cells' width as nb."""
    nb = read_ivf_index(spark, path).select(F.length("bucket")).first()[0]
    _write_cells(_keyed(vectors, nb), path, "append")


def read_ivf_index(spark, path: str) -> DataFrame:
    return spark.read.schema(_IVF_SCHEMA).parquet(path)


def probe(cells: DataFrame, k: int, multiprobe: bool = False) -> DataFrame:
    """Top k (vec_id, sim) of a cells frame against its QUERY_VEC_ID:
    the query's cell (plus its Hamming-1 neighbours if `multiprobe`)
    broadcast into a bucket equi-join, cosine on the 1e-6 grid."""
    pcell = f"explode({hamming1_sql('bucket')})" if multiprobe else "bucket"
    probes = cells.filter(F.col("vec_id") == QUERY_VEC_ID).selectExpr(
        "embedding AS qv", f"{pcell} AS pcell"
    )
    return (
        cells.join(F.broadcast(probes), F.col("bucket") == F.col("pcell"))
        .selectExpr(
            "vec_id",
            f"floor(({cosine_expr('embedding', 'qv')}) * 1000000 + 0.5)"
            " / 1000000 AS sim",
        )
        .orderBy(F.col("sim").desc(), "vec_id")
        .limit(k)
    )
