"""Vector similarity expressions + sign-bucket LSH (SURVEY.md §2.12).

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


def sign_bucket_expr(col: str, n_bits: int) -> str:
    """Deterministic LSH bucket id: sign bits of the first n_bits dims."""
    bits = ", ".join(
        f"(CASE WHEN element_at({col}, {i}) >= 0 THEN '1' ELSE '0' END)"
        for i in range(1, n_bits + 1)
    )
    return f"concat({bits})"


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


def banded_cells_cte_duckdb(table: str = "embeddings", id_col: str = "vec_id") -> str:
    """DuckDB CTE bodies `nb` + `cells`: (id, bucket) per band, the
    oracle twin of banded_cells()."""
    return (
        f"nb AS (SELECT {_NB_DUCKDB} AS nb FROM {table}),\n"
        f"cells AS (\n"
        f"  SELECT {id_col}, CAST(t.band AS VARCHAR) || ':' || array_to_string(\n"
        f"    list_transform(generate_series(1, nb.nb),\n"
        f"      i -> CASE WHEN embedding[t.band * {BAND_STRIDE} + i] >= 0 "
        f"THEN '1' ELSE '0' END), '') AS bucket\n"
        f"  FROM {table}, nb, unnest(generate_series(0, {N_BANDS - 1})) t(band))"
    )


def primary_cell_cte_duckdb(table: str = "embeddings") -> str:
    """DuckDB CTE bodies `nb` + `b`: the band-0 (IVF coarse) cell per
    vector, oracle twin of bucketed_cells(n_bits=None)."""
    return (
        f"nb AS (SELECT {_NB_DUCKDB} AS nb FROM {table}),\n"
        f"b AS (\n"
        f"  SELECT vec_id, embedding, array_to_string(\n"
        f"    list_transform(generate_series(1, nb.nb),\n"
        f"      i -> CASE WHEN embedding[i] >= 0 THEN '1' ELSE '0' END), '') AS bucket\n"
        f"  FROM {table}, nb)"
    )


def bucketed_cells(
    emb: DataFrame, n_bits: int | None = None, id_col: str = "vec_id"
) -> DataFrame:
    """Vectors with their deterministic LSH cell id (IVF coarse
    quantizer analog); at scale, write this out `partitionBy(bucket)`
    so a probe is partition pruning.  n_bits=None (default) derives the
    bit count from the corpus size; an explicit n_bits pins it (stable
    physical layouts need a frozen quantizer)."""
    e = ensure_parallelism(emb)
    if n_bits is not None:
        return e.selectExpr(
            id_col, "embedding", f"{sign_bucket_expr('embedding', n_bits)} AS bucket"
        )
    return e.crossJoin(F.broadcast(corpus_bits(emb))).selectExpr(
        id_col,
        "embedding",
        "concat_ws('', transform(sequence(1, nb), "
        "i -> CASE WHEN element_at(embedding, i) >= 0 THEN '1' ELSE '0' END)) AS bucket",
    )


def banded_cells(emb: DataFrame, id_col: str = "vec_id") -> DataFrame:
    """(id, bucket) rows, one per band — bucket embeds the band id so a
    single equi-join on `bucket` is the multi-band OR candidate join.
    Embeddings are deliberately NOT carried: the join + distinct move
    only (id, bucket) pairs."""
    e = ensure_parallelism(emb)
    return (
        e.crossJoin(F.broadcast(corpus_bits(emb)))
        .select(
            id_col,
            "embedding",
            "nb",
            F.explode(F.sequence(F.lit(0), F.lit(N_BANDS - 1))).alias("band"),
        )
        .selectExpr(
            id_col,
            f"concat(cast(band AS string), ':', concat_ws('', transform(sequence(1, nb), "
            f"i -> CASE WHEN element_at(embedding, band * {BAND_STRIDE} + i) >= 0 "
            f"THEN '1' ELSE '0' END))) AS bucket",
        )
    )


def bucketed_pairs(emb: DataFrame, id_col: str = "vec_id") -> DataFrame:
    """(a < b) vector pairs colliding in ANY LSH band.  Shape:
    band-join on (id, bucket) → distinct id pairs → re-join embeddings.
    The distinct sees only 8-byte id pairs; vectors join back after."""
    # (r16 A/B: localCheckpoint-ing cells measured a wash here — the
    # banded-cells projection is cheap relative to the checkpoint's
    # eager materialization job, unlike the simhash/edit-distance
    # fingerprint passes — so it stays lazy.)
    cells = banded_cells(emb, id_col)
    a = cells.selectExpr(f"{id_col} AS va", "bucket")
    b = cells.selectExpr(f"{id_col} AS vb", "bucket AS bucket2")
    cand = (
        a.join(b, (a.bucket == b.bucket2) & (a.va < b.vb))
        .select("va", "vb")
        .distinct()
    )
    ea = emb.selectExpr(f"{id_col} AS ida", "embedding AS ea")
    eb = emb.selectExpr(f"{id_col} AS idb", "embedding AS eb")
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
