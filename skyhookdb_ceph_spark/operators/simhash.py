"""SimHash near-duplicate signatures (SURVEY.md §2.12).

SimHash projects each token onto N pseudo-random hyperplanes (here:
hex digits of the token's md5 — bit i is +1 if digit i <= '7' else
-1), sums the projections over the document, and keeps the sign
vector.  Round 3 widened the signature from 16 to 64 bits (two md5
streams per token), lifting the cluster-capacity ceiling from 2^16 —
where unrelated documents collide at corpus scale — to 2^64.

With 64 bits, near-identical documents no longer collide on the FULL
signature, so dedup is banded (the standard SimHash trick): the
signature splits into 4 bands of 16 bits; documents sharing any band
are candidates (an equi-join on (band, band-bits) — one shuffle on a
short string key, never all-pairs), then exact Hamming distance
filters candidates to true near-dups.

md5-based projection keeps it deterministic AND byte-identical in the
DuckDB oracle; `oracle_sql()` mirrors the exact expressions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from skyhookdb_ceph_spark.operators import ensure_parallelism

N_BITS = 64          # two 32-hex-digit md5 streams per token
N_BANDS = 4
BAND_BITS = N_BITS // N_BANDS
HAMMING_MAX = 8      # near-dup verdict threshold on candidate pairs


def simhash_duckdb_expr() -> str:
    """Oracle twin over `text`: per-bit independent ±1 sums over the
    same md5 projection (addition per position is order-independent,
    so the per-bit formulation equals Spark's per-bit sums exactly)."""
    words = "string_split(text, ' ')"
    return (
        f"array_to_string(list_transform(generate_series(1, {N_BITS}), "
        f"i -> CASE WHEN list_aggregate(list_transform({words}, "
        f"w -> CASE WHEN substr(md5(w) || md5('x' || w), i, 1) <= '7' "
        f"THEN 1 ELSE -1 END), 'sum') >= 0 THEN '1' ELSE '0' END), '')"
    )


def hamming_spark_expr(a: str, b: str) -> str:
    """Hamming distance between two 64-char '0'/'1' signatures: each
    16-bit band parses to an int (conv), XORs, and bit_count sums the
    differing bits — all scalar codegen functions.  Replaces a 64-step
    interpreted lambda fold that dominated the candidate-verify stage
    (measured ~6 s -> sub-second at sf0.1)."""
    terms = " + ".join(
        f"bit_count(CAST(conv(substring({a}, {off}, {BAND_BITS}), 2, 10) AS BIGINT) "
        f"^ CAST(conv(substring({b}, {off}, {BAND_BITS}), 2, 10) AS BIGINT))"
        for off in range(1, N_BITS + 1, BAND_BITS)
    )
    return f"({terms})"


def hamming_duckdb_expr(a: str, b: str) -> str:
    return (
        f"list_aggregate(list_transform(generate_series(1, {N_BITS}), "
        f"i -> CASE WHEN substr({a}, i, 1) = substr({b}, i, 1) THEN 0 ELSE 1 END), 'sum')"
    )


def simhash_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, sig) — the 64-bit signature per document of a
    (doc_id, text) frame.

    Implementation: explode words -> one md5 pair per word -> 64
    codegen'd conditional-sum aggregates per document, then the sign
    string.  Mathematically identical to a single-pass array fold over
    the words (per-bit ±1 sums commute), but whole-stage codegen'd
    instead of 64-wide interpreted higher-order lambdas per word —
    measured 4.4 s -> sub-second at sf0.1.  Explode preserves
    partition locality, so the partial aggregate finishes each doc's
    votes before the doc-keyed exchange; only 64-int states shuffle."""
    from pyspark.sql import functions as F

    # NULL text: explode(split(NULL)) would silently drop the doc while
    # the DuckDB oracle keeps a NULL signature that can never equi-join.
    # Filter explicitly so both engines drop it by construction.
    words = (
        ensure_parallelism(docs)
        .filter(F.col("text").isNotNull())
        .selectExpr("doc_id", "explode(split(text, ' ')) AS w")
    )
    hx = words.selectExpr(
        "doc_id", "concat(md5(w), md5(concat('x', w))) AS h"
    )
    votes = [
        F.sum(
            F.expr(
                f"CASE WHEN substring(h, {i}, 1) <= '7' THEN 1 ELSE -1 END"
            )
        ).alias(f"v{i}")
        for i in range(1, N_BITS + 1)
    ]
    agg = hx.groupBy("doc_id").agg(*votes)
    sig = "concat(" + ", ".join(
        f"CASE WHEN v{i} >= 0 THEN '1' ELSE '0' END"
        for i in range(1, N_BITS + 1)
    ) + ")"
    return agg.selectExpr("doc_id", f"{sig} AS sig")


def simhash_pairs(docs: DataFrame) -> DataFrame:
    """Near-dup pairs (doc_a, doc_b, hamming) of a (doc_id, text) frame:
    banded LSH candidates (share any 16-bit band → equi-join), verified
    by exact Hamming distance <= HAMMING_MAX.  Only (id, band-bits) pairs cross the
    candidate shuffle; signatures re-join for the verify step."""
    # The signature is the expensive expression (md5 pair per word +
    # 64-way vote fold), so compute it ONCE per document and CARRY it
    # through the band explode and join — re-joining signatures after a
    # candidate distinct would recompute the full-corpus signature scan
    # twice more (measured 3.7s -> 2.9s at sf0.1).  Cost: candidate
    # shuffle rows carry two 64-char strings (~128 bytes) — fine at any
    # scale vs two extra corpus scans.
    # Materialize the signature pass ONCE: both sides of the band
    # self-join below derive from it under different aliases, so
    # Catalyst cannot reuse the exchange and would run the md5-pair +
    # 64-way vote fold (the dominant cost) twice.  Same localCheckpoint
    # pattern as cluster_labels / q_text_edit_distance; the frame is
    # one (id, 64-char sig) row per doc.
    sigs = simhash_signatures(docs).localCheckpoint()
    bands = sigs.selectExpr(
        "doc_id",
        "sig",
        f"explode(transform(sequence(0, {N_BANDS - 1}), "
        f"b -> concat(cast(b AS string), ':', substring(sig, b * {BAND_BITS} + 1, {BAND_BITS})))) AS bsig",
    )
    a = bands.selectExpr("doc_id AS doc_a", "sig AS sa", "bsig")
    c = bands.selectExpr("doc_id AS doc_b", "sig AS sb", "bsig AS bsig2")
    return (
        a.join(c, (a.bsig == c.bsig2) & (a.doc_a < c.doc_b))
        .select("doc_a", "doc_b", "sa", "sb")
        .distinct()
        .selectExpr("doc_a", "doc_b", f"cast({hamming_spark_expr('sa', 'sb')} AS int) AS hamming")
        .filter(f"hamming <= {HAMMING_MAX}")
    )


def simhash_pairs_oracle() -> str:
    """DuckDB oracle for simhash_pairs over the documents table."""
    return f"""
WITH sig AS (SELECT doc_id, {simhash_duckdb_expr()} AS sig FROM documents),
bands AS (
  SELECT doc_id, CAST(t.b AS VARCHAR) || ':' || substr(sig, t.b * {BAND_BITS} + 1, {BAND_BITS}) AS bsig
  FROM sig, unnest(generate_series(0, {N_BANDS - 1})) t(b)),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
  FROM bands a JOIN bands c ON a.bsig = c.bsig AND a.doc_id < c.doc_id)
SELECT doc_a, doc_b,
  CAST({hamming_duckdb_expr('x.sig', 'y.sig')} AS INT) AS hamming
FROM cand JOIN sig x ON x.doc_id = cand.doc_a JOIN sig y ON y.doc_id = cand.doc_b
WHERE {hamming_duckdb_expr('x.sig', 'y.sig')} <= {HAMMING_MAX}
"""
