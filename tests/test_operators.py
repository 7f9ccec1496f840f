"""Operator-library unit tests: asof, banded range join, minhash,
simhash, vectors — verified against independent formulations."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from skyhookdb_ceph_spark.operators.asof import asof_join
from skyhookdb_ceph_spark.operators.minhash import jaccard_pairs, shingle_sets
from skyhookdb_ceph_spark.operators.range_join import banded_interval_join
from skyhookdb_ceph_spark.operators.simhash import (
    simhash_pairs,
    simhash_signatures,
)


def test_asof_join_picks_latest_at_or_before(spark):
    left = spark.createDataFrame(
        [Row(k=1, ts=10, tag="a"), Row(k=1, ts=20, tag="b"), Row(k=2, ts=5, tag="c")]
    )
    right = spark.createDataFrame(
        [Row(k=1, rts=8, v=100), Row(k=1, rts=10, v=200), Row(k=1, rts=15, v=300),
         Row(k=2, rts=9, v=400)]
    )
    out = {
        (r.k, r.ts): r.v_out
        for r in asof_join(
            left, right, key="k", left_ts="ts", right_ts="rts",
            value_col="v", out_col="v_out",
        ).collect()
    }
    assert out[(1, 10)] == 200  # equal timestamp qualifies (<= semantics)
    assert out[(1, 20)] == 300
    assert out[(2, 5)] is None  # no right row at or before


def test_banded_interval_join_matches_naive_theta(spark, sf_small):
    from skyhookdb_ceph_spark.catalog import Catalog

    c = Catalog(spark, sf_small)
    p = c.part.select("p_partkey", "p_retailprice")
    s = c.supplier.select("s_suppkey", "s_acctbal")
    lo = F.col("s_acctbal") / 4
    naive = (
        s.crossJoin(p)
        .filter((F.col("p_retailprice") >= lo) & (F.col("p_retailprice") <= lo + 20))
        .select("s_suppkey", "p_partkey")
    )
    banded = banded_interval_join(p, s, "p_retailprice", lo, lo + 20, 20.0).select(
        "s_suppkey", "p_partkey"
    )
    assert sorted(map(tuple, banded.collect())) == sorted(map(tuple, naive.collect()))


def test_minhash_identical_docs_get_jaccard_one(spark):
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="the quick brown fox jumps over the lazy dog"),
            Row(doc_id=2, text="the quick brown fox jumps over the lazy dog"),
            Row(doc_id=3, text="an entirely different sentence with other words here"),
        ]
    )
    pairs = jaccard_pairs(docs).collect()
    assert [(r.doc_a, r.doc_b, r.jac) for r in pairs] == [(1, 2, 1.0)]


def test_minhash_knowledge_lives_in_one_module():
    """The set-Jaccard term, the rotated hash window, the band stack
    and the bsig-bucketed index write are written once, in
    operators/minhash.py; a second copy anywhere in the package is the
    drift that module exists to prevent."""
    import pathlib
    import re

    pkg = pathlib.Path(__file__).resolve().parent.parent / "skyhookdb_ceph_spark"
    for needle in (
        re.escape("size(array_intersect("),
        re.escape("substring(concat(h, h)"),
        re.escape("AS (b, bsig)"),
        r'write_bucketed\w*\([^)]*"bsig"',  # the bsig-bucketed index
    ):
        holders = sorted(
            str(p.relative_to(pkg))
            for p in pkg.rglob("*.py")
            if re.search(needle, p.read_text())
        )
        assert holders == ["operators/minhash.py"], (needle, holders)


def test_shingles_are_distinct_word_triples(spark):
    docs = spark.createDataFrame([Row(doc_id=1, text="a b c d")])
    [row] = shingle_sets(docs).collect()
    assert sorted(row.shingles) == ["a b c", "b c d"]


def test_simhash_pairs_identical_and_near_docs(spark):
    docs = spark.createDataFrame(
        [
            Row(doc_id=5, text="alpha beta gamma delta epsilon zeta eta theta"),
            Row(doc_id=9, text="alpha beta gamma delta epsilon zeta eta theta"),
            Row(doc_id=7, text="unrelated totally different content words here now ok"),
        ]
    )
    pairs = {(r.doc_a, r.doc_b): r.hamming for r in simhash_pairs(docs).collect()}
    assert pairs.get((5, 9)) == 0  # identical docs -> hamming 0
    assert all(a != 7 and b != 7 for a, b in pairs)  # unrelated doc excluded


def test_simhash_signature_is_64_bits(spark):
    docs = spark.createDataFrame([Row(doc_id=1, text="alpha beta gamma")])
    [row] = simhash_signatures(docs).collect()
    assert len(row.sig) == 64 and set(row.sig) <= {"0", "1"}


def test_guard_global_window_enforces_dimension_scale(spark):
    """q_win_ntile_pct's dimension-only restriction is enforced, not
    just documented: past the row bound the guard raises instead of
    planning a single-task global sort."""
    import pytest as _pytest

    from skyhookdb_ceph_spark.operators import (
        GlobalWindowScaleError,
        guard_global_window,
    )

    small = spark.range(100)
    assert guard_global_window(small, max_rows=1000) is small
    with _pytest.raises(GlobalWindowScaleError, match="single-task global sort"):
        guard_global_window(small, max_rows=10)
    # explicit override for operators that accept the cost knowingly
    import os

    os.environ["SPARK_GRAFT_ALLOW_GLOBAL_WINDOW"] = "1"
    try:
        assert guard_global_window(small, max_rows=10) is small
    finally:
        del os.environ["SPARK_GRAFT_ALLOW_GLOBAL_WINDOW"]


def test_recall_curve_perfect_at_identical_zero_at_disjoint(spark):
    """recall_curve on a corpus of verbatim duplicates + unrelated
    docs: the J=1.0 band must exist with recall 1.0 (identical docs
    share every row-minimum, so every production band collides), and
    no truth pair may be lost from the reference detector's view of
    identical docs (r=1 bands also all collide)."""
    from skyhookdb_ceph_spark.operators.minhash import recall_curve

    base = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [Row(doc_id=i, text=base) for i in range(4)]
        + [
            Row(doc_id=10 + i, text=f"completely unrelated text number {i} "
                                    f"with distinct words alpha{i} beta{i}")
            for i in range(4)
        ]
    )
    rows = {r["j_band"]: r for r in recall_curve(docs).collect()}
    assert rows[1.0]["truth_pairs"] == 6  # C(4,2) verbatim pairs
    assert rows[1.0]["caught_pairs"] == 6
    assert rows[1.0]["recall"] == 1.0


def test_substring_spans_merge_overlapping_windows(spark):
    """q_dedup_substring's interval merge: a 40-char duplicated block
    shared by two docs yields ONE maximal span of >= 40 chars in each,
    not 9 overlapping 32-char spans; a doc with no duplicated window
    yields no row."""
    from skyhookdb_ceph_spark.registry import load_all
    import tempfile, os

    import string

    shared = "X" * 5 + "the exact same forty characters block!!" + "Y" * 5
    # 52+ chars with no repeated 32-gram (alphabet walk, no cycles)
    unique = " ".join(string.ascii_lowercase) + " " + string.digits
    docs = spark.createDataFrame(
        [
            Row(doc_id=0, text="prefix one " + shared + " suffix one....."),
            Row(doc_id=1, text="other start " + shared + " other end....."),
            Row(doc_id=2, text="z q j x v w k " * 10),  # SELF-repetition
            Row(doc_id=3, text=unique),
        ]
    ).withColumn("lang", F.lit("en")).withColumn("source", F.lit("t")) \
     .withColumn("n_chars", F.length("text"))
    with tempfile.TemporaryDirectory() as tmp:
        docs.write.parquet(os.path.join(tmp, "documents.parquet"))
        out = {
            r["doc_id"]: r
            for r in load_all()["q_dedup_substring"]
            .fn(spark, tmp)
            .collect()
        }
    # 2 is flagged too: within-doc repetition counts as a second
    # occurrence (Lee et al. remove those as well); 3 never appears
    assert set(out) == {0, 1, 2}
    for i in (0, 1):
        assert out[i]["n_spans"] == 1
        assert out[i]["dup_chars"] >= 50  # the whole shared block merged


def test_strip_dup_spans_removes_shared_block_keeps_unique(spark):
    """The action twin: the duplicated block disappears from BOTH its
    hosts (all occurrences removed, Lee et al. semantics), the unique
    affixes survive byte-exact, and a doc with no duplicated window
    passes through unchanged."""
    from skyhookdb_ceph_spark.registry import load_all
    import tempfile, os, string

    shared = "X" * 5 + "the exact same forty characters block!!" + "Y" * 5
    unique = " ".join(string.ascii_lowercase) + " " + string.digits
    docs = spark.createDataFrame(
        [
            Row(doc_id=0, text="prefix one " + shared + " suffix one....."),
            Row(doc_id=1, text="other start " + shared + " other end....."),
            Row(doc_id=3, text=unique),
        ]
    ).withColumn("lang", F.lit("en")).withColumn("source", F.lit("t")) \
     .withColumn("n_chars", F.length("text"))
    with tempfile.TemporaryDirectory() as tmp:
        docs.write.parquet(os.path.join(tmp, "documents.parquet"))
        out = {
            r["doc_id"]: r
            for r in load_all()["q_transform_strip_dup_spans"]
            .fn(spark, tmp)
            .collect()
        }
    assert "forty characters" not in out[0]["clean_text"]
    assert "forty characters" not in out[1]["clean_text"]
    # the flanking spaces are part of the duplicated substring too
    # (both hosts read " <block> "), so the maximal span removes them
    assert out[0]["clean_text"] == "prefix onesuffix one....."
    assert out[0]["removed_chars"] == len(shared) + 2
    assert out[3]["clean_text"] == unique
    assert out[3]["removed_chars"] == 0


def test_dedup_weights_count_preserving_and_survivors_agree(spark):
    """The dedup-weights invariants that make 'count-preserving dedup'
    true by construction: (1) the survivors' weights sum to the ORIGINAL
    document count — no document's mass is lost or double-counted by
    the cluster partition; (2) the survivor set is IDENTICAL to
    q_transform_dedup_corpus's kept set (both ops claim the same
    canonical total order — chars desc, doc_id asc — so disagreement
    would mean the shared derivation drifted)."""
    from skyhookdb_ceph_spark.registry import load_all

    sf = "/root/testdata/sf0.001"
    reg = load_all()
    w = reg["q_transform_dedup_weights"].fn(spark, sf).collect()
    corpus = reg["q_transform_dedup_corpus"].fn(spark, sf).collect()
    n_docs = len(corpus)  # corpus action emits one row per document
    assert sum(r["weight"] for r in w) == n_docs
    kept = {r["doc_id"] for r in corpus if r["status"] == "kept"}
    assert {r["doc_id"] for r in w} == kept
    # weight agrees with the corpus action's cluster sizes
    from collections import Counter

    sizes = Counter(r["cluster"] for r in corpus)
    assert all(sizes[r["cluster"]] == r["weight"] for r in w)


def test_token_budget_never_exceeds_budget(spark):
    """Greedy-prefix budget bound: tokens_kept <= the source budget
    for EVERY source (each of the k buckets enforces cum <= budget/k
    exactly, so the union cannot overshoot — the bucketed form's
    one-sided error is UNDERfill, never overfill)."""
    from skyhookdb_ceph_spark.queries.llm import _TB_BUDGET
    from skyhookdb_ceph_spark.registry import load_all

    reg = load_all()
    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        rows = reg["q_sample_token_budget"].fn(spark, sf).collect()
        assert rows, sf
        for r in rows:
            assert r["tokens_kept"] <= _TB_BUDGET, (sf, r)
            assert r["n_kept"] <= r["n_docs"], (sf, r)
