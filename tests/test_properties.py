"""Property-based tests (hypothesis) for the engine-invariance claims
the oracle comparisons rest on — checked against DuckDB directly, on
randomized inputs rather than fixture luck."""

from __future__ import annotations

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st


@pytest.fixture(scope="module")
def con():
    return duckdb.connect()


@settings(max_examples=200, deadline=None)
@given(st.floats(min_value=0, max_value=1e9, allow_nan=False, allow_infinity=False))
def test_quantize2_matches_duckdb(x):
    """floor(x*100+0.5)/100 must be bit-identical in Python IEEE math
    and DuckDB (both engines execute the same IEEE ops — this is the
    money() parity claim)."""
    import math

    py = math.floor(x * 100 + 0.5) / 100
    con = duckdb.connect()
    (db,) = con.execute("SELECT floor(? * 100 + 0.5) / 100", [x]).fetchone()
    assert py == db


@settings(max_examples=50, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.floats(min_value=0, max_value=1000, allow_nan=False),
            st.floats(min_value=0, max_value=50, allow_nan=False),
        ),
        min_size=1,
        max_size=30,
    ),
    st.floats(min_value=0, max_value=1000, allow_nan=False),
)
def test_banded_interval_membership(intervals, point):
    """Bucket-explosion band join must classify membership exactly like
    the naive predicate for any interval of length <= width."""
    width = 50.0
    import math

    for lo, length in intervals:
        hi = lo + length
        naive = lo <= point <= hi
        p_bucket = math.floor(point / width)
        iv_buckets = range(math.floor(lo / width), math.floor(hi / width) + 1)
        banded = p_bucket in iv_buckets and lo <= point <= hi
        assert banded == naive


@settings(max_examples=50, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=100), min_size=0, max_size=20),
    st.lists(st.integers(min_value=0, max_value=100), min_size=1, max_size=20),
)
def test_asof_semantics_model(left_ts, right_ts):
    """Model check of the union+window as-of recipe: for each left ts,
    carrying forward the last right value over the merged, sorted,
    right-before-left-on-tie sequence equals max(right <= left)."""
    events = sorted(
        [(t, 0, t) for t in right_ts] + [(t, 1, None) for t in left_ts]
    )  # (ts, is_left, value); right (0) sorts before left (1) at ties
    carried, results = None, {}
    for ts, is_left, val in events:
        if is_left == 0:
            carried = val if carried is None else max(carried, val)
        else:
            results.setdefault(ts, carried)
    for t in left_ts:
        eligible = [r for r in right_ts if r <= t]
        expected = max(eligible) if eligible else None
        assert results[t] == expected


def test_scaled_lsh_bits_grow_with_corpus():
    """The LSH bit derivation must keep expected bucket population at
    ~TARGET_BUCKET_ROWS: bits grow logarithmically with n and clamp to
    the band width (the round-2 scale-killer was a constant 4)."""
    from skyhookdb_ceph_spark.operators.vectors import (
        BAND_STRIDE,
        TARGET_BUCKET_ROWS,
        scaled_bits_py,
    )

    assert scaled_bits_py(100) == 4          # floor
    assert scaled_bits_py(500) == 4          # sf0.001/0.01 fixtures
    assert scaled_bits_py(2_000) == 5        # sf0.1 fixture
    assert scaled_bits_py(1_000_000) == 14
    assert scaled_bits_py(10**9) == BAND_STRIDE  # clamp
    # expected bucket population n / 2^bits stays within ~2x of target
    # until the band-width clamp (beyond 2^BAND_STRIDE * target rows,
    # the axis-sign family runs out of bits — documented hash-projection
    # upgrade path in operators/vectors.py).
    for n in (10_000, 100_000, 1_000_000):
        bits = scaled_bits_py(n)
        assert n / 2**bits <= 2 * TARGET_BUCKET_ROWS
    # the r11/r12 verdict watch item, asserted: a fixed-size probe set
    # must be a FALLING fraction of the directory as the corpus grows
    # (nb grows with log n, cells = 2^nb) — up to the band-width clamp
    sizes = (5_000, 50_000, 150_000, 500_000, 5_000_000)
    bits = [scaled_bits_py(n) for n in sizes]
    assert bits == sorted(bits)  # monotone nondecreasing
    fracs = [1.0 / 2**b for b in bits]
    assert all(b <= a for a, b in zip(fracs, fracs[1:]))
    assert fracs[-1] <= fracs[0] / 10  # an order of magnitude across 1000x


def test_banded_pair_candidates_bounded(spark):
    """Candidate-pair volume from the multi-band LSH join must stay far
    below the quadratic all-pairs count — the property that makes the
    O(n^2) -> O(n*target) claim testable rather than aspirational."""
    from skyhookdb_ceph_spark.catalog import Catalog
    from skyhookdb_ceph_spark.operators import vectors

    e = Catalog(spark, "/root/testdata/sf0.01").embeddings
    n = e.count()
    cand = vectors.bucketed_pairs(e).count()
    all_pairs = n * (n - 1) / 2
    # 4 bands of >=4 bits: expected fraction <= 4/16 of all pairs even
    # in the worst (fully correlated signs) case observed on fixtures.
    assert cand < all_pairs / 2.5, (cand, all_pairs)


def test_lsh_candidate_pairs_scale_linearly(spark):
    """THE 100 TB property, asserted across a 10x scale-up: candidate
    pairs per row must stay ~constant (O(n * bucket_target) total)
    because the derived bit count grows with n — not O(n^2) like
    all-pairs, and not O(n)/row like a fixed-bit scheme.  Synthetic
    corpus (distinct 64-dim integer-lattice vectors derived from the
    id) generated in-test at two sizes; measured on fixtures:
    ~104 pairs/row at n=1000, ~101 at n=10000."""
    from skyhookdb_ceph_spark.operators import vectors

    def synth(n):
        return spark.range(n).selectExpr(
            "id AS vec_id",
            "transform(sequence(0, 63), j -> CAST(((id * (2 * j + 3) "
            "+ j * j + id % 31) % 19) - 9 AS FLOAT)) AS embedding",
        )

    n1, n2 = 1_000, 10_000
    ppr1 = vectors.bucketed_pairs(synth(n1)).count() / n1
    ppr2 = vectors.bucketed_pairs(synth(n2)).count() / n2
    # pairs PER ROW must not grow materially with corpus size ...
    assert ppr2 <= 1.5 * ppr1, (ppr1, ppr2)
    # ... and total volume stays orders below quadratic all-pairs.
    assert ppr2 * n2 < (n2 * (n2 - 1) / 2) / 40


def test_dynamic_bits_match_python_twin(spark):
    """corpus_bits (the in-plan derivation) equals scaled_bits_py."""
    from skyhookdb_ceph_spark.catalog import Catalog
    from skyhookdb_ceph_spark.operators import vectors

    e = Catalog(spark, "/root/testdata/sf0.01").embeddings
    (nb,) = vectors.corpus_bits(e).collect()[0]
    assert nb == vectors.scaled_bits_py(e.count())


def test_hexval8_spark_fast_path_matches_portable(spark):
    """The conv()-based Spark fast path must produce the identical
    BIGINT as the portable substr/instr arithmetic the DuckDB oracles
    use — across all three digest windows, on real key data."""
    from skyhookdb_ceph_spark.queries.pipeline4 import (
        _hexval8,
        _hexval8_spark,
    )

    df = spark.range(0, 5000).selectExpr("md5(concat('t#', id)) AS h")
    for start in (1, 9, 17):
        n = df.selectExpr(
            f"{_hexval8('h', start)} AS a",
            f"{_hexval8_spark('h', start)} AS b",
        ).filter("a <> b").count()
        assert n == 0, f"fast path diverges at window start={start}"


def test_hash_split_is_growth_stable(spark):
    """q_data_split's promise: a document's train/val/test assignment
    never changes as the corpus grows (the property %-based random
    sampling lacks).  The split is a pure function of doc_id, so the
    assignment computed over the sf0.001 corpus must be a subset of
    the one computed over the 10x sf0.01 corpus, row for row."""
    from pyspark.sql import functions as F

    from skyhookdb_ceph_spark.catalog import Catalog

    def assign(sf):
        d = Catalog(spark, sf).documents
        bucket = (F.col("doc_id") * 2654435761) % 4294967296 % 100
        return d.select(
            "doc_id",
            F.when(bucket < 80, "train")
            .when(bucket < 90, "val")
            .otherwise("test")
            .alias("split"),
        )

    small = assign("/root/testdata/sf0.001")
    big = assign("/root/testdata/sf0.01").withColumnsRenamed(
        {"doc_id": "b_id", "split": "b_split"}
    )
    joined = small.join(big, small.doc_id == F.col("b_id"), "inner")
    n_small = small.count()
    assert joined.count() == n_small  # every small doc exists in big
    assert joined.filter("split <> b_split").count() == 0
    # and the 80/10/10 shape holds on the big corpus within tolerance
    shares = {
        r["b_split"]: r["count"]
        for r in big.groupBy("b_split").count().collect()
    }
    total = sum(shares.values())
    assert 0.7 < shares["train"] / total < 0.9


def test_results_invariant_to_shuffle_partition_count(spark):
    """Engine soundness: results must not depend on the physical
    partition count (no order-dependent accumulation leaks into
    output).  Runs a shuffle-heavy aggregate, a window query, and the
    two-level median under 3 vs 17 shuffle partitions and asserts
    identical canonical results."""
    from skyhookdb_ceph_spark.registry import load_all

    specs = load_all()
    sf = "/root/testdata/sf0.01"
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        results = {}
        for parts in ("3", "17"):
            spark.conf.set("spark.sql.shuffle.partitions", parts)
            for name in ("q_agg_groupby", "q_win_rank", "q_agg_median_exact"):
                rows = sorted(
                    map(str, specs[name].fn(spark, sf).collect())
                )
                results.setdefault(name, []).append(rows)
        for name, (a, b) in results.items():
            assert a == b, f"{name} differs across partition counts"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


@settings(max_examples=25, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=4 * 86400),  # sec
            st.integers(min_value=-500, max_value=500),  # cents
        ),
        min_size=1,
        max_size=60,
    )
)
def test_day_block_ghost_window_model(events):
    """Pure-Python model of q_win_trailing_hour's day-block ghost
    decomposition vs the naive per-key trailing window: for ANY event
    multiset (including same-second ties and block-boundary seconds),
    the block-local RANGE frame over real+ghost rows must equal the
    global trailing-3600s frame — the decomposition's correctness
    claim, independent of Spark."""
    # naive: for each event, count/sum of all events in [t-3600, t]
    naive = [
        (
            t,
            sum(1 for u, _ in events if t - 3600 <= u <= t),
            sum(c for u, c in events if t - 3600 <= u <= t),
        )
        for t, _ in events
    ]
    # blocked: ghosts from each block's last hour duplicated forward
    rows = [(t, c, t // 86400, 1) for t, c in events]
    rows += [
        (t, c, t // 86400 + 1, 0)
        for t, c in events
        if t % 86400 >= 86400 - 3600
    ]
    blocked = [
        (
            t,
            sum(
                1
                for u, _, ub, _ in rows
                if ub == b and t - 3600 <= u <= t
            ),
            sum(
                cc
                for u, cc, ub, _ in rows
                if ub == b and t - 3600 <= u <= t
            ),
        )
        for t, c, b, emit in rows
        if emit == 1
    ]
    assert sorted(naive) == sorted(blocked)


def test_hll_error_bound_across_promotion_boundary(spark):
    """q_agg_hll_merge's contract (r7 verdict item 7): both the direct
    sketch estimate AND the union-of-part-sketches estimate stay
    within the 5 % band of the exact distinct count — at cardinalities
    on BOTH sides of the sparse->dense promotion (the r7 sf0.1 sweep
    showed union==direct bit-equality breaks past promotion; the band
    is the contract that replaced it).  Default lgConfigK=12 promotes
    around ~1k coupons, so the sweep brackets it from 100 to 50k."""
    from pyspark.sql import functions as F

    for n in (100, 500, 2_000, 8_000, 50_000):
        # 8 "days" of disjoint-ish but overlapping user ranges; union
        # of the 8 part-sketches must estimate the same n distinct.
        df = spark.range(n).select(
            F.col("id").alias("user_id"),
            (F.col("id") % 8).alias("part"),
        )
        direct = df.agg(
            F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("est")
        ).collect()[0]["est"]
        union = (
            df.groupBy("part")
            .agg(F.hll_sketch_agg("user_id").alias("sk"))
            .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"))
            .collect()[0]["est"]
        )
        assert abs(direct - n) <= 0.05 * n, (n, direct)
        assert abs(union - n) <= 0.05 * n, (n, union)


@settings(max_examples=100, deadline=None)
@given(
    st.lists(
        st.floats(min_value=-100, max_value=100, allow_nan=False),
        min_size=1,
        max_size=50,
    )
)
def test_cusum_prefix_min_identity_model(xs):
    """q_ts_cusum's algebraic move: the sequential recursion
    S_t = max(0, S_{t-1} + x_t) must equal P_t - min(0, min_{i<=t} P_i)
    where P is the prefix sum — the identity that turns a row-at-a-time
    loop into two window functions."""
    s_rec = 0.0
    pref = 0.0
    pref_min = 0.0  # min(0, running min of P)
    for x in xs:
        s_rec = max(0.0, s_rec + x)
        pref += x
        pref_min = min(pref_min, pref)
        s_alg = pref - min(pref_min, 0.0)
        assert abs(s_rec - s_alg) < 1e-9


@settings(max_examples=100, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=4),  # key
            st.integers(min_value=-1000, max_value=1000),  # value
            st.booleans(),  # lands in the delta?
        ),
        min_size=1,
        max_size=60,
    )
)
def test_incremental_merge_equals_recompute_model(rows):
    """q_agg_incremental_merge's algebra: merge(base (n, s), delta
    (n, s)) must equal the full recompute for count, sum, and the avg
    DERIVED from the merged state — for any split of rows into
    base/delta."""
    from collections import defaultdict

    full = defaultdict(lambda: [0, 0])
    base = defaultdict(lambda: [0, 0])
    delta = defaultdict(lambda: [0, 0])
    for k, v, is_delta in rows:
        full[k][0] += 1
        full[k][1] += v
        (delta if is_delta else base)[k][0] += 1
        (delta if is_delta else base)[k][1] += v
    for k in full:
        n = base[k][0] + delta[k][0]
        s = base[k][1] + delta[k][1]
        assert (n, s) == tuple(full[k])
        assert s / n == full[k][1] / full[k][0]


@settings(max_examples=150, deadline=None)
@given(st.text(alphabet="svcpe", min_size=0, max_size=40))
def test_event_pattern_regex_cross_engine(seq):
    """q_win_event_pattern's cross-engine claim: non-overlapping
    leftmost matching of s[vc]*p must agree between a Python regex
    engine (Java-regex-like backtracking, the Spark side's semantics)
    and DuckDB's RE2 (the oracle side) on arbitrary event strings."""
    import re

    import duckdb

    py = len(re.findall("s[vc]*p", seq))
    con = duckdb.connect()
    (db,) = con.execute(
        "SELECT len(regexp_extract_all(?, 's[vc]*p'))", [seq]
    ).fetchone()
    assert py == db


def _py_dup_spans(texts: dict[int, str], k: int = 32):
    """Pure-Python third implementation of the q_dedup_substring
    contract (independent of both the Spark plan and the DuckDB
    oracle): per doc, maximal merged spans of positions whose k-gram
    occurs >1 time in the corpus (within-doc repeats count)."""
    from collections import Counter

    grams = Counter()
    for t in texts.values():
        for i in range(len(t) - k + 1):
            grams[t[i : i + k]] += 1
    out = {}
    for doc, t in texts.items():
        dup = [
            i + 1  # 1-based, engine convention
            for i in range(len(t) - k + 1)
            if grams[t[i : i + k]] > 1
        ]
        spans = []
        for i in dup:
            e = i + k - 1
            if spans and i <= spans[-1][1] + 1:
                spans[-1][1] = max(spans[-1][1], e)
            else:
                spans.append([i, e])
        if spans:
            out[doc] = (
                len(spans),
                sum(e - s + 1 for s, e in spans),
            )
    return out


def _segments():
    """Random docs composed from a SHARED segment pool, so duplicated
    32-char windows actually arise (pure-random strings never repeat a
    32-gram)."""
    seg = st.text(
        alphabet="abcdefgh ", min_size=8, max_size=20
    )
    pool = st.lists(seg, min_size=2, max_size=5)
    return pool.flatmap(
        lambda p: st.lists(
            st.lists(st.sampled_from(p), min_size=2, max_size=6).map(
                "".join
            ),
            min_size=2,
            max_size=6,
        )
    )


@pytest.mark.slow
@settings(max_examples=12, deadline=None)
@given(_segments())
def test_dedup_substring_matches_python_reference(spark, docs_texts):
    """q_dedup_substring (Spark window plan) against the pure-Python
    reference on randomized pool-composed corpora — a third
    implementation, so an error shared by the Spark and SQL
    formulations of the interval merge cannot hide."""
    import os
    import tempfile

    from pyspark.sql import Row

    from skyhookdb_ceph_spark.registry import load_all

    texts = {i: t for i, t in enumerate(docs_texts)}
    expected = _py_dup_spans(texts)
    rows = [
        Row(doc_id=i, text=t, lang="en", source="t", n_chars=len(t))
        for i, t in texts.items()
    ]
    with tempfile.TemporaryDirectory() as tmp:
        spark.createDataFrame(rows).write.parquet(
            os.path.join(tmp, "documents.parquet")
        )
        got = {
            r["doc_id"]: (r["n_spans"], r["dup_chars"])
            for r in load_all()["q_dedup_substring"].fn(spark, tmp).collect()
        }
    assert got == expected


def _py_band_signatures(texts: dict[int, str], n_bands=8, n_rows=4):
    """Pure-Python third implementation of the banded (b, r) MinHash
    signature math (operators/minhash.band_signatures): one md5 per
    DISTINCT 3-word shingle, row (b, j) = min over shingles of the
    8-hex window at offset b*r+j of digest||digest, band sig = concat
    of the r row-minima."""
    import hashlib

    out = {}
    for doc, t in texts.items():
        words = t.split(" ")
        if len(words) >= 3:
            shingles = {
                " ".join(words[i : i + 3]) for i in range(len(words) - 2)
            }
        else:
            shingles = {t}
        hs = [
            hashlib.md5(s.encode()).hexdigest() for s in shingles
        ]
        sigs = {}
        for b in range(n_bands):
            sigs[b] = "".join(
                min((h + h)[b * n_rows + j : b * n_rows + j + 8] for h in hs)
                for j in range(n_rows)
            )
        out[doc] = sigs
    return out


@pytest.mark.slow
@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.text(alphabet="abcde ", min_size=1, max_size=60),
        min_size=1,
        max_size=5,
    )
)
def test_band_signatures_match_python_reference(spark, texts):
    """Both encoders of operators/minhash — band_signatures (exploded
    groupBy-min Catalyst formulation) and inline_band_signatures (the
    per-row lambda form streams run) — against the pure-Python
    md5/rotated-window reference on arbitrary short texts, including
    sub-shingle-width docs and texts with repeated/empty tokens (the
    concat_ws round-trip edge)."""
    from pyspark.sql import Row

    from skyhookdb_ceph_spark.operators.minhash import (
        band_signatures,
        inline_band_signatures,
        shingle_sets,
    )

    tx = {i: t for i, t in enumerate(texts)}
    expected = _py_band_signatures(tx)
    docs = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in tx.items()]
    )
    for sig in (band_signatures(shingle_sets(docs)), inline_band_signatures(docs)):
        got = {}
        for r in sig.collect():
            got.setdefault(r["doc_id"], {})[r["b"]] = r["bsig"]
        assert got == expected


@pytest.mark.slow
@settings(max_examples=8, deadline=None)
@given(_segments())
def test_strip_and_audit_agree_on_random_corpora(spark, docs_texts):
    """Cross-operator invariant on randomized corpora: for every doc,
    q_transform_strip_dup_spans.removed_chars equals
    q_dedup_substring.dup_chars (0 where the audit has no row), and
    len(clean_text) + removed_chars reconstructs the original length —
    the audit and the action must describe the SAME spans."""
    import os
    import tempfile

    from pyspark.sql import Row

    from skyhookdb_ceph_spark.registry import load_all

    texts = {i: t for i, t in enumerate(docs_texts)}
    rows = [
        Row(doc_id=i, text=t, lang="en", source="t", n_chars=len(t))
        for i, t in texts.items()
    ]
    with tempfile.TemporaryDirectory() as tmp:
        spark.createDataFrame(rows).write.parquet(
            os.path.join(tmp, "documents.parquet")
        )
        audit = {
            r["doc_id"]: r["dup_chars"]
            for r in load_all()["q_dedup_substring"].fn(spark, tmp).collect()
        }
        strip = {
            r["doc_id"]: r
            for r in load_all()["q_transform_strip_dup_spans"]
            .fn(spark, tmp)
            .collect()
        }
    assert set(strip) == set(texts)  # the transform keeps every doc
    for i, t in texts.items():
        assert strip[i]["removed_chars"] == audit.get(i, 0)
        assert len(strip[i]["clean_text"]) + strip[i]["removed_chars"] == len(t)


@settings(max_examples=100, deadline=None)
@given(
    st.lists(
        st.integers(min_value=0, max_value=200),
        min_size=768,
        max_size=768,
    ),
    st.integers(min_value=0, max_value=55),
)
def test_ahash_invariant_under_brightness_shift(vals, c):
    """q_dedup_phash's near-dup premise: the aHash is EXACTLY
    invariant under a constant brightness shift that does not wrap
    (gray and mean shift together; block*64 > total is preserved
    because 12c per block x 64 blocks = 768c added to the total).
    Values capped at 200 and shift at 55 so v + c never wraps."""
    import numpy as np

    from skyhookdb_ceph_spark.operators.multimodal import ahash64

    raster = np.array(vals, dtype=np.int64)
    assert ahash64(raster) == ahash64(raster + c)


@settings(max_examples=100, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=5000), min_size=0, max_size=40),
    st.lists(st.integers(min_value=0, max_value=5000), min_size=0, max_size=40),
)
def test_interval_grid_responsibility_counts_each_pair_once(a_starts, b_starts):
    """q_join_interval_grid's de-dup rule: replicate each 30-unit
    interval to its 60-unit grid cells, join on cell, filter overlap
    AND cell == cell(max(starts)) — must count EXACTLY the naive
    all-pairs overlap set, each pair once, for arbitrary starts
    (including intervals spanning a cell boundary and equal starts)."""
    length, cell_w = 30, 60
    naive = sum(
        1
        for a in a_starts
        for b in b_starts
        if a <= b + length and b <= a + length
    )
    grid = 0
    for a in a_starts:
        a_cells = set(range(a // cell_w, (a + length) // cell_w + 1))
        for b in b_starts:
            if not (a <= b + length and b <= a + length):
                continue
            b_cells = set(range(b // cell_w, (b + length) // cell_w + 1))
            resp = max(a, b) // cell_w
            hits = [c for c in a_cells & b_cells if c == resp]
            assert len(hits) == 1, (a, b, a_cells, b_cells, resp)
            grid += len(hits)
    assert grid == naive


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=30),  # n_tl per lang
            st.integers(min_value=1, max_value=40),  # extra docs of lang
        ),
        min_size=1,
        max_size=6,
    )
)
def test_mutual_info_absent_cell_algebra(cells):
    """q_agg_mutual_info computes absent (token,lang) cells via one
    closed-form correction instead of materializing the vocab x langs
    grid; the two formulations must agree to float regrouping noise
    (<< the 1e-6 output quantum)."""
    import math

    n_l = [ntl + extra for ntl, extra in cells]
    n_tl = [ntl for ntl, _ in cells]
    n = sum(n_l)
    n_t = sum(n_tl)
    if n_t == 0:
        return

    def term(c, nx, nl):
        return (c / n) * math.log2((c * n) / (nx * nl)) if c > 0 else 0.0

    # full-grid (oracle) form: every lang contributes both cells
    full = sum(
        term(n_tl[i], n_t, n_l[i]) + term(n_l[i] - n_tl[i], n - n_t, n_l[i])
        for i in range(len(cells))
    )
    # window+correction (Spark) form: present rows only, absent langs
    # collapsed into ((n - sum_present_nl)/n) * log2(n/(n-n_t))
    pres = [i for i in range(len(cells)) if n_tl[i] > 0]
    nl_pres = sum(n_l[i] for i in pres)
    spark = sum(
        term(n_tl[i], n_t, n_l[i]) + term(n_l[i] - n_tl[i], n - n_t, n_l[i])
        for i in pres
    )
    if n - n_t > 0 and n - nl_pres > 0:
        spark += ((n - nl_pres) / n) * math.log2(n / (n - n_t))
    assert abs(full - spark) < 1e-10
