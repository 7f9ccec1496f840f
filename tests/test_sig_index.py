"""Persisted ANN signature index (operators/sig_index.py, SURVEY.md
§2.26): the probe must READ the layout, never re-encode, the append
must be append-only and encode under the stored params, and both
encoders must reject a malformed embedding — the scale properties
q_sim_knn_binary_indexed / q_sim_knn_2bit_indexed / q_vec_sig_incremental
claim, proven in plans, on-disk file sets and failures."""

from __future__ import annotations

import os
import pathlib
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from skyhookdb_ceph_spark.catalog import Catalog
from skyhookdb_ceph_spark.operators.sig_index import (
    _SIG_COLS,
    _encode,
    _exploded,
    _thresholds,
    append_sig_index,
    build_sig_index,
    exploded_sigs,
    fold_sigs,
    probe_2bit,
    probe_binary,
)
from skyhookdb_ceph_spark.operators.vectors import (
    banded_cells,
    bucketed_cells,
    build_ivf_index,
)
from skyhookdb_ceph_spark.plans.explain import explain_str
from skyhookdb_ceph_spark.registry import load_all

SF = "/root/testdata/sf0.001"
_DELTA = "vec_id % 10 = 7"

# Encode-only physical markers: signature packing is shiftleft folds,
# the thermometer thresholds are a percentile aggregation over a
# posexplode pass.  None may appear in a probe-only plan.
_ENCODE_MARKERS = ("shiftleft", "posexplode", "percentile")


@pytest.fixture(scope="module")
def sig_index(spark):
    tmp = tempfile.mkdtemp(prefix="skyhook_sigtest_")
    build_sig_index(spark, Catalog(spark, SF).embeddings, tmp)
    yield spark, tmp
    shutil.rmtree(tmp, ignore_errors=True)


def _probe_plan(spark, tmp, probe):
    e = Catalog(spark, SF).embeddings
    return explain_str(probe(e, spark.read.parquet(f"{tmp}/sigs")))


@pytest.mark.parametrize("probe", [probe_binary, probe_2bit])
def test_probe_plan_never_encodes(sig_index, probe):
    """The coarse stage of an indexed probe reads persisted signature
    columns; the encode machinery (shiftleft packing, posexplode,
    percentile threshold probe) must be absent from the entire probe
    plan — at 100 TB that absence IS the index: 16-48 B/vector of
    column-pruned IO instead of a corpus-wide encode per query batch."""
    spark, tmp = sig_index
    plan = _probe_plan(spark, tmp, probe)
    for marker in _ENCODE_MARKERS:
        assert marker not in plan, f"probe plan re-encodes: {marker}"


def test_probe_plan_scans_index(sig_index):
    """The probe's coarse scan reads the persisted index files (the
    sigs/ path appears as a scan location) and the float corpus enters
    only via the rerank join-back (embeddings scanned too — exactly
    two parquet sources)."""
    spark, tmp = sig_index
    plan = _probe_plan(spark, tmp, probe_binary)
    assert os.path.basename(tmp) in plan  # index layout is scanned
    assert "embeddings" in plan  # rerank join-back to floats


@pytest.mark.parametrize(
    ("probe", "inline"),
    [(probe_binary, "q_sim_knn_binary"), (probe_2bit, "q_sim_knn_2bit")],
)
def test_probe_matches_inline_tier(sig_index, probe, inline):
    """Persisting the index must not change a single answer row vs the
    per-execution-encode tier (the indexed queries also share the
    inline tiers' oracles, so the driver pins this at sf0.01; this is
    the sf0.001 fast path)."""
    spark, tmp = sig_index
    e = Catalog(spark, SF).embeddings
    indexed = sorted(
        map(tuple, probe(e, spark.read.parquet(f"{tmp}/sigs")).collect())
    )
    ref = sorted(map(tuple, load_all()[inline].fn(spark, SF).collect()))
    assert indexed == ref and len(indexed) > 0


@pytest.fixture(scope="module")
def appended(spark):
    """A base-cohort build plus a delta-cohort append, through the
    production lifecycle; yields (spark, path, base file snapshots
    taken between the two)."""
    e = Catalog(spark, SF).embeddings
    tmp = tempfile.mkdtemp(prefix="sigtest_append_")
    try:
        build_sig_index(spark, e.filter(f"NOT ({_DELTA})"), tmp)
        before = _snapshot(tmp)
        append_sig_index(spark, e.filter(_DELTA), tmp)
        yield spark, tmp, before
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _snapshot(tmp):
    return {
        f: (st.st_size, st.st_mtime_ns)
        for f in os.listdir(f"{tmp}/sigs")
        if f.endswith(".parquet")
        for st in [os.stat(f"{tmp}/sigs/{f}")]
    }


def test_incremental_append_leaves_base_files_untouched(appended):
    """Appending delta signatures writes NEW files only: every base
    data file survives with identical name, size, and mtime —
    O(delta) maintenance, the property that makes per-ingest-batch
    refresh affordable (rebuild is O(corpus))."""
    _spark, tmp, before = appended
    after = _snapshot(tmp)
    assert set(before) <= set(after)  # strictly additive
    assert len(after) > len(before)  # delta landed as new files
    for f, meta in before.items():
        assert after[f] == meta, f"base file rewritten: {f}"


def test_append_encodes_with_stored_params(appended):
    """append_sig_index encodes the delta under the thresholds stored in
    params/ (the base cohort's), not under thresholds of its own: the
    appended rows equal an encode with the stored table and differ from
    one with delta-derived quartiles."""
    spark, tmp, _before = appended
    delta = _exploded(Catalog(spark, SF).embeddings.filter(_DELTA))

    def rows(df):
        return sorted(map(tuple, df.select("vec_id", *_SIG_COLS).collect()))

    got = rows(spark.read.parquet(f"{tmp}/sigs").filter(_DELTA))
    assert got == rows(_encode(delta, spark.read.parquet(f"{tmp}/params")))
    assert got != rows(_encode(delta, _thresholds(delta)))


def test_frozen_thresholds_are_a_real_parameter(spark):
    """The frozen-parameter rule has teeth on the fixture: encoding
    the delta cohort with BASE-derived quartiles differs from
    encoding it with full-corpus quartiles in at least one plane bit
    — so q_vec_sig_incremental's oracle (thr from base only) would
    actually catch an implementation that re-derived.  If the fixture
    ever degenerates to identical quartiles this test fails loudly
    rather than letting the pin rot silently."""
    e = Catalog(spark, SF).embeddings
    base = e.filter(f"NOT ({_DELTA})")
    delta = e.filter(_DELTA)
    frozen = _encode(_exploded(delta), _thresholds(_exploded(base)))
    rederived = _encode(_exploded(delta), _thresholds(_exploded(e)))
    a = sorted(map(tuple, frozen.collect()))
    b = sorted(map(tuple, rederived.collect()))
    assert a != b


def test_params_sidecar_roundtrips(sig_index):
    """The persisted threshold table equals a fresh derivation from
    the same corpus (cell-exact — both sides quantize to the 1e-6
    grid before comparison by construction)."""
    spark, tmp = sig_index
    stored = sorted(
        map(tuple, spark.read.parquet(f"{tmp}/params").collect())
    )
    fresh = sorted(
        map(
            tuple,
            _thresholds(_exploded(Catalog(spark, SF).embeddings)).collect(),
        )
    )
    assert stored == fresh and len(stored) == 64


_MALFORMED = {
    "63": ("slice(embedding, 1, 63)", "has 63 dims"),
    "65": ("concat(embedding, array(CAST(1.0 AS FLOAT)))", "has 65 dims"),
    "null": ("CAST(NULL AS array<float>)", "has NULL"),
}


@pytest.mark.parametrize("case", sorted(_MALFORMED))
@pytest.mark.parametrize(
    "encoder",
    [
        "build",
        "fold_sigs",
        "exploded_sigs",
        "ivf_build",
        "bucketed_cells",
        "banded_cells",
    ],
)
def test_encoders_reject_malformed_embeddings(spark, tmp_path, case, encoder):
    """Every encoder fails on an embedding that is not 64-dim, naming
    the vector: unchecked, the per-row fold packed a 65-dim vector's
    first 64 dims and read past a 63-dim one's end, and the build
    encoded a 63-dim vector from what it had and dropped a NULL one
    from the index (499 rows for 500 vectors), so probes answered.
    The IVF / LSH cell keys share the check: unchecked, they binned a
    NULL embedding into cell '0000' and a 63- or 65-dim one from its
    first nb dims."""
    bad_expr, cause = _MALFORMED[case]
    e = Catalog(spark, SF).embeddings.withColumn(
        "embedding",
        F.expr(f"CASE WHEN vec_id = 5 THEN {bad_expr} ELSE embedding END"),
    )
    run = {
        "build": lambda: build_sig_index(spark, e, str(tmp_path)),
        "fold_sigs": lambda: fold_sigs(e).collect(),
        "exploded_sigs": lambda: exploded_sigs(e).collect(),
        "ivf_build": lambda: build_ivf_index(spark, e, str(tmp_path / "ivf")),
        "bucketed_cells": lambda: bucketed_cells(e).collect(),
        "banded_cells": lambda: banded_cells(e).collect(),
    }[encoder]
    with pytest.raises(Exception, match=f"64-dim embeddings: vec_id 5 {cause}"):
        run()


def test_index_knowledge_lives_in_one_module():
    """The Hamming term, the shortlist cut, the threshold percentile and
    the recall count are written once, in operators/sig_index.py; a
    second copy anywhere in the package is the drift this module
    exists to prevent."""
    pkg = pathlib.Path(__file__).resolve().parent.parent / "skyhookdb_ceph_spark"
    for needle in (
        "bit_count(sig_lo ^",
        'F.col("cr") <=',
        'fn="percentile"',
        'count("avid")',
    ):
        holders = sorted(
            str(p.relative_to(pkg))
            for p in pkg.rglob("*.py")
            if needle in p.read_text()
        )
        assert holders == ["operators/sig_index.py"], (needle, holders)
