"""IVF scale path end-to-end: cells persisted partitionBy(bucket) make
a probe a PARTITION PRUNE — the ANN query touches one directory out of
2^n_bits (the claim in q_sim_knn_ivf's docstring, proven in the plan).
The index is built, appended and read through operators/vectors.py's
lifecycle, the one place that knows its layout."""

from __future__ import annotations

import pathlib
import re

import pytest
from pyspark.sql import functions as F

from skyhookdb_ceph_spark.catalog import Catalog
from skyhookdb_ceph_spark.operators import vectors
from skyhookdb_ceph_spark.plans.explain import explain_str

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def ivf_index(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("ivf") / "cells")
    vectors.build_ivf_index(spark, Catalog(spark, SF).embeddings, path)
    return spark, SF, path


def _query_cell(spark, path):
    return (
        vectors.read_ivf_index(spark, path)
        .filter(F.col("vec_id") == 0)
        .select("bucket")
        .first()[0]
    )


def test_probe_prunes_to_one_cell(ivf_index):
    spark, sf, path = ivf_index
    qcell = _query_cell(spark, path)
    assert qcell == (
        vectors.bucketed_cells(Catalog(spark, sf).embeddings, n_bits=4)
        .filter(F.col("vec_id") == 0)
        .select("bucket")
        .first()[0]
    )
    probe = vectors.read_ivf_index(spark, path).filter(F.col("bucket") == qcell)
    plan = explain_str(probe)
    assert "PartitionFilters" in plan
    assert "bucket" in plan.split("PartitionFilters", 1)[1].splitlines()[0]


def test_persisted_probe_matches_inline_ivf(ivf_index):
    spark, sf, path = ivf_index
    from skyhookdb_ceph_spark.registry import load_all

    inline = sorted(
        map(tuple, load_all()["q_sim_knn_ivf"].fn(spark, sf).collect())
    )
    persisted = sorted(
        map(
            tuple,
            vectors.probe(vectors.read_ivf_index(spark, path), 10).collect(),
        )
    )
    assert persisted == inline


def test_multiprobe_recall_beats_single_cell(spark):
    """The tuning curve q_vec_recall_eval emits must actually curve:
    the Hamming-1 multiprobe row recovers strictly more ground-truth
    neighbors than the single-cell probe, at strictly higher (but
    sub-linear-in-width) scan cost — the property that makes widening
    the probe worth paying for (r6 verdict item 2)."""
    from skyhookdb_ceph_spark.registry import load_all

    rows = {
        r["probe_width"]: r
        for r in load_all()["q_vec_recall_eval"]
        .fn(spark, "/root/testdata/sf0.01")
        .collect()
    }
    assert len(rows) == 2
    (w1, wm) = sorted(rows)
    assert w1 == 1 and wm > 1
    single, multi = rows[w1], rows[wm]
    assert multi["avg_recall"] > single["avg_recall"]
    assert multi["frac_scored"] > single["frac_scored"]
    # probing nb+1 of 2^nb cells must stay far below a full scan
    assert multi["frac_scored"] < 0.75


def test_multiprobe_prunes_to_probe_set_only(ivf_index):
    """Multiprobe against the PERSISTED layout is still partition
    pruning, not a scan: an IN-filter over the nb+1 probe cells must
    plan as PartitionFilters and actually read only the probe-set
    partitions (scanned distinct buckets == probe set, a strict
    subset of the 2^nb cells)."""
    spark, sf, path = ivf_index
    qcell = _query_cell(spark, path)
    probes = sorted(
        {qcell}
        | {
            qcell[:i] + ("0" if qcell[i] == "1" else "1") + qcell[i + 1:]
            for i in range(4)
        }
    )
    assert len(probes) == 5
    index = vectors.read_ivf_index(spark, path)
    pruned = index.filter(F.col("bucket").isin(probes))
    plan = explain_str(pruned)
    assert "PartitionFilters" in plan
    assert "bucket" in plan.split("PartitionFilters", 1)[1].splitlines()[0]
    scanned = {r["bucket"] for r in pruned.select("bucket").distinct().collect()}
    all_cells = {r["bucket"] for r in index.select("bucket").distinct().collect()}
    assert scanned <= set(probes)
    assert len(all_cells) > len(probes)  # pruning was non-trivial


def test_files_pruned_probe_plans_partition_filters(spark, tmp_path):
    """q_vec_ivf_files_pruned's claim rests on the probe's IN filter
    reaching PartitionFilters (directory pruning, not a scan+filter).
    Reproduce its exact read shape — the index built and read back
    through the lifecycle, string cells, isin over probe cells — and
    assert the filter lands on the partition column, plus the query's
    own verdict columns hold."""
    from skyhookdb_ceph_spark.registry import load_all

    rows = {
        r["probe_width"]: r
        for r in load_all()["q_vec_ivf_files_pruned"]
        .fn(spark, "/root/testdata/sf0.01")
        .collect()
    }
    assert len(rows) == 2
    for r in rows.values():
        assert r["files_match_cells"]
        assert 0 < r["frac_corpus_read"] <= 1.0
    w1, wm = sorted(rows)
    assert rows[w1]["n_cells_probed"] <= rows[wm]["n_cells_probed"]
    assert rows[w1]["frac_corpus_read"] < rows[wm]["frac_corpus_read"]
    # plan shape: same persisted-layout probe read must partition-prune
    vectors.build_ivf_index(spark, Catalog(spark, SF).embeddings, str(tmp_path))
    index = vectors.read_ivf_index(spark, str(tmp_path))
    some = [r["bucket"] for r in index.select("bucket").distinct().limit(3).collect()]
    pruned = index.filter(F.col("bucket").isin(some))
    plan = explain_str(pruned)
    assert "PartitionFilters" in plan
    assert "bucket" in plan.split("PartitionFilters", 1)[1].splitlines()[0]


def test_ivf_incremental_append_never_rewrites(spark, tmp_path):
    """q_vec_ivf_incremental's append-only contract: after the delta
    append, base rows and delta rows live in DISJOINT files (the
    append created new files; it never rewrote a base file)."""
    e = Catalog(spark, SF).embeddings
    delta = F.col("vec_id") % 4 == 0
    vectors.build_ivf_index(spark, e.filter(~delta), str(tmp_path))
    vectors.append_ivf_index(spark, e.filter(delta), str(tmp_path))
    files = (
        vectors.read_ivf_index(spark, str(tmp_path))
        .select(F.input_file_name().alias("f"), delta.cast("int").alias("is_delta"))
        .groupBy("f")
        .agg(F.max("is_delta").alias("hi"), F.min("is_delta").alias("lo"))
        .collect()
    )
    assert files, "layout must have files"
    # no file mixes cohorts: append-only, base files untouched
    assert all(r["hi"] == r["lo"] for r in files)
    assert {r["hi"] for r in files} == {0, 1}


def test_append_keys_with_the_frozen_nb(spark, tmp_path):
    """The append keys a delta with the index's stored nb, never one
    derived from the delta: a 4-bit index (500 vectors) grown by 4,096
    synthetic vectors, whose own size would derive 6 bits, keeps every
    appended cell 4 wide and equal to bucketed_cells(delta, n_bits=4)."""
    n_delta = 4096
    assert vectors.scaled_bits_py(n_delta) >= 6
    delta = spark.range(n_delta).selectExpr(
        "id + 100000 AS vec_id",
        "transform(sequence(0, 63), j -> CAST(sin(id * (2 * j + 3) + j) AS FLOAT))"
        " AS embedding",
    )
    vectors.build_ivf_index(spark, Catalog(spark, SF).embeddings, str(tmp_path))
    vectors.append_ivf_index(spark, delta, str(tmp_path))
    appended = (
        vectors.read_ivf_index(spark, str(tmp_path))
        .filter(F.col("vec_id") >= 100000)
        .select("vec_id", "bucket")
    )
    rows = sorted(map(tuple, appended.collect()))
    assert len(rows) == n_delta
    assert {len(b) for _, b in rows} == {4}
    expected = vectors.bucketed_cells(delta, n_bits=4).select("vec_id", "bucket")
    assert rows == sorted(map(tuple, expected.collect()))


def test_ivf_index_knowledge_lives_in_one_module():
    """The partitionBy(bucket) write, the Hamming-1 flip and the nb
    derivation are written once, in operators/vectors.py; a second copy
    anywhere in the package is the drift that module exists to
    prevent."""
    pkg = pathlib.Path(__file__).resolve().parent.parent / "skyhookdb_ceph_spark"
    for needle in (
        r'partitionBy\(\s*"bucket"\s*\)',
        re.escape(", i, 1) = '1'"),
        re.escape("corpus_bits("),
    ):
        holders = sorted(
            str(p.relative_to(pkg))
            for p in pkg.rglob("*.py")
            if re.search(needle, p.read_text())
        )
        assert holders == ["operators/vectors.py"], (needle, holders)
