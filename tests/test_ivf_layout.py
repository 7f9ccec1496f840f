"""IVF scale path end-to-end: cells persisted partitionBy(bucket) make
a probe a PARTITION PRUNE — the ANN query touches one directory out of
2^n_bits (the claim in q_sim_knn_ivf's docstring, proven in the plan)."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from skyhookdb_ceph_spark.catalog import Catalog
from skyhookdb_ceph_spark.operators import vectors
from skyhookdb_ceph_spark.plans.explain import explain_str


@pytest.fixture(scope="module")
def ivf_index(spark):
    sf = "/root/testdata/sf0.001"
    tmp = tempfile.mkdtemp(prefix="skyhook_ivf_")
    cells = vectors.bucketed_cells(Catalog(spark, sf).embeddings, n_bits=4)
    cells.write.mode("overwrite").partitionBy("bucket").parquet(f"{tmp}/cells")
    yield spark, sf, f"{tmp}/cells"
    shutil.rmtree(tmp, ignore_errors=True)


def test_probe_prunes_to_one_cell(ivf_index):
    spark, sf, path = ivf_index
    qcell = (
        vectors.bucketed_cells(Catalog(spark, sf).embeddings, n_bits=4)
        .filter(F.col("vec_id") == 0)
        .select("bucket")
        .collect()[0][0]
    )
    probe = spark.read.parquet(path).filter(F.col("bucket") == qcell)
    plan = explain_str(probe)
    assert "PartitionFilters" in plan
    assert "bucket" in plan.split("PartitionFilters", 1)[1].splitlines()[0]


def test_persisted_probe_matches_inline_ivf(ivf_index):
    spark, sf, path = ivf_index
    from skyhookdb_ceph_spark.registry import load_all

    inline = sorted(
        map(tuple, load_all()["q_sim_knn_ivf"].fn(spark, sf).collect())
    )
    qrow = (
        vectors.bucketed_cells(Catalog(spark, sf).embeddings, n_bits=4)
        .filter(F.col("vec_id") == 0)
        .selectExpr("embedding AS qv", "bucket AS qbucket")
    )
    persisted = sorted(
        map(
            tuple,
            spark.read.parquet(path)
            .join(F.broadcast(qrow), F.col("bucket") == F.col("qbucket"))
            .selectExpr(
                "vec_id",
                f"round({vectors.cosine_expr('embedding', 'qv')}, 6) AS sim",
            )
            .orderBy(F.col("sim").desc(), "vec_id")
            .limit(10)
            .collect(),
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
    qcell = (
        vectors.bucketed_cells(Catalog(spark, sf).embeddings, n_bits=4)
        .filter(F.col("vec_id") == 0)
        .select("bucket")
        .collect()[0][0]
    )
    probes = sorted(
        {qcell}
        | {
            qcell[:i] + ("0" if qcell[i] == "1" else "1") + qcell[i + 1:]
            for i in range(4)
        }
    )
    assert len(probes) == 5
    pruned = spark.read.parquet(path).filter(F.col("bucket").isin(probes))
    plan = explain_str(pruned)
    assert "PartitionFilters" in plan
    assert "bucket" in plan.split("PartitionFilters", 1)[1].splitlines()[0]
    # partition-dir values type-infer to INT ("0001" -> 1); normalize
    # back to the 4-bit string form for the set comparison
    scanned = {
        str(r["bucket"]).zfill(4)
        for r in pruned.select("bucket").distinct().collect()
    }
    all_cells = {
        str(r["bucket"]).zfill(4)
        for r in spark.read.parquet(path).select("bucket").distinct().collect()
    }
    assert scanned <= set(probes)
    assert len(all_cells) > len(probes)  # pruning was non-trivial


def test_files_pruned_probe_plans_partition_filters(spark):
    """q_vec_ivf_files_pruned's claim rests on the probe's IN filter
    reaching PartitionFilters (directory pruning, not a scan+filter).
    Reproduce its exact read shape — persisted partitionBy(bucket)
    layout, int-inferred partition values, isin over probe cells —
    and assert the filter lands on the partition column, plus the
    query's own verdict columns hold."""
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
    import shutil
    import tempfile

    tmp = tempfile.mkdtemp(prefix="skyhook_ivfprune_plan_")
    try:
        cells = vectors.bucketed_cells(
            Catalog(spark, "/root/testdata/sf0.001").embeddings
        )
        cells.repartition("bucket").write.mode("overwrite").partitionBy(
            "bucket"
        ).parquet(tmp)
        some = [
            int(r["bucket"])
            for r in cells.select("bucket").distinct().limit(3).collect()
        ]
        pruned = spark.read.parquet(tmp).filter(F.col("bucket").isin(some))
        plan = explain_str(pruned)
        assert "PartitionFilters" in plan
        assert "bucket" in plan.split("PartitionFilters", 1)[1].splitlines()[0]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_ivf_incremental_append_never_rewrites(spark):
    """q_vec_ivf_incremental's append-only contract: after the delta
    append, base rows and delta rows live in DISJOINT files (the
    append created new files; it never rewrote a base file), and
    every cell's assignment matches direct computation."""
    from pyspark.sql import functions as F

    from skyhookdb_ceph_spark.queries._util import scratch
    from skyhookdb_ceph_spark.queries.pipeline11 import (
        _ivf_incremental_layout,
    )

    with scratch("skyhook_ivfinc_") as tmp:
        layout, nb = _ivf_incremental_layout(
            spark, "/root/testdata/sf0.001", tmp
        )
        files = (
            layout.select(
                F.input_file_name().alias("f"), "is_delta"
            )
            .groupBy("f")
            .agg(
                F.max("is_delta").alias("hi"),
                F.min("is_delta").alias("lo"),
            )
            .collect()
        )
        assert files, "layout must have files"
        # no file mixes cohorts: append-only, base files untouched
        assert all(r["hi"] == r["lo"] for r in files)
        assert {r["hi"] for r in files} == {0, 1}
