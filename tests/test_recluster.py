"""q_maint_recluster: the advisor verdict turned into a physical
layout, with the pruning payoff measured on REAL files (SURVEY §2.22).
"""

from __future__ import annotations

import glob

from pyspark.sql import functions as F

from skyhookdb_ceph_spark.plans.explain import explain_str
from skyhookdb_ceph_spark.queries.maintenance import (
    _RC_HI,
    _RC_LO,
    recluster_layouts,
)
from skyhookdb_ceph_spark.registry import load_all

SF = "/root/testdata/sf0.001"


def test_recluster_one_file_per_zone_and_pushdown(spark, tmp_path):
    """The oracle's zone==file equivalence rests on one parquet file
    per zone dir (hash-repartition on the partition column before
    partitionBy); and the re-clustered layout must still take the
    date predicate AT THE SCAN (PushedFilters) so parquet footer
    min/max stats — now tight per file — can skip."""
    before, after = recluster_layouts(spark, SF, str(tmp_path))
    for path in (before, after):
        zdirs = glob.glob(f"{path}/zone=*")
        assert zdirs, f"no zone dirs under {path}"
        for zd in zdirs:
            files = glob.glob(f"{zd}/*.parquet")
            assert len(files) == 1, f"{zd}: {len(files)} files, want 1"
    scan = spark.read.parquet(after).filter(
        (F.col("l_shipdate") >= F.lit(_RC_LO).cast("timestamp"))
        & (
            F.col("l_shipdate")
            <= F.lit(f"{_RC_HI} 23:59:59").cast("timestamp")
        )
    )
    plan = explain_str(scan)
    assert "PushedFilters" in plan and "l_shipdate" in plan.split(
        "PushedFilters"
    )[1].split("]")[0] + "]"


def test_recluster_verdict_prunes_after_not_before(spark):
    """The measured manifest must show the point of the exercise:
    the before layout selects EVERY file (shipdate uncorrelated with
    orderkey), the re-clustered layout skips most of the table, and
    both manifests are lossless (no matching row outside a selected
    file)."""
    df = load_all()["q_maint_recluster"].fn(spark, SF)
    rows = {r["layout"]: r for r in df.collect()}
    b = rows["before_physical_orderkey"]
    a = rows["after_clustered_ship_month"]
    assert b["files_selected"] == b["files_total"]
    assert b["skip_frac"] == 0.0
    assert a["files_selected"] < a["files_total"]
    assert a["skip_frac"] > 0.8
    assert a["lossless"] == 1 and b["lossless"] == 1
    assert a["rows_matched"] == b["rows_matched"]
