"""CLI surface tests: the run-query-compatible entry point."""

from __future__ import annotations

import pytest

from skyhookdb_ceph_spark.cli import apply_preds, build_query, preset_query

SF = "/root/testdata/sf0.001"


def test_preset_b_matches_generic_predicate(spark):
    preset = preset_query(spark, SF, "b")
    generic = build_query(
        spark, SF, table="lineitem", select_preds="l_extendedprice,gt,91400"
    )
    assert preset.count() == generic.count() > 0


def test_pred_chain_is_conjunction(spark):
    df = build_query(
        spark,
        SF,
        table="lineitem",
        select_preds="l_quantity,between,5|15;l_returnflag,in,A|R",
        project_cols="l_orderkey,l_quantity,l_returnflag",
    )
    rows = df.collect()
    assert rows
    assert df.columns == ["l_orderkey", "l_quantity", "l_returnflag"]
    assert all(5 <= r.l_quantity <= 15 and r.l_returnflag in ("A", "R") for r in rows)


def test_preset_a_scalar_agg(spark):
    [row] = preset_query(spark, SF, "a").collect()
    assert row.cnt == 6000
    assert row.min_price <= row.max_price


def test_unknown_op_rejected(spark):
    with pytest.raises(ValueError, match="unknown predicate op"):
        apply_preds(
            build_query(spark, SF, table="lineitem"), "l_quantity,regexlike,5"
        )


def test_fastpath_is_full_scan(spark):
    assert preset_query(spark, SF, "fastpath").count() == 6000


def test_maintenance_runstats(spark):
    import argparse

    from skyhookdb_ceph_spark.cli import run_maintenance

    args = argparse.Namespace(
        sf_dir=SF, build_index=False, transform_db=False, runstats=True,
        table="lineitem", cols="l_quantity", out=None, partition_by="", sort_by="",
    )
    rows = {r.col: r for r in run_maintenance(spark, args).collect()}
    assert rows["l_quantity"].cnt == 6000


def test_maintenance_build_index(spark, tmp_path):
    import argparse

    from skyhookdb_ceph_spark.cli import run_maintenance

    out = str(tmp_path / "idx")
    args = argparse.Namespace(
        sf_dir=SF, build_index=True, transform_db=False, runstats=False,
        table="documents", cols="", out=out, partition_by="", sort_by="",
    )
    assert run_maintenance(spark, args) is None
    idx = spark.read.parquet(f"{out}/postings")
    assert {"token", "doc_id", "tf", "tok0"} <= set(idx.columns)
    assert idx.filter("token = 'join'").count() > 0


def test_cli_built_index_answers_the_bm25_probe(spark, tmp_path):
    """--build-index writes the one text-index layout: probe_bm25 reads
    it back and returns exactly q_text_bm25's rows."""
    from skyhookdb_ceph_spark.cli import main
    from skyhookdb_ceph_spark.operators.text_index import probe_bm25
    from skyhookdb_ceph_spark.queries.pipeline3 import _BM25_TERMS
    from skyhookdb_ceph_spark.registry import load_all

    out = str(tmp_path / "idx")
    assert main(["--sf-dir", SF, "--build-index", "--out", out]) == 0
    probed = sorted(map(tuple, probe_bm25(spark, out, _BM25_TERMS).collect()))
    inline = load_all()["q_text_bm25"].fn(spark, SF)
    assert probed == sorted(map(tuple, inline.collect()))
    assert len(probed) == 10


def test_cli_query_id_runs_registered_query(spark, capsys):
    """--query-id exposes the full registry from the shell: any
    SURVEY.md §2 operator runnable by name, with --output count."""
    from skyhookdb_ceph_spark.cli import main

    assert main(["--sf-dir", SF, "--query-id", "q_limit", "--output", "count"]) == 0
    assert capsys.readouterr().out.strip().isdigit()


def test_cli_query_id_explain_prints_plan(spark, capsys):
    from skyhookdb_ceph_spark.cli import main

    assert main(["--sf-dir", SF, "--query-id", "q_topk", "--explain"]) == 0
    assert "TakeOrderedAndProject" in capsys.readouterr().out


def test_cli_table_explain_prints_plan(spark, capsys):
    """--explain applies to every query surface, not only --query-id."""
    from skyhookdb_ceph_spark.cli import main

    assert main(["--sf-dir", SF, "--table", "region", "--explain"]) == 0
    out = capsys.readouterr().out
    assert "Scan parquet" in out
    assert "r_regionkey" in out and "AFRICA" not in out


def test_cli_list_queries_covers_registry(spark, capsys):
    from skyhookdb_ceph_spark.cli import main
    from skyhookdb_ceph_spark.registry import load_all

    assert main(["--list-queries"]) == 0
    listed = {
        line.split("\t")[0]
        for line in capsys.readouterr().out.strip().splitlines()
    }
    assert listed == set(load_all())
