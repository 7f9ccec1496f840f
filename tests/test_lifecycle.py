"""The query-lifecycle helpers in queries/_util.py.

scratch() owns where staged data lives and that it goes away;
collect_local() pins a verdict-sized result before its files go;
scoped_conf() scopes a session conf to one block.  Query modules and
the streaming drains route through them, so the structural guard at
the bottom keeps hand-rolled copies from coming back.
"""

from __future__ import annotations

import os
import pathlib
import re
import tempfile

import pytest

from skyhookdb_ceph_spark.queries._util import (
    collect_local,
    local_df,
    scoped_conf,
    scratch,
)

PKG = pathlib.Path(__file__).resolve().parents[1] / "skyhookdb_ceph_spark"


def test_scratch_removed_on_return_and_on_exception(monkeypatch, tmp_path):
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH", str(tmp_path))
    with scratch("skyhook_t_") as d:
        assert pathlib.Path(d).parent == tmp_path
        assert os.path.basename(d).startswith("skyhook_t_")
        open(os.path.join(d, "f"), "w").close()
    assert not os.path.exists(d)
    with pytest.raises(RuntimeError):
        with scratch("skyhook_t_") as d2:
            open(os.path.join(d2, "f"), "w").close()
            raise RuntimeError("boom")
    assert not os.path.exists(d2)
    assert os.listdir(tmp_path) == []


def test_leak_guard_counts_only_this_process(monkeypatch, tmp_path):
    """The scratch-leak guard (conftest.own_scratch_entries) ignores a
    skyhook_* entry another process makes in the shared root while a
    test runs, and still reports one this process's scratch() leaves."""
    from conftest import own_scratch_entries

    monkeypatch.setenv("SPARK_GRAFT_SCRATCH", str(tmp_path))
    pid = os.getpid()
    before = own_scratch_entries(str(tmp_path), pid)
    (tmp_path / f"skyhook_ivfinc_{pid + 1}_x1y2").mkdir()
    (tmp_path / "skyhook_sigbuild_y7c7we90").mkdir()  # no owner pid
    for prefix in ("skyhook_t_", "skyhook_sigidx1_"):  # a digit in one
        leaky = scratch(prefix)
        d = leaky.__enter__()
        try:
            assert os.path.basename(d).startswith(f"{prefix}{pid}_")
            leaked = own_scratch_entries(str(tmp_path), pid) - before
            assert leaked == {os.path.basename(d)}
        finally:
            leaky.__exit__(None, None, None)


def test_scoped_conf_restores_on_exception(spark):
    set_key = "spark.sql.shuffle.partitions"
    unset_key = "spark.sql.streaming.stateStore.minDeltasForSnapshot"
    spark.conf.unset(unset_key)
    before_set = spark.conf.get(set_key)
    default = spark.conf.get(unset_key)
    with pytest.raises(RuntimeError):
        with scoped_conf(spark, {set_key: "3", unset_key: "7"}):
            assert spark.conf.get(set_key) == "3"
            assert spark.conf.get(unset_key) == "7"
            raise RuntimeError("boom")
    assert spark.conf.get(set_key) == before_set
    assert spark.conf.get(unset_key) == default


def test_collect_local_matches_local_df(spark):
    df = spark.sql(
        "SELECT CAST(id AS INT) AS k, concat('v', id) AS v,"
        " id * 0.5 AS d FROM range(6)"
    )
    a = collect_local(df)
    b = local_df(spark, df.collect(), df.schema)

    def plan_class(x):
        return x._jdf.queryExecution().optimizedPlan().getClass().getName()  # noqa: SLF001

    assert plan_class(a) == plan_class(b)
    assert "LocalTableScan" in a._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    assert a.schema == b.schema
    assert a.collect() == b.collect()


def test_drain_to_files_leaves_no_temp_dir(spark, monkeypatch, tmp_path):
    """Without tmpfs and SPARK_GRAFT_STREAM_CKPT the file drain's
    checkpoint lives in system temp; the drain must remove all of it,
    not just the per-sink subdir."""
    from skyhookdb_ceph_spark.streaming.replay import drain_to_files

    src = str(tmp_path / "src")
    spark.range(20).write.parquet(src)
    isdir = os.path.isdir
    monkeypatch.setattr(
        os.path, "isdir", lambda p: p != "/dev/shm" and isdir(p)
    )
    monkeypatch.delenv("SPARK_GRAFT_STREAM_CKPT", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_SCRATCH", raising=False)
    sys_tmp = tmp_path / "systmp"
    sys_tmp.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(sys_tmp))

    stream = spark.readStream.schema("id bigint").parquet(src)
    assert drain_to_files(stream, str(tmp_path / "out")).count() == 20
    assert os.listdir(sys_tmp) == []


def test_no_hand_rolled_lifecycle_outside_util():
    """Scratch dirs, collect round-trips and conf save/restores go
    through _util's helpers, nowhere else in queries/ or streaming/."""
    round_trip = re.compile(r"local_df\(\s*spark,\s*(\w+)\.collect\(\),\s*\1\.schema\)")
    offenders = []
    for sub in ("queries", "streaming"):
        for path in sorted((PKG / sub).glob("*.py")):
            if path.name == "_util.py":
                continue
            src = path.read_text()
            for needle in ("tempfile.mkdtemp", "spark.conf.get("):
                if needle in src:
                    offenders.append(f"{path.name}: {needle}")
            if round_trip.search(src):
                offenders.append(f"{path.name}: local_df(spark, x.collect(), x.schema)")
    assert not offenders, offenders
