"""Custom pushdown DataSource: correctness vs the built-in reader,
stats pruning, and the relation-reuse hazard the helper guards against."""

from __future__ import annotations

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from skyhookdb_ceph_spark.catalog import Catalog
from skyhookdb_ceph_spark.sources.skyhook_source import (
    SkyhookReader,
    read_skyhook,
)

LI = "/root/testdata/sf0.001/lineitem.parquet"


def test_pushdown_source_matches_builtin_reader(spark, sf_small):
    builtin = Catalog(spark, sf_small).lineitem
    pred = (F.col("l_extendedprice") > 91400) & (F.col("l_quantity") < 30)
    expected = sorted(
        map(tuple, builtin.filter(pred).select("l_orderkey", "l_linenumber").collect())
    )
    got = sorted(
        map(
            tuple,
            read_skyhook(spark, LI)
            .filter(pred)
            .select("l_orderkey", "l_linenumber")
            .collect(),
        )
    )
    assert got == expected


def test_fresh_relation_isolation(spark):
    assert read_skyhook(spark, LI).filter("l_extendedprice > 91400").count() > 0
    assert read_skyhook(spark, LI).count() == 6000  # unaffected by prior filters


def test_reader_accepts_comparison_and_like_filters():
    from pyspark.sql.datasource import (
        EqualTo,
        GreaterThan,
        IsNull,
        StringContains,
        StringEndsWith,
        StringStartsWith,
    )

    r = SkyhookReader(LI)
    remaining = list(
        r.pushFilters(
            [
                GreaterThan(("l_extendedprice",), 91400.0),
                EqualTo(("l_returnflag",), "A"),
                StringStartsWith(("l_returnflag",), "A"),
                StringEndsWith(("l_linestatus",), "F"),
                StringContains(("l_returnflag",), "A"),
                IsNull(("l_linestatus",)),  # not supported
            ]
        )
    )
    assert len(r.accepted) == 5
    assert len(remaining) == 1  # the unsupported one goes back to Spark


def test_row_group_pruning_skips_impossible_groups():
    from pyspark.sql.datasource import GreaterThan

    max_price = pq.read_table(LI, columns=["l_extendedprice"])
    hi = max(max_price.column(0).to_pylist())
    r = SkyhookReader(LI)
    list(r.pushFilters([GreaterThan(("l_extendedprice",), hi + 1)]))
    assert r.partitions() == []  # every row group proven empty by stats


def test_partitions_survive_replanning():
    """AQE replan / stage retry calls partitions() again WITHOUT a new
    pushFilters pass — the predicate vector must still ship (round-2
    advisory: the old consume-on-read returned unfiltered rows)."""
    from pyspark.sql.datasource import GreaterThan

    r = SkyhookReader(LI)
    list(r.pushFilters([GreaterThan(("l_extendedprice",), 91400.0)]))
    first = r.partitions()
    second = r.partitions()  # replan without pushFilters
    assert [p.filters for p in second] == [p.filters for p in first]
    assert all(p.filters for p in second)


ORD = "/root/testdata/sf0.001/orders.parquet"


def test_like_pushdown_matches_builtin_reader(spark, sf_small):
    builtin = Catalog(spark, sf_small).orders
    pred = F.col("o_orderpriority").startswith("1") & F.col(
        "o_orderpriority"
    ).contains("URGENT")
    expected = builtin.filter(pred).count()
    assert expected > 0
    assert read_skyhook(spark, ORD).filter(pred).count() == expected


def test_prefix_pruning_and_plan_stats(spark):
    """A prefix predicate above the column's max prunes every row
    group via min/max stats, and LAST_PLAN_STATS records the counts
    (the --use-cls objects-touched metric analog)."""
    from pyspark.sql.datasource import StringStartsWith

    from skyhookdb_ceph_spark.sources import skyhook_source as src

    r = SkyhookReader(ORD)
    list(r.pushFilters([StringStartsWith(("o_orderpriority",), "ZZZZ")]))
    assert r.partitions() == []
    assert src.LAST_PLAN_STATS["planned"] == 0
    assert src.LAST_PLAN_STATS["pruned"] == src.LAST_PLAN_STATS["total"] > 0


def test_no_pushdown_twin_matches(spark, sf_small):
    """--use-cls OFF arm: the client-side-filtering twin must return
    identical rows (only WHERE the filter runs moves)."""
    from skyhookdb_ceph_spark.sources.skyhook_source import (
        read_skyhook,
        read_skyhook_no_pushdown,
    )

    path = f"{sf_small}/lineitem.parquet"
    on = read_skyhook(spark, path)
    off = read_skyhook_no_pushdown(spark, path)
    a = sorted(
        on.filter(on["l_quantity"] > 45).select("l_orderkey", "l_quantity").collect()
    )
    b = sorted(
        off.filter(off["l_quantity"] > 45).select("l_orderkey", "l_quantity").collect()
    )
    assert a == b and len(a) > 0


def test_plan_stats_file_written(tmp_path, monkeypatch):
    """partitions() persists object-touched counts when asked — the
    only channel that survives Spark's separate planning worker."""
    import json

    from skyhookdb_ceph_spark.sources import skyhook_source as src

    f = tmp_path / "stats.json"
    monkeypatch.setenv("SPARK_GRAFT_PLAN_STATS_FILE", str(f))
    r = src.SkyhookReader(ORD)
    r.partitions()
    stats = json.loads(f.read_text())
    assert stats["total"] == stats["planned"] + stats["pruned"] > 0


def test_stream_reader_offsets_and_slices(spark):
    """Direct contract test of SkyhookStreamReader: latestOffset
    admits exactly one chunk per call and clamps at the end; the
    partition plan for an offset range covers the row space exactly
    once (no gap, no overlap); read() yields precisely the planned
    slice."""
    from skyhookdb_ceph_spark.sources.skyhook_source import (
        SkyhookStreamReader,
    )

    path = "/root/testdata/sf0.001/events.parquet"
    r = SkyhookStreamReader(path, n_chunks=4, columns=["event_type", "value"])
    assert r.initialOffset() == {"chunk": 0}
    offs = [r.latestOffset() for _ in range(6)]
    assert offs == [{"chunk": i} for i in (1, 2, 3, 4, 4, 4)]  # clamped

    parts = r.partitions({"chunk": 0}, {"chunk": 4})
    assert len(parts) == 4
    assert parts[0].lo == 0 and parts[-1].hi == r.total
    for a, b in zip(parts, parts[1:]):
        assert a.hi == b.lo  # contiguous, disjoint

    n_rows = sum(
        sum(batch.num_rows for batch in r.read(p)) for p in parts
    )
    assert n_rows == r.total
    # a middle partition yields exactly its slice
    mid = parts[1]
    got = sum(batch.num_rows for batch in r.read(mid))
    assert got == mid.hi - mid.lo


def test_stream_reader_recovers_offset_after_restart(spark):
    """Restart contract: _served is driver-memory only, so a FRESH
    reader resumed from a checkpoint must recover its rate-limit
    counter from the offsets Spark hands back (partitions/commit) —
    otherwise latestOffset restarts at chunk 1 and can fall BEHIND the
    committed start offset, rewinding progress and replaying
    already-committed chunks."""
    from skyhookdb_ceph_spark.sources.skyhook_source import (
        SkyhookStreamReader,
    )

    path = "/root/testdata/sf0.001/events.parquet"
    # Simulate a post-restart reader: fresh object, checkpoint says the
    # query already committed through chunk 3.
    r = SkyhookStreamReader(path, n_chunks=4, columns=["event_type"])
    r.partitions({"chunk": 2}, {"chunk": 3})
    assert r.latestOffset()["chunk"] >= 3  # never behind checkpoint
    # commit() is the other checkpoint-sourced signal.
    r2 = SkyhookStreamReader(path, n_chunks=4, columns=["event_type"])
    r2.commit({"chunk": 3})
    assert r2.latestOffset()["chunk"] >= 3


def test_stream_reader_empty_range_plans_nothing(spark):
    from skyhookdb_ceph_spark.sources.skyhook_source import (
        SkyhookStreamReader,
    )

    r = SkyhookStreamReader(
        "/root/testdata/sf0.001/events.parquet", n_chunks=4, columns=None
    )
    assert r.partitions({"chunk": 2}, {"chunk": 2}) == []


def test_stream_reader_targets_only_overlapping_row_groups(tmp_path):
    """read() must decode ONLY the row groups covering [lo, hi) —
    the previous read-everything-then-slice shape was O(object) per
    micro-batch, quadratic across a replay of a multi-group object.
    A 100-row / 10-groups file, 7 uneven chunks: every slice's values
    must be exact (including group-straddling slices), and the groups
    handed to read_row_groups must be exactly the overlapping ones."""
    import pyarrow as pa

    from skyhookdb_ceph_spark.sources import skyhook_source as src

    path = str(tmp_path / "multi_group.parquet")
    tbl = pa.table({"v": list(range(100))})
    pq.write_table(tbl, path, row_group_size=10)
    assert pq.ParquetFile(path).metadata.num_row_groups == 10

    seen_groups: list[list[int]] = []
    orig = pq.ParquetFile.read_row_groups

    def spying(self, groups, **kw):
        seen_groups.append(list(groups))
        return orig(self, groups, **kw)

    r = src.SkyhookStreamReader(path, n_chunks=7, columns=["v"])
    parts = r.partitions({"chunk": 0}, {"chunk": 7})
    pq.ParquetFile.read_row_groups = spying
    try:
        for p in parts:
            got = []
            for batch in r.read(p):
                got.extend(batch.column(0).to_pylist())
            assert got == list(range(p.lo, p.hi)), (p.lo, p.hi)
            expect_groups = sorted(
                {g for g in range(10)
                 if g * 10 < p.hi and (g + 1) * 10 > p.lo}
            )
            assert seen_groups[-1] == expect_groups, (p.lo, p.hi)
    finally:
        pq.ParquetFile.read_row_groups = orig
    # 100/7 chunks are ~14-15 rows: no slice may have decoded all 10
    # groups (that would be the old whole-object read).
    assert all(len(g) <= 3 for g in seen_groups)


def test_min_splits_slices_single_row_group(spark, sf_small):
    """min_splits mode (BASELINE.md §L.4): a single-row-group file
    must plan as N row-slice partitions — parallel downstream per-row
    compute with no shuffle — and return EXACTLY the rows of the
    plain read (slicing must never duplicate or drop)."""
    import skyhookdb_ceph_spark.sources.skyhook_source as src

    src.register(spark)
    path = f"{sf_small}/documents.parquet"
    plain = (
        spark.read.format("skyhook").option("path", path).load()
    )
    sliced = (
        spark.read.format("skyhook")
        .option("path", path)
        .option("min_splits", "8")
        .load()
    )
    assert sliced.rdd.getNumPartitions() >= 8 > plain.rdd.getNumPartitions()
    a = sorted(map(tuple, plain.select("doc_id", "n_chars").collect()))
    b = sorted(map(tuple, sliced.select("doc_id", "n_chars").collect()))
    assert a == b and len(a) > 0


def test_min_splits_slices_after_pruning(spark, sf_small):
    """Slicing happens AFTER row-group stats pruning — a pushed filter
    must still prune, and the sliced scan must agree with the plain
    filtered read."""
    import skyhookdb_ceph_spark.sources.skyhook_source as src

    src.register(spark)
    path = f"{sf_small}/documents.parquet"
    sliced = (
        spark.read.format("skyhook")
        .option("path", path)
        .option("min_splits", "6")
        .load()
        .filter("n_chars >= 300")
    )
    plain = spark.read.parquet(path).filter("n_chars >= 300")
    a = sorted(map(tuple, plain.select("doc_id").collect()))
    b = sorted(map(tuple, sliced.select("doc_id").collect()))
    assert a == b and len(a) > 0


def test_columns_option_projects_batch_read(spark):
    """option("columns", "c,a") declares a (c, a) schema, and the batch
    reader must decode exactly those columns in that order: decoding
    every column failed the scan with DATA_SOURCE_RETURN_SCHEMA_MISMATCH.
    A filter pushed on a projected column still applies."""
    import pyarrow.compute as pc

    import skyhookdb_ceph_spark.sources.skyhook_source as src

    src.register(spark)
    df = (
        spark.read.format("skyhook")
        .option("path", LI)
        .option("columns", "l_quantity,l_orderkey")
        .load()
        .filter("l_quantity < 10")
    )
    assert df.columns == ["l_quantity", "l_orderkey"]
    t = pq.read_table(LI, columns=["l_quantity", "l_orderkey"])
    t = t.filter(pc.field("l_quantity") < 10)
    expected = sorted(zip(*(t.column(c).to_pylist() for c in t.column_names)))
    got = sorted(map(tuple, df.collect()))
    assert got == expected and len(got) > 0
