"""_util.local_df — the pure-JVM rebuild of small materialized results.

Round-16 optimization: materialize-and-return queries used
spark.createDataFrame(rows, schema), whose Python-RDD-backed plan
(Scan ExistingRDD) spins up Python workers on every downstream action.
local_df rebuilds the same rows as a VALUES inline table
(LocalTableScan — no Python anywhere downstream).  These tests pin the
two properties the swap relies on: bit-exact value round-trip for every
supported type, and the plan actually being a LocalRelation (if it ever
regressed to ExistingRDD the optimization would silently vanish).
"""

from __future__ import annotations

import math
import struct

import pytest

from skyhookdb_ceph_spark.queries._util import local_df

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    from skyhookdb_ceph_spark.session import get_spark

    return get_spark(app_name="test_local_df")


def test_round_trip_all_supported_types(spark):
    src = spark.sql(
        """
        SELECT CAST(id AS INT) AS i, CAST(id * 2 AS BIGINT) AS l,
          CAST(id * 0.1 AS DOUBLE) AS d,
          concat('s''x\\n\\\\q"', id) AS s, id % 2 = 0 AS b,
          timestamp'2024-01-02 03:04:05.123456'
            + make_interval(0, 0, 0, 0, 0, 0, id) AS ts,
          date'2024-03-04' AS dt, CAST(NULL AS DOUBLE) AS nd,
          timestamp_ntz'2031-05-06 07:08:09.000001'
            + make_interval(0, 0, 0, 0, 0, 0, id) AS tsn,
          CAST(1.23 AS DECIMAL(10,2)) AS dec
        FROM range(5)
        """
    )
    rows = src.collect()
    re = local_df(spark, rows, src.schema)
    assert [tuple(r) for r in re.collect()] == [tuple(r) for r in rows]
    assert [(f.name, f.dataType) for f in re.schema] == [
        (f.name, f.dataType) for f in src.schema
    ]


def test_plan_is_local_relation_not_python_rdd(spark):
    re = local_df(spark, [(1, "a"), (2, "b")], "k int, v string")
    plan = re._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    assert "LocalTableScan" in plan
    assert "ExistingRDD" not in plan


def test_doubles_bit_exact_including_edge_values(spark):
    import random

    random.seed(7)
    vals = [
        random.random() * 10 ** random.randint(-300, 300)
        for _ in range(50)
    ] + [
        5e-324,  # min denormal
        1.7976931348623157e308,  # max double
        float("inf"),
        float("-inf"),
        float("nan"),
        -0.0,
        0.1 + 0.2,  # classic non-representable sum
    ]
    re = local_df(spark, [(v,) for v in vals], "d double")
    got = [r.d for r in re.collect()]
    for g, v in zip(got, vals):
        if math.isnan(v):
            assert math.isnan(g)
        else:
            assert struct.pack("d", g) == struct.pack("d", v)


def test_fallback_for_unsupported_types_still_correct(spark):
    src = spark.sql(
        "SELECT id, array(id, id + 1) AS a FROM range(3)"
    )
    rows = src.collect()
    re = local_df(spark, rows, src.schema)
    assert [tuple(r) for r in re.collect()] == [tuple(r) for r in rows]


def test_empty_rows_fall_back_with_schema(spark):
    re = local_df(spark, [], "k int, v string")
    assert re.collect() == []
    assert [f.name for f in re.schema] == ["k", "v"]


def test_build_sig_index_threshold_materialization_is_value_exact(spark):
    """The r16 build_sig_index change materializes the 64-row threshold
    table through local_df; the persisted params must still equal a
    fresh lazy derivation cell-for-cell (the frozen-parameter rule)."""
    from skyhookdb_ceph_spark.queries._util import Catalog
    from skyhookdb_ceph_spark.operators.sig_index import (
        _exploded,
        _thresholds,
    )

    thr = _thresholds(_exploded(Catalog(spark, SF).embeddings))
    rows = thr.collect()
    re = local_df(spark, rows, thr.schema)
    assert sorted(map(tuple, re.collect())) == sorted(map(tuple, rows))
