"""Scans, projection, and format transform (SURVEY.md §2.1).

Reference: full-object scan fastpath and column projection
[U: src/progly/run-query.cc — fastpath flag, --project-cols;
 src/cls/tabular/cls_tabular.cc — exec_query_op], and in-place object
format transform row->columnar
[U: cls_tabular.cc — exec_transform_db_op; CCGrid'22].

Spark mapping: a Parquet split is the RADOS object; the vectorized
Parquet reader with column pruning is the storage-side projection.
At 100 TB the scan parallelism is the file-split count — no driver-side
work at all; `q_scan_full` is a pure pass-through plan.
"""

from __future__ import annotations

from pyspark.sql import types as T

from skyhookdb_ceph_spark.operators.stats import column_stats
from skyhookdb_ceph_spark.queries._util import Catalog, F, collect_local, scratch
from skyhookdb_ceph_spark.registry import query


@query("q_scan_full", oracle="SELECT * FROM lineitem")
def q_scan_full(spark, sf_dir):
    """Full-table scan, all columns (reference 'fastpath' select *)."""
    return Catalog(spark, sf_dir).lineitem


@query("q_scan_project", oracle="SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem")
def q_scan_project(spark, sf_dir):
    """Projection pushdown: ReadSchema in the plan must list only these
    three columns (Catalyst ColumnPruning does what the reference's
    derived-schema projection did)."""
    return Catalog(spark, sf_dir).lineitem.select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )


_TRANSFORM_COLS = ["l_orderkey", "l_linenumber", "l_returnflag", "l_quantity"]


@query(
    "q_transform_format",
    oracle=(
        "SELECT l_returnflag, count(*) AS cnt, floor((sum(l_quantity)) * 100 + 0.5) / 100 AS sum_qty "
        "FROM lineitem GROUP BY l_returnflag"
    ),
)
def q_transform_format(spark, sf_dir):
    """Format transform: row-oriented (CSV) -> columnar (Parquet),
    the ingest-side analog of the reference's FLATBUF->ARROW object
    rewrite.  Round-trips a projection of lineitem through CSV with an
    explicit schema, re-lays it out as Parquet, and aggregates the
    result — matching the oracle on the source proves the transform is
    lossless.  Scratch: see ``_util.scratch``."""
    with scratch("skyhook_transform_") as tmp:
        src = Catalog(spark, sf_dir).lineitem.select(*_TRANSFORM_COLS)
        csv_path, pq_path = f"{tmp}/row_format_csv", f"{tmp}/col_format_parquet"
        src.write.mode("overwrite").option("header", True).csv(csv_path)
        schema = T.StructType(
            [
                T.StructField("l_orderkey", T.LongType()),
                T.StructField("l_linenumber", T.IntegerType()),
                T.StructField("l_returnflag", T.StringType()),
                T.StructField("l_quantity", T.DoubleType()),
            ]
        )
        spark.read.option("header", True).schema(schema).csv(csv_path).write.mode(
            "overwrite"
        ).parquet(pq_path)
        out = (
            spark.read.parquet(pq_path)
            .groupBy("l_returnflag")
            .agg(
                F.count(F.lit(1)).alias("cnt"),
                (F.floor(F.sum("l_quantity") * 100 + F.lit(0.5)) / 100).alias(
                    "sum_qty"
                ),
            )
        )
        # Materialize before the temp dir can be cleaned up.
        return collect_local(out)


@query(
    "q_transform_json",
    oracle=(
        "SELECT event_type, count(*) AS cnt, "
        "CAST(sum(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k "
        "FROM events GROUP BY event_type"
    ),
)
def q_transform_json(spark, sf_dir):
    """JSON round-trip (format plurality, [U: cls_tabular_utils.h —
    SFT_JSON]): project events to JSON lines, re-ingest with an explicit
    schema through sources/formats.py, aggregate — matching the oracle
    on the source proves losslessness, including the nested props
    payload."""
    with scratch("skyhook_transform_json_") as tmp:
        from skyhookdb_ceph_spark.sources.formats import read_table

        src = Catalog(spark, sf_dir).events.select("event_id", "event_type", "props")
        src.write.mode("overwrite").json(f"{tmp}/json")
        schema = T.StructType(
            [
                T.StructField("event_id", T.LongType()),
                T.StructField("event_type", T.StringType()),
                T.StructField("props", T.StringType()),
            ]
        )
        out = (
            read_table(spark, f"{tmp}/json", "json", schema)
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("cnt"),
                F.sum(F.get_json_object("props", "$.k").cast("int"))
                .cast("long")
                .alias("sum_k"),
            )
        )
        return collect_local(out)


@query(
    "q_scan_pushdown_source",
    oracle=(
        "SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem "
        "WHERE l_extendedprice > 91400 AND l_returnflag IN ('A', 'R')"
    ),
)
def q_scan_pushdown_source(spark, sf_dir):
    """The canonical pushdown predicate executed through the custom
    Python DataSource (sources/skyhook_source.py) — the architectural
    mirror of the reference itself: one partition per row group
    ("RADOS object"), min/max stats pruning (omap consult), and the
    predicate vector evaluated in Arrow INSIDE the reader before rows
    cross into the JVM [U: cls_tabular.cc — exec_query_op]."""
    from skyhookdb_ceph_spark.sources.skyhook_source import read_skyhook

    df = read_skyhook(spark, f"{sf_dir}/lineitem.parquet")
    return df.filter(
        (F.col("l_extendedprice") > 91400) & F.col("l_returnflag").isin("A", "R")
    ).select("l_orderkey", "l_linenumber", "l_extendedprice")


@query(
    "q_sample_hash",
    oracle=(
        "SELECT * FROM lineitem WHERE "
        "substr(md5(l_orderkey || '-' || l_linenumber), 1, 2) < '1a'"
    ),
)
def q_sample_hash(spark, sf_dir):
    """Deterministic ~10% sample by content hash (training-data
    pipelines need reproducible samples; rand()-based sampling is
    neither engine-portable nor stable across retries).  Hash-mod
    sampling is also the 100 TB pattern: pure per-row predicate, pushes
    into the scan pipeline, no state, no coordination."""
    li = Catalog(spark, sf_dir).lineitem
    return li.filter(
        "substring(md5(concat(cast(l_orderkey AS string), '-', "
        "cast(l_linenumber AS string))), 1, 2) < '1a'"
    )


@query(
    "q_runstats",
    oracle=(
        "SELECT 'l_quantity' AS col, CAST(min(l_quantity) AS DOUBLE) AS min_val, "
        "CAST(max(l_quantity) AS DOUBLE) AS max_val, count(l_quantity) AS cnt, "
        "count(DISTINCT l_quantity) AS ndv FROM lineitem "
        "UNION ALL SELECT 'l_extendedprice', CAST(min(l_extendedprice) AS DOUBLE), "
        "CAST(max(l_extendedprice) AS DOUBLE), count(l_extendedprice), "
        "count(DISTINCT l_extendedprice) FROM lineitem "
        "UNION ALL SELECT 'l_discount', CAST(min(l_discount) AS DOUBLE), "
        "CAST(max(l_discount) AS DOUBLE), count(l_discount), "
        "count(DISTINCT l_discount) FROM lineitem"
    ),
)
def q_runstats(spark, sf_dir):
    """Per-column statistics pass — the reference's runstats op
    [U: cls_tabular.cc — exec_runstats_op] re-expressed as one
    partial-aggregated stats scan per column (operators/stats.py).
    These stats feed the CBO the same way runstats fed the reference's
    selectivity decisions."""
    li = Catalog(spark, sf_dir).lineitem
    return column_stats(li, ["l_quantity", "l_extendedprice", "l_discount"])


@query(
    "q_transform_orc",
    oracle=(
        "SELECT o_orderstatus, count(*) AS cnt, "
        "floor((sum(o_totalprice)) * 100 + 0.5) / 100 AS sum_total "
        "FROM orders GROUP BY o_orderstatus"
    ),
)
def q_transform_orc(spark, sf_dir):
    """ORC round-trip — the third columnar layout in the format
    plurality set (SFT_* dispatch analog, [U: cls_tabular_utils.h —
    SFT_* read paths]): project orders to ORC, re-ingest with an
    explicit schema through sources/formats.py, aggregate; matching
    the oracle on the source proves losslessness."""
    with scratch("skyhook_transform_orc_") as tmp:
        from skyhookdb_ceph_spark.sources.formats import read_table

        src = Catalog(spark, sf_dir).orders.select(
            "o_orderkey", "o_orderstatus", "o_totalprice"
        )
        src.write.mode("overwrite").orc(f"{tmp}/orc")
        schema = T.StructType(
            [
                T.StructField("o_orderkey", T.LongType()),
                T.StructField("o_orderstatus", T.StringType()),
                T.StructField("o_totalprice", T.DoubleType()),
            ]
        )
        out = (
            read_table(spark, f"{tmp}/orc", "orc", schema)
            .groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).alias("cnt"),
                (F.floor(F.sum("o_totalprice") * 100 + F.lit(0.5)) / 100).alias(
                    "sum_total"
                ),
            )
        )
        return collect_local(out)
