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
from skyhookdb_ceph_spark.queries._util import (
    Catalog,
    F,
    collect_local,
    quantize,
    scratch,
)
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


_RC_LO, _RC_HI = "1996-01-01", "1996-03-31"
_RC_KEY_WIDTH = 2048  # orderkey rows per physical-proxy zone file


def _rc_oracle() -> str:
    pred = (
        f"l_shipdate >= TIMESTAMP '{_RC_LO}' "
        f"AND l_shipdate <= TIMESTAMP '{_RC_HI} 23:59:59'"
    )
    legs = []
    # one file per zone value by construction (hash-repartition on the
    # partition column before partitionBy), so the file-level manifest
    # the Spark side measures equals this zone-level recompute
    for label, zone in (
        (
            "after_clustered_ship_month",
            "strftime(l_shipdate, '%Y-%m')",
        ),
        (
            "before_physical_orderkey",
            f"CAST(floor(l_orderkey / {_RC_KEY_WIDTH}) AS BIGINT)",
        ),
    ):
        legs.append(f"""
SELECT '{label}' AS layout,
  CAST(count(*) AS BIGINT) AS files_total,
  CAST(sum(sel) AS BIGINT) AS files_selected,
  CAST(sum(n) AS BIGINT) AS rows_total,
  CAST(sum(sel * n) AS BIGINT) AS rows_scanned,
  CAST(sum(m) AS BIGINT) AS rows_matched,
  CAST(CASE WHEN sum(sel * m) = sum(m) THEN 1 ELSE 0 END AS INT)
    AS lossless,
  floor((1.0 - sum(sel * n) * 1.0 / sum(n)) * 1000000 + 0.5) / 1000000
    AS skip_frac
FROM (
  SELECT {zone} AS zone, count(*) AS n,
    sum(CASE WHEN {pred} THEN 1 ELSE 0 END) AS m,
    CASE WHEN max(l_shipdate) >= TIMESTAMP '{_RC_LO}'
          AND min(l_shipdate) <= TIMESTAMP '{_RC_HI} 23:59:59'
         THEN 1 ELSE 0 END AS sel
  FROM lineitem GROUP BY 1) z""")
    return " UNION ALL ".join(legs) + " ORDER BY layout"


def _file_manifest_leg(spark, path, label, lo, hi):
    """One runstats pass over the PHYSICAL files of a layout: per-file
    min/max/count/match via _metadata.file_path, folded to the
    layout-level pruning verdict."""
    t = spark.read.parquet(path).select(
        "l_shipdate", F.col("_metadata.file_path").alias("f")
    )
    pred = (F.col("l_shipdate") >= lo) & (F.col("l_shipdate") <= hi)
    man = t.groupBy("f").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(pred, 1).otherwise(0)).alias("m"),
        F.when(
            (F.max("l_shipdate") >= lo) & (F.min("l_shipdate") <= hi), 1
        )
        .otherwise(0)
        .alias("sel"),
    )
    return man.agg(
        F.count(F.lit(1)).cast("bigint").alias("files_total"),
        F.sum("sel").cast("bigint").alias("files_selected"),
        F.sum("n").cast("bigint").alias("rows_total"),
        F.sum(F.col("sel") * F.col("n")).cast("bigint").alias("rows_scanned"),
        F.sum("m").cast("bigint").alias("rows_matched"),
        F.when(
            F.sum(F.col("sel") * F.col("m")) == F.sum("m"), 1
        )
        .otherwise(0)
        .cast("int")
        .alias("lossless"),
        quantize(
            F.lit(1.0) - F.sum(F.col("sel") * F.col("n")) / F.sum("n"), 6
        ).alias("skip_frac"),
    ).select(F.lit(label).alias("layout"), "*")


def recluster_layouts(spark, sf_dir, tmp):
    """Write the before (physical-order proxy) and after (advised
    ship-month clustering) layouts under tmp; returns the two paths.
    Shared by the registered query and the plan tests."""
    from skyhookdb_ceph_spark.operators.layout import write_partitioned

    li = Catalog(spark, sf_dir).lineitem.select("l_orderkey", "l_shipdate")
    write_partitioned(
        li.withColumn(
            "zone",
            F.floor(F.col("l_orderkey") / _RC_KEY_WIDTH).cast("bigint"),
        ),
        f"{tmp}/before",
        ["zone"],
        ["l_orderkey"],
    )
    write_partitioned(
        li.withColumn("zone", F.date_format("l_shipdate", "yyyy-MM")),
        f"{tmp}/after",
        ["zone"],
        ["l_shipdate"],
    )
    return f"{tmp}/before", f"{tmp}/after"


@query(
    "q_maint_recluster",
    oracle=_rc_oracle(),
    tags=("maintenance", "layout", "scale-design"),
)
def q_maint_recluster(spark, sf_dir):
    """Advisor-driven RE-CLUSTERING — q_scan_zonemap_advisor's verdict
    (ship-month zones prune, orderkey zones don't) turned into the
    physical action, then AUDITED on the physical files: the
    reference's runstats -> sort-on-write maintenance loop end-to-end
    [U: cls_tabular.cc — exec_runstats_op, SIT_IDX_REC sort-on-write].

    Action: operators/layout.write_partitioned re-lays the fact table
    out partitionBy(ship-month) + sortWithinPartitions(l_shipdate) —
    one shuffle, the once-per-maintenance-cycle cost that every later
    date-range scan amortizes.  The before layout (orderkey-bucket
    dirs, orderkey-sorted) is written the same way so the comparison
    is file-format-fair.

    Audit: a runstats pass grouped by `_metadata.file_path` — the
    MEASURED per-file min/max manifest, not a logical zone recompute —
    folds to files_selected / rows_scanned / skip_frac per layout.
    On the fixture the verdict is stark: the after layout scans only
    the predicate's 3 months (skip_frac ~0.96) while the before layout
    selects every file (skip_frac 0.0, shipdate uncorrelated with
    orderkey).  lossless is the zone-map invariant (selected files
    hold ALL matching rows) re-proven on the physical manifest.  The
    oracle recomputes the same verdict from the zone expressions —
    valid because hash-repartitioning on the partition column before
    partitionBy puts each zone in exactly one file (deterministic,
    plan-asserted in tests/test_recluster.py).  At 100 TB the audit
    costs one footer-stat pass per layout; the rewrite is the
    deliberate heavy step, and skip_frac is the number that says
    whether it paid for itself."""
    lo = F.lit(_RC_LO).cast("timestamp")
    hi = F.lit(f"{_RC_HI} 23:59:59").cast("timestamp")

    with scratch("skyhook_recluster_") as tmp:
        before, after = recluster_layouts(spark, sf_dir, tmp)
        out = (
            _file_manifest_leg(spark, after, "after_clustered_ship_month", lo, hi)
            .unionByName(
                _file_manifest_leg(
                    spark, before, "before_physical_orderkey", lo, hi
                )
            )
            .orderBy("layout")
        )
        # materialize before the temp layouts vanish (2 verdict rows)
        return collect_local(out)


_SHARED_FILTERS_SQL = {
    "all_docs": "TRUE",
    "lang_en": "lang = 'en'",
    "long_doc": "n_chars >= 300",
    "short_doc": "n_chars < 100",
    "has_digit": "regexp_matches(text, '[0-9]')",
}


def _shared_oracle() -> str:
    legs = []
    for name, pred in _SHARED_FILTERS_SQL.items():
        legs.append(f"""
SELECT '{name}' AS filter,
  CAST(count(*) FILTER (WHERE {pred}) AS BIGINT) AS n_docs,
  CAST(coalesce(sum(n_chars) FILTER (WHERE {pred}), 0) AS BIGINT)
    AS total_chars,
  floor((coalesce(sum(n_chars) FILTER (WHERE {pred}), 0) * 1.0
        / greatest(count(*) FILTER (WHERE {pred}), 1)) * 1000000 + 0.5)
        / 1000000 AS avg_chars
FROM documents""")
    return " UNION ALL ".join(legs) + " ORDER BY filter"


@query(
    "q_scan_shared",
    oracle=_shared_oracle(),
    tags=("scan", "llm", "scale-design"),
)
def q_scan_shared(spark, sf_dir):
    """Multi-query SHARED-SCAN execution: five curation screens
    (language share, length bands, digit boilerplate, the global
    census) computed in ONE pass over the corpus — the inversion of
    the reference's one-query-per-request dispatch [U: run-query.cc]
    that a training-data pipeline needs: at 100 TB the SCAN is the
    cost, and N screens run naively read the table N times.

    operators/shared_scan.shared_filter_profile folds every filter
    into conditional aggregates inside one global aggregate: the plan
    has exactly ONE `Scan parquet` node (plan-asserted,
    tests/test_shared_scan.py) and whole-stage codegen evaluates all
    predicates per row in a single pass — adding a screen adds two
    agg buffers, never a scan.  Measured at sf0.1: BASELINE.md §L.2
    (1-pass vs 5-pass).  The oracle is DuckDB's own shared-scan form
    (FILTER clauses over one table); the Spark avg derives from the
    merged (sum, count) with an explicit empty-filter guard so both
    engines agree on zero-match screens."""
    from skyhookdb_ceph_spark.operators.shared_scan import (
        shared_filter_profile,
    )

    d = Catalog(spark, sf_dir).documents
    filters = {
        "all_docs": F.lit(True),
        "lang_en": F.col("lang") == "en",
        "long_doc": F.col("n_chars") >= 300,
        "short_doc": F.col("n_chars") < 100,
        "has_digit": F.col("text").rlike("[0-9]"),
    }
    prof = shared_filter_profile(d, filters, F.col("n_chars"))
    return prof.select(
        "filter",
        F.col("n_rows").alias("n_docs"),
        F.col("total_value").alias("total_chars"),
        quantize(
            F.col("total_value")
            / F.greatest(F.col("n_rows"), F.lit(1)),
            6,
        ).alias("avg_chars"),
    ).orderBy("filter")
