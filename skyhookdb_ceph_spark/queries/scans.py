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

import atexit
import os
import shutil

from pyspark.sql import types as T

from skyhookdb_ceph_spark.operators.stats import column_stats
from skyhookdb_ceph_spark.queries._util import (
    Catalog,
    F,
    _scratch_dir,
    collect_local,
    money,
    quantize,
    scoped_conf,
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


# q_schema_evolve's merged-snapshot dir lives for the process (the
# returned DataFrame reads it) and is reclaimed here at exit so tmpfs
# scratch never accumulates one dir per process.
_EVOLVE_OUT_DIRS: set[str] = set()


def _cleanup_evolve_out() -> None:
    for d in _EVOLVE_OUT_DIRS:
        shutil.rmtree(d, ignore_errors=True)
    _EVOLVE_OUT_DIRS.clear()


atexit.register(_cleanup_evolve_out)


_EVOLVE_ORACLE = """
SELECT doc_id, lang, CAST(NULL AS VARCHAR) AS source
FROM documents WHERE doc_id % 2 = 0
UNION ALL
SELECT doc_id, lang, source FROM documents WHERE doc_id % 2 = 1
"""


@query("q_schema_evolve", oracle=_EVOLVE_ORACLE, tags=("pipeline", "storage"))
def q_schema_evolve(spark, sf_dir):
    """Schema evolution across dataset snapshots: an old snapshot
    written WITHOUT a column and a new snapshot written WITH it read
    back as ONE dataset via mergeSchema — old rows surface NULL for
    the added column, byte-for-byte what the UNION-by-name oracle
    computes.  This is the lakehouse additive-column contract every
    long-lived training corpus relies on (schema drift without
    rewrite).  mergeSchema costs one footer read per FILE at planning
    time — at 100 TB restrict it to snapshot boundaries (explicit
    paths, as here) rather than globbing the whole lake.  Scratch:
    see ``_util.scratch``."""
    with scratch("skyhook_evolve_") as tmp:
        d = Catalog(spark, sf_dir).documents
        d.where("doc_id % 2 = 0").select("doc_id", "lang").write.mode(
            "overwrite"
        ).parquet(f"{tmp}/v1")
        d.where("doc_id % 2 = 1").select("doc_id", "lang", "source").write.mode(
            "overwrite"
        ).parquet(f"{tmp}/v2")
        merged = (
            spark.read.option("mergeSchema", True)
            .parquet(f"{tmp}/v1", f"{tmp}/v2")
            .select("doc_id", "lang", "source")
        )
        # Persist the merged view DISTRIBUTED (executor-side parquet
        # write to a process-lived scratch path, then re-read) instead
        # of the old corpus-sized collect()+createDataFrame round-trip
        # through the driver — at 100 TB the merged snapshot never fits
        # driver memory; a write-back is one map-only pass.
        out = os.path.join(
            _scratch_dir(), f"skyhook_evolve_out_{os.getpid()}"
        )
        merged.write.mode("overwrite").parquet(out)
        # Process-lived by design (the returned frame reads it), but it
        # MUST NOT outlive the process: on tmpfs scratch one leaked dir
        # per process accumulates in RAM (the r14/r15 ADVICE leak
        # class, found here by a /dev/shm census this round).
        _EVOLVE_OUT_DIRS.add(out)
        return spark.read.parquet(out).select("doc_id", "lang", "source")


_PARTPRUNE_ORACLE = """
SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS event_date,
  event_type, CAST(count(*) AS BIGINT) AS cnt
FROM events
WHERE CAST(ts AS DATE) >= DATE '2024-01-10'
  AND CAST(ts AS DATE) < DATE '2024-01-13'
GROUP BY 1, 2 ORDER BY 1, 2
"""


@query("q_scan_partition_prune", oracle=_PARTPRUNE_ORACLE, tags=("scan", "layout"))
def q_scan_partition_prune(spark, sf_dir):
    """Hive-style partition pruning: events re-laid-out
    partitionBy(event_date), then a 3-day filter reads ONLY those
    directories — the listing itself skips the other ~27 days before
    any file opens (PartitionFilters in the scan node, vs
    PushedFilters which still touches every file's footer).  This is
    the date-partitioned table layout every 100 TB event store uses;
    the write is in-query to stay self-contained."""
    ev = Catalog(spark, sf_dir).events
    with scratch("skyhook_partprune_") as tmp:
        path = f"{tmp}/events_by_date"
        (
            ev.withColumn("event_date", F.col("ts").cast("date"))
            .write.mode("overwrite")
            .partitionBy("event_date")
            .parquet(path)
        )
        part = spark.read.parquet(path)
        out = (
            part.filter(
                (F.col("event_date") >= F.lit("2024-01-10").cast("date"))
                & (F.col("event_date") < F.lit("2024-01-13").cast("date"))
            )
            .groupBy(
                F.col("event_date").cast("string").alias("event_date"),
                "event_type",
            )
            .agg(F.count(F.lit(1)).alias("cnt"))
            .orderBy("event_date", "event_type")
        )
        # Materialize the (days x types)-bounded result before the
        # scratch dir is removed (house pattern, _util.scratch).
        return collect_local(out)


_CORRUPT_ORACLE = """
SELECT CAST(sum(CASE WHEN doc_id % 7 <> 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_good,
       CAST(sum(CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_corrupt,
       CAST(sum(CASE WHEN doc_id % 7 <> 0 THEN n_chars ELSE 0 END)
            AS BIGINT) AS sum_chars_good
FROM documents
"""


@query("q_scan_corrupt_json", oracle=_CORRUPT_ORACLE, tags=("scan", "robustness"))
def q_scan_corrupt_json(spark, sf_dir):
    """Malformed-input tolerance — the ingestion reality every 100 TB
    crawl pipeline faces: JSON lines are synthesized from documents
    with every 7th record TRUNCATED mid-object, then read back in
    PERMISSIVE mode with an explicit schema + _corrupt_record column.
    Good rows parse to typed columns; malformed lines land intact in
    the corrupt column instead of failing the job (contrast FAILFAST)
    — the oracle recomputes the expected partition of good/corrupt
    from the source table, so the assertion is that PERMISSIVE
    classifies EXACTLY the malformed set and loses no good record.
    Both write and read are distributed (text sink/source, pure map);
    the only shuffle is the final 1-row aggregate."""
    c = Catalog(spark, sf_dir)
    with scratch("skyhook_corrupt_") as tmp:
        lines = c.documents.select(
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(
                    F.lit('{"id": '),
                    F.col("doc_id").cast("string"),
                    F.lit(', "lang": "'),
                ),
            )
            .otherwise(
                F.to_json(
                    F.struct(
                        F.col("doc_id").alias("id"),
                        F.col("lang"),
                        F.col("n_chars").alias("n"),
                    )
                )
            )
            .alias("value")
        )
        lines.write.mode("overwrite").text(f"{tmp}/lines")
        schema = T.StructType(
            [
                T.StructField("id", T.LongType()),
                T.StructField("lang", T.StringType()),
                T.StructField("n", T.LongType()),
                T.StructField("_corrupt_record", T.StringType()),
            ]
        )
        parsed = spark.read.schema(schema).option("mode", "PERMISSIVE").json(
            f"{tmp}/lines"
        )
        out = parsed.agg(
            F.sum(
                F.when(F.col("_corrupt_record").isNull(), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_good"),
            F.sum(
                F.when(F.col("_corrupt_record").isNotNull(), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_corrupt"),
            F.sum(
                F.when(F.col("_corrupt_record").isNull(), F.col("n")).otherwise(0)
            )
            .cast("bigint")
            .alias("sum_chars_good"),
        )
        # Materialize before the scratch dir is removed.
        return collect_local(out)


_BINARYFILE_ORACLE = """
WITH k AS (SELECT unnest(generate_series(0, 19)) AS k)
SELECT k AS file_k,
  CAST(length('payload-' || k || '-' || repeat('x', k * 7)) AS BIGINT)
    AS n_bytes,
  md5('payload-' || k || '-' || repeat('x', k * 7)) AS digest
FROM k ORDER BY file_k
"""


@query(
    "q_scan_binary_file",
    oracle=_BINARYFILE_ORACLE,
    tags=("scan", "multimodal"),
)
def q_scan_binary_file(spark, sf_dir):
    """Whole-file ingestion via Spark's `binaryFile` source — how raw
    media objects (images, audio, model checkpoints) actually enter a
    pipeline before any codec runs: each file becomes one row of
    (path, modificationTime, length, content).  Twenty deterministic
    payload files are materialized to scratch, read back through the
    source, and verified by length + md5 against an oracle that
    rebuilds the same payloads from the file index parsed out of the
    path.  At 100 TB the source lists files into splits like any
    other (maxPartitionBytes governs grouping of small files) and
    content bytes stay executor-side — only the tiny digest rows
    move.  Deliberately driver-written fixtures: 20 files is a
    metadata-scale setup, not a data write."""
    with scratch("skyhook_binfile_") as tmp:
        for k in range(20):
            payload = f"payload-{k}-" + "x" * (k * 7)
            with open(os.path.join(tmp, f"blob_{k:04d}.bin"), "wb") as fh:
                fh.write(payload.encode("ascii"))
        files = spark.read.format("binaryFile").load(tmp)
        out = (
            files.select(
                F.regexp_extract(F.col("path"), r"blob_(\d+)\.bin$", 1)
                .cast("bigint")
                .alias("file_k"),
                F.col("length").cast("bigint").alias("n_bytes"),
                F.md5(F.col("content").cast("string")).alias("digest"),
            )
            .orderBy("file_k")
        )
        # Materialize before the scratch dir is removed.
        return collect_local(out)


_AGG_PUSHDOWN_ORACLE = """
SELECT CAST(count(*) AS BIGINT) AS cnt,
       min(l_shipdate) AS min_ship,
       max(l_extendedprice) AS max_price
FROM lineitem
"""


@query(
    "q_scan_agg_pushdown",
    oracle=_AGG_PUSHDOWN_ORACLE,
    tags=("scan", "pushdown"),
)
def q_scan_agg_pushdown(spark, sf_dir):
    """Aggregate pushdown INTO the storage layer — the closest Spark
    gets to the reference's literal architecture (COUNT/MIN/MAX
    evaluated where the data lives instead of scanning it out): with
    parquet v2 + aggregatePushdown, the scan answers count(*)/min/max
    from ROW-GROUP FOOTER STATISTICS and reads zero data pages — the
    plan carries `PushedAggregation: [COUNT(*), MIN(..), MAX(..)]`
    (asserted in tests/test_plans.py).  At 100 TB this turns a
    full-table statistics query into a footer-metadata sweep, exactly
    the --use-cls win the reference measured.  The two confs are
    scoped to this query (v2 source switching is session-global, so
    the result materializes under the confs and both are restored
    before returning)."""
    with scoped_conf(
        spark,
        {
            "spark.sql.parquet.aggregatePushdown": "true",
            "spark.sql.sources.useV1SourceList": "",
        },
    ):
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        out = li.selectExpr(
            "CAST(count(*) AS BIGINT) AS cnt",
            "min(l_shipdate) AS min_ship",
            "max(l_extendedprice) AS max_price",
        )
        # Materialize UNDER the pushdown confs (1 row), then restore.
        return collect_local(out)


_XML_ORACLE = """
SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS cnt,
       floor(sum(c_acctbal) * 100 + 0.5) / 100 AS sum_acctbal
FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment
"""


@query("q_transform_xml", oracle=_XML_ORACLE, tags=("scan", "format"))
def q_transform_xml(spark, sf_dir):
    """XML round-trip via Spark 4's built-in XML source — extends the
    format-plurality set (CSV/JSON/ORC/parquet/binaryFile, the SFT_*
    dispatch analog) with the document-markup path enterprise feeds
    still speak.  XML-specific semantics are exercised, not just
    tunneled: c_custkey rides as an ATTRIBUTE (the `_`-prefixed field
    maps to `key="..."` on write and back on read), the other columns
    as child elements, and the read uses an explicit schema + rowTag
    (schema inference over XML is a full extra pass at 100 TB).
    Doubles survive because the writer emits Java shortest-round-trip
    decimal strings.  Write and read are both distributed maps; the
    only shuffle is the final aggregate; matching the oracle on the
    SOURCE table proves the round-trip lossless."""
    with scratch("skyhook_transform_xml_") as tmp:
        src = Catalog(spark, sf_dir).customer.selectExpr(
            "c_custkey AS _key", "c_mktsegment", "c_acctbal"
        )
        (
            src.write.mode("overwrite")
            .format("xml")
            .option("rootTag", "customers")
            .option("rowTag", "customer")
            .save(f"{tmp}/xml")
        )
        schema = T.StructType(
            [
                T.StructField("_key", T.LongType()),
                T.StructField("c_mktsegment", T.StringType()),
                T.StructField("c_acctbal", T.DoubleType()),
            ]
        )
        out = (
            spark.read.format("xml")
            .option("rowTag", "customer")
            .schema(schema)
            .load(f"{tmp}/xml")
            .groupBy("c_mktsegment")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("cnt"),
                (F.floor(F.sum("c_acctbal") * 100 + F.lit(0.5)) / 100).alias(
                    "sum_acctbal"
                ),
            )
            .orderBy("c_mktsegment")
        )
        return collect_local(out)


_DRIFT_ORACLE = """
SELECT CAST(2 * count(*) AS BIGINT) AS n_rows,
       CAST(count(*) AS BIGINT) AS n_with_chars,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM documents
"""


@query("q_scan_schema_drift", oracle=_DRIFT_ORACLE, tags=("scan", "robustness"))
def q_scan_schema_drift(spark, sf_dir):
    """Schema EVOLUTION at the scan — the ingestion reality of any
    long-lived table: files written before a column existed must read
    alongside files written after.  Two vintages of the documents
    table land in one directory (old: doc_id+lang; new: +n_chars);
    mergeSchema=true unions the schemas and fills the missing column
    with NULL for old files — no rewrite of history, no failed scan.
    The oracle pins the exact semantics: every row surfaces (2x), the
    new column is non-null for EXACTLY the new vintage, and its sum
    equals the source (nothing fabricated).  At 100 TB this is why
    schema-on-read beats backfilling petabytes for every added
    column; the per-file footer carries its own schema and the merge
    happens at plan time."""
    with scratch("skyhook_drift_") as tmp:
        d = Catalog(spark, sf_dir).documents
        d.select("doc_id", "lang").write.mode("overwrite").parquet(
            f"{tmp}/t/vintage=old"
        )
        d.select("doc_id", "lang", "n_chars").write.mode("overwrite").parquet(
            f"{tmp}/t/vintage=new"
        )
        merged = spark.read.option("mergeSchema", "true").parquet(f"{tmp}/t")
        agg = merged.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.count("n_chars").cast("bigint").alias("n_with_chars"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
        )
        return collect_local(agg)


_METADATA_ORACLE = """
SELECT 'documents.parquet' AS file_name,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(0 AS BIGINT) AS min_ri,
       CAST(count(*) - 1 AS BIGINT) AS max_ri,
       CAST(count(*) * (count(*) - 1) / 2 AS BIGINT) AS sum_ri,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM documents
"""


@query(
    "q_scan_metadata_cols",
    oracle=_METADATA_ORACLE,
    tags=("scan", "lineage"),
)
def q_scan_metadata_cols(spark, sf_dir):
    """Hidden FILE-METADATA columns at the scan (`_metadata.file_name`
    / `_metadata.row_index`) — the lineage surface every audited 100 TB
    pipeline leans on: which physical file did a row come from, and at
    which position, WITHOUT writing either into the data.  Spark
    exposes them as a constant-folded struct on file sources (no
    per-row compute; row_index comes from the parquet reader's
    position, so the column costs nothing at scan time).  The oracle
    pins the contract rather than echoing the engine: the fixture is
    exactly one file with its known basename, and row_index must cover
    0..n-1 densely — min 0, max n-1, AND sum n*(n-1)/2, which together
    with the count rules out duplicate-and-skip patterns that
    min/max/count alone admit (e.g. {0,1,1,3}) — the invariant
    downstream delta/debugging tooling depends on.  At
    100 TB the same two columns turn "which ingest batch corrupted
    this row" from a table rewrite into a WHERE on the scan."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (
        d.select(
            F.col("_metadata.file_name").alias("file_name"),
            F.col("_metadata.row_index").alias("ri"),
            "n_chars",
        )
        .groupBy("file_name")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.min("ri").cast("bigint").alias("min_ri"),
            F.max("ri").cast("bigint").alias("max_ri"),
            F.sum("ri").cast("bigint").alias("sum_ri"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
        )
    )


_IGNORE_CORRUPT_ORACLE = """
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT doc_id % 3) AS BIGINT) AS n_vintages,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM documents WHERE doc_id % 3 <> 2
"""


@query(
    "q_scan_ignore_corrupt",
    oracle=_IGNORE_CORRUPT_ORACLE,
    tags=("scan", "robustness"),
)
def q_scan_ignore_corrupt(spark, sf_dir):
    """CORRUPT-FILE tolerance at the scan — at 100 TB some file is
    always damaged (truncated upload, bit rot, a writer that died
    mid-close), and the default fail-the-job semantics turns one bad
    object into a dead pipeline.  Three deterministic document shards
    (doc_id mod 3) are written as separate parquet files; one is then
    overwritten with garbage bytes (no footer — unreadable).  Reading
    the directory with the per-source ignoreCorruptFiles OPTION (not
    the session-wide conf — surgical, no leak into other scans) must
    return exactly the two intact shards: the oracle aggregates the
    same deterministic subset (doc_id % 3 <> 2).  Contrast
    q_scan_corrupt_json, which handles row-level corruption inside a
    readable file (PERMISSIVE mode); this is FILE-level corruption
    below the format layer."""
    d = Catalog(spark, sf_dir).documents.select("doc_id", "n_chars")
    with scratch("skyhook_corrupt_") as tmp:
        for shard in range(3):
            d.filter(F.col("doc_id") % 3 == shard).coalesce(1).write.mode(
                "overwrite"
            ).parquet(f"{tmp}/shard={shard}")
        # destroy shard 2's data file below the format layer

        sdir = f"{tmp}/shard=2"
        victim = next(
            f for f in os.listdir(sdir)
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        )
        with open(f"{sdir}/{victim}", "wb") as fh:
            fh.write(b"this is not a parquet file")
        agg = (
            spark.read.option("ignoreCorruptFiles", "true")
            .parquet(tmp)
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.count_distinct(F.col("doc_id") % 3)
                .cast("bigint")
                .alias("n_vintages"),
                F.sum("n_chars").cast("bigint").alias("sum_chars"),
            )
        )
        # materialize before the tempdir is removed (1 bounded row)
        return collect_local(agg)


_TEXT_ORACLE = """
SELECT CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(length(text)) AS BIGINT) AS sum_chars,
       CAST(min(length(text)) AS BIGINT) AS min_chars,
       CAST(max(length(text)) AS BIGINT) AS max_chars
FROM documents
"""


@query("q_transform_text", oracle=_TEXT_ORACLE, tags=("scan", "format"))
def q_transform_text(spark, sf_dir):
    """Line-oriented TEXT round-trip — the rawest corpus format an
    LLM-data pipeline ingests (one document per line: webtext dumps,
    log shards, .jsonl before the json step).  spark.read.text maps
    each line to one `value` row with NO parsing cost, which is why
    it is the fastest possible scan of unstructured bytes; the write
    side proves the inverse (df.write.text, distributed, one file per
    task).  The fixture's documents are newline-free so the
    round-trip is exact: line count, total/min/max line length must
    match the source — proving no line splitting, merging, trailing
    separators, or encoding drift.  Completes §2.1's format plurality
    (parquet/CSV/JSON/ORC/XML/binaryFile + text).  At 100 TB text
    scans split by line boundaries within files, so parallelism is
    maxPartitionBytes-driven exactly like parquet — no format-level
    serialization point."""
    d = Catalog(spark, sf_dir).documents.select("text")
    with scratch("skyhook_text_") as tmp:
        d.write.mode("overwrite").text(tmp)
        lines = spark.read.text(tmp)
        agg = lines.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.sum(F.length("value")).cast("bigint").alias("sum_chars"),
            F.min(F.length("value")).cast("bigint").alias("min_chars"),
            F.max(F.length("value")).cast("bigint").alias("max_chars"),
        )
        return collect_local(agg)


_BUCKET_PRUNE_KEYS = (1, 5, 13)
_BUCKET_PRUNE_N = 16

_BUCKET_PRUNE_ORACLE = f"""
SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders,
  floor((sum(o_totalprice)) * 100 + 0.5) / 100 AS spend
FROM orders WHERE o_custkey IN {_BUCKET_PRUNE_KEYS}
GROUP BY o_custkey ORDER BY o_custkey
"""


@query(
    "q_scan_bucket_prune",
    oracle=_BUCKET_PRUNE_ORACLE,
    tags=("scan", "layout", "scale-design"),
)
def q_scan_bucket_prune(spark, sf_dir):
    """Bucket-PRUNED point read: the read-side payoff of the bucketed
    layout that q_join_bucketed pays for at write time.  A key-equality
    (or IN-list) predicate on the bucket column lets the scan open
    ONLY the buckets those keys hash to — the plan's FileSourceScan
    shows `SelectedBucketsCount: k out of 16` (plan-asserted in
    tests/test_bucketing.py) — so a point lookup over a 100 TB
    bucketed fact touches 1/16th of the files per key with ZERO index
    structures, just the layout.  This is the q_scan_partition_prune
    story on a HASHED key (high-cardinality ids that would explode a
    hive partition tree into millions of directories bucket cleanly
    into a fixed file count).  The pushed IN-filter still applies
    within the surviving buckets.  Oracle reads the plain parquet —
    layout must never change results."""
    from skyhookdb_ceph_spark.operators.bucketing import (
        write_bucketed_scoped,
    )

    c = Catalog(spark, sf_dir)
    tbl = write_bucketed_scoped(
        c.orders.select("o_custkey", "o_totalprice"),
        "bp_orders",
        ["o_custkey"],
        _BUCKET_PRUNE_N,
    )
    t = spark.table(tbl)
    return (
        t.filter(F.col("o_custkey").isin(*_BUCKET_PRUNE_KEYS))
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            money(F.sum("o_totalprice")).alias("spend"),
        )
        .orderBy("o_custkey")
    )


_ZM_LO, _ZM_HI = "1996-01-01", "1996-03-31"
_ZM_KEY_WIDTH = 4096  # orderkey rows per physical-proxy zone


def _zm_oracle() -> str:
    pred = (
        f"l_shipdate >= TIMESTAMP '{_ZM_LO}' "
        f"AND l_shipdate <= TIMESTAMP '{_ZM_HI} 23:59:59'"
    )
    legs = []
    for label, zone in (
        ("physical_orderkey", f"CAST(floor(l_orderkey / {_ZM_KEY_WIDTH}) AS BIGINT)"),
        ("clustered_ship_month", "CAST(date_trunc('month', l_shipdate) AS DATE)"),
    ):
        legs.append(f"""
SELECT '{label}' AS layout,
  CAST(count(*) AS BIGINT) AS zones_total,
  CAST(sum(sel) AS BIGINT) AS zones_selected,
  CAST(sum(sel * n) AS BIGINT) AS rows_scanned,
  CAST(sum(sel * m) AS BIGINT) AS rows_matched,
  CAST(sum(m) AS BIGINT) AS rows_matched_global,
  CAST(CASE WHEN sum(sel * m) = sum(m) THEN 1 ELSE 0 END AS INT)
    AS lossless
FROM (
  SELECT {zone} AS zone, count(*) AS n,
    sum(CASE WHEN {pred} THEN 1 ELSE 0 END) AS m,
    CASE WHEN max(l_shipdate) >= TIMESTAMP '{_ZM_LO}'
          AND min(l_shipdate) <= TIMESTAMP '{_ZM_HI} 23:59:59'
         THEN 1 ELSE 0 END AS sel
  FROM lineitem GROUP BY 1) z""")
    return " UNION ALL ".join(legs) + " ORDER BY layout"


@query(
    "q_scan_zonemap_advisor",
    oracle=_zm_oracle(),
    tags=("scan", "layout", "stats-driven", "scale-design"),
)
def q_scan_zonemap_advisor(spark, sf_dir):
    """Zone-map CLUSTERING ADVISOR: measures, per candidate layout,
    how much of the table a min/max manifest on l_shipdate would let a
    date-range predicate SKIP — the decision input for "should this
    table be re-clustered?" (the reference's runstats -> sort-on-write
    loop [U: cls_tabular.cc — exec_runstats_op, SIT_IDX_RID];
    Delta/Iceberg's file-stats pruning).

    Two layouts are audited in one pass each: the physical-order proxy
    (orderkey-range zones — how the table is laid out today) and the
    clustered candidate (ship-month zones — what sort-on-write would
    give).  On the fixture the verdict is stark and real: orderkey
    zones prune NOTHING (TPC-H shipdate is uncorrelated with orderkey
    — every zone's [min, max] spans the predicate), while ship-month
    zones scan only the predicate's months.  The lossless column is
    the zone-map correctness invariant re-derived in-query (selected
    zones contain ALL matching rows, both layouts, always — a zone map
    can over-scan but never lose).  Shape: two keyed partial
    aggregates, zone-count-bounded, no window, no join — the manifest
    build is exactly a runstats pass, so the advisor costs one scan
    per candidate layout at any scale."""
    li = Catalog(spark, sf_dir).lineitem
    lo = F.lit(_ZM_LO).cast("timestamp")
    hi = F.lit(f"{_ZM_HI} 23:59:59").cast("timestamp")
    pred = (F.col("l_shipdate") >= lo) & (F.col("l_shipdate") <= hi)
    legs = []
    for label, zone in (
        (
            "physical_orderkey",
            F.floor(F.col("l_orderkey") / _ZM_KEY_WIDTH).cast("bigint"),
        ),
        (
            "clustered_ship_month",
            F.date_trunc("month", F.col("l_shipdate")).cast("date"),
        ),
    ):
        z = li.groupBy(zone.alias("zone")).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(pred, 1).otherwise(0)).alias("m"),
            F.when(
                (F.max("l_shipdate") >= lo) & (F.min("l_shipdate") <= hi), 1
            )
            .otherwise(0)
            .alias("sel"),
        )
        legs.append(
            z.agg(
                F.count(F.lit(1)).cast("bigint").alias("zones_total"),
                F.sum("sel").cast("bigint").alias("zones_selected"),
                F.sum(F.col("sel") * F.col("n"))
                .cast("bigint")
                .alias("rows_scanned"),
                F.sum(F.col("sel") * F.col("m"))
                .cast("bigint")
                .alias("rows_matched"),
                F.sum("m").cast("bigint").alias("rows_matched_global"),
                F.when(
                    F.sum(F.col("sel") * F.col("m")) == F.sum("m"), 1
                )
                .otherwise(0)
                .cast("int")
                .alias("lossless"),
            ).select(F.lit(label).alias("layout"), "*")
        )
    return legs[0].unionByName(legs[1]).orderBy("layout")
