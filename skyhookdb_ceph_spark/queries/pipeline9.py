"""Round-8 wave (SURVEY.md §2.19).

Evidence-hardening queries closing the r7 verdict's residuals:

1. q_join_skew_adaptive — the max_key_share skew probe wired into
   the salted JOIN path: join-side salting decided by measurement,
   not hardcoded (r7 verdict item 8); both branches plan-asserted
   in tests/test_skew.py.
2. q_scan_metadata_cols — hidden file-metadata columns
   (_metadata.file_name / row_index): per-row physical lineage at
   the scan, contract-pinned against the oracle.
3. q_stream_outer_join (streaming_q.py) — stream-stream LEFT OUTER
   join with watermark-eviction NULL emission; the oracle pins the
   two-watermark-node MIN-policy gate.
4. q_sql_parameterized — named-parameter SQL binding + {df} table
   templating, the injection-safe SQL front door.
5. q_scan_ignore_corrupt — file-level corruption tolerance via the
   per-source ignoreCorruptFiles option.
6. q_transform_text — line-oriented text round-trip (the raw LLM
   corpus ingest format), completing §2.1's format plurality.
7. q_fn_sql_udf — SQL-defined functions (CREATE FUNCTION ... RETURN)
   + lateral column aliases over aggregate aliases: the declarative
   UDF door, inlined at plan time.
8. q_stream_full_outer_join (streaming_q.py) — stream-stream FULL
   OUTER join; the oracle pins the ASYMMETRIC eviction schedules
   (purchases at wm, interval-bound clicks at wm - 1h).

House rules unchanged: identical aliases both sides, deterministic
everything, no all-pairs, no corpus-sized collect() — driver-side
materialization here is bounded, never corpus-sized.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from skyhookdb_ceph_spark.queries._util import Catalog, collect_local, scratch
from skyhookdb_ceph_spark.registry import query


# ---------------------------------------------------------------------------
# §2.19.2 skew-probe-driven JOIN strategy (join twin of q_agg_skew_adaptive)
# ---------------------------------------------------------------------------

_JOIN_SKEW_ADAPTIVE_ORACLE = """
SELECT e.event_type, CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
       CAST(max(type_len) AS INT) AS type_len
FROM events e
JOIN (SELECT DISTINCT event_type,
             CAST(length(event_type) AS INT) AS type_len
      FROM events) d
  ON e.event_type = d.event_type
GROUP BY e.event_type ORDER BY e.event_type
"""


@query(
    "q_join_skew_adaptive",
    oracle=_JOIN_SKEW_ADAPTIVE_ORACLE,
    tags=("join", "stats", "skew", "scale-design"),
)
def q_join_skew_adaptive(spark, sf_dir):
    """Stats-driven JOIN strategy — the runstats→optimizer story
    (q_runstats → q_join_stats_driven → q_agg_skew_adaptive) closed
    for the JOIN side: the same 1-row max_key_share probe decides
    whether the fact side's join key is hot enough to salt
    (operators/skew.py adaptive_join).  events.event_type has ~5
    values (hot share ≈ 0.2 ≫ 1/32), so this query always takes the
    salted branch — the fact is salted with hash(event_id) mod 8 and
    the dim replicated per salt, joining on (key, salt); the plain
    branch is plan-asserted separately on a uniform high-cardinality
    key (tests/test_skew.py).  Both branches return identical rows
    for any salt assignment, so the oracle is branch-invariant —
    the property a real optimizer hides behind.  The dim is the
    distinct event-type reference derived in one tiny keyed agg
    (never broadcast-forced: the point is the shuffle-side shape;
    AQE off in the bench still gets the skew-safe plan because the
    salting rewrote the shuffle itself, not the schedule)."""
    from skyhookdb_ceph_spark.operators.skew import adaptive_join

    e = Catalog(spark, sf_dir).events
    dim = (
        e.select("event_type").distinct()
        .select(
            F.col("event_type").alias("d_type"),
            F.length("event_type").cast("int").alias("type_len"),
        )
    )
    joined = adaptive_join(
        e.select("event_type", "value", "event_id"),
        dim,
        "event_type",
        "d_type",
        F.col("event_id"),
        n_salts=8,
    )
    return (
        joined.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum(F.floor(F.col("value") * 100).cast("bigint"))
            .cast("bigint")
            .alias("sum_cents"),
            F.max("type_len").cast("int").alias("type_len"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# §2.19.3 hidden file-metadata columns (lineage at the scan)
# ---------------------------------------------------------------------------

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


# ---------------------------------------------------------------------------
# §2.19.5 parameterized SQL (named-parameter binding)
# ---------------------------------------------------------------------------

_PARAM_SQL_ORACLE = """
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS cnt,
       floor(sum(o_totalprice) * 100 + 0.5) / 100 AS sum_price
FROM orders WHERE o_totalprice > 150000.0
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


@query("q_sql_parameterized", oracle=_PARAM_SQL_ORACLE, tags=("sql",))
def q_sql_parameterized(spark, sf_dir):
    """PARAMETERIZED SQL — named `:param` markers bound server-side
    (spark.sql(..., args=...)) plus `{df}` templating for the table
    reference: the injection-safe front door every SQL-speaking
    application should use instead of string interpolation (a
    user-supplied threshold can never smuggle SQL past the parser —
    parameters bind as typed literals AFTER parsing).  The sixth SQL
    door next to CTE / VALUES / named-window / recursive / pipe.
    Same plan as the literal form — pushed filter, partial/final
    agg — because binding happens before optimization; the oracle IS
    the literal form, proving the bound parameter reaches the plan
    with identical semantics."""
    orders = Catalog(spark, sf_dir).orders
    return spark.sql(
        "SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS cnt, "
        "floor(sum(o_totalprice) * 100 + 0.5) / 100 AS sum_price "
        "FROM {orders} WHERE o_totalprice > :minp "
        "GROUP BY o_orderpriority ORDER BY o_orderpriority",
        args={"minp": 150000.0},
        orders=orders,
    )


# ---------------------------------------------------------------------------
# §2.19.6 corrupt-file tolerance at the scan
# ---------------------------------------------------------------------------

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
        import os

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


# ---------------------------------------------------------------------------
# §2.19.7 line-oriented text source (raw-corpus ingest format)
# ---------------------------------------------------------------------------

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


# ---------------------------------------------------------------------------
# §2.19.9 SQL-defined functions (scalar + table) and lateral aliases
# ---------------------------------------------------------------------------

_SQL_UDF_ORACLE = """
SELECT l_returnflag,
       CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100)
                AS BIGINT)) AS BIGINT) AS rev_cents,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100)
                AS BIGINT)) // count(*) AS BIGINT) AS avg_rev_cents
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


@query("q_fn_sql_udf", oracle=_SQL_UDF_ORACLE, tags=("function", "sql"))
def q_fn_sql_udf(spark, sf_dir):
    """SQL-DEFINED functions (Spark 4 `CREATE FUNCTION ... RETURN
    expr`) + lateral column aliases — the declarative UDF door: the
    business definition (discounted price) lives ONCE as a named SQL
    function, is inlined by Catalyst at plan time (no Python worker,
    no serialization boundary — contrast §2.9's pandas UDFs), and the
    lateral alias derives avg_rev_cents from the rev_cents/n_rows
    aggregate ALIASES in the same SELECT — no subquery, no
    re-aggregation.  Per-row cents quantization before the sum
    keeps both engines integer-exact.  The oracle inlines the same
    expressions — value equality proves the function call IS the
    expression, and the whole plan stays one partial/final aggregate
    over the scan."""
    Catalog(spark, sf_dir).lineitem.createOrReplaceTempView(
        "li_sql_udf_v"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION skyhook_disc_price("
        "p DOUBLE, d DOUBLE) RETURNS DOUBLE RETURN p * (1 - d)"
    )
    return spark.sql(
        "SELECT l_returnflag, "
        "  CAST(sum(CAST(floor("
        "    skyhook_disc_price(l_extendedprice, l_discount) * 100"
        "  ) AS BIGINT)) AS BIGINT) AS rev_cents, "
        "  CAST(count(*) AS BIGINT) AS n_rows, "
        # lateral column aliases: avg derives from the two aggregate
        # ALIASES in the same SELECT — no subquery, no re-aggregation
        "  CAST(rev_cents DIV n_rows AS BIGINT) AS avg_rev_cents "
        "FROM li_sql_udf_v GROUP BY l_returnflag ORDER BY l_returnflag"
    )
