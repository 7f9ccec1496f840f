"""Round-8 wave (SURVEY.md §2.19).

Evidence-hardening queries closing the r7 verdict's residuals:

1. q_vec_ivf_files_pruned — the recall/cost curve's cost axis
   re-measured on the PERSISTED IVF layout: frac of partition
   directories (= files) a probe actually reads must equal the
   logical probe fraction the curve claims (r7 verdict item 5).
2. q_join_skew_adaptive — the max_key_share skew probe wired into
   the salted JOIN path: join-side salting decided by measurement,
   not hardcoded (r7 verdict item 8); both branches plan-asserted
   in tests/test_skew.py.
3. q_scan_metadata_cols — hidden file-metadata columns
   (_metadata.file_name / row_index): per-row physical lineage at
   the scan, contract-pinned against the oracle.
4. q_stream_outer_join (streaming_q.py) — stream-stream LEFT OUTER
   join with watermark-eviction NULL emission; the oracle pins the
   two-watermark-node MIN-policy gate.
5. q_sql_parameterized — named-parameter SQL binding + {df} table
   templating, the injection-safe SQL front door.
6. q_scan_ignore_corrupt — file-level corruption tolerance via the
   per-source ignoreCorruptFiles option.
7. q_transform_text — line-oriented text round-trip (the raw LLM
   corpus ingest format), completing §2.1's format plurality.
8. q_multimodal_resize — image resize with real pixel math
   (operators/multimodal.resize_ppm), beside the §2.12 decode,
   perceptual-hash, frame-sample and windowing stages.
9. q_fn_sql_udf — SQL-defined functions (CREATE FUNCTION ... RETURN)
   + lateral column aliases over aggregate aliases: the declarative
   UDF door, inlined at plan time.
10. q_stream_full_outer_join (streaming_q.py) — stream-stream FULL
    OUTER join; the oracle pins the ASYMMETRIC eviction schedules
    (purchases at wm, interval-bound clicks at wm - 1h).

House rules unchanged: identical aliases both sides, deterministic
everything, no all-pairs, no corpus-sized collect() — driver-side
materialization here is bounded by 2^n_bits cells, never rows.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from skyhookdb_ceph_spark.operators import vectors
from skyhookdb_ceph_spark.queries._util import Catalog, collect_local, local_df, scratch
from skyhookdb_ceph_spark.registry import query

# ---------------------------------------------------------------------------
# §2.19.1 persisted-IVF probe = directory pruning, measured
# ---------------------------------------------------------------------------


def _files_pruned_oracle() -> str:
    return f"""
WITH {vectors.primary_cell_cte_duckdb()},
qs AS (SELECT bucket AS qbucket FROM b WHERE vec_id % 50 = 0),
p1 AS (SELECT DISTINCT qbucket AS pb FROM qs),
pm AS (
  SELECT DISTINCT pb FROM (
    SELECT qbucket AS pb FROM qs
    UNION
    SELECT substr(qs.qbucket, 1, t.i - 1)
           || (CASE WHEN substr(qs.qbucket, t.i, 1) = '1'
               THEN '0' ELSE '1' END)
           || substr(qs.qbucket, t.i + 1, nb.nb) AS pb
    FROM qs, nb, unnest(generate_series(1, nb.nb)) t(i))),
tot AS (SELECT CAST(count(DISTINCT bucket) AS BIGINT) AS n_cells_total,
               CAST(count(*) AS BIGINT) AS corpus_n FROM b),
per AS (
  SELECT 1 AS pw,
         CAST(count(DISTINCT bucket) AS BIGINT) AS n_cells_probed,
         CAST(count(*) AS BIGINT) AS rows_read
  FROM b WHERE bucket IN (SELECT pb FROM p1)
  UNION ALL
  SELECT (SELECT nb + 1 FROM nb) AS pw,
         CAST(count(DISTINCT bucket) AS BIGINT),
         CAST(count(*) AS BIGINT)
  FROM b WHERE bucket IN (SELECT pb FROM pm))
SELECT CAST(pw AS INT) AS probe_width, n_cells_probed, n_cells_total,
       TRUE AS files_match_cells,
       floor((CAST(rows_read AS DOUBLE) / corpus_n) * 1000000 + 0.5)
         / 1000000 AS frac_corpus_read
FROM per, tot ORDER BY probe_width
"""


@query(
    "q_vec_ivf_files_pruned",
    oracle=_files_pruned_oracle(),
    tags=("llm", "vectors", "layout", "eval", "scale-design"),
)
def q_vec_ivf_files_pruned(spark, sf_dir):
    """The recall curve's COST AXIS measured on the PERSISTED layout —
    q_vec_recall_eval's frac_scored is computed from the LOGICAL probe
    set; this query persists the IVF cells partitionBy(bucket) (one
    file per cell — q_vec_ivf_build's layout) and proves that a probe
    read with the cells as a pushed-down IN filter touches exactly the
    probed directories: files actually contributing rows == probed
    cells present (files_match_cells, the banded-verdict column), and
    the fraction of the corpus those files hold equals the oracle's
    logical fraction (frac_corpus_read).  Probe sets per width follow
    q_vec_recall_eval exactly: width 1 = each query's own cell, width
    nb+1 = own + all Hamming-1 flips, deterministic query sample
    (vec_id % 50 == 0).  Driver-side materialization is the DISTINCT
    CELL LIST — bounded by 2^nb regardless of corpus size (the same
    boundedness that makes an IVF directory listing cheap at 100 TB) —
    never vectors or rows.  The index is built and read through
    operators/vectors.py's lifecycle, so cells come back as the
    strings they were written as and the probe pushes them as-is; the
    filter lands in PartitionFilters (asserted in
    tests/test_ivf_layout.py), which at 100 TB is the difference
    between listing nb+1 directories and scanning 2^nb."""
    e = Catalog(spark, sf_dir).embeddings
    with scratch("skyhook_ivfprune_") as tmp:
        vectors.build_ivf_index(spark, e, tmp)
        layout = vectors.read_ivf_index(spark, tmp)
        # distinct probe CELLS for both widths in ONE job (bounded by
        # 2^nb per width, collect-safe): width-1 cells are the query
        # buckets themselves; the multiprobe set adds the Hamming-1 flips
        per_width = (
            layout.filter(F.col("vec_id") % 50 == 0)
            .selectExpr(
                f"explode({vectors.hamming1_sql('bucket')}) AS pb", "bucket"
            )
            .groupBy("pb")
            .agg(F.max(F.col("pb") == F.col("bucket")).alias("own"))
            .collect()
        )
        cells1 = sorted(r["pb"] for r in per_width if r["own"])
        cellsm = sorted(r["pb"] for r in per_width)
        nb = len(cellsm[0])
        totals = layout.agg(
            F.count_distinct("bucket").cast("bigint").alias("n_cells_total"),
            F.count(F.lit(1)).cast("bigint").alias("corpus_n"),
        ).collect()[0]
        # both pruned widths measured in ONE job: union of the two
        # pushed-down reads, tagged by probe width (each leg keeps its
        # own PartitionFilters; the union is evaluated in one pass)
        legs = []
        for pw, cells in ((1, cells1), (nb + 1, cellsm)):
            legs.append(
                layout.filter(F.col("bucket").isin(cells))
                .withColumn("_file", F.input_file_name())
                .select(F.lit(pw).alias("pw"), "_file", "bucket")
            )
        per_pw = {
            r["pw"]: r
            for r in legs[0]
            .unionByName(legs[1])
            .groupBy("pw")
            .agg(
                F.count_distinct("_file").cast("bigint").alias("n_files"),
                F.count_distinct("bucket").cast("bigint").alias("n_cells"),
                F.count(F.lit(1)).cast("bigint").alias("rows_read"),
            )
            .collect()
        }
        rows = []
        for pw in (1, nb + 1):
            m = per_pw[pw]
            rows.append(
                (
                    pw,
                    m["n_cells"],
                    totals["n_cells_total"],
                    bool(m["n_files"] == m["n_cells"]),
                    # mirrors the oracle's floor(x*1e6 + 0.5)/1e6
                    float(
                        math.floor(
                            (m["rows_read"] / totals["corpus_n"]) * 1_000_000
                            + 0.5
                        )
                        / 1_000_000
                    ),
                )
            )
        return local_df(
            spark,
            rows,
            "probe_width int, n_cells_probed bigint, n_cells_total bigint, "
            "files_match_cells boolean, frac_corpus_read double",
        )


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
# §2.19.8 image resize (real pixel math over binary payloads)
# ---------------------------------------------------------------------------

# Source raster byte j is (media_id*7 + j*13) % 256 (same family as
# q_multimodal_image, disjoint doc subset).  Nearest-neighbor /2:
# output pixel (yy, xx) = source pixel (2yy, 2xx); numpy's [::2] keeps
# ceil(n/2) samples, so out_w = (w+1)//2.  The oracle walks the SAME
# output pixel positions arithmetically — any offset, stride, or
# channel-interleave bug in the resize surfaces as a value mismatch.
_RESIZE_ORACLE = """
WITH p AS (
  SELECT doc_id AS media_id,
    CAST(8 + (doc_id % 9) AS INT) AS w,
    CAST(8 + (doc_id % 7) AS INT) AS h
  FROM documents WHERE doc_id % 10 = 7),
d AS (
  SELECT media_id, w, h,
    CAST((w + 1) // 2 AS INT) AS ow, CAST((h + 1) // 2 AS INT) AS oh
  FROM p)
SELECT media_id, ow AS width, oh AS height, CAST(255 AS INT) AS maxval,
  CAST(ow * oh AS BIGINT) AS n_pixels,
  CAST(list_aggregate(list_transform(
    generate_series(0, ow * oh - 1),
    k -> (media_id * 7
          + (((k // ow) * 2 * w + (k % ow) * 2) * 3 + 0) * 13) % 256),
    'sum') AS BIGINT) AS sum_r,
  CAST(list_aggregate(list_transform(
    generate_series(0, ow * oh - 1),
    k -> (media_id * 7
          + (((k // ow) * 2 * w + (k % ow) * 2) * 3 + 1) * 13) % 256),
    'sum') AS BIGINT) AS sum_g,
  CAST(list_aggregate(list_transform(
    generate_series(0, ow * oh - 1),
    k -> (media_id * 7
          + (((k // ow) * 2 * w + (k % ow) * 2) * 3 + 2) * 13) % 256),
    'sum') AS BIGINT) AS sum_b
FROM d ORDER BY media_id
"""


@query(
    "q_multimodal_resize",
    oracle=_RESIZE_ORACLE,
    tags=("pipeline", "multimodal"),
)
def q_multimodal_resize(spark, sf_dir):
    """Image RESIZE with real pixel math, one of the multimodal row
    maps (decode / hash / RESIZE / frame-sample, SURVEY §2.12):
    synthesize P6 payloads with q_multimodal_image's row function
    (disjoint doc subset), nearest-neighbor downsample by 2
    (operators/multimodal.resize_ppm — output pixel (y, x) = source
    (2y, 2x), re-encoded as a real P6 payload), then decode the
    RESIZED payloads and emit dimensions + exact per-channel sums.
    Three chained Arrow-batched row maps (operators.map_rows), zero
    shuffle; the oracle computes the same sums by walking the output
    pixel positions arithmetically, so any stride/offset/interleave
    bug in the resize is a value mismatch, not a silent quality loss.  At
    100 TB the payload column shrinks ~4x at the resize stage —
    before any exchange — which is why real pipelines resize
    earliest."""
    from skyhookdb_ceph_spark.operators import ensure_parallelism, map_rows
    from skyhookdb_ceph_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        decode_ppm,
        resize_ppm,
    )
    from skyhookdb_ceph_spark.queries.pipeline7 import _ppm_synth

    params = (
        ensure_parallelism(Catalog(spark, sf_dir).documents)
        .filter("doc_id % 10 = 7")
        .selectExpr(
            "doc_id AS media_id",
            "CAST(8 + (doc_id % 9) AS INT) AS width",
            "CAST(8 + (doc_id % 7) AS INT) AS height",
        )
    )
    cols = ["media_id", "width", "height"]
    media = map_rows(params, cols, _ppm_synth, MEDIA_SCHEMA)
    return decode_ppm(resize_ppm(media, factor=2)).orderBy("media_id")


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
