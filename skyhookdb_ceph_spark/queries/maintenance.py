"""Table maintenance (SURVEY.md §2.11): upserts and merges, snapshot
diffs, Z-order layout keys, compaction, vacuum and reclustering, and
the GDPR delete / export / anonymize / crypto-shred actions, with
their DuckDB oracles.

Operators driven:
- `operators/layout.py` — the partitioned re-layout behind
  `q_maint_recluster` (`write_partitioned`);
- `streaming/replay.py` — the committed-files drain whose orphans
  `q_maint_vacuum` reconciles against the commit log.

Queries that rewrite data stage it in `scratch()` and pin their
verdict with `collect_local()` before the dir is removed.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import functions as F

from skyhookdb_ceph_spark.queries._util import (
    Catalog,
    collect_local,
    money,
    quantize,
    scratch,
)
from skyhookdb_ceph_spark.registry import query
from skyhookdb_ceph_spark.streaming.replay import drain_to_files, events_stream


@query(
    "q_upsert_latest",
    oracle=(
        "WITH versions AS ("
        "  SELECT event_id, value, 0 AS seq FROM events"
        "  UNION ALL"
        "  SELECT event_id, value + 1000, 1 AS seq FROM events WHERE event_id % 2 = 0)"
        "SELECT event_id, "
        "floor((max_by(value, seq)) * 100 + 0.5) / 100 AS value_q, "
        "CAST(count(*) AS BIGINT) AS n_versions "
        "FROM versions GROUP BY event_id"
    ),
    tags=("pipeline",),
)
def q_upsert_latest(spark, sf_dir):
    """CDC upsert compaction (MERGE-into semantics on plain parquet):
    a base snapshot unioned with an update batch (every even event,
    value+1000, higher sequence number); latest-wins per key via
    max_by(value, seq) — a map-side-combinable aggregate, NOT a
    window (one partial-agg shuffle on the key, no per-key sort), so
    compaction throughput scales with the key count, not version
    depth."""
    e = Catalog(spark, sf_dir).events.select("event_id", "value")
    base = e.withColumn("seq", F.lit(0))
    updates = (
        e.filter(F.col("event_id") % 2 == 0)
        .withColumn("value", F.col("value") + 1000)
        .withColumn("seq", F.lit(1))
    )
    return (
        base.unionByName(updates)
        .groupBy("event_id")
        .agg(
            money(F.max_by("value", "seq")).alias("value_q"),
            F.count(F.lit(1)).alias("n_versions"),
        )
    )


def _morton_terms(x: str, y: str, dialect: str) -> str:
    """16-term Morton interleave of two 8-bit ints, exact in both
    engines (shiftright/& in Spark, >>/& in DuckDB; plain int math)."""
    terms = []
    for i in range(8):
        if dialect == "spark":
            bx, by = f"(shiftright({x}, {i}) & 1)", f"(shiftright({y}, {i}) & 1)"
        else:
            bx, by = f"(({x} >> {i}) & 1)", f"(({y} >> {i}) & 1)"
        terms.append(f"{bx} * {1 << (2 * i)}")
        terms.append(f"{by} * {1 << (2 * i + 1)}")
    return " + ".join(terms)


_ZX = "CAST(least(floor(l_extendedprice / 412), 255) AS INT)"
_ZY = "CAST(least(greatest(CAST(l_quantity AS INT) - 1, 0), 255) AS INT)"

_ZORDER_ORACLE = f"""
WITH z AS (
  SELECT CAST(({_morton_terms(_ZX, _ZY, 'duckdb')}) // 1024 AS INT) AS zrange,
    {_ZX} AS x, {_ZY} AS y
  FROM lineitem)
SELECT zrange, CAST(count(*) AS BIGINT) AS cnt,
  min(x) AS min_x, max(x) AS max_x, min(y) AS min_y, max(y) AS max_y
FROM z GROUP BY zrange
"""


@query("q_layout_zorder", oracle=_ZORDER_ORACLE, tags=("pipeline", "layout"))
def q_layout_zorder(spark, sf_dir):
    """Z-order (Morton) layout keys over (price, quantity): interleave
    the bits of two quantized 8-bit dimensions so that sorting by the
    single zkey co-locates rows that are close in BOTH dimensions —
    Spark's analog of the reference's sort-on-write RID locality
    [U: cls_tabular.cc — SIT_IDX_RID; SURVEY §2.11].  The query groups
    rows into coarse z-ranges (zkey div 1024) and reports each range's
    x/y bounding box: tight boxes == tight row-group min/max stats ==
    2-D predicate pruning from a 1-D sort.  operators/layout.py writes
    the actual files; this is the measurable/oracle-checkable core.
    Pure per-row int math + one partial agg, any scale."""
    li = Catalog(spark, sf_dir).lineitem
    z = li.selectExpr(
        f"CAST(({_morton_terms(_ZX, _ZY, 'spark')}) div 1024 AS INT) AS zrange",
        f"{_ZX} AS x",
        f"{_ZY} AS y",
    )
    return z.groupBy("zrange").agg(
        F.count("*").alias("cnt"),
        F.min("x").alias("min_x"),
        F.max("x").alias("max_x"),
        F.min("y").alias("min_y"),
        F.max("y").alias("max_y"),
    )


_SNAPSHOT_DIFF_ORACLE = """
WITH v1 AS (
  SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 5 <> 4),
v2 AS (
  SELECT doc_id,
    md5(CASE WHEN doc_id % 3 = 0 THEN text || ' v2' ELSE text END) AS h
  FROM documents WHERE doc_id % 7 <> 0)
SELECT coalesce(v1.doc_id, v2.doc_id) AS doc_id,
  CASE WHEN v1.doc_id IS NULL THEN 'added'
       WHEN v2.doc_id IS NULL THEN 'removed'
       WHEN v1.h <> v2.h THEN 'changed'
       ELSE 'unchanged' END AS change
FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
"""


@query("q_snapshot_diff", oracle=_SNAPSHOT_DIFF_ORACLE, tags=("pipeline", "storage"))
def q_snapshot_diff(spark, sf_dir):
    """Dataset-version diff: classify every document as added /
    removed / changed / unchanged between two snapshots by comparing
    content hashes under a full outer join on the stable id — the
    audit step before promoting a new training-corpus version.  Only
    (id, 16-byte hash) pairs shuffle, never document bodies; the join
    is a plain equi-join on the id, so it buckets/salts like any
    other.  Snapshots here are deterministic fixture slices (v1 drops
    id%5==4, v2 drops id%7==0 and rewrites id%3==0)."""
    docs = Catalog(spark, sf_dir).documents
    v1 = docs.where("doc_id % 5 <> 4").select(
        "doc_id", F.md5("text").alias("h")
    )
    v2 = docs.where("doc_id % 7 <> 0").select(
        "doc_id",
        F.md5(
            F.when(F.col("doc_id") % 3 == 0, F.concat("text", F.lit(" v2")))
            .otherwise(F.col("text"))
        ).alias("h"),
    )
    j = v1.alias("a").join(
        v2.alias("b"), F.col("a.doc_id") == F.col("b.doc_id"), "full_outer"
    )
    return j.select(
        F.coalesce(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_id"),
        F.when(F.col("a.doc_id").isNull(), "added")
        .when(F.col("b.doc_id").isNull(), "removed")
        .when(F.col("a.h") != F.col("b.h"), "changed")
        .otherwise("unchanged")
        .alias("change"),
    )


_MERGE_ORACLE = """
WITH upd AS (
  SELECT o_custkey AS key, sum(o_totalprice) AS delta
  FROM orders WHERE o_orderstatus = 'O' GROUP BY o_custkey),
ins AS (
  SELECT o_custkey + 1000000 AS key, sum(o_totalprice) AS delta
  FROM orders WHERE o_orderstatus = 'P' GROUP BY o_custkey),
changes AS (SELECT * FROM upd UNION ALL SELECT * FROM ins)
SELECT coalesce(c.c_custkey, g.key) AS custkey,
  CASE WHEN c.c_custkey IS NULL THEN 'insert'
       WHEN g.key IS NULL THEN 'keep'
       ELSE 'update' END AS action,
  floor((CASE WHEN c.c_custkey IS NULL THEN g.delta
              WHEN g.key IS NULL THEN c.c_acctbal
              ELSE c.c_acctbal + g.delta END) * 100 + 0.5) / 100 AS balance
FROM customer c FULL OUTER JOIN changes g ON c.c_custkey = g.key
"""


@query("q_delta_upsert_merge", oracle=_MERGE_ORACLE, tags=("pipeline", "merge"))
def q_delta_upsert_merge(spark, sf_dir):
    """MERGE INTO semantics as one full-outer join: a change set
    derived from orders (open orders update existing customer
    balances; pending orders insert synthetic new customers) merged
    against the customer base with per-row action classification
    (update / insert / keep) — the Delta/Iceberg upsert kernel
    expressed engine-neutrally.  At scale this is one shuffle on the
    merge key for each side; the change set is pre-aggregated so the
    join is 1:1 (no row explosion)."""
    c = Catalog(spark, sf_dir)
    upd = (
        c.orders.filter(F.col("o_orderstatus") == "O")
        .groupBy(F.col("o_custkey").alias("key"))
        .agg(F.sum("o_totalprice").alias("delta"))
    )
    ins = (
        c.orders.filter(F.col("o_orderstatus") == "P")
        .groupBy((F.col("o_custkey") + 1000000).alias("key"))
        .agg(F.sum("o_totalprice").alias("delta"))
    )
    changes = upd.unionByName(ins)
    base = c.customer.select("c_custkey", "c_acctbal")
    merged = base.join(
        changes, base.c_custkey == changes.key, "full_outer"
    )
    balance = (
        F.when(F.col("c_custkey").isNull(), F.col("delta"))
        .when(F.col("key").isNull(), F.col("c_acctbal"))
        .otherwise(F.col("c_acctbal") + F.col("delta"))
    )
    return merged.select(
        F.coalesce(F.col("c_custkey"), F.col("key")).alias("custkey"),
        F.when(F.col("c_custkey").isNull(), "insert")
        .when(F.col("key").isNull(), "keep")
        .otherwise("update")
        .alias("action"),
        money(balance).alias("balance"),
    )


_GDPR_ORACLE = """
WITH del AS (
  SELECT DISTINCT user_id FROM events WHERE user_id % 13 = 0)
SELECT event_type, CAST(count(*) AS BIGINT) AS n_total,
  CAST(sum(CASE WHEN d.user_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
    AS n_deleted,
  CAST(sum(CASE WHEN d.user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    AS n_kept
FROM events e LEFT JOIN del d ON e.user_id = d.user_id
GROUP BY event_type ORDER BY event_type
"""


@query("q_gdpr_delete", oracle=_GDPR_ORACLE, tags=("pipeline", "compliance"))
def q_gdpr_delete(spark, sf_dir):
    """Deletion propagation (right-to-be-forgotten): a deletion list
    of user ids applied across the event log, with the audit counts
    (total / purged / retained per event type) compliance requires.
    The deletion list arrives as a broadcast (id-only — at 100 TB the
    list is millions of ids, the log is the 100 TB side, and the log
    never shuffles for the match); the scrub itself is the same join
    with a NULL filter."""
    ev = Catalog(spark, sf_dir).events
    dels = (
        ev.filter(F.expr("user_id % 13 = 0"))
        .select(F.col("user_id").alias("du"))
        .distinct()
    )
    return (
        ev.join(F.broadcast(dels), ev.user_id == dels.du, "left")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(F.when(F.col("du").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_deleted"),
            F.sum(F.when(F.col("du").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_kept"),
        )
        .orderBy("event_type")
    )


_GDPR_EXPORT_ORACLE = """
SELECT 'customer' AS src, CAST(c_custkey AS BIGINT) AS rec_id,
       c_mktsegment AS info,
       CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS amount_cents
FROM customer WHERE c_custkey = 42
UNION ALL
SELECT 'orders', CAST(o_orderkey AS BIGINT), o_orderpriority,
       CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
FROM orders WHERE o_custkey = 42
UNION ALL
SELECT 'events', CAST(event_id AS BIGINT), event_type,
       CAST(floor(value * 100) AS BIGINT)
FROM events WHERE user_id = 42
ORDER BY src, rec_id
"""


@query("q_gdpr_export", oracle=_GDPR_EXPORT_ORACLE, tags=("pipeline", "compliance"))
def q_gdpr_export(spark, sf_dir):
    """Subject-access request (GDPR Art. 15, the read twin of
    q_gdpr_delete's Art. 17): every record a subject owns, unioned
    across the three tables that reference them, in one uniform
    (src, rec_id, info, amount_cents) schema — money normalized to
    integer cents so the union never stringifies doubles (engine
    double->string formatting differs; integer cents are exact).
    Plan: three scans each with the subject-key filter PUSHED to
    parquet (at scale: partition/row-group pruning on the key),
    union, tiny sort — no join, no shuffle beyond the sort of one
    subject's rows."""
    c = Catalog(spark, sf_dir)
    cust = c.customer.filter(F.col("c_custkey") == 42).select(
        F.lit("customer").alias("src"),
        F.col("c_custkey").cast("bigint").alias("rec_id"),
        F.col("c_mktsegment").alias("info"),
        F.floor(F.col("c_acctbal") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("amount_cents"),
    )
    orders = c.orders.filter(F.col("o_custkey") == 42).select(
        F.lit("orders").alias("src"),
        F.col("o_orderkey").cast("bigint").alias("rec_id"),
        F.col("o_orderpriority").alias("info"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("amount_cents"),
    )
    events = c.events.filter(F.col("user_id") == 42).select(
        F.lit("events").alias("src"),
        F.col("event_id").cast("bigint").alias("rec_id"),
        F.col("event_type").alias("info"),
        F.floor(F.col("value") * 100).cast("bigint").alias("amount_cents"),
    )
    return cust.unionAll(orders).unionAll(events).orderBy("src", "rec_id")


_COMPACT_ORACLE = """
SELECT CAST(64 AS INT) AS files_before, CAST(4 AS INT) AS files_after,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
FROM events
"""


@query("q_maint_compact", oracle=_COMPACT_ORACLE, tags=("maintenance", "scale-design"))
def q_maint_compact(spark, sf_dir):
    """Small-file COMPACTION — the table-maintenance op (Delta/Iceberg
    OPTIMIZE, Hive concatenate) every streaming-ingested 100 TB table
    needs: micro-batch sinks leave thousands of KB-sized files whose
    per-file open/footer/task overhead eventually dominates scans.  A
    64-file ingest layout is rewritten into 4 right-sized files (a
    pure distributed read→repartition→write, no driver data path) and
    BOTH invariants are proven against the oracle: the physical file
    counts before/after (the thing compaction exists to change) and
    the exact row count + cents sum (the thing compaction must never
    change).  At scale the same plan runs per partition-directory
    with target file size = maxPartitionBytes so post-compaction
    scans get one task per file."""
    with scratch("skyhook_compact_") as tmp:
        small, big = f"{tmp}/small", f"{tmp}/big"

        def data_files(d):
            return [
                f
                for f in os.listdir(d)
                if f.endswith(".parquet") and not f.startswith((".", "_"))
            ]

        src = Catalog(spark, sf_dir).events.select("event_type", "value")
        src.repartition(64).write.mode("overwrite").parquet(small)
        files_before = len(data_files(small))
        spark.read.parquet(small).repartition(4).write.mode(
            "overwrite"
        ).parquet(big)
        files_after = len(data_files(big))
        agg = (
            spark.read.parquet(big)
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.sum(F.floor(F.col("value") * 100).cast("bigint"))
                .cast("bigint")
                .alias("sum_cents"),
            )
            .select(
                F.lit(files_before).cast("int").alias("files_before"),
                F.lit(files_after).cast("int").alias("files_after"),
                "n_rows",
                "sum_cents",
            )
        )
        return collect_local(agg)


_VACUUM_ORACLE = """
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
       CAST(2 AS BIGINT) AS orphans_removed,
       CAST(1 AS BOOLEAN) AS dir_matches_log
FROM events
"""


@query("q_maint_vacuum", oracle=_VACUUM_ORACLE, tags=("maintenance", "scale-design"))
def q_maint_vacuum(spark, sf_dir):
    """Orphan-file VACUUM — the other half of table maintenance
    (q_maint_compact): a transactional sink's commit log
    (_spark_metadata here; Delta/Iceberg manifests at large) makes
    reads correct in the presence of failed-attempt leftovers, but
    the orphan bytes still occupy storage forever until something
    reconciles directory contents against the log.  A streamed write
    produces committed files; two orphans are planted beside them
    (uncommitted leftovers a dead writer would leave); the vacuum
    diffs the directory listing against the files the committed read
    actually consumes (input_file_name over the log-honoring read)
    and deletes the difference.  Proven: reads were ALREADY safe
    before vacuum (row count + cents equal the fixture — the log,
    not the listing, defines the table), exactly the 2 planted
    orphans are removed, and afterwards the directory matches the
    log.  At 100 TB this reconciliation is a listing-vs-manifest
    anti-join per partition directory — same shape, object-store
    scale."""
    with scratch("skyhook_vacuum_") as tmp:
        src, out = f"{tmp}/src", f"{tmp}/out"
        os.makedirs(src, exist_ok=True)
        shutil.copy(f"{sf_dir}/events.parquet", f"{src}/a.parquet")
        committed_df = drain_to_files(
            events_stream(spark, src, glob="*.parquet").select(
                "event_type", "value"
            ),
            out,
        )
        # plant orphans: uncommitted leftovers beside committed files
        data_files = [
            f
            for f in os.listdir(out)
            if f.endswith(".parquet") and not f.startswith((".", "_"))
        ]
        for i in (1, 2):
            shutil.copy(
                f"{out}/{data_files[0]}", f"{out}/orphan-{i}.parquet"
            )
        # Enumerate committed files from the _spark_metadata commit log
        # itself (each batch file is a "v1" header + one JSON
        # SinkFileStatus per action), NOT from input_file_name() over a
        # read: a committed-but-EMPTY sink file (a task that wrote zero
        # rows) contributes no rows, so a row-derived file set would
        # misclassify it as an orphan and vacuum would corrupt the log's
        # referents.  The log is the manifest; the manifest defines
        # "used".
        used = set()
        log_dir = f"{out}/_spark_metadata"
        for batch in os.listdir(log_dir):
            if batch.startswith(".") or batch.endswith(".crc"):
                continue
            with open(f"{log_dir}/{batch}") as fh:
                for line in fh:
                    line = line.strip()
                    if not line or line.startswith("v"):
                        continue
                    action = json.loads(line)
                    if action.get("path") and action.get("action") != "delete":
                        used.add(os.path.basename(action["path"]))
        listing = {
            f
            for f in os.listdir(out)
            if f.endswith(".parquet") and not f.startswith((".", "_"))
        }
        orphans = sorted(listing - used)
        for f in orphans:
            os.remove(f"{out}/{f}")
        after = {
            f
            for f in os.listdir(out)
            if f.endswith(".parquet") and not f.startswith((".", "_"))
        }
        agg = spark.read.parquet(out).agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(F.floor(F.col("value") * 100).cast("bigint"))
            .cast("bigint")
            .alias("sum_cents"),
        ).select(
            "n_rows",
            "sum_cents",
            F.lit(len(orphans)).cast("bigint").alias("orphans_removed"),
            F.lit(after == used).alias("dir_matches_log"),
        )
        return collect_local(agg)


_KANON_K = 10

_KANON_ORACLE = f"""
WITH g AS (
  SELECT c_custkey, c_mktsegment,
    count(*) OVER (PARTITION BY c_nationkey, c_mktsegment,
                   floor(c_acctbal / 1000)) AS n0,
    count(*) OVER (PARTITION BY c_nationkey, c_mktsegment) AS n1,
    count(*) OVER (PARTITION BY c_mktsegment) AS n2,
    c_nationkey, floor(c_acctbal / 1000) AS bal_kb
  FROM customer),
lv AS (
  SELECT c_custkey, c_mktsegment, c_nationkey, bal_kb,
    CASE WHEN n0 >= {_KANON_K} THEN 0
         WHEN n1 >= {_KANON_K} THEN 1
         WHEN n2 >= {_KANON_K} THEN 2
         ELSE 3 END AS level,
    CASE WHEN n0 >= {_KANON_K} THEN n0
         WHEN n1 >= {_KANON_K} THEN n1
         WHEN n2 >= {_KANON_K} THEN n2
         ELSE 0 END AS gsize
  FROM g)
SELECT level, CAST(count(*) AS BIGINT) AS n_records,
  CAST(count(DISTINCT CASE level
    WHEN 0 THEN CAST(c_nationkey AS VARCHAR) || '|' || c_mktsegment
                 || '|' || CAST(bal_kb AS VARCHAR)
    WHEN 1 THEN CAST(c_nationkey AS VARCHAR) || '|' || c_mktsegment
    WHEN 2 THEN c_mktsegment ELSE '*' END) AS BIGINT) AS n_groups,
  CAST(min(gsize) AS BIGINT) AS min_group_size
FROM lv GROUP BY level ORDER BY level
"""


@query("q_gdpr_anonymize", oracle=_KANON_ORACLE, tags=("privacy",))
def q_gdpr_anonymize(spark, sf_dir):
    """k-anonymity via a generalization LADDER — the third privacy
    primitive after q_gdpr_delete / q_gdpr_export: every released
    record must be indistinguishable from >= k-1 others on its
    quasi-identifiers (nation, segment, account-balance bucket).
    Records whose finest generalization (nation, segment, $1000
    bucket) already forms a group of >= k release at level 0; smaller
    groups coarsen to (nation, segment), then (segment), then full
    suppression.  The verdict row per level carries the released-group
    count and the min group size — which must be >= k on every
    non-suppressed level BY CONSTRUCTION, the invariant the oracle
    re-derives independently (its window-count formulation and this
    plan are two independent derivations of the same ladder).

    Scale shape — deliberately NOT window counts: a window partitioned
    by the quasi-identifiers would exchange the FULL record stream
    three times (and the segment-only window caps parallelism at
    |segments| tasks).  Group sizes are instead three map-combined
    aggregates — bounded by the quasi-identifier DOMAIN, which is
    small by definition or k-anonymity is unattainable — broadcast
    back onto the records: ZERO fact shuffles before the final
    level-keyed aggregate.  tests/test_plans.py pins the
    broadcast-only shape."""
    c = Catalog(spark, sf_dir).customer
    g = c.select(
        "c_custkey",
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 1000).alias("bal_kb"),
    )
    s0 = g.groupBy(
        F.col("c_nationkey").alias("k0n"),
        F.col("c_mktsegment").alias("k0s"),
        F.col("bal_kb").alias("k0b"),
    ).agg(F.count(F.lit(1)).alias("n0"))
    s1 = g.groupBy(
        F.col("c_nationkey").alias("k1n"), F.col("c_mktsegment").alias("k1s")
    ).agg(F.count(F.lit(1)).alias("n1"))
    s2 = g.groupBy(F.col("c_mktsegment").alias("k2s")).agg(
        F.count(F.lit(1)).alias("n2")
    )
    joined = (
        g.join(
            F.broadcast(s0),
            (F.col("c_nationkey") == F.col("k0n"))
            & (F.col("c_mktsegment") == F.col("k0s"))
            & (F.col("bal_kb") == F.col("k0b")),
        )
        .join(
            F.broadcast(s1),
            (F.col("c_nationkey") == F.col("k1n"))
            & (F.col("c_mktsegment") == F.col("k1s")),
        )
        .join(F.broadcast(s2), F.col("c_mktsegment") == F.col("k2s"))
    )
    n0, n1, n2 = F.col("n0"), F.col("n1"), F.col("n2")
    k = _KANON_K
    lv = joined.select(
        "c_custkey",
        "c_nationkey",
        "c_mktsegment",
        "bal_kb",
        F.when(n0 >= k, 0)
        .when(n1 >= k, 1)
        .when(n2 >= k, 2)
        .otherwise(3)
        .alias("level"),
        F.when(n0 >= k, n0)
        .when(n1 >= k, n1)
        .when(n2 >= k, n2)
        .otherwise(0)
        .alias("gsize"),
    )
    gkey = (
        F.when(
            F.col("level") == 0,
            F.concat_ws(
                "|", "c_nationkey", "c_mktsegment", "bal_kb"
            ),
        )
        .when(
            F.col("level") == 1,
            F.concat_ws("|", "c_nationkey", "c_mktsegment"),
        )
        .when(F.col("level") == 2, F.col("c_mktsegment"))
        .otherwise(F.lit("*"))
    )
    return (
        lv.withColumn("gkey", gkey)
        .groupBy("level")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_records"),
            F.countDistinct("gkey").cast("bigint").alias("n_groups"),
            F.min("gsize").cast("bigint").alias("min_group_size"),
        )
        .orderBy("level")
    )


_SHRED_MOD = 7

_SHRED_ORACLE = f"""
SELECT c_custkey,
  CASE WHEN c_custkey % {_SHRED_MOD} = 0 THEN NULL ELSE c_name END
    AS name_out,
  CAST(CASE WHEN c_custkey % {_SHRED_MOD} = 0 THEN 1 ELSE 0 END AS INT)
    AS shredded
FROM customer ORDER BY c_custkey
"""


@query(
    "q_gdpr_crypto_shred",
    oracle=_SHRED_ORACLE,
    tags=("gdpr", "scale-design"),
)
def q_gdpr_crypto_shred(spark, sf_dir):
    """GDPR erasure by CRYPTO-SHREDDING — the fourth privacy primitive
    (after delete / export / anonymize): PII columns are stored
    encrypted under a PER-USER key; "delete user" destroys the key
    row, after which every copy of the ciphertext — warm storage,
    backups, replicas — is unreadable, with ZERO rewrites of the
    100 TB fact data.  q_gdpr_delete's rewrite-the-table answer costs
    a full-table pass per erasure batch; key destruction costs one
    row in a keys-table.

    Real crypto end-to-end: c_name is aes_encrypt-ed (GCM) under a
    key derived deterministically per customer, the keys table then
    drops every custkey % 7 == 0 row (the erased cohort), and the
    readout LEFT-joins keys and try_aes_decrypt-s — NULL key or wrong
    key yields NULL, never an error.  The keys join broadcasts
    (keys-table is users-sized, orders below the fact data; at true
    scale it shuffles keyed like any dim join).  The oracle pins the
    OUTCOME contract declaratively (original value iff the key
    survives, NULL otherwise) — DuckDB has no AES surface, so the
    round-trip itself is what the Spark side proves.  GCM nonces make
    ciphertexts nondeterministic per run, but decrypt(encrypt(x)) is
    run-invariant, so the output is oracle-exact.

    MODELING NOTE (round-10 advisory): the per-user key here is
    md5(c_custkey) — re-derivable from the row itself — so this query
    models the PLAN SHAPE of crypto-shredding (encrypted fact columns,
    broadcast keys-table join, erasure = key-row deletion), not the
    security guarantee.  Production keys must be random secrets held
    only in the keys table (or a KMS); with a derivable KDF and no
    secret salt, destroying the key row does not make ciphertext
    unrecoverable."""
    c = Catalog(spark, sf_dir).customer.select("c_custkey", "c_name")
    key = F.substring(F.md5(F.col("c_custkey").cast("string")), 1, 16)
    enc = c.select(
        "c_custkey",
        F.expr(
            "aes_encrypt(c_name, substring(md5(cast(c_custkey AS string)), 1, 16))"
        ).alias("name_ct"),
    )
    keys = (
        c.select("c_custkey", key.alias("k"))
        .filter(F.col("c_custkey") % _SHRED_MOD != 0)  # shred the cohort
        .withColumnRenamed("c_custkey", "k_custkey")
    )
    out = enc.join(
        F.broadcast(keys), enc.c_custkey == keys.k_custkey, "left"
    )
    dec = F.expr("try_aes_decrypt(name_ct, k)").cast("string")
    return out.select(
        "c_custkey",
        dec.alias("name_out"),
        F.when(F.col("k").isNull(), 1).otherwise(0).alias("shredded"),
    ).orderBy("c_custkey")


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

