"""Round-7 wave (SURVEY.md §2.18), eleven queries in five themes:

1. Fault-mode completion (r6 verdict item 4):
   - q_fault_shuffle_retry kills a MAP-side task AFTER it produced
     shuffle-bound rows (the "lost map output" recovery), pairing
     with round-5's reduce-side q_fault_task_retry — together both
     halves of the shuffle fault surface reachable from a Python
     worker.  (A true JVM FetchFailedException cannot be thrown from
     a Python worker — the scheduler classifies Python exceptions as
     task failures — so this is the closest reachable twin.)
2. Stats-driven optimization, aggregation leg (r6 stretch item):
   - q_agg_skew_adaptive picks salted-two-phase vs plain aggregation
     from a measured 1-row skew probe (operators/skew.py
     max_key_share); branches algebraically identical, oracle
     branch-invariant, both plan shapes asserted.
3. Format/scan plurality and table maintenance:
   - q_transform_xml (Spark 4 built-in XML source, attribute
     mapping; Avro probed — external module, not deployable here),
   - q_maint_compact (small-file compaction, the OPTIMIZE analog),
   - q_scan_schema_drift (mergeSchema over mixed-vintage files).
4. Engine-native sketches and modern front-end surfaces:
   - q_agg_hll_merge (mergeable Datasketches HLL state: union of
     per-day sketches ≡ direct sketch, est within 5 % of exact),
   - q_agg_approx_topk (one-pass heavy hitters, exact under budget),
   - q_sql_pipe (the |> linear SQL door),
   - q_observe_metrics (CollectMetrics QC-on-the-same-pass).
5. Streaming operations:
   - q_stream_backpressure (maxFilesPerTrigger admission control,
     batch count proven from the drain's own progress),
   - q_stream_python_source (full DataSourceStreamReader with chunk
     offsets, executor-side Arrow reads, and SOURCE-side rate
     limiting — sources/skyhook_source.py SkyhookStreamReader).

House rules unchanged: money/ratios quantized identically on both
sides, identical aliases, deterministic everything, no all-pairs, no
global windows, no corpus-sized collect().
"""

from __future__ import annotations

from pyspark.sql import functions as F

from skyhookdb_ceph_spark.operators import ensure_parallelism
from skyhookdb_ceph_spark.operators.skew import (
    SKEW_SHARE_THRESHOLD,
    max_key_share,
)
from skyhookdb_ceph_spark.queries._util import (
    Catalog,
    collect_local,
    local_df,
    quantize,
    ratio,
    scoped_conf,
    scratch,
)
from skyhookdb_ceph_spark.registry import query

# ---------------------------------------------------------------------------
# §2.18.1 map-side task loss: shuffle-bound output discarded on retry
# ---------------------------------------------------------------------------

_SHUFFLE_RETRY_ORACLE = """
SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
       CAST(min(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS min_cents,
       CAST(max(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS max_cents,
       CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
FROM events GROUP BY event_type ORDER BY event_type
"""


@query(
    "q_fault_shuffle_retry",
    oracle=_SHUFFLE_RETRY_ORACLE,
    tags=("fault", "scale-design"),
)
def q_fault_shuffle_retry(spark, sf_dir):
    """Map-side task loss BEFORE the exchange: the per-partition
    Arrow map task yields its first batch of shuffle-bound partial
    rows and THEN raises on attempt 0 — exactly a map task dying
    mid-shuffle-write.  Spark must discard the failed attempt's
    partial shuffle output and serve the downstream keyed aggregate
    only the retry's rows; a shuffle layer that committed
    partially-written map output would double-count the first batch
    and go red against the oracle.  Complements q_fault_task_retry
    (which fails AFTER the exchange — a reduce-side retry re-reading
    committed map output); together the two cover both halves of the
    shuffle fault surface reachable from a Python worker.  Injection
    only fires under a retry-capable session (local[N,2+]; see
    session.py) and degrades to a clean run otherwise — same green
    result either way.  Firing evidence goes through marker files
    (SPARK_GRAFT_FAULT_MARKER, test-only): accumulator updates from
    failed attempts are discarded by the scheduler, files are not."""
    import os

    import pandas as pd

    from pyspark.sql import types as T

    from skyhookdb_ceph_spark.session import task_retries_available

    retry_capable = task_retries_available(spark)
    marker = os.environ.get("SPARK_GRAFT_FAULT_MARKER")

    out_schema = T.StructType(
        [
            T.StructField("event_type", T.StringType()),
            T.StructField("cnt", T.LongType()),
            T.StructField("mn", T.LongType()),
            T.StructField("mx", T.LongType()),
            T.StructField("cents", T.LongType()),
        ]
    )

    def partial(batches):
        from pyspark import TaskContext

        import numpy as np

        tc = TaskContext.get()
        inject = (
            retry_capable
            and tc is not None
            and tc.partitionId() == 0
            and tc.attemptNumber() == 0
        )
        if marker and tc is not None and tc.partitionId() == 0:
            with open(f"{marker}.map.{tc.attemptNumber()}", "w") as fh:
                fh.write("attempt ran")
        first = True
        for pdf in batches:
            cents = np.floor(pdf["value"].to_numpy() * 100).astype("int64")
            acc: dict = {}
            for et, c in zip(pdf["event_type"], cents):
                n, mn, mx, s = acc.get(et, (0, None, None, 0))
                c = int(c)
                acc[et] = (
                    n + 1,
                    c if mn is None else min(mn, c),
                    c if mx is None else max(mx, c),
                    s + c,
                )
            # Shuffle-bound rows leave the worker BEFORE the failure:
            # a buggy shuffle that kept them would double-count.
            yield pd.DataFrame(
                [
                    {"event_type": k, "cnt": n, "mn": mn, "mx": mx, "cents": s}
                    for k, (n, mn, mx, s) in acc.items()
                ],
                columns=["event_type", "cnt", "mn", "mx", "cents"],
            )
            if inject and first:
                raise RuntimeError(
                    "injected map-side failure after shuffle rows were produced"
                )
            first = False

    e = Catalog(spark, sf_dir).events.select("event_type", "value")
    # NO repartition before the map: the injected stage is the scan+map
    # stage that FEEDS the groupBy exchange (contrast q_fault_task_retry,
    # where the injection sits after a repartition, i.e. reduce-side).
    partials = e.mapInPandas(partial, out_schema)
    return (
        partials.groupBy("event_type")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_events"),
            F.min("mn").cast("bigint").alias("min_cents"),
            F.max("mx").cast("bigint").alias("max_cents"),
            F.sum("cents").cast("bigint").alias("sum_cents"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# §2.18.2 skew-probe-driven aggregation strategy (salted vs plain)
# ---------------------------------------------------------------------------

_SKEW_ADAPTIVE_ORACLE = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
       floor((sum(value) / count(*)) * 1000000 + 0.5) / 1000000 AS avg_value
FROM events GROUP BY event_type ORDER BY event_type
"""


def adaptive_sum_by_key(df, key, n_salts=16, threshold=SKEW_SHARE_THRESHOLD):
    """groupBy(key).agg(count, sum cents, avg value) with the PHYSICAL
    strategy chosen from a measured 1-row skew probe: if the hottest
    key holds more than one shuffle-partition's fair share of rows,
    aggregate per (key, salt) first and re-aggregate per key (both
    phases map-side combinable — the hot key's work spreads over
    n_salts tasks and the second shuffle carries only n_salts rows per
    key); otherwise the plain partial/final aggregate, which is
    strictly cheaper when no key dominates.  The salt is a
    deterministic hash of the value column scaled to cents — never
    RNG — so either branch returns identical, oracle-checkable rows.
    Exposed as a helper so tests can drive BOTH branches."""
    cents = F.floor(F.col("value") * 100).cast("bigint")
    base = df.select(key, cents.alias("cents"), "value")
    if max_key_share(df.select(key), key) > threshold:
        salted = base.withColumn(
            "__salt", F.pmod(F.hash("cents"), F.lit(n_salts))
        )
        part = salted.groupBy(key, "__salt").agg(
            F.count(F.lit(1)).alias("pn"),
            F.sum("cents").alias("ps"),
            F.sum("value").alias("pv"),
        )
        agg = part.groupBy(key).agg(
            F.sum("pn").cast("bigint").alias("n_events"),
            F.sum("ps").cast("bigint").alias("sum_cents"),
            ratio(F.sum("pv") / F.sum("pn")).alias("avg_value"),
        )
    else:
        agg = base.groupBy(key).agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum("cents").cast("bigint").alias("sum_cents"),
            ratio(F.sum("value") / F.count(F.lit(1))).alias("avg_value"),
        )
    return agg.orderBy(key)


@query(
    "q_agg_skew_adaptive",
    oracle=_SKEW_ADAPTIVE_ORACLE,
    tags=("agg", "stats", "scale-design"),
)
def q_agg_skew_adaptive(spark, sf_dir):
    """Stats-driven AGGREGATION strategy — the runstats→optimizer
    story (q_runstats, q_join_stats_driven) closed for aggregates: a
    1-row skew probe measures the hot key's row share
    (operators/skew.py max_key_share — map-combined keyed count, one
    tiny shuffle, one driver row), and the plan salts the aggregate
    only when one key exceeds a shuffle-partition's fair share.
    events.event_type has ~5 values (hot share ≈ 0.2 ≫ 1/32), so this
    query always takes the salted branch — the plain branch is
    plan-asserted separately via the helper on a high-cardinality key
    (tests/test_plans.py).  avg is re-derived as sum/count from the
    salted partials (plain avg-of-avgs would be wrong); both branches
    are algebraically identical, so the oracle never needs to know
    which one ran — exactly the property a real optimizer hides
    behind.  At 100 TB the probe costs one columnar scan of the key
    column; a mis-planned hot-key aggregate costs a straggler task
    holding the whole stage."""
    e = Catalog(spark, sf_dir).events
    return adaptive_sum_by_key(e, "event_type")


# ---------------------------------------------------------------------------
# §2.18.3 XML round-trip (format plurality: the document-markup path)
# ---------------------------------------------------------------------------

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
    from pyspark.sql import types as T

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


# ---------------------------------------------------------------------------
# §2.18.4 mergeable HLL sketch state (pre-aggregate once, merge forever)
# ---------------------------------------------------------------------------

_HLL_ORACLE = """
SELECT event_type,
       CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
       CAST(1 AS BOOLEAN) AS est_ok,
       CAST(1 AS BOOLEAN) AS merge_consistent
FROM events GROUP BY event_type ORDER BY event_type
"""


@query("q_agg_hll_merge", oracle=_HLL_ORACLE, tags=("agg", "sketch", "scale-design"))
def q_agg_hll_merge(spark, sf_dir):
    """MERGEABLE sketch state — the algebraic property every 100 TB
    rollup pipeline is built on: per-(type, day) HLL sketches are
    built in ONE pass (the daily incremental job), then
    hll_union_agg collapses each type's day-sketches into the same
    state a direct whole-history sketch holds — so yesterday's
    pre-aggregated bytes answer today's distinct-count question
    without rescanning history.  Two claims are proven against the
    oracle as banded verdict columns (the registry's non-SQL-op
    pattern): est_ok — the direct sketch estimate is within 5 % of
    the EXACT distinct count (computed in the same Spark agg and
    matched exactly against DuckDB's count(DISTINCT)); and
    merge_consistent — the union-of-day-sketches estimate is within
    the SAME 5 % of exact.  Exact equality of union and direct
    estimates holds only while sketches stay in sparse/coupon mode
    (true at sf0.01, 150 uniques/key); past promotion to dense HLL
    the union's internal HLL_8 accumulator legitimately lands a few
    counts off the direct sketch (measured sf0.1, 1500 uniques/key:
    direct 1494 vs union 1488 vs exact 1500 — both inside the error
    bound, NOT equal; the first r7 sf0.1 oracle sweep caught the
    over-strong equality claim).  Contrast q_agg_countmin (frequency
    sketch): here the sketch bytes are engine-native binary state, so
    a user can persist the per-day column and keep merging forever.
    Plan: two map-combined keyed aggs + a 5-row broadcast join; the
    sketch column shuffles as fixed-size binary regardless of row
    count."""
    e = Catalog(spark, sf_dir).events.select(
        "event_type", "user_id", F.to_date("ts").alias("day")
    )
    direct = e.groupBy("event_type").agg(
        F.count_distinct("user_id").cast("bigint").alias("exact_users"),
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("est_direct"),
    )
    daily = (
        e.groupBy("event_type", "day")
        .agg(F.hll_sketch_agg("user_id").alias("sk_day"))
        .groupBy("event_type")
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk_day")).alias("est_union")
        )
        .withColumnRenamed("event_type", "u_type")
    )
    return (
        direct.join(
            F.broadcast(daily), F.col("event_type") == F.col("u_type")
        )
        .select(
            "event_type",
            "exact_users",
            (
                F.abs(F.col("est_direct") - F.col("exact_users"))
                <= 0.05 * F.col("exact_users")
            ).alias("est_ok"),
            (
                F.abs(F.col("est_union") - F.col("exact_users"))
                <= 0.05 * F.col("exact_users")
            ).alias("merge_consistent"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# §2.18.5 built-in heavy hitters (approx_top_k)
# ---------------------------------------------------------------------------

_TOPK_SKETCH_ORACLE = """
SELECT o_orderpriority AS item, CAST(count(*) AS BIGINT) AS cnt
FROM orders GROUP BY o_orderpriority
ORDER BY cnt DESC, item LIMIT 3
"""


@query("q_agg_approx_topk", oracle=_TOPK_SKETCH_ORACLE, tags=("agg", "sketch"))
def q_agg_approx_topk(spark, sf_dir):
    """Heavy hitters via the engine-native approx_top_k sketch — the
    one-pass, bounded-memory answer to "what dominates this column"
    that replaces a full groupBy+sort when only the head matters.
    With the tracked-item budget (10 000) above the column's
    cardinality the sketch counts are EXACT, so the result is
    oracle-checkable without tolerance; the sketch's own tie order is
    arbitrary, so the entries are exploded and re-ranked with a
    deterministic (count DESC, item) key — the same
    determinism-over-convenience rule as q_agg_mode.  At scale the
    sketch state is a fixed-size map per partition, merged
    map-side — one shuffle of sketch bytes, never of rows (contrast
    q_agg_countmin, the hand-rolled CM construction for when the
    budget must be sub-cardinality)."""
    o = Catalog(spark, sf_dir).orders
    sk = o.agg(F.expr("approx_top_k(o_orderpriority, 5)").alias("tk"))
    return (
        sk.select(F.explode("tk").alias("e"))
        .select(
            F.col("e.item").alias("item"),
            F.col("e.count").cast("bigint").alias("cnt"),
        )
        .orderBy(F.desc("cnt"), "item")
        .limit(3)
    )


# ---------------------------------------------------------------------------
# §2.18.6 bounded-batch ingestion (maxFilesPerTrigger admission control)
# ---------------------------------------------------------------------------

_BACKPRESSURE_ORACLE = """
SELECT event_type,
       CAST(4 * count(*) AS BIGINT) AS n_events,
       CAST(4 * sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
         AS sum_cents,
       CAST(1 AS BOOLEAN) AS bounded_ingest
FROM events GROUP BY event_type ORDER BY event_type
"""


@query(
    "q_stream_backpressure",
    oracle=_BACKPRESSURE_ORACLE,
    tags=("streaming", "live-stream", "scale-design"),
)
def q_stream_backpressure(spark, sf_dir):
    """Ingestion ADMISSION CONTROL — the flow-control knob that keeps
    a backlogged 100 TB file stream from planning one giant
    catch-up micro-batch (which sizes state, shuffle, and sink
    commits to the backlog instead of the steady state):
    maxFilesPerTrigger=1 over a 4-file backlog forces the
    AvailableNow drain to process the backlog as (at least) 4
    bounded micro-batches through the SAME transactional file sink.
    Evidence is structural, not assumed: the drain's own progress
    history must show >= 4 executed batch ids (a drain that ignored
    the bound runs one), surfaced as the bounded_ingest verdict
    column — read from query progress, NOT the checkpoint commits
    directory, whose retention (minBatchesToRetain) may legitimately
    prune old batch files (the r7 sweep caught exactly that via a
    then-leaking retention conf); the aggregate over the committed
    output must equal exactly 4x the fixture — bounding the batches
    may never drop or duplicate a file.  Complements q_stream_resume
    (restart exactly-once) with the other half of file-source
    operations: in-run batch sizing."""
    import os
    import shutil

    from skyhookdb_ceph_spark.streaming.replay import events_stream

    with scratch("skyhook_backpressure_") as tmp:
        src, out, ckpt = f"{tmp}/src", f"{tmp}/out", f"{tmp}/ckpt"
        os.makedirs(src, exist_ok=True)
        for name in ("a", "b", "c", "d"):
            shutil.copy(f"{sf_dir}/events.parquet", f"{src}/{name}.parquet")
        stream = events_stream(
            spark, src, glob="*.parquet",
            options={"maxFilesPerTrigger": "1"},
        ).select("event_type", "value")
        with scoped_conf(spark, {"spark.sql.shuffle.partitions": "2"}):
            q = (
                stream.writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            n_batches = max(
                (p["batchId"] for p in q.recentProgress), default=-1
            ) + 1
        committed = spark.read.parquet(out)
        agg = (
            committed.groupBy("event_type")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_events"),
                F.sum(F.floor(F.col("value") * 100).cast("bigint"))
                .cast("bigint")
                .alias("sum_cents"),
            )
            .withColumn("bounded_ingest", F.lit(n_batches >= 4))
            .orderBy("event_type")
        )
        return collect_local(agg)


# ---------------------------------------------------------------------------
# §2.18.7 SQL pipe syntax (the Spark 4 front-end door)
# ---------------------------------------------------------------------------

# The ORACLE is the plain-SQL equivalent (DuckDB has no pipe parser);
# proving the pipe form returns identical rows shows it is pure
# front-end sugar over the same logical plan.
_PIPE_ORACLE = """
SELECT l_returnflag, l_linestatus,
       CAST(count(*) AS BIGINT) AS n_items,
       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""

_PIPE_SQL = """
FROM lineitem
|> WHERE l_shipdate <= TIMESTAMP '1998-09-02'
|> AGGREGATE CAST(count(*) AS BIGINT) AS n_items,
             CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
   GROUP BY l_returnflag, l_linestatus
|> SELECT l_returnflag, l_linestatus, n_items, sum_qty
|> ORDER BY l_returnflag, l_linestatus
"""


@query("q_sql_pipe", oracle=_PIPE_ORACLE, tags=("sql",))
def q_sql_pipe(spark, sf_dir):
    """SQL PIPE syntax (`|>`) — Spark 4's linear query form (the
    SQL-pipe proposal adopted from GoogleSQL): FROM → WHERE →
    AGGREGATE → SELECT → ORDER BY as sequential stages instead of
    inside-out clauses.  The fifth SQL door (after CTE / VALUES /
    named-window / recursive): the pipe text parses to EXACTLY the
    plan the clause form plans — same pushed filter, same
    partial/final aggregate — which the differential check proves by
    running the clause form on DuckDB (which has no pipe parser) and
    demanding identical rows.  Front-end plurality matters at an
    organization level: pipeline authors write linear SQL, the engine
    optimizes it identically."""
    Catalog(spark, sf_dir).register_views()
    return spark.sql(_PIPE_SQL)


# ---------------------------------------------------------------------------
# §2.18.8 zero-extra-pass observed metrics (Dataset.observe)
# ---------------------------------------------------------------------------

_OBSERVE_ORACLE = """
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
         AS sum_cents,
       CAST(min(l_quantity) AS DOUBLE) AS min_qty,
       CAST(max(l_quantity) AS DOUBLE) AS max_qty
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
"""


@query("q_observe_metrics", oracle=_OBSERVE_ORACLE, tags=("scan", "observability"))
def q_observe_metrics(spark, sf_dir):
    """Pipeline OBSERVABILITY without a second scan: Dataset.observe
    attaches a CollectMetrics node that accumulates count/sum/min/max
    WHILE another job consumes the same pass — the way a production
    write gets its QC numbers for free instead of re-reading 100 TB
    to validate what it just wrote.  Here the observed frame is
    driven by a 1-row downstream action, the metrics come back
    through the observation handle, and the oracle recomputes them
    directly — proving observed metrics are exact aggregates of the
    rows that flowed, not samples.  All four metrics are
    engine-exact: integer count/cents, min/max need no FP
    accumulation order."""
    from pyspark.sql import Observation

    li = Catalog(spark, sf_dir).lineitem.filter(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")
    )
    obs = Observation("qc")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(F.floor(F.col("l_extendedprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("sum_cents"),
        F.min("l_quantity").cast("double").alias("min_qty"),
        F.max("l_quantity").cast("double").alias("max_qty"),
    )
    # Drive ONE pass over the observed frame (the "real" job a
    # pipeline would run anyway); metrics piggyback on it.
    observed.agg(F.count(F.lit(1))).collect()
    m = obs.get
    return local_df(
        spark,
        [
            (
                int(m["n_rows"]),
                int(m["sum_cents"]),
                float(m["min_qty"]),
                float(m["max_qty"]),
            )
        ],
        "n_rows bigint, sum_cents bigint, min_qty double, max_qty double",
    )


# ---------------------------------------------------------------------------
# §2.18.9 small-file compaction (the OPTIMIZE maintenance op)
# ---------------------------------------------------------------------------

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
    import os

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


# ---------------------------------------------------------------------------
# §2.18.10 schema drift tolerance (mergeSchema over mixed-vintage files)
# ---------------------------------------------------------------------------

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


# ---------------------------------------------------------------------------
# §2.18.11 streaming Python DataSource (storage-side replay source)
# ---------------------------------------------------------------------------

_PYSOURCE_ORACLE = """
SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
       CAST(1 AS BOOLEAN) AS bounded_batches
FROM events GROUP BY event_type ORDER BY event_type
"""


@query(
    "q_stream_python_source",
    oracle=_PYSOURCE_ORACLE,
    tags=("streaming", "live-stream", "source", "scale-design"),
)
def q_stream_python_source(spark, sf_dir):
    """The STREAMING face of the custom storage-side source
    (sources/skyhook_source.py SkyhookStreamReader): a full
    DataSourceStreamReader whose offsets are object chunks, whose
    partition planning maps offset ranges to row slices, whose
    read() runs on EXECUTORS via Arrow (driver never touches data —
    the SimpleDataSourceStreamReader convenience API prefetches
    through the driver and single-batches under AvailableNow; both
    were measured and rejected), and whose latestOffset applies
    SOURCE-side admission control: one chunk of new data per
    micro-batch, the maxFilesPerTrigger idea pushed into the storage
    tier itself — the streaming analog of the reference's
    storage-side scan.  The drain polls the query's own progress
    until a progress event carries the source's FINAL offset —
    progress is reported after a batch commits, so that event proves
    the last data batch is in the sink; termination is offset-exact,
    not timed.  (Waiting for a no-data batch instead would idle ~10 s
    on spark.sql.streaming.noDataProgressEventInterval — measured.)
    Verdicts: per-type totals must equal the batch fixture exactly
    (chunking may never drop/duplicate a row) and >= 4 data batches
    must have executed (bounded_batches)."""
    import ast
    import time
    import uuid

    from skyhookdb_ceph_spark.sources.skyhook_source import register

    register(spark)
    n_chunks = 4
    stream = (
        spark.readStream.format("skyhook")
        .option("path", f"{sf_dir}/events.parquet")
        .option("columns", "event_type,value")
        .option("chunks", str(n_chunks))
        .load()
    )
    name = f"pysrc_{uuid.uuid4().hex[:12]}"
    with scratch("skyhook_pysrc_") as tmp, scoped_conf(
        spark, {"spark.sql.shuffle.partitions": "2"}
    ):
        q = (
            stream.writeStream.format("memory")
            .queryName(name)
            .option("checkpointLocation", f"{tmp}/ck")
            .outputMode("append")
            .trigger(processingTime="0 seconds")
            .start()
        )
        deadline = time.time() + 300
        drained = False
        while time.time() < deadline:
            exc = q.exception()
            if exc is not None:
                raise exc
            p = q.lastProgress
            if p and p["sources"] and p["sources"][0]["endOffset"]:
                end = ast.literal_eval(p["sources"][0]["endOffset"])
                if end.get("chunk") == n_chunks:
                    drained = True
                    break
            # 20 ms poll: the drain loop's sleep is pure added latency
            # on top of each micro-batch commit (4+ polls per drain at
            # the old 100 ms = up to 0.4 s of idle waiting per run)
            time.sleep(0.02)
        data_batches = sum(
            1 for p in q.recentProgress if p["numInputRows"] > 0
        )
        q.stop()
        q.awaitTermination(60)
        if not drained:
            raise RuntimeError(
                "q_stream_python_source: source did not reach its final "
                "offset within the deadline"
            )
        agg = (
            spark.table(name)
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_events"),
                F.sum(F.floor(F.col("value") * 100).cast("bigint"))
                .cast("bigint")
                .alias("sum_cents"),
            )
            .withColumn("bounded_batches", F.lit(data_batches >= n_chunks))
            .orderBy("event_type")
        )
        return collect_local(agg)


# ---------------------------------------------------------------------------
# §2.18.12 containment dedup (small-doc-inside-big-doc detection)
# ---------------------------------------------------------------------------

_CONTAINMENT_ORACLE = """
WITH sh AS (
  SELECT doc_id, list_distinct(list_transform(
    generate_series(1, greatest(len(string_split(text, ' ')) - 2, 1)),
    i -> array_to_string(list_slice(string_split(text, ' '), i, i + 2), ' ')))
    AS shingles
  FROM documents WHERE text IS NOT NULL),
ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
dfr AS (SELECT s FROM ex GROUP BY s HAVING count(*) <= 5),
rare AS (SELECT ex.doc_id, ex.s FROM ex JOIN dfr USING (s)),
cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
         FROM rare a JOIN rare b ON a.s = b.s AND a.doc_id <> b.doc_id),
pairs AS (
  SELECT da, db,
    floor((len(list_intersect(x.shingles, y.shingles)) * 1.0
           / len(x.shingles)) * 1000000 + 0.5) / 1000000 AS containment,
    CAST(len(x.shingles) AS BIGINT) AS na,
    CAST(len(y.shingles) AS BIGINT) AS nb
  FROM cand JOIN sh x ON x.doc_id = da JOIN sh y ON y.doc_id = db)
SELECT da AS doc_small, db AS doc_big, containment
FROM pairs
WHERE containment >= 0.8 AND (na < nb OR (na = nb AND da < db))
ORDER BY doc_small, doc_big
"""


@query("q_dedup_containment", oracle=_CONTAINMENT_ORACLE, tags=("llm", "dedup"))
def q_dedup_containment(spark, sf_dir):
    """CONTAINMENT dedup — the small-doc-inside-big-doc case Jaccard
    misses: a short document pasted into a long one has tiny
    resemblance (|A∩B|/|A∪B|) but containment |A∩B|/|A| ≈ 1, and
    training sets care because the small doc's content is still
    duplicated verbatim.  Candidate generation uses a RARE-SHINGLE
    inverted index instead of MinHash banding (banding estimates
    Jaccard, the wrong statistic here): explode distinct word
    trigrams, keep shingles with document frequency <= 5 (the df cap
    bounds the per-shingle join fanout, so candidates stay ~linear in
    corpus size — a hot boilerplate shingle can never fan out), join
    on shingle, then verify EXACT containment on the candidate set
    only and keep (small ⊂ big) pairs at >= 0.8 with a deterministic
    direction rule for equal sizes.  Shingle definition is shared
    verbatim with q_dedup_fuzzy (operators/minhash.py — partial
    shingle for sub-k docs, NULL text excluded by construction), so
    the two queries differ in exactly the statistic they measure.
    The df cap is mirrored in the oracle: the recall trade is part of
    the operator's contract, not an implementation accident."""
    from skyhookdb_ceph_spark.operators import minhash

    d = Catalog(spark, sf_dir).documents
    sh = minhash.shingle_sets(d)
    ex = sh.select("doc_id", F.explode("shingles").alias("s"))
    rare_sh = (
        ex.groupBy("s")
        .agg(F.count(F.lit(1)).alias("sdf"))
        .filter(F.col("sdf") <= 5)
        .select("s")
    )
    rare = ex.join(rare_sh, "s")
    cand = (
        rare.selectExpr("s", "doc_id AS da")
        .join(rare.selectExpr("s AS s2", "doc_id AS db"),
              (F.col("s") == F.col("s2")) & (F.col("da") != F.col("db")))
        .select("da", "db")
        .distinct()
    )
    x = sh.selectExpr("doc_id AS xa", "shingles AS sha")
    y = sh.selectExpr("doc_id AS yb", "shingles AS shb")
    pairs = (
        cand.join(x, F.col("da") == F.col("xa"))
        .join(y, F.col("db") == F.col("yb"))
        .select(
            "da",
            "db",
            quantize(
                F.size(F.array_intersect("sha", "shb"))
                / F.size("sha"),
                6,
            ).alias("containment"),
            F.size("sha").cast("bigint").alias("na"),
            F.size("shb").cast("bigint").alias("nb"),
        )
    )
    return (
        pairs.filter(
            (F.col("containment") >= 0.8)
            & (
                (F.col("na") < F.col("nb"))
                | ((F.col("na") == F.col("nb")) & (F.col("da") < F.col("db")))
            )
        )
        .select(
            F.col("da").alias("doc_small"),
            F.col("db").alias("doc_big"),
            "containment",
        )
        .orderBy("doc_small", "doc_big")
    )


# ---------------------------------------------------------------------------
# §2.18.13 VARIANT semi-structured type (parse once, extract typed)
# ---------------------------------------------------------------------------

_VARIANT_ORACLE = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS cnt,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT)
         AS sum_k,
       CAST(count(*) AS BIGINT) AS n_missing_null,
       'OBJECT<k: BIGINT>' AS variant_schema
FROM events GROUP BY event_type ORDER BY event_type
"""


@query("q_fn_variant", oracle=_VARIANT_ORACLE, tags=("functions", "semi-structured"))
def q_fn_variant(spark, sf_dir):
    """The VARIANT type — Spark 4's binary semi-structured encoding
    (parse_json once, typed variant_get extraction after): the open
    lakehouse answer to storing JSON as strings and re-parsing per
    access.  Three semantics proven against the JSON-string oracle:
    typed path extraction equals json_extract (sum over every row),
    try_variant_get on an absent path is NULL for EVERY row (never an
    error — n_missing_null == cnt), and schema_of_variant infers the
    stable object shape, pinned as a literal verdict column.  The
    fixture stores props as string so the parse still runs per row
    here; the type's 100 TB payoff is WRITING the variant column to
    parquet once and paying binary field access, not Jackson, on
    every later read — same plan, parse hoisted to ingest."""
    e = Catalog(spark, sf_dir).events
    v = e.select(
        "event_type",
        F.expr("variant_get(parse_json(props), '$.k', 'int')").alias("k"),
        F.expr(
            "try_variant_get(parse_json(props), '$.absent', 'int')"
        ).alias("miss"),
        F.expr("schema_of_variant(parse_json(props))").alias("sch"),
    )
    return (
        v.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("cnt"),
            F.sum("k").cast("bigint").alias("sum_k"),
            F.count_if(F.col("miss").isNull()).cast("bigint").alias(
                "n_missing_null"
            ),
            F.min("sch").alias("variant_schema"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# §2.18.14 collation-aware comparison (UTF8_LCASE distinct)
# ---------------------------------------------------------------------------

_COLLATION_ORACLE = """
WITH ws AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
w AS (
  SELECT CASE WHEN i % 2 = 1 THEN upper(toks[i]) ELSE toks[i] END AS w2
  FROM ws, unnest(generate_series(1, len(toks))) t(i)
  WHERE toks[i] <> '')
SELECT CAST(count(*) AS BIGINT) AS n_words,
       CAST(count(DISTINCT w2) AS BIGINT) AS distinct_cs,
       CAST(count(DISTINCT lower(w2)) AS BIGINT) AS distinct_ci
FROM w
"""


@query("q_fn_collation", oracle=_COLLATION_ORACLE, tags=("functions", "text"))
def q_fn_collation(spark, sf_dir):
    """COLLATION-aware comparison — Spark 4 collations make
    case-insensitive equality a property of the COLUMN instead of a
    lower() wrapped around every predicate and join key: the distinct
    count over collate(w, 'UTF8_LCASE') must equal the oracle's
    explicit count(DISTINCT lower(w)).  Case variation is synthesized
    deterministically (every even-position token uppercased —
    1-based/0-based indexing aligned between engines) so the
    case-sensitive and case-insensitive counts provably diverge on
    the same data.  At scale the win is plan-level: a collated
    equi-join or aggregate hashes the collation key directly — no
    derived lower() column to materialize, shuffle, and keep in sync
    on 100 TB of text."""
    d = ensure_parallelism(Catalog(spark, sf_dir).documents)
    w = (
        d.selectExpr("posexplode(split(text, ' ')) AS (pos, w)")
        .filter("w <> ''")
        .selectExpr(
            "CASE WHEN pos % 2 = 0 THEN upper(w) ELSE w END AS w2"
        )
    )
    return w.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_words"),
        F.count_distinct("w2").cast("bigint").alias("distinct_cs"),
        F.count_distinct(F.expr("collate(w2, 'UTF8_LCASE')"))
        .cast("bigint")
        .alias("distinct_ci"),
    )


# ---------------------------------------------------------------------------
# §2.18.15 orphan-file vacuum (transaction-log storage hygiene)
# ---------------------------------------------------------------------------

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
    import os
    import shutil

    from skyhookdb_ceph_spark.streaming.replay import (
        drain_to_files,
        events_stream,
    )

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
        import json as _json

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
                    action = _json.loads(line)
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
