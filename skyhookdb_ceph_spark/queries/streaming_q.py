"""Streaming queries (SURVEY.md §2.10) — [EXT]; the reference is
batch-only, the `events` fixture exists precisely for this.

Strategy: `window`/`session_window` are batch/streaming-shared APIs, so
q_stream_tumbling/sliding/session are written once and oracle-checked
in batch (the identical code runs under readStream —
tests/test_streaming.py proves it).  q_stream_watermark, q_stream_dedup
and q_stream_stateful run TRUE readStream micro-pipelines
(file-source replay -> AvailableNow -> memory sink) and are still
oracle-checked because the drain is deterministic.

Scale: windowed agg state is partitioned by (window, keys); watermarks
bound state retention; dedup state is keyed by event_id and dropped
once the watermark passes — none of it accumulates unboundedly.
"""

from __future__ import annotations

import shutil
from typing import Any, Iterator, Tuple

import pandas as pd

from pyspark.sql import functions as F
from pyspark.sql import types as T

from skyhookdb_ceph_spark.queries._util import (
    Catalog,
    collect_local,
    scoped_conf,
    scratch,
)
from skyhookdb_ceph_spark.registry import query
from skyhookdb_ceph_spark.streaming.replay import drain_to_memory, events_stream


@query(
    "q_stream_tumbling",
    oracle=(
        "SELECT date_trunc('hour', ts) AS window_start, "
        "date_trunc('hour', ts) + INTERVAL '1 hour' AS window_end, "
        "event_type, count(*) AS cnt "
        "FROM events GROUP BY 1, 2, 3"
    ),
    tags=("stream",),
)
def q_stream_tumbling(spark, sf_dir):
    """Tumbling 1-hour counts per event type.  window() is the shared
    batch/streaming operator — this exact DataFrame runs under
    readStream unchanged (tests/test_streaming.py)."""
    e = Catalog(spark, sf_dir).events
    return (
        e.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "cnt",
        )
    )


@query(
    "q_stream_sliding",
    oracle=(
        "SELECT ws AS window_start, ws + INTERVAL '1 hour' AS window_end, "
        "event_type, count(*) AS cnt FROM ("
        "SELECT event_type, "
        "time_bucket(INTERVAL '15 minutes', ts) - to_minutes(CAST(g * 15 AS BIGINT)) AS ws "
        "FROM events, unnest(generate_series(0, 3)) t(g)) "
        "GROUP BY 1, 2, 3"
    ),
    tags=("stream",),
)
def q_stream_sliding(spark, sf_dir):
    """Sliding window: 1-hour length, 15-minute slide — each event lands
    in 4 windows.  The oracle expands the same window set explicitly
    (time_bucket minus g*slide)."""
    e = Catalog(spark, sf_dir).events
    return (
        e.groupBy(F.window("ts", "1 hour", "15 minutes"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "cnt",
        )
    )


@query(
    "q_stream_session",
    oracle=(
        "WITH marked AS ("
        "  SELECT user_id, ts, value, CASE WHEN lag(ts) OVER w IS NULL "
        "    OR ts - lag(ts) OVER w >= INTERVAL '30 minutes' THEN 1 ELSE 0 END AS new_s"
        "  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), "
        "sess AS ("
        "  SELECT user_id, ts, value, sum(new_s) OVER "
        "    (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid "
        "  FROM marked) "
        "SELECT user_id, min(ts) AS session_start, "
        "max(ts) + INTERVAL '30 minutes' AS session_end, count(*) AS n_events "
        "FROM sess GROUP BY user_id, sid"
    ),
    tags=("stream",),
)
def q_stream_session(spark, sf_dir):
    """Per-user session windows with a 30-minute inactivity gap.
    session_window merges events whose [ts, ts+gap) intervals overlap;
    the oracle reproduces that with the classic lag/flag/running-sum
    session-ization (new session iff gap >= 30 min)."""
    e = Catalog(spark, sf_dir).events
    return (
        e.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )


@query(
    "q_stream_watermark",
    oracle=(
        "SELECT date_trunc('hour', ts) AS window_start, count(*) AS cnt "
        "FROM events GROUP BY 1"
    ),
    tags=("stream", "live-stream"),
)
def q_stream_watermark(spark, sf_dir):
    """TRUE streaming run: readStream file-source replay of events,
    10-minute watermark, tumbling hourly counts, drained with
    Trigger.AvailableNow into a memory sink (complete mode, so final
    windows are emitted even though the watermark never passes them).
    The watermark bounds aggregation state at scale: windows older than
    max(event time) - 10 min are finalized and evicted."""
    stream = events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("window.start").alias("window_start"), "cnt")
    )
    return drain_to_memory(agg, output_mode="complete")


@query(
    "q_stream_dedup",
    oracle=(
        "SELECT event_id, event_type, value FROM events"
    ),
    tags=("stream", "live-stream"),
)
def q_stream_dedup(spark, sf_dir):
    """TRUE streaming dedup: the events fixture is replayed TWICE (two
    parquet copies in a scratch dir) through readStream;
    dropDuplicatesWithinWatermark(event_id) must collapse the two
    copies back to the unique event set.  State is keyed by event_id
    and evicted once the watermark passes — bounded memory at scale."""
    with scratch("skyhook_stream_dedup_") as tmp:
        # Replay the fixture TWICE via file-level copies — byte copies
        # cost milliseconds where the previous unionAll + parquet
        # rewrite paid a full Spark write job before the stream even
        # started (measured ~1s of the query at sf0.1).
        for copy in ("a", "b"):
            shutil.copy(f"{sf_dir}/events.parquet", f"{tmp}/{copy}.parquet")
        stream = events_stream(spark, tmp, glob="*.parquet")
        deduped = (
            stream.withWatermark("ts", "1 hour")
            .dropDuplicatesWithinWatermark(["event_id"])
            .select("event_id", "event_type", "value")
        )
        # The memory sink buffers results driver-side; the scratch
        # source dir can be removed as soon as the drain finishes.
        return drain_to_memory(deduped, output_mode="append")


@query(
    "q_stream_join",
    oracle=(
        "SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id "
        "FROM events p JOIN events c ON p.user_id = c.user_id "
        "AND p.event_type = 'purchase' AND c.event_type = 'click' "
        "AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL '1 hour'"
    ),
    tags=("stream", "live-stream"),
)
def q_stream_join(spark, sf_dir):
    """TRUE stream-stream join: purchases joined to same-user clicks in
    the preceding hour, both sides watermarked — the time-bound
    condition lets Spark evict click state older than (watermark - 1h),
    so join state is bounded at any scale.  Inner-join matches emit as
    soon as both rows arrive; drained with AvailableNow."""
    base = events_stream(spark, sf_dir)
    purchases = base.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id"),
        F.col("ts").alias("p_ts"),
    ).withWatermark("p_ts", "10 minutes")
    clicks = base.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    ).withWatermark("c_ts", "10 minutes")
    joined = purchases.join(
        clicks,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR")),
        "inner",
    ).select("purchase_id", "click_id", "user_id")
    return drain_to_memory(joined, output_mode="append")


_STATE_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("sum_cents", T.LongType()),
    ]
)
_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n", T.LongType()),
        T.StructField("cents", T.LongType()),
    ]
)


def _user_state_fn(
    key: Tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state
) -> Iterator[pd.DataFrame]:
    """Per-user running (count, sum of floor(value*100)) state.  Integer
    cents keep the accumulation exact and order-independent, so the
    result is oracle-comparable."""
    import numpy as np

    # GroupState.get is a PROPERTY in PySpark (calling the returned
    # tuple raised TypeError on every batch >= 2 — latent until the
    # multi-batch invariance test forced a second batch)
    n, cents = state.get if state.exists else (0, 0)
    for pdf in pdfs:
        n += len(pdf)
        cents += int(np.floor(pdf["value"].to_numpy() * 100).sum())
    state.update((n, cents))
    yield pd.DataFrame(
        [{"user_id": key[0], "n_events": n, "sum_cents": cents}]
    )


@query(
    "q_stream_stateful",
    oracle=(
        "SELECT user_id, count(*) AS n_events, "
        "CAST(sum(floor(value * 100)) AS BIGINT) AS sum_cents "
        "FROM events GROUP BY user_id"
    ),
    tags=("stream", "live-stream"),
)
def q_stream_stateful(spark, sf_dir):
    """TRUE arbitrary-stateful streaming: applyInPandasWithState keeps
    per-user running aggregates (the custom-operator escape hatch for
    state machines no built-in window expresses).  Arrow-batched; state
    partitioned by user_id across executors; NoTimeout since the drain
    is finite.  Drained with AvailableNow -> update-mode memory sink."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    stream = events_stream(spark, sf_dir).select("user_id", "ts", "value")
    updated = stream.groupBy("user_id").applyInPandasWithState(
        _user_state_fn,
        outputStructType=_STATE_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    # state_partitions: each state partition gets its own Python
    # worker; the per-group pandas work (1 tiny DataFrame per user)
    # is the drain's critical path, so parallel workers pay off far
    # past the JVM-state sweet spot of 2.  Measured sf0.1 drain:
    # 4 -> 2.26 s, 8 -> 1.85 s, 16 -> 1.63 s, 24 -> 2.15 s (worker
    # startup overtakes), 32 -> 5.0 s.
    return drain_to_memory(updated, output_mode="update", state_partitions=16)


@query(
    "q_stream_enrich",
    oracle=(
        "SELECT c_mktsegment, count(*) AS cnt, "
        "floor((sum(value)) * 100 + 0.5) / 100 AS sum_value "
        "FROM events JOIN customer ON user_id = c_custkey "
        "GROUP BY c_mktsegment"
    ),
    tags=("stream", "live-stream"),
)
def q_stream_enrich(spark, sf_dir):
    """Stream-static enrichment: the event stream joins a broadcast
    static dimension (customer) — the canonical streaming-ETL pattern
    (no watermark needed on the static side, no join state at all),
    then aggregates revenue per market segment in complete mode.
    At scale the static side is re-broadcast per micro-batch; state is
    only the running aggregate, bounded by segment cardinality."""
    stream = events_stream(spark, sf_dir)
    cust = Catalog(spark, sf_dir).customer.select("c_custkey", "c_mktsegment")
    joined = stream.join(
        F.broadcast(cust), stream.user_id == cust.c_custkey
    )
    agg = joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("cnt"),
        (F.floor(F.sum("value") * 100 + F.lit(0.5)) / 100).alias("sum_value"),
    )
    return drain_to_memory(agg, output_mode="complete")


@query(
    "q_stream_topk",
    oracle=(
        "SELECT event_type, CAST(count(*) AS BIGINT) AS cnt "
        "FROM events GROUP BY event_type "
        "ORDER BY cnt DESC, event_type LIMIT 3"
    ),
    tags=("stream", "live-stream"),
)
def q_stream_topk(spark, sf_dir):
    """TRUE streaming top-k: running counts per event type, complete
    mode (sorting a streaming aggregate is only legal in complete
    mode, which is exactly the continuously-maintained-leaderboard
    semantics), top-3 emitted per trigger.  State is one counter per
    key — bounded by type cardinality, not stream volume; the sort
    runs on the aggregate (5 rows), never the stream."""
    stream = events_stream(spark, sf_dir)
    agg = (
        stream.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), "event_type")
        .limit(3)
    )
    return drain_to_memory(agg, output_mode="complete")


@query(
    "q_stream_cdc_apply",
    oracle=(
        "WITH ch AS ("
        "  SELECT user_id, value, "
        "  lpad(CAST(CAST(floor(epoch(ts)) AS BIGINT) AS VARCHAR), 20, '0')"
        "  || lpad(CAST(event_id AS VARCHAR), 20, '0') AS seq "
        "  FROM events) "
        "SELECT user_id, "
        "floor((max_by(value, seq)) * 100 + 0.5) / 100 AS latest_value, "
        "CAST(count(*) AS BIGINT) AS n_changes "
        "FROM ch GROUP BY user_id"
    ),
    tags=("stream", "live-stream"),
)
def q_stream_cdc_apply(spark, sf_dir):
    """TRUE streaming CDC apply: the event stream treated as a
    changelog keyed by user, latest-wins via max_by over a composite
    (second, event_id) sequence — the lakehouse MERGE-apply kernel as
    a streaming aggregate.  max_by is map-side-combinable, so state
    per key is one (value, seq) pair regardless of change volume —
    unlike a window formulation, which would buffer versions.  The
    sequence is a fixed-width zero-padded string (20+20 digits):
    lexicographic = numeric order per field with NO cross-field
    overlap, unlike arithmetic packing (sec*1e8+event_id breaks
    latest-wins once event_id >= 1e8 — ADVICE r4).  The batch twin is
    q_upsert_latest; this runs the same semantics through a
    readStream drain."""
    stream = events_stream(spark, sf_dir)
    ch = stream.selectExpr(
        "user_id",
        "value",
        "concat(lpad(CAST(CAST(unix_timestamp(ts) AS BIGINT) AS STRING),"
        " 20, '0'), lpad(CAST(event_id AS STRING), 20, '0')) AS seq",
    )
    agg = ch.groupBy("user_id").agg(
        F.expr("floor((max_by(value, seq)) * 100 + 0.5) / 100").alias(
            "latest_value"
        ),
        F.count(F.lit(1)).alias("n_changes"),
    )
    return drain_to_memory(agg, output_mode="complete")


@query(
    "q_stream_watermark_append",
    oracle=(
        "WITH mx AS (SELECT max(ts) AS m FROM events) "
        "SELECT date_trunc('hour', ts) AS window_start, "
        "CAST(count(*) AS BIGINT) AS cnt "
        "FROM events, mx "
        "GROUP BY date_trunc('hour', ts), mx.m "
        "HAVING date_trunc('hour', ts) + INTERVAL 1 HOUR "
        "<= m - INTERVAL 10 MINUTE"
    ),
    tags=("stream", "live-stream"),
)
def q_stream_watermark_append(spark, sf_dir):
    """APPEND-mode watermarked aggregation — the strictest streaming
    emission contract: a window row is emitted exactly once, only
    after the watermark (max event time - 10 min) passes its end, and
    open windows are withheld.  This drain MUST run the trailing
    no-data micro-batch (needs_watermark_batch=True) or closed
    windows never flush — the failure mode drain_to_memory's flag
    exists for, exercised here on purpose.  The oracle states the
    same contract declaratively: hours whose end <= max(ts) - 10 min.
    Complete-mode twin: q_stream_watermark (emits everything)."""
    stream = events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("window.start").alias("window_start"), "cnt")
    )
    return drain_to_memory(
        agg, output_mode="append", needs_watermark_batch=True
    )


@query(
    "q_stream_update_mode",
    oracle=(
        "SELECT event_type, CAST(count(*) AS BIGINT) AS cnt, "
        "floor(sum(value) * 100 + 0.5) / 100 AS sum_value "
        "FROM events GROUP BY event_type"
    ),
    tags=("stream", "live-stream"),
)
def q_stream_update_mode(spark, sf_dir):
    """UPDATE-mode streaming aggregation: only keys whose aggregate
    changed in a micro-batch are emitted (the kafka-compacted-topic /
    upsert-sink contract, between append's emit-once and complete's
    emit-all).  The single-file replay drains in one data batch, so
    each key updates exactly once and the sink holds the final
    aggregate — deterministic and oracle-comparable while still
    exercising the update-mode state path."""
    stream = events_stream(spark, sf_dir)
    agg = stream.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.expr("floor(sum(value) * 100 + 0.5) / 100").alias("sum_value"),
    )
    return drain_to_memory(agg, output_mode="update")


@query(
    "q_stream_session_live",
    oracle=(
        "WITH marked AS ("
        "  SELECT user_id, ts, CASE WHEN lag(ts) OVER w IS NULL "
        "    OR ts - lag(ts) OVER w >= INTERVAL '30 minutes' THEN 1 ELSE 0 END AS new_s"
        "  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), "
        "sess AS ("
        "  SELECT user_id, ts, sum(new_s) OVER "
        "    (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid "
        "  FROM marked) "
        "SELECT user_id, CAST(count(DISTINCT sid) AS BIGINT) AS n_sessions, "
        "CAST(count(*) AS BIGINT) AS n_events "
        "FROM sess GROUP BY user_id"
    ),
    tags=("stream", "live-stream"),
)
def q_stream_session_live(spark, sf_dir):
    """TRUE readStream session windows: per-user session count and
    event count computed from session_window state inside a streaming
    drain (complete mode) — the live twin of q_stream_session, which
    oracle-checks the shared batch/stream API in batch.  Session state
    merges overlapping [ts, ts+gap) intervals per (user, session) and
    is evicted when sessions close; the per-user rollup of the
    session aggregate stays inside the same streaming plan.

    STACKED stateful operators trip Spark's global-watermark
    correctness check (a downstream stateful op could see rows older
    than the watermark on an unbounded stream).  This drain is a
    finite AvailableNow pass over a static fixture — ONE data batch,
    so no row can arrive late by construction — which is exactly the
    case the check's escape hatch exists for; the conf is restored
    immediately after the drain.  An unbounded deployment would
    instead watermark the session output and accept append-mode
    emission delays."""
    stream = events_stream(spark, sf_dir)
    sessions = (
        stream.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_ev"))
    )
    per_user = sessions.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("n_ev").alias("n_events"),
    )
    conf_key = "spark.sql.streaming.statefulOperator.checkCorrectness.enabled"
    with scoped_conf(spark, {conf_key: "false"}):
        return drain_to_memory(per_user, output_mode="complete")


_FOREACH_BATCH_ORACLE = """
SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
FROM events GROUP BY event_type ORDER BY event_type
"""


@query(
    "q_stream_foreach_batch",
    oracle=_FOREACH_BATCH_ORACLE,
    tags=("stream", "live-stream"),
)
def q_stream_foreach_batch(spark, sf_dir):
    """foreachBatch merge sink — the canonical production pattern for
    sinks Spark has no connector for (JDBC upserts, key-value stores,
    lakehouse MERGE): each micro-batch runs an arbitrary BATCH write,
    here an idempotent versioned merge into a parquet target.  Batch
    N reads target version N-1, full-outer merges the batch's partial
    aggregate (count + integer-cent sum — mergeable, so the final
    table is identical whatever the batch cut), writes version N;
    read-back of the last committed version proves the merge chain is
    lossless.  Versioned write-then-swap (never overwrite-in-place
    while reading) is the idempotence trick: a retried batch rewrites
    the SAME version from the SAME inputs.  State lives in the target
    table, not the state store — restarts resume from the last
    version; at 100 TB the merge is a keyed join of two aggregates,
    shuffling only group rows, and the stream stage is a pure
    per-batch aggregate."""
    with scratch("skyhook_feb_") as tmp:
        versions: list[int] = []

        def merge_batch(bdf, batch_id):
            part = bdf.groupBy("event_type").agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(F.floor(F.col("value") * 100).cast("bigint")).alias(
                    "sum_cents"
                ),
            )
            s = bdf.sparkSession
            # Idempotence under retry: a re-invoked batch N must merge on
            # top of the latest version STRICTLY BELOW N — keying off
            # versions[-1] would self-merge (double count) or read the
            # directory it is about to overwrite.
            prior = [v for v in versions if v < batch_id]
            if prior:
                prev = s.read.parquet(f"{tmp}/v{max(prior)}")
                merged = (
                    prev.withColumnsRenamed(
                        {"n_events": "p_n", "sum_cents": "p_c"}
                    )
                    .join(
                        part.withColumnsRenamed({"event_type": "b_type"}),
                        F.col("event_type") == F.col("b_type"),
                        "full_outer",
                    )
                    .select(
                        F.coalesce("event_type", "b_type").alias("event_type"),
                        (
                            F.coalesce("p_n", F.lit(0))
                            + F.coalesce("n_events", F.lit(0))
                        ).alias("n_events"),
                        (
                            F.coalesce("p_c", F.lit(0))
                            + F.coalesce("sum_cents", F.lit(0))
                        ).alias("sum_cents"),
                    )
                )
            else:
                merged = part
            merged.write.mode("overwrite").parquet(f"{tmp}/v{batch_id}")
            if batch_id not in versions:
                versions.append(batch_id)

        q = (
            events_stream(spark, sf_dir)
            .select("event_type", "value")
            .writeStream.foreachBatch(merge_batch)
            .option(
                "checkpointLocation",
                f"{tmp}/ckpt",
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        if not versions:
            raise RuntimeError("foreachBatch drain produced no batches")
        out = (
            spark.read.parquet(f"{tmp}/v{max(versions)}")
            .orderBy("event_type")
        )
        # Materialize before the scratch dir is removed.
        return collect_local(out)


# ---------------------------------------------------------------------------
# chained stateful window aggregations (multi-stateful-operator path)
# ---------------------------------------------------------------------------

_CHAINED_ORACLE = """
WITH mx AS (SELECT max(ts) AS m FROM events),
hours AS (
  SELECT time_bucket(INTERVAL '1 hour', ts) AS hs,
         CAST(count(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1),
closed_h AS (
  SELECT hs, cnt FROM hours, mx WHERE hs + INTERVAL '1 hour' <= m),
days AS (
  SELECT date_trunc('day', hs) AS day_start,
         CAST(count(*) AS BIGINT) AS n_hours,
         CAST(sum(cnt) AS BIGINT) AS n_events
  FROM closed_h GROUP BY 1)
SELECT day_start, n_hours, n_events
FROM days, mx WHERE day_start + INTERVAL '1 day' <= m
ORDER BY day_start
"""


@query(
    "q_stream_chained_windows",
    oracle=_CHAINED_ORACLE,
    tags=("stream", "live-stream", "scale-design"),
)
def q_stream_chained_windows(spark, sf_dir):
    """CHAINED stateful window aggregations in ONE streaming query —
    the multiple-stateful-operator path (Spark 3.4+): an hourly
    tumbling aggregate feeds a daily rollup of those hours, both
    watermark-gated, both holding state, in a single plan.  Before
    this path existed the daily layer required a second query reading
    the first one's sink — doubling checkpoints, sinks, and
    end-to-end latency; here the hour windows close as the watermark
    passes, flow DOWNSTREAM inside the same micro-batch (their event
    time is window_time = window end − 1 µs), and the day windows
    close off the SAME watermark.  The oracle states the cascade
    declaratively: hours whose end ≤ max(ts) roll into days whose end
    ≤ max(ts) — both emission gates visible as WHERE clauses.  At
    100 TB the win is one state lineage instead of a two-hop DAG:
    the hour→day reduction happens before any sink, so the second
    stateful operator's input is already aggregate-sized."""
    return _chained_windows_stream(spark, sf_dir)


def _chained_windows_stream(spark, sf_dir, glob="events.parquet", options=None):
    """Shared builder so the streaming scale smoke can force
    multi-batch replay (file-split fixture + maxFilesPerTrigger=1)
    and read per-batch state telemetry."""
    stream = events_stream(spark, sf_dir, glob=glob, options=options)
    hours = (
        stream.withWatermark("ts", "0 seconds")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    days = (
        hours.groupBy(F.window(F.window_time("window"), "1 day"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_hours"),
            F.sum("cnt").cast("bigint").alias("n_events"),
        )
        .select(
            F.col("window.start").alias("day_start"),
            "n_hours",
            "n_events",
        )
    )
    return drain_to_memory(
        days, output_mode="append", needs_watermark_batch=True
    ).orderBy("day_start")


# Shared purchase/click interval-join machinery for the two outer-join
# queries: both sides watermarked 10 min, clicks restricted to the hour
# preceding each same-user purchase.  The oracle CTE prefix mirrors the
# same sides, the MIN-of-nodes global watermark, and the match set —
# edit HERE and both queries (and both oracles) move together.
_PC_ORACLE_PREFIX = (
    "WITH p AS (SELECT event_id AS purchase_id, user_id, ts AS p_ts "
    "      FROM events WHERE event_type = 'purchase'), "
    "c AS (SELECT event_id AS click_id, user_id AS c_user, ts AS c_ts "
    "      FROM events WHERE event_type = 'click'), "
    "wm AS (SELECT least((SELECT max(p_ts) FROM p), "
    "                    (SELECT max(c_ts) FROM c)) "
    "              - INTERVAL 10 MINUTE AS w), "
    "m AS (SELECT p.purchase_id, c.click_id, p.user_id "
    "      FROM p JOIN c ON p.user_id = c.c_user "
    "      AND c.c_ts <= p.p_ts "
    "      AND c.c_ts >= p.p_ts - INTERVAL 1 HOUR) "
)


def _purchase_click_join(spark, sf_dir, how):
    """purchases ⋈ clicks (same user, click within the preceding hour),
    both sides watermarked — the Spark twin of _PC_ORACLE_PREFIX."""
    base = events_stream(spark, sf_dir)
    purchases = base.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id"),
        F.col("ts").alias("p_ts"),
    ).withWatermark("p_ts", "10 minutes")
    clicks = base.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    ).withWatermark("c_ts", "10 minutes")
    return purchases.join(
        clicks,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR")),
        how,
    )


@query(
    "q_stream_outer_join",
    oracle=(
        _PC_ORACLE_PREFIX
        + "SELECT purchase_id, click_id, user_id FROM m "
        "UNION ALL "
        "SELECT p.purchase_id, CAST(NULL AS BIGINT) AS click_id, p.user_id "
        "FROM p, wm WHERE p.p_ts < wm.w "
        "AND NOT EXISTS (SELECT 1 FROM m WHERE m.purchase_id = p.purchase_id)"
    ),
    tags=("stream", "live-stream"),
)
def q_stream_outer_join(spark, sf_dir):
    """Stream-stream LEFT OUTER join — the semantics q_stream_join's
    inner form cannot express: a purchase with NO same-user click in
    the preceding hour must still emit, with NULL on the click side —
    but only once the engine can PROVE no future click can match,
    i.e. when the watermark passes the purchase's event time and its
    join state is evicted.  Matches emit on arrival (same as inner);
    NULL rows emit from the state-eviction pass, which for a finite
    drain happens in the trailing no-data micro-batch
    (needs_watermark_batch=True — without it the unmatched rows are
    silently withheld, the exact failure mode the drain flag
    documents).  The oracle mirrors BOTH gates declaratively: every
    time-bound match, plus NULL rows exactly for unmatched purchases
    with p_ts below the final GLOBAL watermark — which for a query
    with TWO withWatermark nodes is the MIN of the per-node
    watermarks (multipleWatermarkPolicy=min, the default):
    least(max purchase ts, max click ts) - 10 min.  Pinned
    empirically: the naive max(ts)-10min gate over-emits by the
    purchases wedged between the two nodes' maxima.  Purchases
    younger than the global watermark stay in state and are correctly
    NOT emitted.  At scale the time bound keeps both state stores
    bounded (clicks evict at wm - 1 h, purchases at wm), so the outer
    join costs the same bounded state as the inner one."""
    joined = _purchase_click_join(spark, sf_dir, "leftOuter").select(
        "purchase_id", "click_id", "user_id"
    )
    return drain_to_memory(
        joined, output_mode="append", needs_watermark_batch=True
    )


@query(
    "q_stream_full_outer_join",
    oracle=(
        _PC_ORACLE_PREFIX
        + "SELECT purchase_id, click_id, user_id FROM m "
        "UNION ALL "
        "SELECT p.purchase_id, CAST(NULL AS BIGINT), p.user_id "
        "FROM p, wm WHERE p.p_ts < wm.w "
        "AND NOT EXISTS (SELECT 1 FROM m WHERE m.purchase_id = p.purchase_id) "
        "UNION ALL "
        "SELECT CAST(NULL AS BIGINT), c.click_id, c.c_user "
        "FROM c, wm WHERE c.c_ts < wm.w - INTERVAL 1 HOUR "
        "AND NOT EXISTS (SELECT 1 FROM m WHERE m.click_id = c.click_id)"
    ),
    tags=("stream", "live-stream"),
)
def q_stream_full_outer_join(spark, sf_dir):
    """Stream-stream FULL OUTER join — BOTH unmatched sides must
    eventually emit with NULLs, and the two sides evict on DIFFERENT
    schedules, which the oracle pins exactly: an unmatched purchase
    emits once the global watermark passes p_ts (no click with
    c_ts <= p_ts can still arrive), but an unmatched click must be
    HELD A FULL HOUR LONGER — a click at c_ts can match any future
    purchase with p_ts up to c_ts + 1 h (the join's interval bound),
    so its NULL row emits only when c_ts < wm - 1 h.  Both gates
    measured empirically and mirrored declaratively (global wm = MIN
    of the two watermark nodes, the q_stream_outer_join finding).
    This asymmetry is the state-size story at scale: the side that
    can match FUTURE rows pays state proportional to the interval
    width; the other side pays only the watermark delay."""
    joined = _purchase_click_join(spark, sf_dir, "fullOuter").select(
        "purchase_id",
        "click_id",
        F.coalesce("user_id", "c_user").alias("user_id"),
    )
    return drain_to_memory(
        joined, output_mode="append", needs_watermark_batch=True
    )


# ---------------------------------------------------------------------------
# Streaming CEP: per-user event-pattern state machine (round 10)
# ---------------------------------------------------------------------------

_CEP_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("seq_len", T.IntegerType()),
        T.StructField("n_funnels", T.IntegerType()),
        T.StructField("has_funnel", T.IntegerType()),
    ]
)

# accumulated (ts-micros, event_id, symbol) triples — per-user history
# is human-bounded, so the state is KB-sized at any corpus size
_CEP_STATE_SCHEMA = T.StructType(
    [
        T.StructField("ts_us", T.ArrayType(T.LongType())),
        T.StructField("eid", T.ArrayType(T.LongType())),
        T.StructField("sym", T.ArrayType(T.StringType())),
    ]
)


def _cep_state_fn(
    key: Tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state
) -> Iterator[pd.DataFrame]:
    """Accumulate the user's (ts, event_id, symbol) history in state,
    re-derive the funnel metrics from the SORTED history each batch —
    emission is monotone in seq_len, so the final update is the
    complete answer regardless of how the replay batches."""
    import re

    # GroupState.get is a property (see _user_state_fn note)
    ts_us, eid, sym = state.get if state.exists else ([], [], [])
    ts_us, eid, sym = list(ts_us), list(eid), list(sym)
    for pdf in pdfs:
        ts_us.extend(
            (pdf["ts"].astype("int64") // 1000).tolist()
            if str(pdf["ts"].dtype).startswith("datetime64[ns")
            else pdf["ts"].astype("int64").tolist()
        )
        eid.extend(pdf["event_id"].astype("int64").tolist())
        sym.extend(pdf["event_type"].str[:1].tolist())
    state.update((ts_us, eid, sym))
    order = sorted(range(len(ts_us)), key=lambda i: (ts_us[i], eid[i]))
    seq = "".join(sym[i] for i in order)
    n = len(re.findall("s[vc]*p", seq))
    yield pd.DataFrame(
        [
            {
                "user_id": key[0],
                "seq_len": len(seq),
                "n_funnels": n,
                "has_funnel": 1 if n > 0 else 0,
            }
        ]
    )


def _event_pattern_stream(spark, sf_dir, glob="events.parquet", options=None):
    """Shared pipeline builder so tests can force multi-batch replay
    (file-split fixture + maxFilesPerTrigger=1) and prove the
    batching-invariance claim."""
    stream = events_stream(spark, sf_dir, glob=glob, options=options).select(
        "user_id", "ts", "event_id", "event_type"
    )
    from pyspark.sql.streaming.state import GroupStateTimeout

    updated = stream.groupBy("user_id").applyInPandasWithState(
        _cep_state_fn,
        outputStructType=_CEP_OUT_SCHEMA,
        stateStructType=_CEP_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    sink = drain_to_memory(updated, output_mode="update", state_partitions=16)
    final = F.max_by(
        F.struct("seq_len", "n_funnels", "has_funnel"), F.col("seq_len")
    ).alias("m")
    return (
        sink.groupBy("user_id")
        .agg(final)
        .select(
            "user_id",
            F.col("m.seq_len").alias("seq_len"),
            F.col("m.n_funnels").alias("n_funnels"),
            F.col("m.has_funnel").alias("has_funnel"),
        )
        .orderBy("user_id")
    )


@query(
    "q_stream_event_pattern",
    oracle="""
WITH s AS (
  SELECT user_id,
    string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id) AS seq
  FROM events GROUP BY user_id)
SELECT user_id, CAST(length(seq) AS INT) AS seq_len,
  CAST(len(regexp_extract_all(seq, 's[vc]*p')) AS INT) AS n_funnels,
  CASE WHEN len(regexp_extract_all(seq, 's[vc]*p')) > 0 THEN 1 ELSE 0 END
    AS has_funnel
FROM s ORDER BY user_id
""",
    tags=("stream", "live-stream", "scale-design"),
)
def q_stream_event_pattern(spark, sf_dir):
    """Streaming CEP: q_win_event_pattern's funnel-regex state machine
    running INCREMENTALLY over the live event replay — per-user
    applyInPandasWithState accumulates the (ts, event_id, symbol)
    history (KB-sized: human-bounded per key) and re-derives the
    non-overlapping s[vc]*p count each batch.  This is the arbitrary-
    stateful escape hatch doing what no built-in streaming window can:
    pattern semantics spanning the user's whole history, emitted
    continuously as events arrive.

    Correctness under ANY batching: the emitted metrics are recomputed
    from the full sorted history, so updates are monotone in seq_len
    and the LAST update per user equals the batch answer — the
    post-drain max_by(seq_len) collapse makes the result
    batching-invariant rather than relying on the replay arriving in
    one batch (proven under forced 3-batch replay in
    tests/test_streaming.py::test_event_pattern_multi_batch_invariant).
    Oracle = the batch funnel query."""
    return _event_pattern_stream(spark, sf_dir)


# ---------------------------------------------------------------------------
# Streaming CEP with watermark-gated state EVICTION (round 11)
# ---------------------------------------------------------------------------

# pending (post-eviction) history + committed counters — the state the
# eviction rule keeps bounded: open-partial suffix + watermark window,
# never the user's full history
_CEPE_STATE_SCHEMA = T.StructType(
    [
        T.StructField("ts_us", T.ArrayType(T.LongType())),
        T.StructField("eid", T.ArrayType(T.LongType())),
        T.StructField("sym", T.ArrayType(T.StringType())),
        T.StructField("cum_len", T.LongType()),
        T.StructField("cum_funnels", T.LongType()),
    ]
)


def _make_cep_evict_fn(state_log: str | None = None):
    """Build the eviction-variant state fn; state_log (tests only)
    appends one `user,pending_len,cum_len` line per (batch, user) so
    the bounded-state claim is observable from outside the operator."""

    def fn(key, pdfs, state):
        import bisect
        import re

        wm_us = state.getCurrentWatermarkMs() * 1000
        if state.exists:
            # GroupState.get is a property (see _user_state_fn note)
            ts_us, eid, sym, cum_len, cum_funnels = state.get
            ts_us, eid, sym = list(ts_us), list(eid), list(sym)
        else:
            ts_us, eid, sym, cum_len, cum_funnels = [], [], [], 0, 0
        for pdf in pdfs:
            new_us = (
                (pdf["ts"].astype("int64") // 1000)
                if str(pdf["ts"].dtype).startswith("datetime64[ns")
                else pdf["ts"].astype("int64")
            )
            # ENFORCED late-drop: rows below the watermark are
            # discarded here, not assumed away — measured on this
            # engine, applyInPandasWithState does NOT filter late
            # input itself, and a sub-watermark arrival interleaving
            # below already-committed history would corrupt the
            # counters.  This makes the operator's watermark contract
            # (late beyond `delay` is dropped) explicit and safe.
            ok = new_us >= wm_us
            ts_us.extend(new_us[ok].tolist())
            eid.extend(pdf["event_id"].astype("int64")[ok].tolist())
            sym.extend(pdf["event_type"].str[:1][ok].tolist())
        order = sorted(range(len(ts_us)), key=lambda i: (ts_us[i], eid[i]))
        ts_us = [ts_us[i] for i in order]
        eid = [eid[i] for i in order]
        sym = [sym[i] for i in order]
        seq = "".join(sym)
        # --- watermark-gated eviction: everything below the watermark
        # is FROZEN (later arrivals below it are dropped as late by the
        # operator itself), so completed funnels there can be committed
        # to counters and their events discarded.  The only frozen
        # chars that must survive are the trailing OPEN partial match
        # (an `s[vc]*` run contiguous to the boundary — the one run a
        # post-boundary char can still complete; any earlier `s` is
        # blocked by a non-[vc] char before the boundary forever).
        b = bisect.bisect_left(ts_us, wm_us)
        fseq = seq[:b]
        ms = list(re.finditer("s[vc]*p", fseq))
        e = ms[-1].end() if ms else 0
        k = b - 1
        while k >= e and fseq[k] in "vc":
            k -= 1
        j = k if (k >= e and fseq[k] == "s") else b
        cum_funnels += len(ms)  # every match ends <= e <= j
        cum_len += j
        ts_us, eid, sym = ts_us[j:], eid[j:], sym[j:]
        state.update((ts_us, eid, sym, cum_len, cum_funnels))
        if state_log:
            with open(state_log, "a") as f:
                f.write(f"{key[0]},{len(ts_us)},{cum_len}\n")
        n = cum_funnels + len(re.findall("s[vc]*p", seq[j:]))
        yield pd.DataFrame(
            [
                {
                    "user_id": key[0],
                    "seq_len": cum_len + len(ts_us),
                    "n_funnels": n,
                    "has_funnel": 1 if n > 0 else 0,
                }
            ]
        )

    return fn


def _event_eviction_stream(
    spark,
    sf_dir,
    glob="events.parquet",
    options=None,
    delay="30 minutes",
    state_log=None,
):
    """Shared builder: watermark on ts (the eviction clock AND the
    late-data contract — events later than `delay` out of order are
    dropped, standard streaming semantics), then the evicting CEP
    state machine, then the same max_by(seq_len) monotone collapse."""
    stream = (
        events_stream(spark, sf_dir, glob=glob, options=options)
        .select("user_id", "ts", "event_id", "event_type")
        .withWatermark("ts", delay)
    )
    from pyspark.sql.streaming.state import GroupStateTimeout

    updated = stream.groupBy("user_id").applyInPandasWithState(
        _make_cep_evict_fn(state_log),
        outputStructType=_CEP_OUT_SCHEMA,
        stateStructType=_CEPE_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    sink = drain_to_memory(updated, output_mode="update", state_partitions=16)
    final = F.max_by(
        F.struct("seq_len", "n_funnels", "has_funnel"), F.col("seq_len")
    ).alias("m")
    return (
        sink.groupBy("user_id")
        .agg(final)
        .select(
            "user_id",
            F.col("m.seq_len").alias("seq_len"),
            F.col("m.n_funnels").alias("n_funnels"),
            F.col("m.has_funnel").alias("has_funnel"),
        )
        .orderBy("user_id")
    )


@query(
    "q_stream_event_eviction",
    oracle="""
WITH s AS (
  SELECT user_id,
    string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id) AS seq
  FROM events GROUP BY user_id)
SELECT user_id, CAST(length(seq) AS INT) AS seq_len,
  CAST(len(regexp_extract_all(seq, 's[vc]*p')) AS INT) AS n_funnels,
  CASE WHEN len(regexp_extract_all(seq, 's[vc]*p')) > 0 THEN 1 ELSE 0 END
    AS has_funnel
FROM s ORDER BY user_id
""",
    tags=("stream", "live-stream", "scale-design"),
)
def q_stream_event_eviction(spark, sf_dir):
    """q_stream_event_pattern hardened against STATE GROWTH: the
    funnel counter's per-user history is truncated under the event-
    time watermark — completed funnels below the watermark commit to
    (cum_len, cum_funnels) counters and their events are DISCARDED;
    the only sub-watermark events kept are the trailing open partial
    match (`s[vc]*` contiguous to the boundary), which a future event
    can still complete.  State per user is therefore bounded by
    (open-partial span + watermark window), not lifetime history —
    q_stream_event_pattern's accumulate-forever state grows O(events/
    user) by design, which an adversarial key (a bot replaying 10^6
    events) turns into an OOM; here the same replay plateaus (proven:
    tests/test_streaming.py::test_event_eviction_state_plateaus —
    1M single-user events, 6 forced batches, pending state stays
    under a constant while cum_len reaches 1M).

    Eviction safety is the watermark CONTRACT: frozen events can
    never interleave with future arrivals (later-than-delay rows are
    dropped as late by the stateful operator itself), so committed
    counts are final.  Output and oracle are identical to
    q_stream_event_pattern — eviction must never change the answer,
    only the state bound (multi-batch equivalence also pinned in
    tests)."""
    return _event_eviction_stream(spark, sf_dir)


# ---------------------------------------------------------------------------
# §2.22 round-11 wave: streaming near-dup ADMISSION (LSH at ingest)
# ---------------------------------------------------------------------------


def _stream_dedup_lsh_oracle() -> str:
    from skyhookdb_ceph_spark.queries.llm import FUZZY_SIG_CTES

    jac = (
        "floor((len(list_intersect(x.shingles, y.shingles)) * 1.0"
        " / len(list_distinct(x.shingles || y.shingles))) * 1000000 + 0.5)"
        " / 1000000"
    )
    return f"""WITH {FUZZY_SIG_CTES},
cand AS (
  SELECT d.doc_id AS da, e.doc_id AS db, d.b
  FROM sig d JOIN sig e ON d.b = e.b AND d.bsig = e.bsig
  WHERE d.doc_id % 2 = 1 AND e.doc_id % 2 = 0)
SELECT da, db, b, {jac} AS jac
FROM cand JOIN sh x ON x.doc_id = cand.da JOIN sh y ON y.doc_id = cand.db
WHERE {jac} >= 0.8"""


@query(
    "q_stream_dedup_lsh",
    oracle=_stream_dedup_lsh_oracle(),
    tags=("stream", "llm", "dedup", "live-stream", "scale-design"),
)
def q_stream_dedup_lsh(spark, sf_dir):
    """STREAMING near-dup admission — the LSH gate at INGEST time, the
    streaming twin of q_dedup_incremental: newly-arriving documents
    (odd doc_ids, replayed through readStream) are checked against a
    STATIC signature index of the admitted corpus (even doc_ids) and
    every (delta, base, band) collision that survives exact-Jaccard
    >= 0.8 is emitted as a rejection pair, per micro-batch, with ZERO
    streaming state: the whole pipeline is projections + stream-static
    equi-joins + a filter, so append mode needs no watermark and no
    state store at any scale.

    100 TB shape: the static side holds the same signatures as the
    persisted index q_dedup_incremental maintains
    (operators/minhash.band_signatures, here built inline and cached —
    corpus-sized ONCE, never per batch); per micro-batch cost is
    O(delta + candidates).  The stream side encodes with
    operators/minhash.inline_band_signatures (per-row array lambdas,
    the only encoder a stream can run) — same values as the batch
    encoder — and verifies with the module's one Jaccard term at its
    THRESHOLD; the DuckDB oracle is the shared FUZZY_SIG_CTES chain.

    Output: da (delta doc), db (admitted base doc), b (colliding
    band), jac.  A delta doc is REJECTED iff any row names it."""
    return _dedup_lsh_pipeline(spark, sf_dir)


def _dedup_lsh_pipeline(spark, sf_dir, n_files=1, options=None):
    """Shared builder so tests can force multi-batch replay
    (n_files + maxFilesPerTrigger=1) and prove the zero-state claim:
    any batching of the delta must emit the identical pair set."""
    import os

    from skyhookdb_ceph_spark.operators import minhash

    from pyspark import StorageLevel

    docs = Catalog(spark, sf_dir).documents
    base = docs.filter("doc_id % 2 = 0")
    # Persist the shared shingle frame AND both static consumers:
    # stream-static joins re-evaluate the static plan on every
    # micro-batch, and base_sh feeds two consumers (signatures +
    # shingle verify side).  Without the consumer persists each
    # trigger would re-shingle the whole admitted corpus twice — the
    # persist is what makes the docstring's "corpus-sized ONCE, never
    # per batch" claim true in THIS plan, not just in the production
    # bucketBy-index deployment.  Without the base_sh persist the TWO
    # consumer materializations each re-ran the shingle pass (explode
    # + window + collect_set over the whole admitted corpus) — caching
    # the shingles makes setup one base pass instead of two.
    base_sh = minhash.shingle_sets(base).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    base_sig = (
        minhash.band_signatures(base_sh)
        .selectExpr("doc_id AS db", "CAST(b AS BIGINT) AS b", "bsig")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    base_y = base_sh.selectExpr("doc_id AS db", "shingles AS sy").persist(
        StorageLevel.MEMORY_AND_DISK
    )

    with scratch("skyhook_stream_lsh_") as tmp:
        try:
            delta = docs.filter("doc_id % 2 = 1").repartition(n_files)
            delta.write.mode("overwrite").parquet(os.path.join(tmp, "delta"))
            reader = spark.readStream.schema(delta.schema)
            for k, v in (options or {}).items():
                reader = reader.option(k, v)
            stream = reader.parquet(os.path.join(tmp, "delta"))
            sig_s = minhash.inline_band_signatures(stream).selectExpr(
                "doc_id AS da",
                "shingles AS sx",
                "CAST(b AS BIGINT) AS b",
                "bsig",
            )
            cand = sig_s.join(base_sig, ["b", "bsig"])
            ver = cand.join(base_y, "db").selectExpr(
                "da", "db", "b", f"{minhash.jaccard_sql('sx', 'sy')} AS jac"
            ).filter(f"jac >= {minhash.THRESHOLD}")
            return drain_to_memory(ver, output_mode="append")
        finally:
            base_sig.unpersist()
            base_y.unpersist()
            base_sh.unpersist()


# ---------------------------------------------------------------------------
# §2.24.8 streaming distribution-drift monitor (windowed JS vs reference)
# ---------------------------------------------------------------------------


def drift_window_counts(df):
    """The STATEFUL core of q_stream_drift, shared batch/streaming:
    per (6-hour tumbling window, event_type) counts.  This exact
    DataFrame runs under readStream unchanged (complete mode);
    tests/test_streaming.py pins batch == stream.  The JS assembly
    downstream is stateless per-window arithmetic a foreachBatch (or
    the memory-sink consumer) applies to the window counts."""
    return df.groupBy(F.window("ts", "6 hours"), "event_type").agg(
        F.count(F.lit(1)).alias("cnt")
    )


_DRIFT_ORACLE = """
WITH ref AS (
  SELECT event_type,
    CAST(count(*) AS DOUBLE)
      / CAST((SELECT count(*) FROM events) AS DOUBLE) AS qf
  FROM events GROUP BY 1),
wt AS (
  SELECT time_bucket(INTERVAL '6 hours', ts) AS ws, event_type,
    CAST(count(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1, 2),
wtot AS (SELECT ws, CAST(sum(cnt) AS BIGINT) AS n_events FROM wt GROUP BY 1),
grid AS (
  SELECT wtot.ws, wtot.n_events, ref.event_type, ref.qf,
    coalesce(wt.cnt, 0) AS cnt
  FROM wtot CROSS JOIN ref
  LEFT JOIN wt ON wt.ws = wtot.ws AND wt.event_type = ref.event_type),
terms AS (
  SELECT ws, n_events,
    (CASE WHEN cnt > 0 THEN
       0.5 * (CAST(cnt AS DOUBLE) / n_events)
           * log2((CAST(cnt AS DOUBLE) / n_events)
                / ((CAST(cnt AS DOUBLE) / n_events + qf) / 2))
     ELSE 0.0 END
   + 0.5 * qf * log2(qf / ((CAST(cnt AS DOUBLE) / n_events + qf) / 2)))
      AS term
  FROM grid)
SELECT ws AS window_start, ws + INTERVAL '6 hours' AS window_end,
  max(n_events) AS n_events,
  floor(sum(term) * 1000000 + 0.5) / 1000000 AS js
FROM terms GROUP BY ws
"""


@query(
    "q_stream_drift",
    oracle=_DRIFT_ORACLE,
    tags=("stream", "drift", "llm"),
)
def q_stream_drift(spark, sf_dir):
    """Streaming distribution-drift monitor: Jensen-Shannon divergence
    (bits) of each 6-hour window's event-type distribution against
    the global reference profile — the alarm a production ingest
    pipeline keeps on its topic mix (a drifting mix is often the
    first sign of an upstream breakage or a data-poisoning attempt).

    The stateful core is ONE shared batch/streaming tumbling
    aggregation (drift_window_counts — state per (window, type),
    watermark-evictable); the reference profile is the static side of
    a stream-static pattern (here derived from the same table; in
    production a precomputed profile read once per trigger), and the
    JS assembly is stateless per-window arithmetic: the |types|-row
    grid per window comes from a broadcast cross of the window totals
    with the 5-row reference, absent types contributing only their
    reference-side term (JS is finite under zeros, unlike KL — the
    reason monitoring stacks prefer it).  All divisions are exact
    integer-cumulant ratios; the summed terms quantize at 1e-6.
    Batch == stream for the stateful core is pinned in
    tests/test_streaming.py."""
    e = Catalog(spark, sf_dir).events
    n_total = e.agg(F.count(F.lit(1)).cast("double").alias("n"))
    ref = (
        e.groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("double").alias("nt"))
        .crossJoin(F.broadcast(n_total))
        .selectExpr("event_type", "nt / n AS qf")
    )
    wt = drift_window_counts(e).select(
        F.col("window.start").alias("ws"),
        F.col("event_type"),
        F.col("cnt").cast("bigint").alias("cnt"),
    )
    wtot = wt.groupBy("ws").agg(F.sum("cnt").cast("bigint").alias("n_events"))
    grid = (
        wtot.crossJoin(F.broadcast(ref))
        .join(wt, ["ws", "event_type"], "left")
        .withColumn("cnt", F.coalesce(F.col("cnt"), F.lit(0)))
    )
    terms = grid.selectExpr(
        "ws",
        "n_events",
        "(CASE WHEN cnt > 0 THEN "
        "  0.5 * (CAST(cnt AS DOUBLE) / n_events) "
        "      * log2((CAST(cnt AS DOUBLE) / n_events) "
        "           / ((CAST(cnt AS DOUBLE) / n_events + qf) / 2)) "
        "ELSE 0.0 END "
        "+ 0.5 * qf * log2(qf / ((CAST(cnt AS DOUBLE) / n_events + qf) / 2)))"
        " AS term",
    )
    return terms.groupBy("ws").agg(
        F.max("n_events").alias("n_events"),
        F.expr("floor(sum(term) * 1000000 + 0.5) / 1000000").alias("js"),
    ).selectExpr(
        "ws AS window_start",
        "ws + INTERVAL 6 HOURS AS window_end",
        "n_events",
        "js",
    )
