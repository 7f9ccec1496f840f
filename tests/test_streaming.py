"""Streaming parity: the batch-checked window aggregations must run
UNCHANGED under readStream and produce identical results — the claim
that makes the batch-twin oracle checks meaningful."""

from __future__ import annotations

from pyspark.sql import functions as F

from skyhookdb_ceph_spark.queries.streaming_q import q_stream_tumbling
from skyhookdb_ceph_spark.streaming.replay import drain_to_memory, events_stream


def _tumbling_agg(df):
    return (
        df.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "cnt",
        )
    )


def test_tumbling_window_identical_in_batch_and_stream(spark, sf_small):
    batch = sorted(map(tuple, q_stream_tumbling(spark, sf_small).collect()))
    streamed = drain_to_memory(
        _tumbling_agg(events_stream(spark, sf_small)), output_mode="complete"
    )
    assert sorted(map(tuple, streamed.collect())) == batch


def test_stream_drain_is_repeatable(spark, sf_small):
    out1 = drain_to_memory(
        _tumbling_agg(events_stream(spark, sf_small)), output_mode="complete"
    ).count()
    out2 = drain_to_memory(
        _tumbling_agg(events_stream(spark, sf_small)), output_mode="complete"
    ).count()
    assert out1 == out2 > 0


def _write_time_ordered_chunks(df, d, n_chunks, order_cols=("ts", "event_id")):
    """Split events into n time-ordered parquet files chunk0..chunkN —
    the replay shape where a watermark drops nothing (each batch's
    events are strictly later than the previous batch's)."""
    import math

    rows = df.orderBy(*order_cols).collect()
    per = math.ceil(len(rows) / n_chunks)
    spark = df.sparkSession
    for i in range(n_chunks):
        chunk = rows[i * per : (i + 1) * per]
        if chunk:
            spark.createDataFrame(chunk, df.schema).coalesce(
                1
            ).write.parquet(f"{d}/c{i}", mode="overwrite")
    import glob as g
    import os
    import shutil
    import time

    # pin strictly increasing mod times: the file source admits files
    # in (modTime, path) order, and same-tick copies have been
    # OBSERVED arriving out of order — which a watermarked stream
    # rightly treats as late data
    now = time.time()
    for i, f in enumerate(sorted(g.glob(f"{d}/c*/part-*.parquet"))):
        dst = f"{d}/chunk{i}.parquet"
        shutil.copy(f, dst)
        os.utime(dst, (now + i * 10, now + i * 10))
    return d


def test_event_eviction_multi_batch_matches_batch_answer(
    spark, sf_small, tmp_path
):
    """Eviction must never change the ANSWER, only the state bound:
    a forced 3-batch time-ordered replay through the evicting state fn
    must equal the batch funnel query exactly."""
    from skyhookdb_ceph_spark.queries.windows import q_win_event_pattern
    from skyhookdb_ceph_spark.queries.streaming_q import (
        _event_eviction_stream,
    )
    from skyhookdb_ceph_spark.queries._util import Catalog

    d = str(tmp_path / "ev_ord")
    _write_time_ordered_chunks(Catalog(spark, sf_small).events, d, 3)
    multi = sorted(
        map(
            tuple,
            _event_eviction_stream(
                spark,
                d,
                glob="chunk*.parquet",
                options={"maxFilesPerTrigger": "1"},
                delay="1 minute",
            ).collect(),
        )
    )
    batch = sorted(map(tuple, q_win_event_pattern(spark, sf_small).collect()))
    assert multi == batch and len(batch) > 0


def test_event_eviction_state_plateaus(spark, tmp_path):
    """The bounded-state claim under adversarial replay: ONE user
    replays 1M events (the accumulate-forever twin would hold all 1M
    in its per-key state by the final batch); with watermark-gated
    eviction the pending state must PLATEAU at a constant (open
    partial + watermark window) while the committed counters keep
    growing to the full history."""
    import pandas as pd

    from skyhookdb_ceph_spark.queries.streaming_q import (
        _event_eviction_stream,
    )

    n = 1_000_000
    base = pd.Timestamp("2024-01-01")
    ev = pd.DataFrame(
        {
            "event_id": pd.array(range(n), dtype="int64"),
            "ts": base + pd.to_timedelta(range(n), unit="s"),
            "user_id": pd.array([1] * n, dtype="int64"),
            "event_type": [
                ("signup", "view", "purchase")[i % 3] for i in range(n)
            ],
            "value": [0.0] * n,
            "props": ["{}"] * n,
        }
    )
    d = tmp_path / "ev_adversarial"
    d.mkdir()
    per = -(-n // 6)  # ceil: the last chunk keeps the remainder
    for i in range(6):
        ev.iloc[i * per : (i + 1) * per].to_parquet(
            d / f"chunk{i}.parquet", index=False
        )
    log = str(tmp_path / "state_log.csv")
    out = _event_eviction_stream(
        spark,
        str(d),
        glob="chunk*.parquet",
        options={"maxFilesPerTrigger": "1"},
        delay="1 minute",
        state_log=log,
    ).collect()
    # answer exact: one funnel per (signup, view, purchase) triple
    assert [tuple(r) for r in out] == [(1, n, n // 3, 1)]
    sizes = [
        (int(p), int(c))
        for _, p, c in (
            line.split(",") for line in open(log).read().splitlines()
        )
    ]
    assert len(sizes) == 6  # one state commit per forced batch
    pending = [p for p, _ in sizes]
    # batch 1 has no watermark yet (wm=0 -> nothing frozen): pending =
    # the whole first chunk.  Every LATER batch must have evicted down
    # to (watermark window ~60 events + one chunk's post-wm tail) —
    # the plateau.  Without eviction pending would grow by ~166k/batch.
    assert pending[0] >= per
    plateau = per + 128  # one in-flight chunk + watermark window
    assert all(p <= plateau for p in pending[1:])
    # no growth trend (±small jitter from chunk-boundary symbol
    # alignment; without eviction this would grow by ~167k per batch)
    assert max(pending[3:]) <= max(pending[1:3]) + 8
    # committed counters keep absorbing the evicted history
    assert sizes[-1][1] + pending[-1] == n


def test_event_pattern_multi_batch_invariant(spark, sf_small, tmp_path):
    """q_stream_event_pattern's batching-invariance claim: split the
    fixture into 3 files and force one file per micro-batch — the
    drained result must equal the single-batch run AND the batch
    funnel query.  This is what the per-batch recompute + post-drain
    max_by(seq_len) collapse buys."""
    from skyhookdb_ceph_spark.queries.windows import q_win_event_pattern
    from skyhookdb_ceph_spark.queries.streaming_q import (
        _event_pattern_stream,
        q_stream_event_pattern,
    )
    from skyhookdb_ceph_spark.queries._util import Catalog

    d = str(tmp_path / "ev_split")
    Catalog(spark, sf_small).events.repartition(3).write.parquet(d)
    multi = sorted(
        map(
            tuple,
            _event_pattern_stream(
                spark, d, glob="*.parquet",
                options={"maxFilesPerTrigger": "1"},
            ).collect(),
        )
    )
    single = sorted(
        map(tuple, q_stream_event_pattern(spark, sf_small).collect())
    )
    batch = sorted(map(tuple, q_win_event_pattern(spark, sf_small).collect()))
    assert multi == single == batch and len(batch) > 0


def test_stateful_state_fn_survives_multi_batch(spark, sf_small, tmp_path):
    """_user_state_fn had a latent batch>=2 bug (GroupState.get is a
    property; calling it raised TypeError) that single-batch drains
    never hit — force a 3-batch replay through the same state fn and
    check the final per-user state equals the batch aggregate."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from skyhookdb_ceph_spark.queries._util import Catalog
    from skyhookdb_ceph_spark.queries.streaming_q import (
        _STATE_OUT_SCHEMA,
        _STATE_SCHEMA,
        _user_state_fn,
    )
    from skyhookdb_ceph_spark.streaming.replay import events_stream

    d = str(tmp_path / "ev_split_stateful")
    Catalog(spark, sf_small).events.repartition(3).write.parquet(d)
    stream = events_stream(
        spark, d, glob="*.parquet", options={"maxFilesPerTrigger": "1"}
    ).select("user_id", "ts", "value")
    updated = stream.groupBy("user_id").applyInPandasWithState(
        _user_state_fn,
        outputStructType=_STATE_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    sink = drain_to_memory(updated, output_mode="update", state_partitions=4)
    # final state per user = the max-n_events update (monotone growth)
    got = sorted(
        map(
            tuple,
            sink.groupBy("user_id")
            .agg(
                F.max_by(
                    F.struct("n_events", "sum_cents"), F.col("n_events")
                ).alias("m")
            )
            .select("user_id", "m.n_events", "m.sum_cents")
            .collect(),
        )
    )
    want = sorted(
        map(
            tuple,
            Catalog(spark, sf_small)
            .events.groupBy("user_id")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(F.floor(F.col("value") * 100))
                .cast("bigint")
                .alias("sum_cents"),
            )
            .collect(),
        )
    )
    assert got == want and len(want) > 0


def test_dedup_lsh_multi_batch_matches_single_batch(spark):
    """q_stream_dedup_lsh claims ZERO streaming state (projections +
    stream-static joins only), so ANY batching of the delta must emit
    the identical rejection-pair set.  Force 4 delta files at one file
    per trigger and compare to the single-batch drain."""
    from skyhookdb_ceph_spark.queries.streaming_q import _dedup_lsh_pipeline

    sf = "/root/testdata/sf0.001"
    one = sorted(
        tuple(r) for r in _dedup_lsh_pipeline(spark, sf).collect()
    )
    many = sorted(
        tuple(r)
        for r in _dedup_lsh_pipeline(
            spark, sf, n_files=4, options={"maxFilesPerTrigger": "1"}
        ).collect()
    )
    assert one == many
    assert len(one) > 0  # fixture near-dups must actually exercise the gate


def test_drift_stateful_core_identical_in_batch_and_stream(spark, sf_small):
    """q_stream_drift's stateful core (the 6-hour (window, type)
    counts) must produce identical rows under readStream; the JS
    assembly downstream is stateless arithmetic over these counts."""
    from skyhookdb_ceph_spark.queries.streaming_q import drift_window_counts
    from skyhookdb_ceph_spark.catalog import Catalog as _Cat

    batch = sorted(
        map(
            tuple,
            drift_window_counts(_Cat(spark, sf_small).events)
            .selectExpr("window.start AS ws", "event_type", "cnt")
            .collect(),
        )
    )
    streamed = drain_to_memory(
        drift_window_counts(events_stream(spark, sf_small)),
        output_mode="complete",
    )
    got = sorted(
        map(
            tuple,
            streamed.selectExpr(
                "window.start AS ws", "event_type", "cnt"
            ).collect(),
        )
    )
    assert got == batch
