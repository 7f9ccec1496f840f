"""File-source replay of the events fixture + deterministic drain.

100 TB notes: the file stream source lists splits incrementally
(maxFilesPerTrigger bounds each micro-batch); state stores (dedup,
session windows, applyInPandasWithState) are partitioned by grouping
key across executors, so state size per executor is bounded by key
cardinality / parallelism, and watermarks bound state retention in
event time.  Locally we drain everything in one AvailableNow pass.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import DataStreamWriter

from skyhookdb_ceph_spark.queries._util import _tmpfs, scoped_conf, scratch

def _events_ts_is_nanos(sf_dir: str, glob: str) -> bool:
    """True iff the events fixture stores ts as TIMESTAMP(NANOS) (which
    Spark can only read as a raw long under nanosAsLong).  Fixture
    generators have shipped BOTH units across rounds, so sniff the
    parquet footer instead of assuming — the batch Catalog does the
    same adaptively (catalog.py _fix_event_ts)."""
    import glob as _glob

    import pyarrow.parquet as pq

    paths = sorted(_glob.glob(os.path.join(sf_dir, glob)))
    if not paths:
        raise FileNotFoundError(
            f"events_stream: no parquet matches {glob!r} under {sf_dir!r}"
            " — nothing to replay (populate the directory first)"
        )
    # Sniff EVERY matched file: a replay dir mixing fixture
    # generations (the cross-round unit drift that motivated this
    # sniff) must fail loudly, not read half the files mis-typed.
    units = {
        p: getattr(pq.read_schema(p).field("ts").type, "unit", None)
        for p in paths
    }
    if len(set(units.values())) > 1:
        raise ValueError(
            f"events_stream: mixed ts units across replay files: {units}"
        )
    return next(iter(units.values())) == "ns"


def events_stream(
    spark: SparkSession,
    sf_dir: str,
    glob: str = "events.parquet",
    options: dict[str, str] | None = None,
) -> DataFrame:
    """readStream over the events fixture with the same microsecond
    timestamp rebuild the batch Catalog applies.  `glob` selects which
    parquet files in the directory feed the stream (a directory of
    file-level COPIES of the fixture is the zero-cost way to replay
    the same events N times — no Spark rewrite job needed).
    `options` passes source options through (e.g. maxFilesPerTrigger
    for bounded-batch admission control, q_stream_backpressure)."""
    # The raw-long read of a NANOS timestamp needs the same conf the
    # batch Catalog guarantees; the driver's session may lack it.
    from skyhookdb_ceph_spark.catalog import Catalog

    for k, v in Catalog._REQUIRED_CONF.items():  # noqa: SLF001
        try:
            spark.conf.set(k, v)
        except Exception:  # noqa: BLE001
            pass
    nanos = _events_ts_is_nanos(sf_dir, glob)
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField(
                "ts", T.LongType() if nanos else T.TimestampType()
            ),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )
    reader = spark.readStream.schema(schema).option("pathGlobFilter", glob)
    for k, v in (options or {}).items():
        reader = reader.option(k, v)
    raw = reader.parquet(sf_dir)
    if nanos:
        raw = raw.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000"))
        )
    return raw


# see the hook in _drain — None means capture off
PROGRESS_CAPTURE: list | None = None


@contextlib.contextmanager
def _checkpoint(name: str):
    """Checkpoint dir for one drain, removed when the drain ends.

    Checkpoint IO (offset log, commit log, state snapshots) pays on
    every micro-batch commit, so it goes to $SPARK_GRAFT_STREAM_CKPT
    if set, else a RAM-backed tmpfs base (a real deployment points the
    env var at fast shared storage), else a ``scratch()`` dir."""
    base = os.environ.get("SPARK_GRAFT_STREAM_CKPT")
    if base is None and (tmpfs := _tmpfs()):
        base = f"{tmpfs}/skyhook_stream_ckpt"
    if base is None:
        with scratch("skyhook_stream_ckpt_") as ckpt:
            yield ckpt
        return
    ckpt = f"{base}/{name}"
    try:
        yield ckpt
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


def _drain(
    spark: SparkSession,
    writer: DataStreamWriter,
    name: str,
    state_partitions: int | None,
    needs_watermark_batch: bool,
) -> None:
    """Run `writer` to completion (AvailableNow) under the drain confs.

    AvailableNow processes all currently-available input then stops —
    the deterministic batch-equivalent drain, same code path a live
    trigger would use."""
    confs = {
        # Stateful operators allocate one state store per shuffle
        # partition and pay a per-store commit each micro-batch; size
        # the count to the deployment (cluster: >= executor cores).
        # Local fixtures: 2 — measured best for JVM-side state (8
        # doubles commit overhead) — except applyInPandasWithState,
        # whose per-group Python work wants more parallel workers
        # (q_stream_stateful passes state_partitions=16, measured
        # 2.26 s -> 1.63 s at sf0.1).
        "spark.sql.shuffle.partitions": str(state_partitions or 2),
        # A finite AvailableNow drain never restarts from an old
        # offset, so retaining the default 100 checkpoint batches is
        # pure commit IO; 1 is the measured (small) win.  Real
        # deployments that resume from checkpoints keep the default —
        # and so must the REST of this session: this conf once leaked
        # (no restore), which made every later checkpoint in the
        # session retain a single batch file and broke
        # q_stream_backpressure's commits-log evidence (r7).
        "spark.sql.streaming.minBatchesToRetain": "1",
        # After the data batch, Spark schedules one extra NO-DATA
        # micro-batch purely to advance the watermark and evict state
        # (measured 0.5-1.2 s of commit + eviction work per drain).
        # Every sink here emits its rows in the data batch itself
        # (complete / update / append modes that emit on arrival:
        # dedup, inner join, stateful update), so the eviction batch
        # buys nothing for a finite drain.  An append-mode *windowed
        # aggregation* (emission gated on watermark passage) MUST pass
        # needs_watermark_batch=True or its closed windows are
        # silently never emitted — the flag exists so that failure
        # mode is an explicit per-call decision, not a buried global.
        "spark.sql.streaming.noDataMicroBatches.enabled": (
            "true" if needs_watermark_batch else "false"
        ),
    }
    with _checkpoint(name) as ckpt, scoped_conf(spark, confs):
        q = (
            writer.option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        # instrumentation hook (tools/scale_smoke.py --stream): when a
        # caller sets PROGRESS_CAPTURE to a list, every drain appends
        # its engine-reported per-batch progress (stateOperators:
        # numRowsTotal / memoryUsedBytes, durationMs) — the state-bound
        # claims measured from the engine's own telemetry, zero cost
        # when unset
        if PROGRESS_CAPTURE is not None:
            PROGRESS_CAPTURE.append(
                {"sink": name, "progress": list(q.recentProgress)}
            )


def drain_to_memory(
    stream_df: DataFrame,
    output_mode: str = "complete",
    state_partitions: int | None = None,
    needs_watermark_batch: bool = False,
) -> DataFrame:
    """Drain a streaming DataFrame into a uniquely-named memory sink;
    returns the sink table as a DataFrame.  An append-mode windowed
    aggregation MUST pass needs_watermark_batch=True (see _drain)."""
    name = f"sink_{uuid.uuid4().hex[:12]}"
    spark = stream_df.sparkSession
    _drain(
        spark,
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode),
        name,
        state_partitions,
        needs_watermark_batch,
    )
    return spark.table(name)


def drain_to_files(
    stream_df: DataFrame,
    out_dir: str,
    needs_watermark_batch: bool = False,
    state_partitions: int | None = None,
) -> DataFrame:
    """Drain a streaming DataFrame through Spark's transactional FILE
    sink (parquet + `_spark_metadata` commit log), then read the
    committed files back.

    This is the exactly-once persistence path: the metadata log lists
    exactly the files of committed batches, so a batch read of the
    directory sees no partial output even if a task died mid-write —
    the streaming analog of the reference's transform-to-format ops.
    Append-mode windowed aggregations emit only when the watermark
    passes a window; such callers MUST pass needs_watermark_batch=True
    (same contract as drain_to_memory) or closed windows never flush.
    """
    spark = stream_df.sparkSession
    _drain(
        spark,
        stream_df.writeStream.format("parquet")
        .option("path", out_dir)
        .outputMode("append"),
        f"filesink_{uuid.uuid4().hex[:12]}",
        state_partitions,
        needs_watermark_batch,
    )
    # Batch read honors _spark_metadata: only committed files are seen.
    return spark.read.parquet(out_dir)
