"""Execution resilience and observability (SURVEY.md §2.16): lost-task
recovery on both sides of a shuffle, and QC metrics observed on the
same pass that produces the result, with their DuckDB oracles.

The fault queries inject a failure into the first attempt of one task
and need a session that allows retries (`session.task_retries_available`;
engine sessions run `local[N,2]`); `tests/test_fault.py` asserts that
the injection fires.  `q_observe_metrics` reads Spark's `Observation`
handle.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from skyhookdb_ceph_spark.queries._util import Catalog, local_df
from skyhookdb_ceph_spark.registry import query


_RETRY_ORACLE = """
SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
         AS sum_cents
FROM events GROUP BY event_type ORDER BY event_type
"""


@query("q_fault_task_retry", oracle=_RETRY_ORACLE, tags=("fault", "scale-design"))
def q_fault_task_retry(spark, sf_dir):
    """Lost-task recovery — the resilience dimension a 1000-executor
    job lives on (spark.task.maxFailures): one partition's FIRST task
    attempt deliberately raises mid-computation; Spark discards the
    failed attempt's output and reschedules, and the final answer must
    be byte-identical to a clean run — no loss, no double counting.
    The per-partition work is an Arrow-batched partial aggregate (the
    map-combine shape), so the retried unit is exactly the unit a
    lost executor would forfeit at scale.  Injection triggers only
    when the session allows >1 task attempt (engine sessions run
    local[N,2]; under a retry-less harness session this degrades to a
    clean run, same green result either way — tests/test_fault.py
    asserts the retry path actually fires in the engine session)."""
    import os

    import pandas as pd

    from pyspark.sql import types as T

    from skyhookdb_ceph_spark.session import task_retries_available

    retry_capable = task_retries_available(spark)
    # Firing evidence (tests/test_fault.py): accumulator updates from
    # FAILED task attempts are discarded by Spark's scheduler, so the
    # injection signals through a marker file instead — written only
    # when the test sets SPARK_GRAFT_FAULT_MARKER (driver/bench runs
    # have no side effects).  Every attempt of partition 0 drops a
    # `.{partition}.{attempt}` marker, so the test can assert BOTH the
    # injected attempt-0 failure and the successful attempt-1 retry.
    marker = os.environ.get("SPARK_GRAFT_FAULT_MARKER")

    out_schema = T.StructType(
        [
            T.StructField("event_type", T.StringType()),
            T.StructField("cnt", T.LongType()),
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
            with open(f"{marker}.reduce.{tc.attemptNumber()}", "w") as fh:
                fh.write("attempt ran")
        acc: dict = {}
        for pdf in batches:
            cents = np.floor(pdf["value"].to_numpy() * 100).astype("int64")
            for et, c in zip(pdf["event_type"], cents):
                n, s = acc.get(et, (0, 0))
                acc[et] = (n + 1, s + int(c))
            if inject:
                # Fail AFTER partial work so a buggy retry that kept
                # attempt-0 output would double-count and go red.
                raise RuntimeError(
                    "injected task failure (attempt 0, partition 0)"
                )
        yield pd.DataFrame(
            [
                {"event_type": k, "cnt": n, "cents": s}
                for k, (n, s) in acc.items()
            ],
            columns=["event_type", "cnt", "cents"],
        )

    e = Catalog(spark, sf_dir).events.select("event_type", "value")
    partials = e.repartition(8, "event_type").mapInPandas(partial, out_schema)
    return (
        partials.groupBy("event_type")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_events"),
            F.sum("cents").cast("bigint").alias("sum_cents"),
        )
        .orderBy("event_type")
    )


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
