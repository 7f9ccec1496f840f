"""SparkSession factory tuned for this engine.

Scale notes (100 TB design; locally local[N] with N = the cores this
process may run on, overridable with SPARK_GRAFT_CPUS):
- AQE on: runtime coalescing of shuffle partitions + skew-join splitting
  replaces hand-tuned partition counts when data grows 1000x.
- shuffle.partitions defaults small for local fixtures; on a real
  cluster AQE's coalesce makes the initial number mostly irrelevant as
  long as it's >= cluster parallelism (set via SPARK_GRAFT_SHUFFLE).
- Session timezone pinned UTC so timestamp semantics match the DuckDB
  oracle and are cluster-invariant.
- Arrow enabled: pandas UDF exchange is vectorized (the moral
  equivalent of SkyhookDM's storage-side vectorized Arrow processing,
  [U: cls_tabular_utils.cc — processArrow]).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _usable_cpus() -> int:
    """Cores this process may run on (its affinity mask, not the host's
    core count, so a pinned container gets what it was given)."""
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # no affinity API on this platform
        return os.cpu_count() or 1


_DEF_CPUS = os.environ.get("SPARK_GRAFT_CPUS") or str(_usable_cpus())


def get_spark(
    app_name: str = "skyhookdb_ceph_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    A single shared session is the intended usage pattern — the JVM
    startup cost is paid once and every query after that is
    tens-of-ms marginal cost (see BASELINE.md interpretation).

    If a session already exists it is returned AS-IS: getOrCreate
    would silently apply this call's runtime SQL confs onto it (Spark
    only warns), so a late get_spark(shuffle_partitions=32) from e.g.
    the CLI would rewrite the running session's partitioning out from
    under its owner — the conf-leak class the r7 test guard caught.
    Config changes require a fresh process (documented in the verify
    recipe); the FIRST get_spark in a process wins.
    """
    existing = SparkSession.getActiveSession()
    if existing is None:
        existing = getattr(SparkSession, "_instantiatedSession", None)
    if existing is not None:
        _warn_on_conf_divergence(existing, shuffle_partitions, extra_conf)
        return existing
    # local[N,M]: M task attempts.  Production Spark survives lost
    # executors by re-running failed tasks (spark.task.maxFailures,
    # default 4 on clusters); local mode defaults to ONE attempt, which
    # silently drops that whole resilience dimension from testing.
    # 2 attempts restores retry semantics locally (q_fault_task_retry
    # exercises the path) at zero cost when nothing fails.
    attempts = os.environ.get("SPARK_GRAFT_TASK_ATTEMPTS", "2")
    master = master or f"local[{_DEF_CPUS},{attempts}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 32k-row Arrow batches beat the 10k default ~18% on full-table
        # materialization (fewer batch boundaries, same peak memory at
        # these row widths); measured on q_scan_full at sf0.1.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "32768")
        .config("spark.sql.parquet.filterPushdown", "true")
        # events.parquet stores ts as INT64 TIMESTAMP(NANOS); Spark's
        # vectorized reader rejects it (PARQUET_TYPE_ILLEGAL).  Read the
        # raw long instead; Catalog.table("events") rebuilds a microsecond
        # timestamp (truncation matches DuckDB's ns->us read).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # allow Python DataSources (sources/skyhook_source.py) to accept
        # pushed filters — the SkyhookDM-style storage-side evaluation
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.sql.cbo.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # catalog tables (bucketed joins) go to scratch, not the repo cwd:
        # tmpfs locally, same rule as queries/_util.scratch.  A real
        # cluster MUST set SPARK_GRAFT_WAREHOUSE to shared storage.
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get(
                "SPARK_GRAFT_WAREHOUSE",
                "/dev/shm/skyhook_warehouse"
                if os.path.isdir("/dev/shm")
                else "/tmp/skyhook_warehouse",
            ),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.spill.compress", "true")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def _warn_on_conf_divergence(
    live: SparkSession,
    shuffle_partitions: int | None,
    extra_conf: dict[str, str] | None,
) -> None:
    """Diagnose silent conf loss when an existing session is reused.

    get_spark returns a pre-existing session untouched (the conf-leak
    guard), which means a caller's requested confs are DISCARDED.  When
    the request diverges from the live session's values, say so — a
    bench run after a library created a session would otherwise run
    with wrong settings and no signal."""
    import logging

    diffs: list[str] = []
    want: dict[str, str] = dict(extra_conf or {})
    if shuffle_partitions is not None:
        want["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    for k, v in want.items():
        try:
            have = live.conf.get(k, None)
        except Exception:
            have = None
        if have is not None and have != v:
            diffs.append(f"{k}: requested {v!r}, live session has {have!r}")
    if diffs:
        logging.getLogger(__name__).warning(
            "get_spark reused an existing SparkSession; requested confs "
            "were NOT applied (%s). Start a fresh process to change them.",
            "; ".join(diffs),
        )


def task_retries_available(spark: SparkSession) -> bool:
    """True iff a failed task attempt will be rescheduled.

    local[N,M] masters encode maxTaskFailures as M (1 = no retry —
    note "local[32,1]" CONTAINS a comma, so a substring test is
    wrong); a bare local[N] is single-attempt.  Only plain ``local[``
    masters are single-JVM schedulers with this encoding:
    ``local-cluster[...]`` simulates a real cluster and honors
    spark.task.maxFailures (default 4), so it IS retry-capable, as is
    any remote master.  Fault-injection queries consult this before
    raising, so they degrade to clean runs under retry-less sessions
    instead of failing the job."""
    import re

    master = spark.sparkContext.master
    if not re.match(r"^local(\[|$)", master):
        return True
    # Bare "local" is a valid single-thread, single-attempt scheduler;
    # local[N] likewise defaults maxTaskFailures to 1.  Only an
    # explicit local[N,M] with M > 1 retries.
    m = re.match(r"local\[(?:\d+|\*),\s*(\d+)\]", master)
    return bool(m and int(m.group(1)) > 1)
