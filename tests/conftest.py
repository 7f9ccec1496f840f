"""Shared fixtures: one SparkSession for the whole test run."""

from __future__ import annotations

import pytest

from skyhookdb_ceph_spark.session import get_spark

SF_SMALL = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    # Retry-LESS session (local[N,1]): the engine default is local[N,2]
    # (session.py — production resilience), but under test a silent
    # second attempt would mask first-attempt flakiness in ordinary
    # queries (r6 verdict item 7).  Retry semantics are exercised
    # explicitly by tests/test_fault.py in a retry-capable subprocess.
    import os

    os.environ.setdefault("SPARK_GRAFT_TASK_ATTEMPTS", "1")
    s = get_spark(app_name="skyhook_tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_small():
    return SF_SMALL


# Confs every test must leave the way it found them — a leak here
# poisons every later test in the shared session (the r7 sweep caught
# drain_to_memory leaking minBatchesToRetain=1, which silently pruned
# later checkpoints' commit logs).  Checked after EVERY test; queries
# and helpers that tune these for one job must restore them in finally.
_WATCHED_CONFS = (
    "spark.sql.shuffle.partitions",
    "spark.sql.streaming.minBatchesToRetain",
    "spark.sql.streaming.noDataMicroBatches.enabled",
    "spark.sql.parquet.aggregatePushdown",
    "spark.sql.sources.useV1SourceList",
    "spark.sql.session.timeZone",
    "spark.sql.adaptive.enabled",
)

# RuntimeConfig.get(k, None) returns None for a key never explicitly
# set, even when Spark has a built-in default — unset vs
# set-to-default is behaviorally identical, so normalize before
# diffing (a restore that writes the default back is not a leak).
_CONF_DEFAULTS = {
    "spark.sql.streaming.minBatchesToRetain": "100",
    "spark.sql.streaming.noDataMicroBatches.enabled": "true",
    "spark.sql.parquet.aggregatePushdown": "false",
    "spark.sql.sources.useV1SourceList": "avro,csv,json,kafka,orc,parquet,text",
}


@pytest.fixture(autouse=True)
def _no_session_conf_leaks():
    """Fail the leaking test itself, not an arbitrary later victim."""
    from pyspark.sql import SparkSession

    s = getattr(SparkSession, "_instantiatedSession", None)
    if s is None:
        yield
        return

    def snap():
        out = {}
        for k in _WATCHED_CONFS:
            try:
                v = s.conf.get(k, None)
            except Exception:  # noqa: BLE001 — conf may be unreadable mid-stop
                v = None
            out[k] = _CONF_DEFAULTS.get(k) if v is None else v
        return out

    before = snap()
    yield
    after = snap()
    leaked = {k: (before[k], after[k]) for k in before if before[k] != after[k]}
    assert not leaked, f"session conf leaked (before, after): {leaked}"


def own_scratch_entries(root: str, pid: int) -> set[str]:
    """The skyhook_* entries under `root` that process `pid` made
    (queries/_util.scratch names them ``<prefix><pid>_*``); other
    processes sharing the root are not this run's leaks."""
    import os
    import re

    own = re.compile(rf"skyhook_.*_{pid}(_|$)")
    try:
        return {e for e in os.listdir(root) if own.match(e)}
    except OSError:
        return set()


@pytest.fixture(autouse=True)
def _no_scratch_leaks():
    """Fail the test that leaves a new skyhook_* entry of this process
    in the scratch dir (queries/_util.scratch).  Allowed by name: the
    process-lived q_schema_evolve output, the warehouse and the
    checkpoint base."""
    import os
    import tempfile

    from skyhookdb_ceph_spark.queries._util import _scratch_dir

    root = _scratch_dir() or tempfile.gettempdir()
    pid = os.getpid()
    allowed = {
        f"skyhook_evolve_out_{pid}",
        "skyhook_warehouse",
        "skyhook_stream_ckpt",
    }
    before = own_scratch_entries(root, pid)
    yield
    leaked = sorted(own_scratch_entries(root, pid) - before - allowed)
    assert not leaked, f"scratch entries leaked into {root}: {leaked}"
