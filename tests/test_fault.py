"""Fault-tolerance evidence: both injection modes (reduce-side retry in
q_fault_task_retry, map-side shuffle-output loss in
q_fault_shuffle_retry) must ACTUALLY FIRE and still produce the clean
answer.

Runs in a subprocess with an explicitly retry-capable session
(local[N,2]) because the shared test session opts OUT of task retries
(conftest.py — ordinary tests must surface first-attempt flakiness, r6
verdict item 7).  Firing is proven through marker files, not an
accumulator: Spark discards accumulator updates from FAILED task
attempts, so an accumulator bumped just before the injected raise would
never reach the driver — a file written by the failing attempt does.
Each attempt of the injected partition drops a `.{stage}.{attempt}`
marker, so the test asserts all four events: injected attempt 0 AND
successful retry attempt 1, for BOTH the reduce-side and map-side
queries (a vacuous run — injection never reached — leaves no attempt-0
marker and fails loudly, closing the r6 verdict's ADVICE #3)."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

REPO = str(Path(__file__).resolve().parent.parent)

_PROBE = """
import json
from pyspark.sql import functions as F
from skyhookdb_ceph_spark.catalog import Catalog
from skyhookdb_ceph_spark.registry import load_all
from skyhookdb_ceph_spark.session import get_spark

SF = "/root/testdata/sf0.001"
from skyhookdb_ceph_spark.session import task_retries_available

spark = get_spark(app_name="fault_probe", shuffle_partitions=8)
assert task_retries_available(spark), spark.sparkContext.master

out = {}
for qid in ("q_fault_task_retry", "q_fault_shuffle_retry"):
    rows = load_all()[qid].fn(spark, SF).collect()
    out[qid] = sorted([str(v) for v in r] for r in rows)

e = Catalog(spark, SF).events
cents = F.floor(F.col("value") * 100).cast("bigint")
clean = (
    e.groupBy("event_type")
    .agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.min(cents).cast("bigint").alias("min_cents"),
        F.max(cents).cast("bigint").alias("max_cents"),
        F.sum(cents).cast("bigint").alias("sum_cents"),
    )
    .collect()
)
out["clean_task"] = sorted(
    [str(r["event_type"]), str(r["n_events"]), str(r["sum_cents"])]
    for r in clean
)
out["clean_shuffle"] = sorted(
    [
        str(r["event_type"]), str(r["n_events"]), str(r["min_cents"]),
        str(r["max_cents"]), str(r["sum_cents"]),
    ]
    for r in clean
)
print(json.dumps(out))
"""


def test_both_fault_modes_fire_and_recover_exactly(tmp_path):
    marker = tmp_path / "fired"
    env = dict(
        os.environ,
        SPARK_GRAFT_FAULT_MARKER=str(marker),
        SPARK_GRAFT_TASK_ATTEMPTS="2",
    )
    res = subprocess.run(
        [sys.executable, "-c", _PROBE],
        capture_output=True,
        text=True,
        env=env,
        cwd=REPO,
        timeout=600,
    )
    assert res.returncode == 0, res.stderr[-3000:]
    out = json.loads(res.stdout.strip().splitlines()[-1])

    # 1. Firing evidence: for each mode, the injected attempt 0 ran
    #    (and raised) AND the retry attempt 1 ran.  No marker => the
    #    injection guard never triggered => the test would be vacuous.
    for stage in ("reduce", "map"):
        assert (tmp_path / f"fired.{stage}.0").exists(), f"{stage} attempt 0 never ran"
        assert (tmp_path / f"fired.{stage}.1").exists(), f"{stage} retry never ran"

    # 2. Exactly-once recovery: the injected runs equal the clean
    #    aggregate — a retry that kept the failed attempt's (partial)
    #    output would double-count and differ.
    assert out["q_fault_task_retry"] == out["clean_task"]
    assert out["q_fault_shuffle_retry"] == out["clean_shuffle"]


def test_shared_test_session_has_no_retries(spark):
    """The conftest session must be retry-LESS so ordinary tests see
    first-attempt failures instead of silently passing on attempt 2
    (r6 verdict item 7).  Retry semantics are exercised explicitly by
    the subprocess test above."""
    from skyhookdb_ceph_spark.session import task_retries_available

    assert not task_retries_available(spark), spark.sparkContext.master


def test_get_spark_warns_when_reuse_discards_confs(spark, caplog):
    """get_spark returns a pre-existing session untouched (the r7
    conf-leak guard) — which silently DISCARDS the caller's requested
    confs.  When the request diverges from the live session it must at
    least say so, or a bench run after a library created a session
    runs with wrong settings and no signal."""
    import logging

    from skyhookdb_ceph_spark.session import get_spark

    live = spark.conf.get("spark.sql.shuffle.partitions")
    want = int(live) + 7
    with caplog.at_level(logging.WARNING, logger="skyhookdb_ceph_spark.session"):
        got = get_spark(shuffle_partitions=want)
    assert got is spark  # reused, untouched
    assert spark.conf.get("spark.sql.shuffle.partitions") == live
    assert any(
        "NOT applied" in m and "shuffle.partitions" in m
        for m in caplog.messages
    )
    # And silence when the request matches the live session.
    caplog.clear()
    with caplog.at_level(logging.WARNING, logger="skyhookdb_ceph_spark.session"):
        get_spark(shuffle_partitions=int(live))
    assert not caplog.records


def test_retry_guard_parses_masters_correctly():
    """Regression: "local[32,1]" CONTAINS a comma — the old substring
    guard classified a retry-LESS session as retry-capable, fired the
    injection, and failed the job (found by the r7 bench)."""
    from skyhookdb_ceph_spark.session import task_retries_available

    class _SC:
        def __init__(self, m):
            self.master = m

    class _S:
        def __init__(self, m):
            self.sparkContext = _SC(m)

    cases = {
        "local[32,1]": False,
        "local[32,2]": True,
        "local[32]": False,
        "local[*]": False,
        # Bare "local" (no bracket) is a valid single-attempt master;
        # the ^local\[ regex alone would fall through to True.
        "local": False,
        "local[*,3]": True,
        "spark://host:7077": True,
        "yarn": True,
        # local-cluster simulates a real cluster: it honors
        # spark.task.maxFailures (default 4) and IS retry-capable —
        # startswith("local") must not swallow it.
        "local-cluster[2,1,1024]": True,
    }
    for master, expected in cases.items():
        assert task_retries_available(_S(master)) is expected, master


def test_default_master_cores_follow_the_affinity_mask():
    """Without SPARK_GRAFT_CPUS the local master gets the cores this
    process may run on; an explicit value still wins."""
    probe = "from skyhookdb_ceph_spark import session; print(session._DEF_CPUS)"

    def cores(**env_over):
        env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CPUS"}
        env.update(env_over)
        out = subprocess.run(
            [sys.executable, "-c", probe], cwd=REPO, env=env,
            capture_output=True, text=True, timeout=120, check=True,
        ).stdout
        return out.strip().splitlines()[-1]

    assert cores() == str(len(os.sched_getaffinity(0)))
    assert cores(SPARK_GRAFT_CPUS="3") == "3"
