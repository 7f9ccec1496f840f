"""Bench-gate transparency (r6 verdict items 6 and 8): the gate's
baseline constants come from BASELINE.md §A (no inline-literal drift),
and the global-window allowlist matches the actually-audited set."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

import bench  # noqa: E402

EXPECTED_HEADLINE = {
    "q_scan_full": 775.0,
    "q_filter_gt": 174.0,
    "q_filter_range_conj": 0.9,
    "q_agg_scalar": 12.6,
    "q_agg_groupby": 31.1,
    "q_join_inner_hash": 32.3,
    "q_join_multiway": 8.0,
    "q_win_rank": 33.3,
    "q_topk": 63.0,
    "q_fn_map_json": 12.3,
    "q_stream_tumbling": 8.1,
    "q_dedup_exact": 4.0,
    "q_sim_knn": 5.7,
}


def test_headline_baselines_parse_from_baseline_md():
    """The §A markdown table is the single source of truth; the bench
    must read exactly the 13 documented (QueryID, ms) pairs from it.
    If BASELINE.md §A is re-measured, THIS table is updated in the
    same commit — the test pins parse agreement, not history."""
    parsed = bench.load_headline_baselines()
    assert parsed == EXPECTED_HEADLINE


def test_gate_population_is_the_headline_set():
    assert bench.HEADLINE == set(EXPECTED_HEADLINE)


def test_build_gate_median_of_3_shape():
    """r7 verdict item 2: the headline gate is a median-of-3 with the
    per-rep samples and spread recorded, so box noise (±15 % single
    runs, BASELINE.md §G) is visible rather than silently gated on.
    Pins: median is the gated time, samples echo sorted reps, spread
    = max - min, ratios derive from the median, and kind splits on
    baseline-vs-floor."""
    floor = 0.081
    # q_scan_full baseline 775 ms > floor -> "data"; q_sim_knn 5.7 ms
    # < floor -> "floor".  Times are the medians of the sample lists.
    times = {"q_scan_full": 0.8, "q_sim_knn": 0.2}
    samples = {
        "q_scan_full": [0.7, 0.8, 1.0],
        "q_sim_knn": [0.15, 0.2, 0.31],
    }
    gate = bench.build_gate(times, samples, floor)
    g = gate["q_scan_full"]
    assert g["kind"] == "data"
    assert g["samples_sec"] == [0.7, 0.8, 1.0]
    assert g["spread_sec"] == round(1.0 - 0.7, 4)
    assert g["raw_ratio"] == round(0.8 / 0.775, 2)
    assert g["net_ratio"] == round((0.8 - floor) / 0.775, 2)
    k = gate["q_sim_knn"]
    assert k["kind"] == "floor"
    assert k["spread_sec"] == round(0.31 - 0.15, 4)
    # A query with no recorded samples (defensive path) gates on its
    # single time with zero spread.
    solo = bench.build_gate({"q_topk": 0.3}, {}, floor)["q_topk"]
    assert solo["samples_sec"] == [0.3] and solo["spread_sec"] == 0.0


def test_window_audit_ignores_asc_desc_inside_partition_exprs(spark):
    """The audit must classify windowspecdefinition args by the
    trailing sort-order GRAMMAR ("... ASC NULLS FIRST"), not a bare
    " ASC"/" DESC" substring: a partition expression whose printed
    form merely contains those tokens (here a literal 'X ASC') was
    miscounted as a sort key, flagging a partitioned window as
    unpartitioned."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from skyhookdb_ceph_spark.plans.explain import count_unpartitioned_windows

    df = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    w = Window.partitionBy(
        F.col("event_type") == F.lit("X ASC")
    ).orderBy("ts")
    out = df.select("event_type", F.row_number().over(w).alias("rn"))
    assert count_unpartitioned_windows(out) == 0


@pytest.fixture(scope="session")
def audited_registry():
    """(defaultParallelism, {query: (unpartitioned windows, plan
    digest)}) from `tools/plan_audit.audit_registry`, which builds
    every batch query once (a `collect_local` query contributes the
    frame it collected).  It runs in a fresh process, so the plans are
    built in a session of their own, as the `--digests` run that wrote
    tests/plan_digests.json built them."""
    code = (
        "import json; from tools.plan_audit import audit_registry; "
        "print(json.dumps(audit_registry()))"
    )
    env = {**os.environ, "PYTHONPATH": str(REPO)}
    res = subprocess.run(
        [sys.executable, "-c", code], cwd=REPO, env=env,
        capture_output=True, text=True, timeout=1200,
    )
    assert res.returncode == 0, res.stderr[-3000:]
    return json.loads(res.stdout.splitlines()[-1])


def test_window_allowlist_matches_audited_registry(audited_registry):
    """Re-audit: every registered batch query's optimized plan is
    scanned for empty-partition window specs; the set with at least
    one must equal bench.WINDOW_ALLOWLIST exactly.  A new global
    window outside the list fails here AND surfaces in the bench
    record's "unpartitioned_windows"; an allowlist entry whose global
    window was fixed fails here too (stale allowlist).  Live-stream
    drains build a fresh stream pipeline per call and are left out."""
    found = {name for name, (windows, _) in audited_registry[1].items() if windows}
    assert found == bench.WINDOW_ALLOWLIST, (
        sorted(found - bench.WINDOW_ALLOWLIST),
        sorted(bench.WINDOW_ALLOWLIST - found),
    )


def test_plan_digests_match(audited_registry):
    """Every batch query's normalized optimized plan hashes to its
    entry in tests/plan_digests.json (`tools/plan_audit.py --digests`).
    A change that only moves code shows here that no plan changed; a
    change that means to change plans regenerates the file, and its
    diff names each changed query.  The file records the
    defaultParallelism it was made at, which some plans embed
    (`ensure_parallelism` widths, range splits)."""
    rec = json.loads((REPO / "tests" / "plan_digests.json").read_text())
    have, audit = audited_registry
    if rec["default_parallelism"] != have:
        pytest.skip(
            f"digests were made at defaultParallelism "
            f"{rec['default_parallelism']}; this session has {have}"
        )
    got = {n: d for n, (_, d) in audit.items()}
    want = rec["digests"]
    changed = sorted(n for n in want.keys() & got.keys() if want[n] != got[n])
    assert (changed, sorted(got.keys() - want.keys()), sorted(want.keys() - got.keys())) == (
        [], [], []
    ), "plan digests differ (changed, unrecorded, missing)"


def test_box_state_and_certification_rule():
    """The co-tenancy refusal rule (BASELINE.md §L.3): loaded box ->
    uncertified record; quiet box -> certified, no reason."""
    from bench import box_state, certify_gate

    b = box_state()
    assert b["ncpu"] >= 1 and b["spin_mops"] > 0
    assert len(b["loadavg"]) == 3
    ok, reason = certify_gate({"loadavg": [1.0, 0, 0], "ncpu": 32})
    assert ok and reason is None
    bad, why = certify_gate({"loadavg": [20.0, 0, 0], "ncpu": 32})
    assert not bad and "loadavg1" in why
    # no /proc -> nothing to refuse on
    ok2, _ = certify_gate({"loadavg": [-1.0, -1.0, -1.0], "ncpu": 32})
    assert ok2


def test_certify_gate_refuses_on_low_spin_mops():
    """r11 verdict item 1: loadavg alone certified a contended run
    (BENCH_r11: spin 23% low, dispatch floor doubled, loadavg 5.61 <
    8).  The gate must ALSO refuse when the busy-spin rate sits below
    0.85x the stored quiet-box calibration — §L.3's 'co-tenancy
    tell' — even when loadavg looks clean."""
    from bench import certify_gate, load_quiet_spin

    cal = {"spin_mops": 22.0}
    quiet = {"loadavg": [1.0, 0, 0], "ncpu": 32, "spin_mops": 21.5}
    ok, reason = certify_gate(quiet, cal)
    assert ok and reason is None
    # 18.52/22 = 0.84 < 0.85 — exactly the r11 shape the rule rejects
    contended = {"loadavg": [1.0, 0, 0], "ncpu": 32, "spin_mops": 18.4}
    bad, why = certify_gate(contended, cal)
    assert not bad and "spin_mops" in why and "quiet-box" in why
    # loadavg breach still refuses first, regardless of spin
    loaded = {"loadavg": [20.0, 0, 0], "ncpu": 32, "spin_mops": 25.0}
    bad2, why2 = certify_gate(loaded, cal)
    assert not bad2 and "loadavg1" in why2
    # no calibration stored -> spin check degrades to loadavg-only
    ok3, _ = certify_gate(contended, None)
    assert ok3
    # the repo ships a real calibration for THIS box
    stored = load_quiet_spin()
    assert stored is not None and stored["spin_mops"] > 0


def test_await_quiet_box_waits_out_a_transient_co_tenant():
    """r12 verdict item 2: the single 5-second rerun proved too short
    (BENCH_r12's both samples landed inside one co-tenant burst).
    The bounded wait must (a) return immediately on a quiet first
    sample, (b) keep re-sampling through a transient burst and
    certify on the first quiet re-measure with every attempt
    recorded, and (c) exhaust the budget against a persistent
    co-tenant and ship uncertified with all samples visible."""
    from bench import await_quiet_box

    cal = {"spin_mops": 22.0}
    quiet = {"loadavg": [1.0, 0, 0], "ncpu": 32, "spin_mops": 21.5}
    busy = {"loadavg": [20.0, 0, 0], "ncpu": 32, "spin_mops": 12.0}

    # (a) quiet first sample: no sleeping, no attempts key
    slept: list[float] = []
    box, ok, why = await_quiet_box(
        cal, sleep=slept.append, sample=lambda: dict(quiet)
    )
    assert ok and why is None and not slept and "attempts" not in box

    # (b) two busy samples then quiet: certified on attempt 3, the
    # first sample preserved, exactly two sleeps taken
    seq = [dict(busy), dict(busy), dict(quiet), dict(quiet)]
    slept = []
    box, ok, why = await_quiet_box(
        cal, sleep=slept.append, sample=lambda: seq.pop(0)
    )
    assert ok and why is None
    assert len(box["attempts"]) == 3
    assert box["first_attempt"]["spin_mops"] == 12.0
    assert slept == [5.0, 10.0]

    # (c) persistent co-tenant: budget exhausted, uncertified, every
    # sample recorded (1 initial + len(delays) retries)
    slept = []
    box, ok, why = await_quiet_box(
        cal, sleep=slept.append, sample=lambda: dict(busy)
    )
    assert not ok and "loadavg1" in why
    assert len(box["attempts"]) == 6 and len(slept) == 5


def test_bench_record_describes_itself(monkeypatch):
    """Every bench_full_r*.json carries its round, UTC time, git
    revision, and the cores it ran on vs the machine's."""
    monkeypatch.setenv("SPARK_GRAFT_BENCH_ROUND", "7")
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    tag = bench.round_tag()
    prov = bench.provenance(tag, "local[3,1]")
    assert tag == 7 and prov["round"] == 7
    assert prov["utc"].endswith("+00:00")
    assert prov["git_sha"] is None or len(prov["git_sha"]) == 40
    assert prov["spark_graft_cpus"] == "3" and prov["master"] == "local[3,1]"
    assert prov["os_cpu_count"] == os.cpu_count()
