"""Self-tests of the benchmark's own code (no Spark):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import random
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import datagen
import measure
import workloads as W

BENCHMARK_JSON = Path(__file__).resolve().parents[2] / "BENCHMARK.json"


def test_tail_is_the_sample_with_ten_beyond_it():
    xs = [float(i) for i in range(1, 21)]
    random.Random(0).shuffle(xs)
    t = measure.tail(xs)
    assert t == {"value": 10.0, "pct": 50.0, "n": 20}
    assert sum(x > t["value"] for x in xs) == 10
    big = measure.tail([float(i) for i in range(1000)])
    assert big["value"] == 989.0 and big["pct"] == 99.0
    assert measure.tail([1.0] * 11)["pct"] == pytest.approx(9.09)
    assert measure.tail([1.0] * 10) == {"value": None, "pct": None, "n": 10}


def test_self_time_subtracts_the_union_of_children():
    assert measure.self_time((0.0, 10.0), []) == 10.0
    assert measure.self_time((0.0, 10.0), [(1.0, 3.0), (5.0, 6.0)]) == 7.0
    # overlapping children count once; parts outside the span not at all
    assert measure.self_time((0.0, 10.0), [(1.0, 3.0), (2.0, 4.0), (8.0, 12.0)]) == 5.0
    assert measure.self_time((0.0, 10.0), [(-5.0, 20.0)]) == 0.0


def test_metric_name_charset():
    for good in ("setup_s", "operators.minhash.calls", "sources.nopush.sel_0p1_s", "a-1"):
        assert measure.valid_name(good)
    for bad in ("", "_x", ".x", "a b", "x/y", "é", "x" * 65):
        assert not measure.valid_name(bad)
    for name in list(measure.E2E_UNITS) + list(measure.LAYER_METRICS):
        assert measure.valid_name(name), name


def test_benchmark_json_matches_the_code():
    spec = json.loads(BENCHMARK_JSON.read_text())
    assert [w["name"] for w in spec["workloads"]] == list(W.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == measure.E2E_UNITS
    assert [m["name"] for m in spec["per_layer"]] == list(measure.LAYER_METRICS)
    for m in spec["per_layer"]:
        assert m["unit"] == measure.unit_of(m["name"]), m
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]] + [
        w["name"] for w in spec["workloads"]
    ]
    assert len(names) == len(set(names))


def test_digest_ignores_row_order_but_not_values():
    t = pa.table({"k": [1, 2, 3], "v": [0.1, 0.2, 0.3], "s": ["a", "b", None]})
    shuffled = t.take([2, 0, 1])
    assert measure.digest(t) == measure.digest(shuffled)
    assert measure.digest(t) != measure.digest(t.set_column(1, "v", pa.array([0.1, 0.2, 0.4])))
    # float noise below the 6th decimal is one answer; exact mode sees it
    noisy = t.set_column(1, "v", pa.array([0.1, 0.2, 0.3 + 1e-12]))
    assert measure.digest(t) == measure.digest(noisy)
    assert measure.digest(t, None) != measure.digest(noisy, None)


def test_fixtures_and_scan_layout_are_seed_deterministic(tmp_path):
    a = datagen.fixture_tables(0.001, 7)
    b = datagen.fixture_tables(0.001, 7)
    c = datagen.fixture_tables(0.001, 8)
    assert all(a[n].equals(b[n]) for n in a)
    assert not a["lineitem"].equals(c["lineitem"])
    pq.write_table(a["lineitem"], tmp_path / "li.parquet")
    l1 = datagen.write_scan_layout(str(tmp_path / "li.parquet"), str(tmp_path / "l1.parquet"), 2)
    l2 = datagen.write_scan_layout(str(tmp_path / "li.parquet"), str(tmp_path / "l2.parquet"), 2)
    assert l1.equals(l2)
    assert (tmp_path / "l1.parquet").read_bytes() == (tmp_path / "l2.parquet").read_bytes()


def test_op_order_is_seeded():
    names = [f"q_{i}" for i in range(13)]
    assert W.pass_order(names, 5, 0) == W.pass_order(names, 5, 0)
    assert W.pass_order(names, 5, 0) != W.pass_order(names, 6, 0)
    assert W.pass_order(names, 5, 0) != W.pass_order(names, 5, 1)
    assert sorted(W.pass_order(names, 5, 0)) == sorted(names)


def _layout(tmp_path):
    li = datagen.fixture_tables(W.FIXTURE_SF, W.FIXTURE_SEED)["lineitem"]
    pq.write_table(li, tmp_path / "li.parquet")
    return datagen.write_scan_layout(str(tmp_path / "li.parquet"), str(tmp_path / "l.parquet"), 2)


def test_seed_changes_predicates_not_membership(tmp_path):
    layout = _layout(tmp_path)
    p1, p2 = W.scan_points(layout, 1), W.scan_points(layout, 2)
    assert [p.name for p in p1] == [p.name for p in p2]
    assert len(p1) == len(W.SCAN_PATHS) * len(W.SELECTIVITIES)
    for a, b in zip(p1, p2):
        if a.sel == "100":
            assert (a.lo, a.hi) == (b.lo, b.hi)
        else:
            assert (a.lo, a.hi) != (b.lo, b.hi), a.name
    assert W.scan_points(layout, 1) == p1


def test_every_seed_hits_the_nominal_selectivity(tmp_path):
    layout = _layout(tmp_path)
    for seed in range(200):
        for pt in W.scan_points(layout, seed)[: len(W.SELECTIVITIES)]:
            exp = W.scan_expected(layout, pt)
            assert W.selectivity_ok(pt.sel, exp["achieved"], exp["rows"]), (seed, pt, exp)


class _Spec:
    def __init__(self, tags=()):
        self.tags = tags


def test_registry_membership_is_a_rule_over_the_registry():
    specs = {
        "q_dedup_a": _Spec(), "q_dedup_b": _Spec(), "q_sim_x": _Spec(),
        "q_vec_y": _Spec(), "q_multimodal_z": _Spec(), "q_text_t": _Spec(),
        "q_transform_u": _Spec(), "q_stream_live": _Spec(("live-stream",)),
        "q_stream_twin": _Spec(), "q_agg_h": _Spec(),
    }
    mix = W.registry_members("registry_mix", specs, {"q_agg_h", "q_missing"})
    assert "q_agg_h" in mix and "q_missing" not in mix
    assert sorted({W.family(n, specs[n].tags) for n in mix}) == sorted(W.MIX_FAMILIES + ("agg",))
    assert len(mix) == len(W.MIX_FAMILIES) + 1  # one op per family
    assert "q_stream_twin" not in mix  # batch twins are not live drains
    # a headline op that is also its family's pick is counted once
    assert W.registry_members("registry_mix", specs, set(mix)) == mix


def test_sql_metric_strings_parse_to_numbers():
    from layers import _metric_number

    assert _metric_number("60,170") == 60170
    assert _metric_number("1.5 KiB") == 1536
    assert _metric_number("total (min, med, max (stageId: taskId))\n216.0 B (72.0 B, 72.0 B)") == 216
    assert _metric_number("n/a") == 0.0
