"""Workload definitions: which ops a run executes, in which order, and
how each op's answer is checked.

Membership is a rule over the query registry (or, for the pushdown
sweep, over paths x selectivities), never a hand-kept list; the seed
only changes the op order of every pass and the scan predicates.
"""

from __future__ import annotations

import hashlib
import random
from dataclasses import dataclass
from typing import Callable

import pyarrow as pa
import pyarrow.compute as pc

from measure import SCAN_PATHS, SELECTIVITY_TAGS

FIXTURE_SF = 0.01
FIXTURE_SEED = 42  # fixed: registry answers (and their oracle cache) do not depend on --seed
SCAN_COPIES = 2  # key-shifted lineitem replicas in the pushdown layout
SELECTIVITIES = tuple(zip(SELECTIVITY_TAGS, (None, 0.001, 0.01, 0.1, 0.5, 1.0)))
# One op per family, chosen by rule, next to the headline set.  These
# families cover the operators (vectors, multimodal), streaming and
# file-writing layers; sim, text and maint are left out because their
# rule-chosen ops are the costliest (2-3 s steady, 4-8 s cold on 4 cores)
# and the benchmark's time budget cannot hold them.
MIX_FAMILIES = ("dedup", "vec", "multimodal", "transform", "stream")


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    rule: str
    pass_s: float  # nominal steady pass time on the reference box (4 cores)


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "registry_mix",
            "headline OLAP queries plus one LLM-data/ingest op per family: session, "
            "catalog, plan build, operators, streaming and writers; sources idle",
            "the union of the BASELINE.md section A headline queries (bench.HEADLINE) "
            "and, for each family dedup/vec/multimodal/transform/stream (live drain), "
            "the registry op with the smallest sha256(QueryID)",
            8.1,
        ),
        Workload(
            "scan_pushdown",
            "the paper's experiment: range filters at six selectivities through the "
            "native reader and the Python source with pushdown on and off",
            "every (path, selectivity) pair of paths native/push/nopush and "
            "selectivities point/0.1/1/10/50/100 %",
            10.0,
        ),
    )
}


def family(name: str, tags: tuple[str, ...]) -> str:
    """q_<family>_...; a live stream drain is family 'stream' only when
    tagged live-stream (q_stream_* batch twins are not drains)."""
    fam = name.split("_")[1]
    if fam == "stream" and "live-stream" not in tags:
        return "stream_twin"
    return fam


def registry_members(workload: str, specs: dict, headline: set[str]) -> list[str]:
    if workload != "registry_mix":
        raise KeyError(workload)
    members = {n for n in specs if n in headline}
    for fam in MIX_FAMILIES:
        names = [n for n, s in specs.items() if family(n, s.tags) == fam]
        members.add(min(names, key=lambda n: hashlib.sha256(n.encode()).hexdigest()))
    return sorted(members)


def pass_order(names: list[str], seed: int, pass_no: int) -> list[str]:
    """Seeded op order for one pass (pass_no -1 is the warm pass)."""
    order = sorted(names)
    random.Random(f"{seed}:{pass_no}").shuffle(order)
    return order


@dataclass(frozen=True)
class ScanPoint:
    path: str  # native | push | nopush
    sel: str  # pt | 0p1 | 1 | 10 | 50 | 100
    lo: int  # l_orderkey >= lo
    hi: int  # l_orderkey < hi

    @property
    def name(self) -> str:
        return f"scan_{self.path}_sel_{self.sel}"


def scan_points(layout: pa.Table, seed: int) -> list[ScanPoint]:
    """The 18 pushdown ops.  The layout is sorted by l_orderkey, so a
    range of row positions is a key range: the seed places a window of
    the nominal share of rows, and its boundary keys become the
    predicate.  The 100 % point always spans every key."""
    keys = layout["l_orderkey"]
    n = len(keys)
    rng = random.Random(f"{seed}:scan")
    ranges = {}
    for sel, frac in SELECTIVITIES:
        if frac is None:  # a present key: the orderkey of a seeded row
            k = keys[rng.randrange(n)].as_py()
            ranges[sel] = (k, k + 1)
        elif frac >= 1.0:
            ranges[sel] = (keys[0].as_py(), keys[n - 1].as_py() + 1)
        else:
            width = int(n * frac)
            r0 = rng.randrange(n - width)
            ranges[sel] = (keys[r0].as_py(), keys[r0 + width].as_py())
    return [ScanPoint(p, s, *ranges[s]) for p in SCAN_PATHS for s, _ in SELECTIVITIES]


def scan_expected(layout: pa.Table, pt: ScanPoint) -> dict:
    """Reference answer from pyarrow: matching rows, their price sum,
    and the achieved selectivity."""
    k = layout["l_orderkey"]
    mask = pc.and_(pc.greater_equal(k, pt.lo), pc.less(k, pt.hi))
    rows = layout.filter(mask)
    total = pc.sum(rows["l_extendedprice"]).as_py() or 0.0
    return {"rows": rows.num_rows, "sum": total, "achieved": rows.num_rows / layout.num_rows}


def selectivity_ok(sel: str, achieved: float, rows: int) -> bool:
    """Achieved selectivity within 25 % of nominal (a point hits 1-7 rows)."""
    if sel == "pt":
        return 1 <= rows <= 7
    nominal = dict(SELECTIVITIES)[sel]
    return abs(achieved - nominal) <= 0.25 * nominal


def scan_builder(spark, path: str, pt: ScanPoint) -> Callable:
    """A fresh DataFrame per call: the Python source caches the planned
    scan on the relation instance (sources/skyhook_source.read_skyhook)."""
    from skyhookdb_ceph_spark.sources import skyhook_source as src

    def build():
        if pt.path == "native":
            df = spark.read.parquet(path)
        elif pt.path == "push":
            df = src.read_skyhook(spark, path)
        else:
            df = src.read_skyhook_no_pushdown(spark, path)
        return df.filter(f"l_orderkey >= {pt.lo} AND l_orderkey < {pt.hi}").select(
            "l_orderkey", "l_extendedprice"
        )

    return build
