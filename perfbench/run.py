#!/usr/bin/env python3
"""Benchmark of the spark-skyhook engine: one workload, one seed, one
process on local[nproc], one closed-loop client.

    python3 perfbench/run.py --workload registry_mix --seed 1 --seconds 16 --trace 0

Run from the root of a checkout.  The benchmark generates its own
inputs inside the checkout (under .perfbench/), starts the engine with
the bench.py session profile, runs a warm pass (each registry op once,
its answer checked against the DuckDB oracle; each scan path once),
then whole timed passes in seeded order: a registry repeat must equal
its warm answer, and every scan is checked against pyarrow.  A failed
check or an exception counts as a failed op.  stdout ends with two
JSON lines: the self-describing
record, then the result line {"correct", "attempted", "failed",
"metrics"}.  --trace 0 reports the end-to-end metrics; --trace 1 wraps
the calls into every layer (layers.py) and reports per-layer metrics.
"""

from __future__ import annotations

import sys
import time

T0 = time.perf_counter()
sys.dont_write_bytecode = True  # every run compiles the same sources: steady set-up

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
from datetime import datetime, timezone  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
INPUT_BUILDS = 3  # set-up input is built this many times; set-up time uses the median
# Driver heap, fixed (-Xms = -Xmx): 2 GB is ample for the fixtures
# (session.py defaults to 8 GB), and a heap that never resizes keeps
# peak RSS from following GC sizing decisions that track the box's speed.
DRIVER_HEAP = "2g"
MB = 1e6

import measure  # noqa: E402
import workloads as W  # noqa: E402


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(W.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def checkout_ok() -> str | None:
    for rel in ("skyhookdb_ceph_spark/registry.py", "bench.py", "tools/verify_local.py"):
        if not (ROOT / rel).is_file():
            return f"{rel} not found under {ROOT}: run from the root of a spark-skyhook checkout"
    return None


def pin_env(work: Path, nproc: int, trace: bool) -> None:
    """Everything the engine, the JVM and Python workers write goes
    under the run's work dir; SPARK_GRAFT_CPUS follows the machine
    (session.py defaults to 32)."""
    dirs = {k: work / v for k, v in (
        ("SPARK_GRAFT_SCRATCH", "scratch"),
        ("SPARK_GRAFT_WAREHOUSE", "warehouse"),
        ("SPARK_GRAFT_STREAM_CKPT", "ckpt"),
        ("SPARK_LOCAL_DIRS", "spark-local"),
        ("TMPDIR", "tmp"),
    )}
    for k, d in dirs.items():
        d.mkdir(parents=True, exist_ok=True)
        os.environ[k] = str(d)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_HEAP
    os.environ["SPARK_GRAFT_TASK_ATTEMPTS"] = "1"
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    if trace:
        os.environ["SPARK_GRAFT_PLAN_STATS_FILE"] = str(work / "plan_stats.json")
    else:
        os.environ.pop("SPARK_GRAFT_PLAN_STATS_FILE", None)


def descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        try:
            with open(f"/proc/{p}/task/{p}/children") as fh:
                kids = [int(x) for x in fh.read().split()]
        except OSError:
            kids = []
        out += kids
        todo += kids
    return out


def _proc_field(pid: int, field: str) -> str | None:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(field + ":"):
                    return line.split(":", 1)[1].strip()
    except OSError:
        return None
    return None


def peak_rss_mb() -> float:
    """Peak resident memory (VmHWM) of this Python driver plus the
    driver JVM, from /proc."""
    total_kb = 0
    for pid in [os.getpid()] + descendants(os.getpid()):
        if pid != os.getpid() and _proc_field(pid, "Name") != "java":
            continue
        hwm = _proc_field(pid, "VmHWM")
        if hwm:
            total_kb += int(hwm.split()[0])
    return total_kb * 1024 / MB


def cpu_times() -> list[int]:
    """Aggregate CPU jiffies from /proc/stat (user .. steal)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def dir_mb(paths) -> float:
    total = 0
    for base in paths:
        for dirpath, _, files in os.walk(base):
            for f in files:
                try:
                    total += os.lstat(os.path.join(dirpath, f)).st_size
                except OSError:
                    pass
    return total / MB


def git_state() -> dict:
    # the ceiling keeps git from reporting an enclosing repository
    env = {**os.environ, "GIT_CEILING_DIRECTORIES": str(ROOT.parent)}
    try:
        sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10, env=env)
        dirty = subprocess.run(["git", "status", "--porcelain"], cwd=ROOT, capture_output=True,
                               text=True, timeout=10, env=env)
    except (OSError, subprocess.SubprocessError):
        return {"sha": None, "dirty": None}
    if sha.returncode != 0:
        return {"sha": None, "dirty": None}  # not a git checkout
    return {"sha": sha.stdout.strip(), "dirty": bool(dirty.stdout.strip())}


class Op:
    """One benchmark op: ``build()`` returns a DataFrame; ``check(table,
    df)`` returns None when an answer is right, else the reason.  A
    ``warm`` op runs in the warm pass; a ``check_each`` op is checked on
    every execution, the others on the warm one, and each repeat must
    then equal the warm answer."""

    def __init__(self, name, build, check, warm=True, check_each=False):
        self.name, self.build, self.check = name, build, check
        self.warm, self.check_each = warm, check_each


def build_inputs(workload: str, dest: Path) -> dict:
    import datagen

    fixtures = dest / "fixtures"
    sizes = datagen.write_fixtures(str(fixtures), W.FIXTURE_SF, W.FIXTURE_SEED)
    info = {"fixture_dir": str(fixtures), "fixture_bytes": sizes}
    if workload == "scan_pushdown":
        layout_path = dest / "lineitem_objects.parquet"
        layout = datagen.write_scan_layout(
            str(fixtures / "lineitem.parquet"), str(layout_path), W.SCAN_COPIES
        )
        import pyarrow.parquet as pq

        md = pq.ParquetFile(str(layout_path)).metadata
        info.update(layout_path=str(layout_path), layout=layout,
                    layout_rows=md.num_rows, layout_row_groups=md.num_row_groups,
                    layout_bytes=os.path.getsize(layout_path), copies=W.SCAN_COPIES)
    return info


def make_ops(workload, spark, specs, headline, inputs, oracle, seed) -> dict[str, Op]:
    from oracle import to_pandas

    ops = {}
    if workload == "scan_pushdown":
        layout = inputs["layout"]
        for pt in W.scan_points(layout, seed):
            exp = W.scan_expected(layout, pt)

            def check(table, df, pt=pt, exp=exp):
                import pyarrow.compute as pc

                got = pc.sum(table["l_extendedprice"]).as_py() if table.num_rows else 0.0
                if table.num_rows != exp["rows"] or abs(got - exp["sum"]) > 1e-6 * max(1.0, abs(exp["sum"])):
                    return f"rows/sum {table.num_rows}/{got} != pyarrow {exp['rows']}/{exp['sum']}"
                if not W.selectivity_ok(pt.sel, exp["achieved"], exp["rows"]):
                    return f"achieved selectivity {exp['achieved']:.5f} off nominal {pt.sel}"
                return None

            # One warm op per path: a new predicate is what an ad-hoc
            # scan pays for, so the other points run cold of their own
            # plan, and each execution is checked against pyarrow.
            ops[pt.name] = Op(pt.name, W.scan_builder(spark, inputs["layout_path"], pt), check,
                              warm=pt.sel == "100", check_each=True)
        return ops
    fixture_dir = inputs["fixture_dir"]
    for name in W.registry_members(workload, specs, headline):
        spec = specs[name]

        def check(table, df, spec=spec):
            if spec.oracle is None:
                return None
            return oracle.check_table(spec.oracle, table,
                                      lambda: to_pandas(table, df.schema, spark))

        ops[name] = Op(name, (lambda spec=spec: spec.fn(spark, fixture_dir)), check)
    return ops


def collect_table(df):
    import pyarrow as pa

    batches = df._collect_as_arrow()  # noqa: SLF001 — bench.py:_materialize's path
    if batches:
        return pa.Table.from_batches(batches)
    return pa.table({c: pa.array([], pa.null()) for c in df.columns})


def session_gauges(spark, dirs) -> dict:
    views = [t.name for t in spark.catalog.listTables() if t.isTemporary]
    return {
        "temp_views": len(views),
        "sink_views": sum(v.startswith("sink_") for v in views),
        "shm_mb": dir_mb(dirs),
    }


class Runner:
    def __init__(self, args, work: Path, cache: Path):
        self.args = args
        self.work = work
        self.cache = cache
        self.nproc = len(os.sched_getaffinity(0))
        self.spark = None
        self.oracle = None
        self.tracer = None
        self.probe = None

    # -- set-up ---------------------------------------------------------
    def setup(self):
        args = self.args
        pin_env(self.work, self.nproc, bool(args.trace))
        sys.path.insert(0, str(ROOT))
        import bench
        from skyhookdb_ceph_spark.registry import load_all
        from skyhookdb_ceph_spark.session import get_spark

        self.bench = bench
        if args.trace:
            from layers import Tracer

            self.tracer = Tracer()
            self.tracer.install()  # before load_all imports the query modules
        t = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench",
            shuffle_partitions=8,
            extra_conf={
                "spark.sql.adaptive.enabled": "false",
                "spark.sql.cbo.enabled": "false",
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={self.work / 'tmp'} -XX:-UsePerfData -Xms{DRIVER_HEAP}",
            },
        )
        self.spark.range(1).collect()
        self.start_s = time.perf_counter() - t
        self.specs = load_all()
        builds = []
        for i in range(INPUT_BUILDS):
            dest = self.work / f"input{i}"
            t = time.perf_counter()
            self.inputs = build_inputs(args.workload, dest)
            builds.append(time.perf_counter() - t)
            if i + 1 < INPUT_BUILDS:
                shutil.rmtree(dest)
        from oracle import Oracle

        key = f"{W.FIXTURE_SF}:{W.FIXTURE_SEED}:{measure.file_sha(HERE / 'datagen.py')}"
        self.oracle = Oracle(self.inputs["fixture_dir"], key, str(self.cache))
        self.ops = make_ops(args.workload, self.spark, self.specs, self.bench.HEADLINE,
                            self.inputs, self.oracle, args.seed)
        self.build_s = builds
        if self.tracer:
            from layers import SparkProbe, add_stream_listener

            self.batches = []
            add_stream_listener(self.spark, self.batches)
            self.probe = SparkProbe(self.spark)

    # -- one execution ----------------------------------------------------
    def execute(self, op: Op) -> tuple[float, object, object, dict]:
        """Build + collect one op; returns (latency, table, df, layer stats)."""
        if not self.tracer:
            t = time.perf_counter()
            df = op.build()
            table = collect_table(df)
            return time.perf_counter() - t, table, df, {}
        from layers import read_plan_stats

        tr, probe = self.tracer, self.probe
        tr.op = op.name
        m0 = probe.mark()
        t0 = time.perf_counter()
        with tr.span("queries"):
            df = op.build()
        build = time.perf_counter() - t0
        m1 = probe.mark()
        t1 = time.perf_counter()
        with tr.span("spark.plan"):
            df._jdf.queryExecution().executedPlan()  # noqa: SLF001
        t2 = time.perf_counter()
        with tr.span("spark.collect"):
            table = collect_table(df)
        t3 = time.perf_counter()
        st = dict(probe.collect(m0))
        st["build_jobs"] = m1[0] - m0[0]
        st.update(plan_s=t2 - t1, collect_s=t3 - t2,
                  result_rows=table.num_rows, result_b=table.nbytes)
        plan = read_plan_stats(os.environ["SPARK_GRAFT_PLAN_STATS_FILE"])
        if plan:
            st["rg_planned"], st["rg_pruned"] = plan["planned"], plan["pruned"]
        return build + (t3 - t1), table, df, st

    def clear_cache(self) -> float:
        t = time.perf_counter()
        self.spark.catalog.clearCache()  # bench.py's only between-op hygiene
        return time.perf_counter() - t

    # -- passes -------------------------------------------------------------
    def run(self) -> dict:
        args, ops = self.args, self.ops
        wl = W.WORKLOADS[args.workload]
        # whole passes; enough that the tail has measure.TAIL_MIN_BEYOND samples beyond it
        passes = max(math.ceil((measure.TAIL_MIN_BEYOND + 1) / len(ops)),
                     round(args.seconds / wl.pass_s))
        scratch_dirs = [os.environ[k] for k in
                        ("SPARK_GRAFT_SCRATCH", "SPARK_GRAFT_STREAM_CKPT", "SPARK_GRAFT_WAREHOUSE")]
        attempted = failed = 0
        failures: dict[str, str] = {}
        warm_digest: dict[str, str | None] = {}
        warm_lat: dict[str, float] = {}
        # set-up ends at the first warm op; the input counts once (median build)
        self.setup_s = time.perf_counter() - T0 - sum(self.build_s) + statistics.median(self.build_s)
        for name in W.pass_order([n for n, op in ops.items() if op.warm], args.seed, -1):
            attempted += 1
            try:
                warm_lat[name], table, df, _ = self.execute(ops[name])
                why = ops[name].check(table, df)
            except Exception as exc:  # noqa: BLE001 — an op failure is a counted result
                why = f"{type(exc).__name__}: {exc}"[:300]
            finally:
                self.clear_cache()
            if why is None:
                warm_digest[name] = measure.digest(table)
            else:
                warm_digest[name] = None
                failed += 1
                failures[name] = f"warm: {why}"
        warm_s = time.perf_counter() - T0 - self.setup_s
        self.bench._materialize(self.spark.range(1))  # noqa: SLF001
        floor = []
        for _ in range(3):
            t = time.perf_counter()
            self.bench._materialize(self.spark.range(1))  # noqa: SLF001
            floor.append(time.perf_counter() - t)

        lat: dict[str, list[float]] = {n: [] for n in ops}
        layer: list[dict] = []
        gauges = []
        busy = 0.0
        if self.tracer:
            self.tracer.active = True
            self.batches.clear()
        t_window = time.perf_counter()
        cpu0 = cpu_times()
        for p in range(passes):
            for name in W.pass_order(list(ops), args.seed, p):
                attempted += 1
                why = None
                try:
                    dt, table, df, st = self.execute(ops[name])
                    if ops[name].check_each:
                        why = ops[name].check(table, df)
                    elif warm_digest[name] is None:
                        why = "warm answer was wrong"
                    elif measure.digest(table) != warm_digest[name]:
                        why = "repeat differs from the warm answer"
                except Exception as exc:  # noqa: BLE001
                    dt, st = None, {}
                    why = f"{type(exc).__name__}: {exc}"[:300]
                busy += self.clear_cache() + (dt or 0.0)
                if why is None:
                    lat[name].append(dt)
                    st["op"], st["latency_s"] = name, dt
                    layer.append(st)
                else:
                    failed += 1
                    failures.setdefault(name, f"pass {p}: {why}")
            gauges.append(session_gauges(self.spark, scratch_dirs))
        window_s = time.perf_counter() - t_window
        cpu = [b - a for a, b in zip(cpu0, cpu_times())]
        if self.tracer:
            self.tracer.active = False

        samples = [x for v in lat.values() for x in v]
        tail = measure.tail(samples)
        e2e = {
            "setup_s": self.setup_s,
            "ops_per_s": len(samples) / busy if busy else 0.0,
            "op_p50_s": statistics.median(samples) if samples else 0.0,
            "op_tail_s": tail["value"] if tail["value"] is not None else 0.0,
            "peak_rss_mb": peak_rss_mb(),
        }
        return {
            "passes": passes,
            "attempted": attempted,
            "failed": failed,
            "failures": failures,
            "e2e": e2e,
            "tail": tail,
            "fail_frac": failed / attempted if attempted else 0.0,
            "warm_s": warm_s,
            "window_s": window_s,
            # share of the box's CPU time the hypervisor gave to others
            # during the timed passes: the host noise under every timing
            "steal_frac": cpu[7] / sum(cpu) if sum(cpu) else 0.0,
            "busy_s": busy,
            "floor_s": min(floor),
            "op_median_s": {n: statistics.median(v) for n, v in lat.items() if v},
            "op_latencies_s": lat,
            "op_warm_s": warm_lat,
            "gauges": gauges,
            "layer_rows": layer,
        }

    # -- per-layer ------------------------------------------------------------
    def per_layer(self, res: dict) -> dict:
        from measure import OPERATOR_MODULES

        rows = res["layer_rows"]
        n = max(1, len(rows))
        total = lambda key: sum(r.get(key, 0.0) for r in rows)  # noqa: E731
        self_s, incl_s, calls = self.tracer.totals()
        last = res["gauges"][-1] if res["gauges"] else {}
        m = {
            "session.start_s": self.start_s,
            "session.floor_s": res["floor_s"],
            "session.temp_views": last.get("temp_views", 0),
            "session.shm_mb": last.get("shm_mb", 0.0),
            "catalog.table_calls": calls["catalog"] / n,
            "catalog.table_misses": self.tracer.catalog_misses / n,
            "catalog.table_s": incl_s["catalog"] / n,
            "queries.build_s": self_s["queries"] / n,
            "queries.build_jobs": total("build_jobs") / n,
        }
        for mod in OPERATOR_MODULES:
            m[f"operators.{mod}.calls"] = calls[f"operators.{mod}"] / n
            m[f"operators.{mod}.s"] = incl_s[f"operators.{mod}"] / n
        rows_to_jvm = total("rows_to_jvm")
        useful = sum(r["result_rows"] for r in rows if r.get("rows_to_jvm"))
        m.update({
            "sources.rowgroups_planned": total("rg_planned") / n,
            "sources.rowgroups_pruned": total("rg_pruned") / n,
            "sources.rows_to_jvm": rows_to_jvm / n,
            "sources.useful_ratio": useful / rows_to_jvm if rows_to_jvm else 0.0,
        })
        for path in W.SCAN_PATHS:
            for sel, _ in W.SELECTIVITIES:
                name = f"scan_{path}_sel_{sel}"
                m[f"sources.{path}.sel_{sel}_s"] = res["op_median_s"].get(name, 0.0)
        b = self.batches
        dur = lambda k: sum(x["duration"].get(k, 0) for x in b) / len(b) if b else 0.0  # noqa: E731
        m.update({
            "streaming.batches": len(b) / n,
            "streaming.batch_ms": dur("triggerExecution"),
            "streaming.add_batch_ms": dur("addBatch"),
            "streaming.commit_ms": dur("walCommit") + dur("commitOffsets"),
            "streaming.planning_ms": dur("queryPlanning"),
            "streaming.state_rows_max": max((x["state_rows"] for x in b), default=0),
            "streaming.state_mb_max": max((x["state_b"] for x in b), default=0) / MB,
        })
        wall = total("latency_s")
        input_b = total("input_b")
        m.update({
            "spark.plan_s": total("plan_s") / n,
            "spark.jobs": total("jobs") / n,
            "spark.stages": total("stages") / n,
            "spark.tasks": total("tasks") / n,
            "spark.collect_s": total("collect_s") / n,
            "spark.task_run_s": total("task_run_s") / n,
            "spark.task_cpu_s": total("task_cpu_s") / n,
            "spark.gc_s": total("gc_s") / n,
            "spark.core_util": total("task_run_s") / (self.nproc * wall) if wall else 0.0,
            "spark.shuffle_write_mb": total("shuffle_write_b") / MB / n,
            "spark.shuffle_read_mb": total("shuffle_read_b") / MB / n,
            "spark.spill_mb": total("spill_b") / MB / n,
            "spark.python_mb": total("python_b") / MB / n,
            "spark.input_mb": input_b / MB / n,
            "spark.input_rows": total("input_rows") / n,
            "spark.files_read": total("files_read") / n,
            "spark.result_rows": total("result_rows") / n,
            "spark.result_mb": total("result_b") / MB / n,
            "spark.write_mb": total("write_b") / MB / n,
            "spark.write_files": total("write_files") / n,
            "spark.write_amp": total("write_b") / input_b if input_b else 0.0,
        })
        if list(m) != list(measure.LAYER_METRICS):
            raise RuntimeError("per-layer metrics drifted from measure.LAYER_METRICS")
        return m

    def record(self, res: dict, per_layer: dict | None) -> dict:
        import duckdb
        import pyarrow
        import pyspark

        conf = self.spark.sparkContext.getConf().getAll()
        sql_keys = ("spark.sql.adaptive.enabled", "spark.sql.cbo.enabled",
                    "spark.sql.shuffle.partitions", "spark.sql.autoBroadcastJoinThreshold",
                    "spark.sql.execution.arrow.maxRecordsPerBatch")
        live = {k: self.spark.conf.get(k, None) for k in sql_keys}
        inputs = {k: v for k, v in self.inputs.items() if k != "layout"}
        wl = W.WORKLOADS[self.args.workload]
        return {
            "benchmark": "perfbench",
            **git_state(),
            "utc": datetime.now(timezone.utc).isoformat(timespec="seconds"),
            "workload": wl.name,
            "membership_rule": wl.rule,
            "members": sorted(self.ops),
            "seed": self.args.seed,
            "seconds": self.args.seconds,
            "trace": self.args.trace,
            "passes": res["passes"],
            "nproc": self.nproc,
            "spark_graft_cpus": os.environ["SPARK_GRAFT_CPUS"],
            "versions": {"spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
                         "duckdb": duckdb.__version__, "python": sys.version.split()[0]},
            "session_conf": {**dict(conf), **live},
            "box_state": self.bench.box_state(),
            "inputs": {"sf": W.FIXTURE_SF, "fixture_seed": W.FIXTURE_SEED, **inputs},
            "input_build_s": self.build_s,
            "session_start_s": self.start_s,
            "e2e": res["e2e"],
            "fail_frac": res["fail_frac"],
            "tail_pct": res["tail"]["pct"],
            "tail_n": res["tail"]["n"],
            "warm_s": res["warm_s"],
            "window_s": res["window_s"],
            "steal_frac": res["steal_frac"],
            "wall_s": time.perf_counter() - T0,
            "busy_s": res["busy_s"],
            "floor_s": res["floor_s"],
            "op_median_s": res["op_median_s"],
            "op_latencies_s": res["op_latencies_s"],
            "op_warm_s": res["op_warm_s"],
            "session_growth": res["gauges"],
            "failures": res["failures"],
            "per_layer": per_layer,
        }


def stop_engine(spark) -> None:
    """Stop Spark, close the JVM gateway and wait for the JVM and its
    Python workers to exit."""
    from pyspark import SparkContext

    kids = descendants(os.getpid())
    gw = SparkContext._gateway  # noqa: SLF001
    proc = getattr(gw, "proc", None)
    try:
        spark.stop()
    finally:
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.time() + 15
    for pid in kids:
        while os.path.exists(f"/proc/{pid}") and _proc_field(pid, "State") not in (None, "Z (zombie)"):
            if time.time() > deadline:
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass
                break
            time.sleep(0.05)


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops the engine and removes its inputs
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    problem = checkout_ok()
    if problem:
        print(f"perfbench: {problem}", file=sys.stderr)
        return 2
    base = ROOT / ".perfbench"
    work = base / f"run-{os.getpid()}"
    runner = Runner(args, work, base / "oracle")
    try:
        runner.setup()
        res = runner.run()
        per_layer = runner.per_layer(res) if args.trace else None
        rec = runner.record(res, per_layer)
    finally:
        if runner.spark is not None:
            stop_engine(runner.spark)
        if runner.oracle is not None:
            runner.oracle.close()
        shutil.rmtree(work, ignore_errors=True)
    if args.trace:
        spans = base / f"spans-{args.workload}-{args.seed}.json"
        spans.write_text(json.dumps(runner.tracer.spans))
    metrics = per_layer if args.trace else res["e2e"]
    print(json.dumps({"record": rec}, default=str))
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": measure.unit_of(k)} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
