"""Traced mode: spans around the calls into each layer's public
functions, plus per-op Spark statistics read from the engine's status
stores.  All wrappers live here; the program is not modified.

Layers (this repository's modules):
  session    skyhookdb_ceph_spark/session.py (start and dispatch floor)
  catalog    catalog.Catalog.table
  queries    registry spec.fn (the plan build, eager jobs included)
  operators  operators.{minhash,simhash,vectors,text_index,multimodal,skew,stats}
  sources    sources/skyhook_source.read_skyhook[_no_pushdown]
  streaming  streaming/replay.{events_stream,drain_to_memory,drain_to_files}
  spark      Catalyst planning, execution and the Arrow collect
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import os
import re
import time
from collections import defaultdict
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

from measure import OPERATOR_MODULES, self_time

STREAM_FUNCS = ("events_stream", "drain_to_memory", "drain_to_files")
SOURCE_FUNCS = ("read_skyhook", "read_skyhook_no_pushdown")


class Tracer:
    """In-memory spans.  Only spans closed while ``active`` is set (the
    timed passes) are kept; self time is a span minus its children."""

    def __init__(self):
        self.active = False
        self.op = None
        self.stack: list[list] = []
        self.spans: list[dict] = []

    @contextmanager
    def span(self, layer: str):
        start = time.perf_counter()
        outer = all(fr[0] != layer for fr in self.stack)
        self.stack.append([layer, start, []])
        try:
            yield
        finally:
            _, _, kids = self.stack.pop()
            end = time.perf_counter()
            if self.stack:
                self.stack[-1][2].append((start, end))
            if self.active:
                self.spans.append(
                    {
                        "op": self.op,
                        "layer": layer,
                        "start": start,
                        "end": end,
                        "self": self_time((start, end), kids),
                        "outer": outer,
                        "parent": self.stack[-1][0] if self.stack else None,
                    }
                )

    def totals(self) -> tuple[dict, dict, dict]:
        """Per layer: self seconds, inclusive seconds of outermost
        spans, and the number of outermost calls."""
        self_s, incl_s, calls = defaultdict(float), defaultdict(float), defaultdict(int)
        for s in self.spans:
            self_s[s["layer"]] += s["self"]
            if s["outer"]:
                incl_s[s["layer"]] += s["end"] - s["start"]
                calls[s["layer"]] += 1
        return self_s, incl_s, calls

    def _wrap(self, fn, layer: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(layer):
                return fn(*args, **kwargs)

        # functools.wraps copies __module__/__qualname__, so cloudpickle
        # ships the wrapper by reference; Python workers resolve it to
        # the original, unwrapped function.
        return traced

    def install(self) -> None:
        """Wrap the layers' public functions.  Must run before
        registry.load_all(): query modules bind operator functions by
        name at import time."""
        from skyhookdb_ceph_spark import catalog
        from skyhookdb_ceph_spark.sources import skyhook_source
        from skyhookdb_ceph_spark.streaming import replay

        for mod_name in OPERATOR_MODULES:
            mod = importlib.import_module(f"skyhookdb_ceph_spark.operators.{mod_name}")
            for name, fn in list(vars(mod).items()):
                if (
                    inspect.isfunction(fn)
                    and not name.startswith("_")
                    and fn.__module__ == mod.__name__
                ):
                    setattr(mod, name, self._wrap(fn, f"operators.{mod_name}"))
        for name in SOURCE_FUNCS:
            setattr(skyhook_source, name, self._wrap(getattr(skyhook_source, name), "sources"))
        for name in STREAM_FUNCS:
            setattr(replay, name, self._wrap(getattr(replay, name), "streaming"))

        table = catalog.Catalog.table
        tracer = self
        self.catalog_misses = 0

        @functools.wraps(table)
        def traced_table(cat, name):
            cache = getattr(cat.spark, "_skyhook_graft_tables", None) or {}
            if tracer.active and (cat.sf_dir, name) not in cache:
                tracer.catalog_misses += 1
            with tracer.span("catalog"):
                return table(cat, name)

        catalog.Catalog.table = traced_table


def _metric_number(text: str) -> float:
    """Parse a SQL size or count metric string ('60,170', '1.2 MiB',
    'total (min, med, max ...)\\n216.0 B (...)') into bytes or a count."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    text = text.split(" (", 1)[0].strip()
    m = re.match(r"([-0-9.,]+)\s*([A-Za-z]*)", text)
    if not m:
        return 0.0
    val = float(m.group(1).replace(",", ""))
    scale = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
    return val * scale.get(m.group(2), 1)


class SparkProbe:
    """Reads what the engine recorded for the jobs and SQL executions
    started since the last mark: stage counters from the app status
    store, SQL metrics from the SQL status store."""

    SQL_SUMS = {
        "number of files read": "files_read",
        "data sent to Python workers": "python_b",
        "data returned from Python workers": "python_b",
        "written output": "write_b",
        "number of written files": "write_files",
    }

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()  # noqa: SLF001
        self.tracker = self.sc.statusTracker()
        self.store = self.jsc.statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()  # noqa: SLF001
        gw = self.sc._gateway  # noqa: SLF001
        self._empty = gw.jvm.java.util.Collections.emptyList()
        self._no_q = gw.new_array(gw.jvm.double, 0)
        self.next_job = 0
        self.next_exec = 0
        self.mark()

    def flush(self) -> None:
        self.jsc.listenerBus().waitUntilEmpty()

    def mark(self) -> tuple[int, int]:
        """Advance past every job and SQL execution recorded so far."""
        self.flush()
        while self.tracker.getJobInfo(self.next_job) is not None:
            self.next_job += 1
        while not self.sql.execution(self.next_exec).isEmpty():
            self.next_exec += 1
        return self.next_job, self.next_exec

    def collect(self, since: tuple[int, int]) -> dict:
        """Counters for jobs/executions in [since, now)."""
        job0, exec0 = since
        job1, exec1 = self.mark()
        out = defaultdict(float)
        out["jobs"] = job1 - job0
        stages = set()
        for jid in range(job0, job1):
            info = self.tracker.getJobInfo(jid)
            if info is not None:
                stages.update(info.stageIds)
        for sid in stages:
            try:
                seq = self.store.stageData(sid, False, self._empty, False, self._no_q)
            except Py4JJavaError:  # a stage evicted from the status store
                continue
            for i in range(seq.size()):
                sd = seq.apply(i)
                if sd.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numCompleteTasks()
                out["task_run_s"] += sd.executorRunTime() / 1e3
                out["task_cpu_s"] += sd.executorCpuTime() / 1e9
                out["gc_s"] += sd.jvmGcTime() / 1e3
                out["input_b"] += sd.inputBytes()
                out["input_rows"] += sd.inputRecords()
                out["shuffle_write_b"] += sd.shuffleWriteBytes()
                out["shuffle_read_b"] += sd.shuffleReadBytes()
                out["spill_b"] += sd.memoryBytesSpilled()
        for eid in range(exec0, exec1):
            opt = self.sql.execution(eid)
            if opt.isEmpty():
                continue
            vals = self.sql.executionMetrics(eid)
            graph = self.sql.planGraph(eid)
            nodes = graph.allNodes().iterator()
            while nodes.hasNext():
                node = nodes.next()
                is_pysrc = node.name().startswith("BatchScan skyhook")
                metrics = node.metrics().iterator()
                while metrics.hasNext():
                    m = metrics.next()
                    key = self.SQL_SUMS.get(m.name())
                    if key is None and not (is_pysrc and m.name() == "number of output rows"):
                        continue
                    v = vals.get(m.accumulatorId())
                    if v.isEmpty():
                        continue
                    out[key or "rows_to_jvm"] += _metric_number(v.get())
        return out


def add_stream_listener(spark, sink: list) -> None:
    """Append every micro-batch's progress (durationMs, state) to sink."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            sink.append(
                {
                    "duration": dict(p.durationMs),
                    "state_rows": sum(o.numRowsTotal for o in p.stateOperators),
                    "state_b": sum(o.memoryUsedBytes for o in p.stateOperators),
                }
            )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    spark.streams.addListener(_Listener())


def read_plan_stats(path: str) -> dict | None:
    """Row-group counts the Python source wrote for its last planning
    (SPARK_GRAFT_PLAN_STATS_FILE); consumed, so each op reads its own."""
    try:
        with open(path) as fh:
            stats = json.load(fh)
    except (OSError, ValueError):
        return None
    os.remove(path)
    return stats
