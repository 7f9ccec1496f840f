"""Pure helpers of the benchmark: latency summaries, span self time,
metric-name checks and result digests.  No Spark here, so the
self-tests run in milliseconds."""

from __future__ import annotations

import hashlib
import re

import numpy as np
import pandas as pd
import pyarrow as pa

TAIL_MIN_BEYOND = 10
NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def tail(samples: list[float], beyond: int = TAIL_MIN_BEYOND) -> dict:
    """Latency at the highest percentile that has at least ``beyond``
    samples above it: the (beyond+1)-th largest sample.  Returns the
    value, that percentile and the sample count; ``value`` is None when
    there are not more than ``beyond`` samples."""
    n = len(samples)
    if n <= beyond:
        return {"value": None, "pct": None, "n": n}
    ordered = sorted(samples)
    k = n - beyond - 1  # 0-based index with `beyond` samples after it
    return {"value": ordered[k], "pct": round(100.0 * (k + 1) / n, 2), "n": n}


def self_time(span: tuple[float, float], children: list[tuple[float, float]]) -> float:
    """A span's duration minus the part of it its children cover.
    Children may overlap each other or stick out of the span; only
    their union inside the span is subtracted."""
    lo, hi = span
    covered, cur_lo, cur_hi = 0.0, None, None
    for c_lo, c_hi in sorted((max(a, lo), min(b, hi)) for a, b in children):
        if c_hi <= c_lo:
            continue
        if cur_hi is None or c_lo > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = c_lo, c_hi
        else:
            cur_hi = max(cur_hi, c_hi)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return (hi - lo) - covered


def valid_name(name: str) -> bool:
    return NAME_RE.fullmatch(name) is not None


def digest(table: pa.Table, decimals: int | None = 6) -> str:
    """Order-insensitive fingerprint of a result: row count, column
    names and the sum of per-row hashes.  By default floats are rounded
    to 6 decimals so a shuffle that reorders a floating-point sum does
    not read as a different answer; ``decimals=None`` hashes them
    exactly."""
    df = table.to_pandas(date_as_object=True)
    for col in df.columns:
        s = df[col]
        if s.dtype.kind == "f" and decimals is not None:
            df[col] = s.round(decimals)
        elif s.dtype.kind == "O":
            df[col] = s.map(repr)
    if len(df):
        h = int(pd.util.hash_pandas_object(df, index=False).to_numpy().sum(dtype=np.uint64))
    else:
        h = 0
    return f"{table.num_rows}:{','.join(table.column_names)}:{h:016x}"


def file_sha(path) -> str:
    with open(path, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()


# Units by metric name: end-to-end names are listed; per-layer names
# carry their unit in the suffix.
E2E_UNITS = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "peak_rss_mb": "MB",
}
SUFFIX_UNITS = (("_mb_max", "MB"), ("_ms", "ms"), ("_s", "s"), ("_mb", "MB"))
RATIOS = ("sources.useful_ratio", "spark.core_util", "spark.write_amp")


def unit_of(name: str) -> str:
    if name in E2E_UNITS:
        return E2E_UNITS[name]
    if name in RATIOS:
        return "ratio"
    for suffix, unit in SUFFIX_UNITS:
        if name.endswith(suffix):
            return unit
    return "count"


OPERATOR_MODULES = ("minhash", "simhash", "vectors", "text_index", "multimodal", "skew", "stats")
SCAN_PATHS = ("native", "push", "nopush")
SELECTIVITY_TAGS = ("pt", "0p1", "1", "10", "50", "100")
LAYER_METRICS = (
    ("session.start_s", "session.floor_s", "session.temp_views", "session.shm_mb",
     "catalog.table_calls", "catalog.table_misses", "catalog.table_s",
     "queries.build_s", "queries.build_jobs")
    + tuple(f"operators.{m}.{k}" for m in OPERATOR_MODULES for k in ("calls", "s"))
    + ("sources.rowgroups_planned", "sources.rowgroups_pruned", "sources.rows_to_jvm",
       "sources.useful_ratio")
    + tuple(f"sources.{p}.sel_{s}_s" for p in SCAN_PATHS for s in SELECTIVITY_TAGS)
    + ("streaming.batches", "streaming.batch_ms", "streaming.add_batch_ms",
       "streaming.commit_ms", "streaming.planning_ms", "streaming.state_rows_max",
       "streaming.state_mb_max",
       "spark.plan_s", "spark.jobs", "spark.stages", "spark.tasks", "spark.collect_s",
       "spark.task_run_s", "spark.task_cpu_s", "spark.gc_s", "spark.core_util",
       "spark.shuffle_write_mb", "spark.shuffle_read_mb", "spark.spill_mb", "spark.python_mb",
       "spark.input_mb", "spark.input_rows", "spark.files_read", "spark.result_rows",
       "spark.result_mb", "spark.write_mb", "spark.write_files", "spark.write_amp")
)
