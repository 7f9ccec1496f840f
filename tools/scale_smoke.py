#!/usr/bin/env python
"""THE scale-smoke protocol — one parameterized tool (r12 verdict
item 9; supersedes scale_smoke{,_r10,_r11,_r11b,_r12,_r12b}.py and
stream_scale_smoke{,_r12}.py, which were eight copies of two
protocols).  BASELINE.md §L.* / §M record the tables this prints.

BATCH protocol (§I): one session, per (query, sf): one warm run
absorbed (one-time init), one timed run, clearCache between
measurements, local[32].  One JSON line per measurement.

STREAM protocol (§M): events.parquet split into 8 time-ordered files
replayed with maxFilesPerTrigger=1 so the watermark advances BETWEEN
batches and eviction actually runs; per-batch latency + state size
read from the ENGINE'S OWN telemetry (StreamingQueryProgress.
stateOperators numRowsTotal/memoryUsedBytes, durationMs.
triggerExecution) via replay.PROGRESS_CAPTURE.

Usage:
    python tools/scale_smoke.py --set r12b [--dirs d1 d2 ...]
    python tools/scale_smoke.py q_dedup_fuzzy q_pipeline_e2e_v2
    python tools/scale_smoke.py --stream [--streams name ...]
    python tools/scale_smoke.py --stream --shuffle-partitions 32
    python tools/scale_smoke.py --list

A new decade measurement = an entry in SETS (or names on the CLI),
never a new file.  Names may be registry QueryIDs or TWINS keys —
smoke-only twins exist where gen_scale copies a query's input table
verbatim across decades (orders is a small dim there), so the
registered query would measure a FIXED input; the twin runs the same
plan shape over a table gen_scale actually grows (events).
"""

from __future__ import annotations

import argparse
import atexit
import json
import shutil
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from skyhookdb_ceph_spark.registry import load_all  # noqa: E402
from skyhookdb_ceph_spark.session import get_spark  # noqa: E402

DIRS = [
    "/root/testdata/sf0.1",
    "/root/repo/.scratch/scale/sf1",
    "/root/repo/.scratch/scale/sf10",
]

# Named measurement sets — provenance preserved from the per-round
# tools this file supersedes (the BASELINE section each fed is noted).
SETS: dict[str, list[str]] = {
    # §L (r9): first decade evidence for the heavy shuffle family
    "r9": [
        "q_win_trailing_hour", "q_win_peak_concurrency",
        "q_graph_components", "q_dedup_fuzzy", "q_sim_pairs",
        "q_agg_salted_skew",
    ],
    # §L.5 (r10): incremental/index consumers
    "r10": [
        "q_dedup_incremental", "q_dedup_agreement", "q_text_rerank",
        "q_win_event_pattern", "q_vec_ivf_incremental",
        "q_join_width_probed",
    ],
    # §L.6 (r11): maintenance actions + shared scans (+ stream
    # batch-twins through the batch protocol)
    "r11": [
        "q_dedup_incremental", "q_dedup_agreement", "q_text_rerank",
        "q_win_event_pattern", "q_vec_ivf_incremental",
        "q_graph_triangles", "q_maint_recluster", "q_scan_shared",
        "q_stream_event_pattern", "q_stream_event_eviction",
    ],
    # §L.6 (r11 late): substring dedup + sampled recall audit
    "r11b": [
        "q_dedup_substring", "q_dedup_minhash_recall",
        "q_stream_dedup_lsh",
    ],
    # §L.7 (r12): graph/IVF/corpus-action decades
    "r12": [
        "q_graph_components", "q_graph_pagerank", "q_vec_ivf_build",
        "q_vec_ivf_files_pruned", "q_sim_knn_ivf", "q_dedup_fuzzy",
        "q_transform_dedup_corpus", "q_pipeline_e2e_v2",
    ],
    # §L.8 (r12 second wave): retrieval + data-quality depth
    "r12b": [
        "q_join_interval_grid", "q_agg_mutual_info",
        "q_stats_ks_drift", "ks_drift_events", "q_vec_ood_filter",
        "q_sim_knn_binary", "q_sim_maxsim", "q_sim_maxsim_pruned",
        "q_dedup_phash", "q_stream_drift",
    ],
    # §L.8-r13: widened-shortlist cascade deltas + probed grid +
    # the fresh-session e2e_v2 re-measure (r12 verdict item 4)
    "r13": [
        "q_sim_knn_binary", "q_sim_maxsim_pruned",
        "q_sim_binary_recall", "q_join_interval_grid",
        "q_pipeline_e2e_v2",
    ],
    # §P.8: the 2-bit thermometer tier's decades
    "r13b": ["q_sim_knn_2bit"],
    # §Q (r14): persisted signature index — build cost vs PROBE-ONLY
    # cost (the r13 verdict asked for the decade curve with the build
    # amortized out), plus the registered build-inside forms
    "r14": [
        "sig_build", "sig_probe_binary", "sig_probe_2bit",
        "q_sim_knn_binary_indexed", "q_sim_knn_2bit_indexed",
    ],
    # §Q (r14, late wave): hybrid fusion + the late-data pin's replay
    "r14b": ["q_text_hybrid_rrf", "q_stream_late_data"],
    # §R.7 (r15 late wave): the small-file serving penalty compaction
    # repairs — same probe over fresh / 8-batch-fragmented /
    # compacted layouts
    "r15b": ["text_probe_bm25", "text_probe_frag8", "text_probe_compacted"],
    # §R (r15): fixed-|Q| signature probes (per-query cost curve, the
    # r14 verdict item 6) + the persisted text index build/probe
    "r15": [
        "sig_probe_binary_fixedq", "sig_probe_2bit_fixedq",
        "text_build", "text_probe_bm25", "hybrid_probe_rrf",
        "q_text_bm25_indexed", "q_text_index_incremental",
        "q_hybrid_rrf_indexed", "q_text_index_compact",
    ],
}

N_FILES = 8  # default replay granularity (--n-files overrides)
STREAMS = [
    "q_stream_event_eviction",  # watermark-evicting CEP (plateau)
    "q_stream_event_pattern",   # accumulate-forever twin (contrast)
    "q_stream_chained_windows", # two stacked stateful aggs
    "q_stream_outer_join",      # interval outer join, 10-min wm
    "q_stream_dedup_lsh",       # LSH admission (zero state)
]


# ---------------------------------------------------------------------------
# smoke-only twins
# ---------------------------------------------------------------------------


def ks_drift_events(spark, sf_dir):
    """Smoke-only twin of q_stats_ks_drift on a table gen_scale
    actually GROWS: gen_scale copies `orders` verbatim across decades
    (it is a small dim there), so the registered query's smoke curve
    would measure a fixed input.  Same plan shape, same bucketed
    prefix-sum decomposition, over events.value split at mid-month —
    events rows grow 100x across the fixture decades."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from skyhookdb_ceph_spark.queries._util import Catalog

    ev = Catalog(spark, sf_dir).events
    d = ev.selectExpr(
        "value AS v",
        "CAST(ts < TIMESTAMP '2024-01-16' AS INT) AS ia",
    )
    tot = d.agg(
        F.sum("ia").cast("bigint").alias("n_a"),
        F.sum(F.expr("1 - ia")).cast("bigint").alias("n_b"),
    )
    g = (
        d.groupBy("v")
        .agg(F.sum("ia").alias("ca"), F.sum(F.expr("1 - ia")).alias("cb"))
        .withColumn("bkt", F.expr("CAST(floor(v / 25.0) AS BIGINT)"))
    )
    wi = (
        Window.partitionBy("bkt")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    intra = g.select(
        "bkt",
        F.sum("ca").over(wi).alias("ia_cum"),
        F.sum("cb").over(wi).alias("ib_cum"),
    )
    bs = g.groupBy("bkt").agg(F.sum("ca").alias("sa"), F.sum("cb").alias("sb"))
    wo = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    boff = bs.select(
        "bkt",
        F.coalesce(F.sum("sa").over(wo), F.lit(0)).alias("oa"),
        F.coalesce(F.sum("sb").over(wo), F.lit(0)).alias("ob"),
    )
    cum = intra.join(F.broadcast(boff), "bkt").selectExpr(
        "oa + ia_cum AS cum_a", "ob + ib_cum AS cum_b"
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .selectExpr(
            "n_a",
            "n_b",
            "abs(CAST(cum_a AS DOUBLE) / n_a"
            " - CAST(cum_b AS DOUBLE) / n_b) AS dd",
        )
        .groupBy("n_a", "n_b")
        .agg(F.expr("floor(max(dd) * 1000000 + 0.5) / 1000000").alias("ks"))
    )


# -- persisted-signature-index twins (§Q, r14): the registered
# indexed queries build + probe in one execution (fixture lifecycle);
# these twins separate the two costs.  sig_build times the encode +
# write alone (fresh dir each run).  sig_probe_* memoize ONE build
# per sf_dir, so under the smoke protocol the warm run pays the
# build and the TIMED run is probe-only — the per-query-batch cost a
# deployment actually pays once the index is persisted.
_SIG_INDEX_CACHE: dict[str, str] = {}
_TEXT_INDEX_CACHE: dict[str, str] = {}
# EVERY scratch dir this module mkdtemps, cached or not: the fresh-dir
# build twins (sig_build, text_build, splits) allocate on /dev/shm
# tmpfs per invocation — twice per decade under the warm+timed
# protocol — and previously leaked them past exit (r15 ADVICE).
_ALL_SCRATCH: list[str] = []


def _scratch_mkdtemp(prefix: str) -> str:
    from skyhookdb_ceph_spark.queries._util import _scratch_dir

    d = tempfile.mkdtemp(prefix=prefix, dir=_scratch_dir())
    _ALL_SCRATCH.append(d)
    return d


@atexit.register
def _drop_cached_scratch() -> None:
    # Cached scratch dirs may live on /dev/shm tmpfs; a multi-decade
    # sweep must not leak RAM-disk space past process exit (r14
    # ADVICE; extended to ALL mkdtemp sites per r15 ADVICE).
    for cache in (_SIG_INDEX_CACHE, _TEXT_INDEX_CACHE, _FRAG_TEXT_CACHE):
        for d in cache.values():
            shutil.rmtree(d, ignore_errors=True)
            shutil.rmtree(d + "_c", ignore_errors=True)
        cache.clear()
    for d in _ALL_SCRATCH:
        shutil.rmtree(d, ignore_errors=True)
    _ALL_SCRATCH.clear()


def _sig_index_dir(spark, sf_dir: str) -> str:
    from skyhookdb_ceph_spark.operators.sig_index import build_sig_index
    from skyhookdb_ceph_spark.queries._util import Catalog

    if sf_dir not in _SIG_INDEX_CACHE:
        tmp = _scratch_mkdtemp("ssmoke_sigidx_")
        build_sig_index(spark, Catalog(spark, sf_dir).embeddings, tmp)
        _SIG_INDEX_CACHE[sf_dir] = tmp
    return _SIG_INDEX_CACHE[sf_dir]


def _text_index_dir(spark, sf_dir: str) -> str:
    from skyhookdb_ceph_spark.operators.text_index import build_text_index
    from skyhookdb_ceph_spark.queries._util import Catalog

    if sf_dir not in _TEXT_INDEX_CACHE:
        tmp = _scratch_mkdtemp("ssmoke_txtidx_")
        build_text_index(spark, Catalog(spark, sf_dir).documents, tmp)
        _TEXT_INDEX_CACHE[sf_dir] = tmp
    return _TEXT_INDEX_CACHE[sf_dir]


def sig_build(spark, sf_dir):
    """Index BUILD cost alone: encode both tiers + write the layout
    to a fresh dir, return the 64-row params table as the
    materialization handle (the data work is the sigs write)."""
    from skyhookdb_ceph_spark.operators.sig_index import build_sig_index
    from skyhookdb_ceph_spark.queries._util import Catalog

    tmp = _scratch_mkdtemp("ssmoke_sigbuild_")
    build_sig_index(spark, Catalog(spark, sf_dir).embeddings, tmp)
    return spark.read.parquet(f"{tmp}/params")


def sig_probe_binary(spark, sf_dir):
    from skyhookdb_ceph_spark.queries._util import Catalog
    from skyhookdb_ceph_spark.operators.sig_index import probe_binary

    idx = spark.read.parquet(f"{_sig_index_dir(spark, sf_dir)}/sigs")
    return probe_binary(Catalog(spark, sf_dir).embeddings, idx)


def sig_probe_2bit(spark, sf_dir):
    from skyhookdb_ceph_spark.queries._util import Catalog
    from skyhookdb_ceph_spark.operators.sig_index import probe_2bit

    idx = spark.read.parquet(f"{_sig_index_dir(spark, sf_dir)}/sigs")
    return probe_2bit(Catalog(spark, sf_dir).embeddings, idx)


# Fixed-|Q| probe twins (r14 verdict item 6): §Q.1's probe curves
# used the audit construction (|Q| = corpus/100, so the workload
# grows with the decade); these probe a CONSTANT 20-query set — the
# 20 base-copy vectors gen_scale.py preserves verbatim at every
# decade — so the curve reads directly as per-query probe cost.
_FIXED_Q_PRED = "vec_id % 100 = 0 AND vec_id < 2000"


def sig_probe_binary_fixedq(spark, sf_dir):
    from skyhookdb_ceph_spark.queries._util import Catalog
    from skyhookdb_ceph_spark.operators.sig_index import probe_binary

    idx = spark.read.parquet(f"{_sig_index_dir(spark, sf_dir)}/sigs")
    return probe_binary(
        Catalog(spark, sf_dir).embeddings, idx, q_pred=_FIXED_Q_PRED
    )


def sig_probe_2bit_fixedq(spark, sf_dir):
    from skyhookdb_ceph_spark.queries._util import Catalog
    from skyhookdb_ceph_spark.operators.sig_index import probe_2bit

    idx = spark.read.parquet(f"{_sig_index_dir(spark, sf_dir)}/sigs")
    return probe_2bit(
        Catalog(spark, sf_dir).embeddings, idx, q_pred=_FIXED_Q_PRED
    )


def text_build(spark, sf_dir):
    """Inverted-index BUILD cost alone (tokenize + postings shuffle +
    partitioned write to a fresh dir)."""
    from skyhookdb_ceph_spark.operators.text_index import build_text_index
    from skyhookdb_ceph_spark.queries._util import Catalog

    tmp = _scratch_mkdtemp("ssmoke_txtbuild_")
    build_text_index(spark, Catalog(spark, sf_dir).documents, tmp)
    return spark.read.parquet(f"{tmp}/stats")


def text_probe_bm25(spark, sf_dir):
    """BM25 probe with the build amortized out (memoized index per
    sf_dir) — the per-query cost a deployment pays once the postings
    are persisted.  The query-term set is constant by construction,
    so this is already a fixed-|Q| curve."""
    from skyhookdb_ceph_spark.operators.text_index import probe_bm25
    from skyhookdb_ceph_spark.queries.text import _BM25_TERMS

    return probe_bm25(spark, _text_index_dir(spark, sf_dir), _BM25_TERMS)


_FRAG_TEXT_CACHE: dict[str, str] = {}


def _frag_text_dir(spark, sf_dir: str) -> str:
    """An 8-batch ingest history: base build on the doc_id % 8 = 0
    cohort, then seven append_text_index batches — the fragmented
    layout a streaming ingest leaves behind (each append lands new
    row files in every touched tok0 directory).  Compacted twin
    under <dir>_c."""
    from skyhookdb_ceph_spark.operators.text_index import (
        append_text_index,
        build_text_index,
        compact,
    )
    from skyhookdb_ceph_spark.queries._util import Catalog

    if sf_dir not in _FRAG_TEXT_CACHE:
        tmp = _scratch_mkdtemp("ssmoke_txtfrag_")
        docs = Catalog(spark, sf_dir).documents
        build_text_index(spark, docs.filter("doc_id % 8 = 0"), tmp)
        for r in range(1, 8):
            append_text_index(
                spark, docs.filter(f"doc_id % 8 = {r}"), tmp
            )
        compact(spark, tmp, f"{tmp}_c")
        _FRAG_TEXT_CACHE[sf_dir] = tmp
    return _FRAG_TEXT_CACHE[sf_dir]


def text_probe_frag8(spark, sf_dir):
    """BM25 probe over the 8-batch fragmented layout — what serving
    pays when compaction is skipped (same query as text_probe_bm25,
    different physical layout; the answer differs only because the
    index covers the same corpus assembled incrementally)."""
    from skyhookdb_ceph_spark.operators.text_index import probe_bm25
    from skyhookdb_ceph_spark.queries.text import _BM25_TERMS

    return probe_bm25(spark, _frag_text_dir(spark, sf_dir), _BM25_TERMS)


def text_probe_compacted(spark, sf_dir):
    """BM25 probe over the compacted rewrite of the same 8-batch
    history — the payoff row for q_text_index_compact."""
    from skyhookdb_ceph_spark.operators.text_index import probe_bm25
    from skyhookdb_ceph_spark.queries.text import _BM25_TERMS

    return probe_bm25(spark, _frag_text_dir(spark, sf_dir) + "_c", _BM25_TERMS)


def hybrid_probe_rrf(spark, sf_dir):
    """The fused hybrid probe (lexical postings leg + signature
    cascade leg + RRF) with BOTH builds amortized out — per-query
    serving cost of the end-to-end retrieval shape.  Single query
    (vec 0) + constant terms: already a fixed-|Q| curve."""
    from skyhookdb_ceph_spark.queries._util import Catalog
    from skyhookdb_ceph_spark.queries.text import probe_hybrid_rrf

    return probe_hybrid_rrf(
        spark,
        _text_index_dir(spark, sf_dir),
        _sig_index_dir(spark, sf_dir),
        Catalog(spark, sf_dir).embeddings,
    )


TWINS = {
    "ks_drift_events": ks_drift_events,
    "sig_build": sig_build,
    "sig_probe_binary": sig_probe_binary,
    "sig_probe_2bit": sig_probe_2bit,
    "sig_probe_binary_fixedq": sig_probe_binary_fixedq,
    "sig_probe_2bit_fixedq": sig_probe_2bit_fixedq,
    "text_build": text_build,
    "text_probe_bm25": text_probe_bm25,
    "text_probe_frag8": text_probe_frag8,
    "text_probe_compacted": text_probe_compacted,
    "hybrid_probe_rrf": hybrid_probe_rrf,
}


# ---------------------------------------------------------------------------
# batch protocol
# ---------------------------------------------------------------------------


def mat(df):
    return sum(b.num_rows for b in df._collect_as_arrow())  # noqa: SLF001


def run_batch(names: list[str], dirs: list[str], shuffle: int) -> None:
    spark = get_spark(app_name="scale_smoke", shuffle_partitions=shuffle)
    specs = load_all()
    for name in names:
        fn = TWINS.get(name) or specs[name].fn
        for d in dirs:
            try:
                t0 = time.perf_counter()
                mat(fn(spark, d))  # warm (absorbs one-time init)
                warm = time.perf_counter() - t0
                t0 = time.perf_counter()
                rows = mat(fn(spark, d))
                timed = time.perf_counter() - t0
                # session hygiene: drop persisted intermediates so a
                # later (query, sf) isn't taxed by accumulated cache
                # (measured: 311.7 vs 213.7 s fresh, BASELINE §L.6)
                spark.catalog.clearCache()
                print(
                    json.dumps(
                        {
                            "query": name,
                            "sf_dir": d,
                            "sec": round(timed, 2),
                            "warm_sec": round(warm, 2),
                            "rows": rows,
                        }
                    ),
                    flush=True,
                )
            except Exception as exc:  # noqa: BLE001
                print(
                    json.dumps(
                        {
                            "query": name,
                            "sf_dir": d,
                            "error": f"{type(exc).__name__}: {exc}"[:300],
                        }
                    ),
                    flush=True,
                )


# ---------------------------------------------------------------------------
# stream protocol
# ---------------------------------------------------------------------------


def split_events(sf_dir: str, n_files: int = N_FILES) -> str:
    """events.parquet -> n_files time-ordered files (oldest first by
    mtime so the file source admits them in event-time order).  More
    files = smaller triggers = fewer users per batch — the production
    lever for per-batch latency once a decade's users outgrow the
    batch SLA (measured in §M.1)."""
    import os

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    out = _scratch_mkdtemp("ssmoke_split_")
    t = pq.read_table(f"{sf_dir}/events.parquet")
    t = t.take(pc.sort_indices(t, sort_keys=[("ts", "ascending")]))
    n = t.num_rows
    for i in range(n_files):
        lo, hi = i * n // n_files, (i + 1) * n // n_files
        p = f"{out}/part-{i:02d}.parquet"
        pq.write_table(t.slice(lo, hi - lo), p)
        os.utime(p, (1000 + i, 1000 + i))
    return out


def capture_stats(replay):
    """Reduce the captured progress events to the §M row."""
    batches = []
    max_rows = 0
    max_bytes = 0
    for rec in replay.PROGRESS_CAPTURE or []:
        for p in rec["progress"]:
            if isinstance(p, str):
                p = json.loads(p)
            srows = sum(
                s.get("numRowsTotal", 0)
                for s in p.get("stateOperators", [])
            )
            sbytes = sum(
                s.get("memoryUsedBytes", 0)
                for s in p.get("stateOperators", [])
            )
            max_rows = max(max_rows, srows)
            max_bytes = max(max_bytes, sbytes)
            batches.append(
                {
                    "batch": p.get("batchId"),
                    "in_rows": p.get("numInputRows"),
                    "trigger_ms": (p.get("durationMs") or {}).get(
                        "triggerExecution"
                    ),
                    "state_rows": srows,
                }
            )
    return batches, max_rows, max_bytes


def outer_join_stream(spark, split_dir):
    """Interval left-outer purchase/click join over the split replay —
    same shape as q_stream_outer_join, multi-batch admission."""
    from pyspark.sql import functions as F

    from skyhookdb_ceph_spark.streaming.replay import (
        drain_to_memory,
        events_stream,
    )

    base = events_stream(
        spark, split_dir, glob="*.parquet",
        options={"maxFilesPerTrigger": "1"},
    )
    purchases = base.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id"),
        F.col("ts").alias("p_ts"),
    ).withWatermark("p_ts", "10 minutes")
    clicks = base.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    ).withWatermark("c_ts", "10 minutes")
    joined = purchases.join(
        clicks,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR")),
        "leftOuter",
    ).select("purchase_id", "click_id")
    return drain_to_memory(joined, output_mode="append")


ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state."
    "RocksDBStateStoreProvider"
)


def run_stream(
    streams: list[str], dirs: list[str], shuffle: int,
    n_files: int = N_FILES, provider: str | None = None,
) -> None:
    """The §M table.  `shuffle` sizes spark.sql.shuffle.partitions,
    which for stateful operators is the STATE-STORE partition count —
    the production knob for per-batch latency once users-per-batch
    grows (r12 verdict item 8); pass different values (fresh process
    each: getOrCreate pins the session) to measure its curve."""
    extra = (
        {"spark.sql.streaming.stateStore.providerClass": ROCKSDB_PROVIDER}
        if provider == "rocksdb"
        else None
    )
    spark = get_spark(
        app_name="stream_scale_smoke", shuffle_partitions=shuffle,
        extra_conf=extra,
    )
    spark.range(1).collect()

    from skyhookdb_ceph_spark.queries.streaming_q import (
        _chained_windows_stream,
        _dedup_lsh_pipeline,
        _event_eviction_stream,
        _event_pattern_stream,
    )
    from skyhookdb_ceph_spark.streaming import replay

    mfpt = {"maxFilesPerTrigger": "1"}
    for d in dirs:
        label = Path(d).name
        split = split_events(d, n_files)
        jobs = {
            "q_stream_event_eviction": lambda: _event_eviction_stream(
                spark, split, glob="*.parquet", options=mfpt
            ).collect(),
            "q_stream_event_pattern": lambda: _event_pattern_stream(
                spark, split, glob="*.parquet", options=mfpt
            ).collect(),
            "q_stream_chained_windows": lambda: _chained_windows_stream(
                spark, split, glob="*.parquet", options=mfpt
            ).collect(),
            "q_stream_outer_join": lambda: outer_join_stream(
                spark, split
            ).collect(),
            "q_stream_dedup_lsh": lambda: _dedup_lsh_pipeline(
                spark, d, n_files=n_files, options=mfpt
            ).collect(),
        }
        try:
            for name in streams:
                fn = jobs[name]
                replay.PROGRESS_CAPTURE = []
                try:
                    t0 = time.perf_counter()
                    rows = len(fn())
                    wall = time.perf_counter() - t0
                    batches, srows, sbytes = capture_stats(replay)
                    data = [b for b in batches if (b["in_rows"] or 0) > 0]
                    trig = [
                        b["trigger_ms"]
                        for b in data
                        if b["trigger_ms"] is not None
                    ]
                    print(
                        json.dumps(
                            {
                                "sf": label,
                                "stream": name,
                                "shuffle_partitions": shuffle,
                                "n_files": n_files,
                                "state_provider": provider or "hdfs",
                                "wall_s": round(wall, 2),
                                "out_rows": rows,
                                "n_data_batches": len(data),
                                "batch_ms_median": (
                                    sorted(trig)[len(trig) // 2]
                                    if trig
                                    else None
                                ),
                                "batch_ms_max": max(trig) if trig else None,
                                "max_state_rows": srows,
                                "max_state_mb": round(sbytes / 1e6, 2),
                            }
                        ),
                        flush=True,
                    )
                except Exception as exc:  # noqa: BLE001
                    print(
                        json.dumps(
                            {
                                "sf": label,
                                "stream": name,
                                "error": f"{type(exc).__name__}: {exc}"[
                                    :300
                                ],
                            }
                        ),
                        flush=True,
                    )
                finally:
                    replay.PROGRESS_CAPTURE = None
                spark.catalog.clearCache()
        finally:
            shutil.rmtree(split, ignore_errors=True)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("names", nargs="*", help="QueryIDs or TWINS keys")
    ap.add_argument("--set", dest="set_name", choices=sorted(SETS))
    ap.add_argument("--dirs", nargs="+", default=DIRS)
    ap.add_argument("--stream", action="store_true")
    ap.add_argument("--streams", nargs="+", default=STREAMS,
                    choices=STREAMS)
    ap.add_argument("--shuffle-partitions", type=int, default=None)
    ap.add_argument("--n-files", type=int, default=N_FILES)
    ap.add_argument("--state-provider", choices=["hdfs", "rocksdb"],
                    default=None)
    ap.add_argument("--list", action="store_true")
    args = ap.parse_args()
    if args.list:
        for k, v in SETS.items():
            print(f"{k}: {' '.join(v)}")
        print(f"streams: {' '.join(STREAMS)}")
        return 0
    if args.stream:
        run_stream(
            args.streams, args.dirs, args.shuffle_partitions or 8,
            args.n_files, args.state_provider,
        )
        return 0
    names = args.names or SETS.get(args.set_name or "", [])
    if not names:
        ap.error("give QueryIDs, --set NAME, or --stream")
    run_batch(names, args.dirs, args.shuffle_partitions or 32)
    return 0


if __name__ == "__main__":
    sys.exit(main())
