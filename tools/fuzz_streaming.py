#!/usr/bin/env python
"""Differential fuzz grammar v4 — the TRUE readStream surface (r13
verdict item 5).  Grammars v1-v3 exhaust batch SQL and batch-twin
window SPECS; nothing fuzzed the actual streaming execution paths:
watermark gating, append-mode emission, session merges across
micro-batches, state eviction, multi-batch replay.  Each v4 seed
builds one randomized stateful-streaming plan, replays the events
fixture through the deterministic drain harness (streaming/replay.py,
AvailableNow + memory sink), and diffs the streamed answer against
the BATCH twin of the same plan — same engine, two execution paths,
so the comparison pins streaming semantics rather than SQL parity.

Kinds (weights in gen_case4):
  twin_complete    tumbling/sliding windowed agg, complete mode:
                   streamed == batch exactly (multi-batch replay
                   exercises partial-agg state merge across batches).
  wm_append        watermark + APPEND tumbling agg (the strictest
                   emission contract): streamed == batch restricted
                   to closed windows (window_end <= max(ts) - delay —
                   the rule q_stream_watermark_append pinned).
  session_append   session_window + watermark + append: streamed ==
                   batch sessions with session_end <= max(ts) - delay
                   (session merge ACROSS micro-batches is the state
                   machinery under test).
  dedup_append     dropDuplicates over a random key subset: streamed
                   emissions == batch distinct of the same projection.

Randomized per seed: window width / slide / session gap / watermark
delay, aggregate set (count / integer-cents sum / min / max — all
order-exact, no float-sum nondeterminism), group keys (event_type,
user_id % k, none), a random predicate, and the REPLAY BATCHING
(n_files in {1, 2, 4, 8} time-ordered splits with maxFilesPerTrigger=1
— 8 files means the watermark advances seven times mid-replay, so
eviction and append emission happen incrementally, not in one final
flush).

Time-ordered replay means no late data, which keeps every kind
deterministic: the surfaces fuzzed are state merge, watermark
advancement, and emission gating — not Spark's best-effort late-drop,
which is replay-order-dependent and would make seeds flaky.

Usage:
    python tools/fuzz_streaming.py --n 200 --seed0 0
    python tools/fuzz_streaming.py --n 1000 --seed0 0 --stop-on-fail

Failures land in tools/fuzz_failures/stream_seed_N.json.
"""

from __future__ import annotations

import atexit
import json
import random
import shutil
import sys
import tempfile
from dataclasses import asdict, dataclass
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from skyhookdb_ceph_spark.catalog import Catalog  # noqa: E402
from skyhookdb_ceph_spark.streaming import replay  # noqa: E402

# agg menu: every entry is ORDER-EXACT (bigint count, integer-cents
# sum, min/max over identical doubles) so streamed-vs-batch equality
# is exact, never quantization-lucky
_AGGS = {
    "cnt": "CAST(count(*) AS BIGINT) AS cnt",
    "sum_cents": (
        "CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)"
        " AS sum_cents"
    ),
    "mn": "min(value) AS mn",
    "mx": "max(value) AS mx",
}

_PREDS = (
    None,
    "event_type = 'click'",
    "event_type IN ('click', 'view')",
    "value > 25.0",
    "user_id % 3 = 1",
)

_WIDTHS_MIN = (7, 11, 15, 30, 45, 60, 90, 120, 240)
_DELAYS_MIN = (0, 5, 10, 30, 60, 360)
_GAPS_MIN = (5, 10, 30, 90)
_N_FILES = (1, 2, 4, 8)


@dataclass
class StreamSpec:
    kind: str
    n_files: int
    pred: str | None
    keys: list[str]  # group keys beside the window (SQL exprs)
    aggs: list[str]  # _AGGS keys
    width_min: int
    slide_min: int | None  # sliding iff not None
    delay_min: int
    gap_min: int
    dedup_cols: list[str]
    # v4c additions (defaulted so v4/v4b seed corpora stay
    # bit-reproducible): right-leg watermark delay and join-key skew
    delay_b_min: int = 0
    key_mod: int | None = None  # join key = user_id % key_mod (None: raw)


def gen_case4(seed: int) -> StreamSpec:
    rng = random.Random(seed * 2654435761 % (2**31 - 1))
    kind = rng.choice(
        ["twin_complete", "twin_complete", "wm_append", "wm_append",
         "session_append", "dedup_append"]
    )
    keys = rng.choice(
        [[], ["event_type"], [f"user_id % {rng.choice((2, 3, 5))}"],
         ["event_type", "user_id % 4"]]
    )
    width = rng.choice(_WIDTHS_MIN)
    slide = None
    if kind == "twin_complete" and rng.random() < 0.4:
        slide = rng.choice([w for w in _WIDTHS_MIN if w < width] or [width])
    return StreamSpec(
        kind=kind,
        n_files=rng.choice(_N_FILES),
        pred=rng.choice(_PREDS),
        keys=keys,
        aggs=rng.sample(sorted(_AGGS), rng.randint(1, 3)),
        width_min=width,
        slide_min=slide,
        delay_min=rng.choice(_DELAYS_MIN),
        gap_min=rng.choice(_GAPS_MIN),
        dedup_cols=rng.choice(
            [["event_type"], ["user_id"], ["event_type", "user_id % 7"]]
        ),
    )


# ---------------------------------------------------------------------------
# replay-dir cache: one time-ordered split per (sf_dir, n_files)
# ---------------------------------------------------------------------------

_SPLIT_CACHE: dict[tuple[str, int], str] = {}


@atexit.register
def _drop_split_cache() -> None:
    # Split replays land in scratch (possibly /dev/shm tmpfs); don't
    # leak RAM-disk space past process exit (r14 ADVICE).
    for d in _SPLIT_CACHE.values():
        shutil.rmtree(d, ignore_errors=True)
    _SPLIT_CACHE.clear()


def _split_dir(sf_dir: str, n_files: int) -> str:
    if n_files == 1:
        return sf_dir  # the fixture itself is the 1-file replay
    key = (sf_dir, n_files)
    if key not in _SPLIT_CACHE:
        import os

        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        from skyhookdb_ceph_spark.queries._util import _scratch_dir

        out = tempfile.mkdtemp(prefix="fuzzv4_split_", dir=_scratch_dir())
        t = pq.read_table(f"{sf_dir}/events.parquet")
        t = t.take(pc.sort_indices(t, sort_keys=[("ts", "ascending")]))
        n = t.num_rows
        for i in range(n_files):
            lo, hi = i * n // n_files, (i + 1) * n // n_files
            p = f"{out}/part-{i:02d}.parquet"
            pq.write_table(t.slice(lo, hi - lo), p)
            os.utime(p, (1000 + i, 1000 + i))
        _SPLIT_CACHE[key] = out
    return _SPLIT_CACHE[key]


# ---------------------------------------------------------------------------
# plan builders — ONE function applied to both the batch and the
# streamed DataFrame, so the two sides cannot drift
# ---------------------------------------------------------------------------


def _windowed(df, s: StreamSpec, watermark: bool):
    if s.pred:
        df = df.filter(s.pred)
    if watermark:
        df = df.withWatermark("ts", f"{s.delay_min} minutes")
    win = (
        F.window("ts", f"{s.width_min} minutes", f"{s.slide_min} minutes")
        if s.slide_min
        else F.window("ts", f"{s.width_min} minutes")
    )
    gkeys = [F.expr(k).alias(f"k{i}") for i, k in enumerate(s.keys)]
    return (
        df.groupBy(win, *gkeys)
        .agg(*[F.expr(_AGGS[a].rsplit(" AS ", 1)[0]).alias(a) for a in s.aggs])
        .select(
            F.col("window.start").alias("ws"),
            F.col("window.end").alias("we"),
            *[f"k{i}" for i in range(len(s.keys))],
            *s.aggs,
        )
    )


def _sessioned(df, s: StreamSpec, watermark: bool):
    if s.pred:
        df = df.filter(s.pred)
    if watermark:
        df = df.withWatermark("ts", f"{s.delay_min} minutes")
    gkeys = [F.expr(k).alias(f"k{i}") for i, k in enumerate(s.keys)]
    return (
        df.groupBy(
            F.session_window("ts", f"{s.gap_min} minutes"),
            F.col("user_id"),
            *gkeys,
        )
        .agg(*[F.expr(_AGGS[a].rsplit(" AS ", 1)[0]).alias(a) for a in s.aggs])
        .select(
            F.col("session_window.start").alias("ws"),
            F.col("session_window.end").alias("we"),
            "user_id",
            *[f"k{i}" for i in range(len(s.keys))],
            *s.aggs,
        )
    )


def _deduped(df, s: StreamSpec):
    if s.pred:
        df = df.filter(s.pred)
    proj = df.selectExpr(
        *[f"{c} AS d{i}" for i, c in enumerate(s.dedup_cols)]
    )
    return proj.dropDuplicates([f"d{i}" for i in range(len(s.dedup_cols))])


# ---------------------------------------------------------------------------
# per-seed compare
# ---------------------------------------------------------------------------


def _rows(df) -> list[tuple]:
    return sorted(map(tuple, df.collect()))


def compare4(spec: StreamSpec, spark, sf_dir: str) -> str | None:
    batch = Catalog(spark, sf_dir).events
    sdir = _split_dir(sf_dir, spec.n_files)
    opts = {"maxFilesPerTrigger": "1"} if spec.n_files > 1 else None
    glob = "*.parquet" if spec.n_files > 1 else "events.parquet"
    stream = replay.events_stream(spark, sdir, glob=glob, options=opts)

    try:
        if spec.kind == "twin_complete":
            got = replay.drain_to_memory(
                _windowed(stream, spec, watermark=False),
                output_mode="complete",
            )
            want = _windowed(batch, spec, watermark=False)
        elif spec.kind == "wm_append":
            got = replay.drain_to_memory(
                _windowed(stream, spec, watermark=True),
                output_mode="append",
                needs_watermark_batch=True,
            )
            # the q_stream_watermark_append rule: emitted iff closed,
            # closed iff window_end <= max(ts over the FILTERED
            # input) - delay (the watermark tracks the aggregated
            # stream's own event times)
            base = batch.filter(spec.pred) if spec.pred else batch
            want = _windowed(batch, spec, watermark=False).join(
                F.broadcast(base.agg(F.max("ts").alias("_mx"))),
                F.expr(f"we <= _mx - INTERVAL {spec.delay_min} MINUTE"),
                "inner",
            ).drop("_mx")
        elif spec.kind == "session_append":
            got = replay.drain_to_memory(
                _sessioned(stream, spec, watermark=True),
                output_mode="append",
                needs_watermark_batch=True,
            )
            base = batch.filter(spec.pred) if spec.pred else batch
            want = _sessioned(batch, spec, watermark=False).join(
                F.broadcast(base.agg(F.max("ts").alias("_mx"))),
                F.expr(f"we <= _mx - INTERVAL {spec.delay_min} MINUTE"),
                "inner",
            ).drop("_mx")
        else:  # dedup_append
            got = replay.drain_to_memory(
                _deduped(stream, spec), output_mode="append"
            )
            want = _deduped(batch, spec)
        g, w = _rows(got), _rows(want)
    except Exception as exc:  # noqa: BLE001
        return f"raised {type(exc).__name__}: {exc}"[:400]
    if len(g) != len(w):
        return f"rowcount streamed={len(g)} batch={len(w)}"
    if g != w:
        i = next(i for i, (a, b) in enumerate(zip(g, w)) if a != b)
        return (
            f"values differ at sorted row {i}: streamed={g[i]}"
            f" batch={w[i]}"
        )
    return None


def _run_generic(
    gen,
    cmp_fn,
    tag: str,
    n: int,
    seed0: int,
    sf_dir: str,
    stop_on_fail: bool = False,
    spark=None,
    progress_every: int = 25,
) -> list[tuple[int, str]]:
    from skyhookdb_ceph_spark.session import get_spark

    if spark is None:
        spark = get_spark(app_name="fuzz_streaming", shuffle_partitions=8)
    failures = []
    for seed in range(seed0, seed0 + n):
        spec = gen(seed)
        problem = cmp_fn(spec, spark, sf_dir)
        if problem is not None:
            out_dir = Path(__file__).parent / "fuzz_failures"
            out_dir.mkdir(exist_ok=True)
            (out_dir / f"{tag}_seed_{seed}.json").write_text(
                json.dumps(
                    {"seed": seed, "spec": asdict(spec), "problem": problem},
                    indent=2,
                )
            )
            print(f"DIVERGE seed={seed} [{spec.kind}] {problem}")
            print(f"  spec: {asdict(spec)}")
            failures.append((seed, problem))
            if stop_on_fail:
                break
        elif progress_every and (seed - seed0 + 1) % progress_every == 0:
            print(f"... {seed - seed0 + 1}/{n} green", flush=True)
    return failures


def run4(
    n: int,
    seed0: int,
    sf_dir: str,
    stop_on_fail: bool = False,
    spark=None,
    progress_every: int = 25,
) -> list[tuple[int, str]]:
    return _run_generic(
        gen_case4, compare4, "stream", n, seed0, sf_dir,
        stop_on_fail, spark, progress_every,
    )




# ---------------------------------------------------------------------------
# grammar v4b — stream-stream joins + update-mode reconciliation
# (separate generator so the v4 seed corpus stays bit-reproducible)
# ---------------------------------------------------------------------------

_JOIN_RANGES_MIN = (15, 30, 60, 120)
_TYPE_PAIRS = (
    ("purchase", "click"), ("view", "click"), ("purchase", "view"),
)


def gen_case4b(seed: int) -> StreamSpec:
    """Kinds: join_inner — TRUE stream-stream inner join (two
    watermarked legs, user key + time-range band); with time-ordered
    replay no match can be lost to eviction (a row is evicted only
    once the watermark passes ts + range, and any future partner's
    ts is >= the watermark by admission order), so streamed == batch
    inner join EXACTLY while the state-eviction machinery still runs.
    wm_update — UPDATE-mode windowed agg: the memory sink collects
    every per-batch re-emission of a key, so the batch twin is
    reconciled per key via the MONOTONE envelope (max of cnt /
    sum-of-nonneg-cents / mx, min of mn) — fuzzing that update-mode
    re-emissions converge on the true aggregate across any replay
    batching."""
    rng = random.Random((seed + 10_000_019) * 40503 % (2**31 - 1))
    kind = rng.choice(["join_inner", "join_inner", "wm_update"])
    width = rng.choice(_WIDTHS_MIN)
    return StreamSpec(
        kind=kind,
        n_files=rng.choice(_N_FILES),
        pred=rng.choice(_PREDS) if kind == "wm_update" else None,
        keys=rng.choice([[], ["event_type"], ["user_id % 3"]])
        if kind == "wm_update"
        else list(rng.choice(_TYPE_PAIRS)),  # join legs ride in keys
        aggs=rng.sample(sorted(_AGGS), rng.randint(1, 3)),
        width_min=width,
        slide_min=rng.choice(_JOIN_RANGES_MIN),  # join: band range
        delay_min=rng.choice(_DELAYS_MIN),
        gap_min=rng.choice(_GAPS_MIN),
        dedup_cols=[],
    )


def _join_legs(df, s: StreamSpec, watermark: bool):
    ta, tb = s.keys
    a = df.filter(F.col("event_type") == ta).select(
        F.col("event_id").alias("a_id"),
        F.col("user_id").alias("a_user"),
        F.col("ts").alias("a_ts"),
    )
    b = df.filter(F.col("event_type") == tb).select(
        F.col("event_id").alias("b_id"),
        F.col("user_id").alias("b_user"),
        F.col("ts").alias("b_ts"),
    )
    if watermark:
        a = a.withWatermark("a_ts", f"{s.delay_min} minutes")
        b = b.withWatermark("b_ts", f"{s.delay_min} minutes")
    return a.join(
        b,
        (F.col("a_user") == F.col("b_user"))
        & (F.col("b_ts") <= F.col("a_ts"))
        & (
            F.col("b_ts")
            >= F.col("a_ts") - F.expr(f"INTERVAL {s.slide_min} MINUTE")
        ),
        "inner",
    ).select("a_id", "b_id", "a_user")


def compare4b(spec: StreamSpec, spark, sf_dir: str) -> str | None:
    batch = Catalog(spark, sf_dir).events
    sdir = _split_dir(sf_dir, spec.n_files)
    opts = {"maxFilesPerTrigger": "1"} if spec.n_files > 1 else None
    glob = "*.parquet" if spec.n_files > 1 else "events.parquet"
    stream = replay.events_stream(spark, sdir, glob=glob, options=opts)
    try:
        if spec.kind == "join_inner":
            got = replay.drain_to_memory(
                _join_legs(stream, spec, watermark=True),
                output_mode="append",
            )
            want = _join_legs(batch, spec, watermark=False)
            g, w = _rows(got), _rows(want)
        else:  # wm_update
            # slide_min is the JOIN range slot in this generator;
            # update-mode windows are tumbling
            from dataclasses import replace as _rep

            spec = _rep(spec, slide_min=None)
            # The max(sum_cents) envelope below is valid ONLY if every
            # value increment is non-negative; verify the premise on
            # the same filtered cohort the windowed agg consumes so a
            # fixture change can never silently falsify the oracle
            # (r14 ADVICE).
            flt = batch.filter(spec.pred) if spec.pred else batch
            neg = flt.agg(F.min("value")).collect()[0][0]
            if neg is not None and float(neg) < 0:
                return (
                    f"wm_update envelope premise violated: min(value)={neg}"
                    " < 0 — sum_cents is not monotone under updates;"
                    " reconcile by last emission per key instead"
                )
            got = replay.drain_to_memory(
                _windowed(stream, spec, watermark=True),
                output_mode="update",
            )
            # reconcile re-emissions: per key, the monotone envelope
            # of every update equals the final (= batch) aggregate —
            # cnt and the non-negative-cents sum only grow, mx only
            # grows, mn only shrinks
            env = {
                "cnt": "max", "sum_cents": "max", "mx": "max", "mn": "min"
            }
            gb = [c for c in got.columns if c not in _AGGS]
            got_r = got.groupBy(*gb).agg(
                *[
                    F.expr(f"{env[a]}({a})").alias(a)
                    for a in spec.aggs
                ]
            )
            want = _windowed(batch, spec, watermark=False)
            g, w = _rows(got_r), _rows(want)
    except Exception as exc:  # noqa: BLE001
        return f"raised {type(exc).__name__}: {exc}"[:400]
    if len(g) != len(w):
        return f"rowcount streamed={len(g)} batch={len(w)}"
    if g != w:
        i = next(i for i, (a, b) in enumerate(zip(g, w)) if a != b)
        return (
            f"values differ at sorted row {i}: streamed={g[i]}"
            f" batch={w[i]}"
        )
    return None


def run4b(
    n: int,
    seed0: int,
    sf_dir: str,
    stop_on_fail: bool = False,
    spark=None,
    progress_every: int = 25,
) -> list[tuple[int, str]]:
    return _run_generic(
        gen_case4b, compare4b, "stream4b", n, seed0, sf_dir,
        stop_on_fail, spark, progress_every,
    )


# ---------------------------------------------------------------------------
# grammar v4c — stream-stream OUTER-join emission gates
# (separate generator so the v4/v4b seed corpora stay bit-reproducible)
# ---------------------------------------------------------------------------


def gen_case4c(seed: int) -> StreamSpec:
    """Kinds: join_left / join_right / join_full — TRUE stream-stream
    OUTER joins over two watermarked legs (key-equality + time-band
    b_ts in [a_ts - band, a_ts]), randomized over watermark delay PER
    SIDE, band width, join-key skew (user_id % k for k down to 1 —
    every row one key), and replay batching.  The streamed emission
    set is diffed against the declarative gate the registered
    artifacts pinned (q_stream_outer_join / q_stream_full_outer_join):
    matches emit on arrival (= the batch inner join, exactly);
    NULL-padded rows emit at the per-side eviction schedule against
    the GLOBAL watermark wm = MIN over nodes of (max event time seen
    by that node - its delay) — the a-side evicts at a_ts < wm (no
    future b_ts <= a_ts can arrive), the b-side a full BAND later at
    b_ts < wm - band (a b-row can match any future a up to
    b_ts + band)."""
    rng = random.Random((seed + 77_000_003) * 2246822519 % (2**31 - 1))
    kind = rng.choice(["join_left", "join_left", "join_full", "join_right"])
    return StreamSpec(
        kind=kind,
        n_files=rng.choice(_N_FILES),
        pred=None,
        keys=list(rng.choice(_TYPE_PAIRS)),  # join legs ride in keys
        aggs=[],
        width_min=0,
        slide_min=rng.choice(_JOIN_RANGES_MIN),  # band width
        delay_min=rng.choice(_DELAYS_MIN),  # a-side watermark delay
        gap_min=0,
        dedup_cols=[],
        delay_b_min=rng.choice(_DELAYS_MIN),  # b-side watermark delay
        key_mod=rng.choice((None, 1, 2, 3, 5)),  # 1 = maximal skew
    )


def _outer_legs(df, s: StreamSpec, watermark: bool):
    """The two join legs + band condition; key = user_id % key_mod
    (key skew is a gate-independence check: eviction schedules are
    time-derived, so skewing every row onto one key must change
    nothing about WHICH rows emit NULL-padded)."""
    ta, tb = s.keys
    kx = f"user_id % {s.key_mod}" if s.key_mod else "user_id"
    a = df.filter(F.col("event_type") == ta).selectExpr(
        "event_id AS a_id", f"{kx} AS a_key", "ts AS a_ts"
    )
    b = df.filter(F.col("event_type") == tb).selectExpr(
        "event_id AS b_id", f"{kx} AS b_key", "ts AS b_ts"
    )
    if watermark:
        a = a.withWatermark("a_ts", f"{s.delay_min} minutes")
        b = b.withWatermark("b_ts", f"{s.delay_b_min} minutes")
    cond = (
        (F.col("a_key") == F.col("b_key"))
        & (F.col("b_ts") <= F.col("a_ts"))
        & (
            F.col("b_ts")
            >= F.col("a_ts") - F.expr(f"INTERVAL {s.slide_min} MINUTE")
        )
    )
    return a, b, cond


_HOW = {
    "join_left": "leftOuter",
    "join_right": "rightOuter",
    "join_full": "fullOuter",
}


def _outer_want(batch, s: StreamSpec):
    """The declarative emission gate, stated in batch: inner matches
    unconditionally; unmatched a where a_ts < wm; unmatched b where
    b_ts < wm - band; wm = least over sides of (max own event time -
    own delay) — multipleWatermarkPolicy=min, the default, as pinned
    by q_stream_outer_join."""
    a, b, cond = _outer_legs(batch, s, watermark=False)
    wm = (
        a.agg(F.max("a_ts").alias("_mxa"))
        .crossJoin(b.agg(F.max("b_ts").alias("_mxb")))
        .selectExpr(
            f"least(_mxa - INTERVAL {s.delay_min} MINUTE,"
            f" _mxb - INTERVAL {s.delay_b_min} MINUTE) AS _wm"
        )
    )
    m = a.join(b, cond, "inner").select("a_id", "b_id")
    parts = [m]
    if s.kind in ("join_left", "join_full"):
        parts.append(
            a.join(m.select("a_id"), "a_id", "left_anti")
            .crossJoin(F.broadcast(wm))
            .filter("a_ts < _wm")
            .selectExpr("a_id", "CAST(NULL AS BIGINT) AS b_id")
        )
    if s.kind in ("join_right", "join_full"):
        parts.append(
            b.join(m.select("b_id"), "b_id", "left_anti")
            .crossJoin(F.broadcast(wm))
            .filter(f"b_ts < _wm - INTERVAL {s.slide_min} MINUTE")
            .selectExpr("CAST(NULL AS BIGINT) AS a_id", "b_id")
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


def compare4c(spec: StreamSpec, spark, sf_dir: str) -> str | None:
    batch = Catalog(spark, sf_dir).events
    sdir = _split_dir(sf_dir, spec.n_files)
    opts = {"maxFilesPerTrigger": "1"} if spec.n_files > 1 else None
    glob = "*.parquet" if spec.n_files > 1 else "events.parquet"
    stream = replay.events_stream(spark, sdir, glob=glob, options=opts)
    try:
        a, b, cond = _outer_legs(stream, spec, watermark=True)
        got = replay.drain_to_memory(
            a.join(b, cond, _HOW[spec.kind]).select("a_id", "b_id"),
            output_mode="append",
            needs_watermark_batch=True,
        )
        want = _outer_want(batch, spec)
        # NULL-padded rows make bare tuple sort raise (None < int);
        # sort on a None-first key instead
        nk = lambda t: tuple((v is None, v or 0) for v in t)  # noqa: E731
        g = sorted(map(tuple, got.collect()), key=nk)
        w = sorted(map(tuple, want.collect()), key=nk)
    except Exception as exc:  # noqa: BLE001
        return f"raised {type(exc).__name__}: {exc}"[:400]
    if len(g) != len(w):
        return f"rowcount streamed={len(g)} batch-gate={len(w)}"
    if g != w:
        i = next(i for i, (x, y) in enumerate(zip(g, w)) if x != y)
        return (
            f"values differ at sorted row {i}: streamed={g[i]}"
            f" batch-gate={w[i]}"
        )
    return None


def run4c(
    n: int,
    seed0: int,
    sf_dir: str,
    stop_on_fail: bool = False,
    spark=None,
    progress_every: int = 25,
) -> list[tuple[int, str]]:
    return _run_generic(
        gen_case4c, compare4c, "stream4c", n, seed0, sf_dir,
        stop_on_fail, spark, progress_every,
    )


def main() -> int:
    args = sys.argv[1:]
    n, seed0, sf_dir, stop = 200, 0, "/root/testdata/sf0.001", False
    gen = "v4"
    it = iter(args)
    for a in it:
        if a == "--n":
            n = int(next(it))
        elif a == "--seed0":
            seed0 = int(next(it))
        elif a == "--sf":
            sf_dir = next(it)
        elif a == "--stop-on-fail":
            stop = True
        elif a == "--gen":
            gen = next(it)
    runner = {"v4b": run4b, "v4c": run4c}.get(gen, run4)
    failures = runner(n, seed0, sf_dir, stop)
    print(f"\n{n - len(failures)}/{n} agree [{gen}]")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
