"""Reusable operator library (custom ops Spark lacks as built-ins).

Each module implements one family as compositions of DataFrame
operations — no driver-side loops, no row-at-a-time Python UDFs:

- minhash.py    — the one banded MinHash LSH (fuzzy dedup): shingle
  sets, the band encode in its batch (band_signatures) and stream
  (inline_band_signatures) forms, the one Jaccard verify (jaccard_sql
  at THRESHOLD), and the bucketed signature index, build_lsh_index ->
  probe_lsh_index (the one delta probe)
- simhash.py    — SimHash bit-signature clustering
- vectors.py    — cosine/dot expressions, sign-bucket LSH, and the
  one IVF index: the cell key and its Hamming-1 multiprobe set, the
  partitionBy(bucket) layout and lifecycle, build_ivf_index ->
  append_ivf_index (frozen nb) -> read_ivf_index, and the one
  single-query probe
- text_index.py — the one inverted text index (reference IDX_TXT
  analog): its layout and lifecycle, build_text_index ->
  append_text_index -> compact, read by keyword_search and
  probe_bm25; bm25_search scores per execution with the same scorer
- sig_index.py  — the one ANN signature index (1-bit sign + 2-bit
  thermometer codes): its sigs/ + params/ layout and lifecycle,
  build_sig_index -> append_sig_index (stored params), the inline
  encoders fold_sigs / exploded_sigs, and the one cascade every tier
  and recall audit runs: shortlist -> rerank (probe_binary,
  probe_2bit), recall_at_k
- asof.py       — as-of (nearest-timestamp) join
- range_join.py — bucketed band/theta join (no nested-loop)
- multimodal.py — opaque-binary columns + real WAV / PPM codecs
- layout.py     — partitioned/sorted Parquet writer (IDX_REC analog)

Shared helpers here: `ensure_parallelism` (widen a narrow input before
per-row work), `map_rows` (the one Arrow-batched Python row map every
multimodal codec and payload synth runs through) and
`guard_global_window`.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame
from pyspark.sql import types as T


def ensure_parallelism(df: DataFrame, min_parts: int | None = None) -> DataFrame:
    """Spread a narrow input across the cluster before CPU-heavy
    per-row work (hashing, vector math).

    A small fixture is one Parquet split -> ONE task, serializing work
    that should use every core; at 100 TB inputs have thousands of
    splits and this is a no-op (the repartition only fires when the
    current partition count is below the default parallelism), so the
    extra shuffle is never paid when the data is already wide.
    """
    target = min_parts or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def map_rows(
    df: DataFrame,
    cols: list[str],
    fn: Callable[..., list[dict]],
    schema: T.StructType,
) -> DataFrame:
    """Run `fn` over every row of `df[cols]` as ONE Arrow-batched
    `mapInPandas` stage.

    `fn` gets the row's values in `cols` order and returns a list of
    output rows (dicts keyed by `schema` field names), so 1:1 codecs and
    1:N splitters (frames, windows) share the shape.  Python touches
    each record batch once; map parallelism = partition count and
    nothing shuffles.  An exception from `fn` fails the task: a
    malformed payload is never silently dropped.
    """
    names = schema.fieldNames()

    def process(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            rows = [
                out
                for values in zip(*(pdf[c] for c in cols))
                for out in fn(*values)
            ]
            yield pd.DataFrame(rows, columns=names)

    return df.select(*cols).mapInPandas(process, schema)


class GlobalWindowScaleError(RuntimeError):
    """Raised when an unpartitioned window is asked to sort more rows
    than one task should ever hold."""


def guard_global_window(df: DataFrame, max_rows: int = 10_000_000) -> DataFrame:
    """Enforce the dimension-only restriction on unpartitioned windows.

    An `OVER (ORDER BY …)` with no PARTITION BY plans a single-task
    global sort — the first executor OOM at fact-table scale.  Callers
    that genuinely need global ranking on big data should use the
    percentile-boundary + broadcast formulation (q_win_quartile_scalable).
    The count here is a cheap aggregate job (column-pruned scan), and
    at 100 TB failing fast beats an OOM hours into the stage.  Set
    SPARK_GRAFT_ALLOW_GLOBAL_WINDOW=1 to override.
    """
    import os

    if os.environ.get("SPARK_GRAFT_ALLOW_GLOBAL_WINDOW") == "1":
        return df
    n = df.count()
    if n > max_rows:
        raise GlobalWindowScaleError(
            f"unpartitioned window over {n} rows (> {max_rows}): this is a "
            "single-task global sort; use the percentile-boundary pattern "
            "(q_win_quartile_scalable) or set SPARK_GRAFT_ALLOW_GLOBAL_WINDOW=1"
        )
    return df
