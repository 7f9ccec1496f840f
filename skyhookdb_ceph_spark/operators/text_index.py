"""Inverted text index (SURVEY.md §2.11) — the Spark re-expression of
SkyhookDM's per-object text index [U: cls_tabular.cc —
exec_build_sky_index_op; cls_tabular_utils.h — SIT_IDX_TXT].

The reference stores (token -> row offsets) in each object's omap and
consults it before scanning.  Here the index is a Parquet layout, and
this module is the only code that knows it.  Its frozen parameters:

- tokenization: ``split(text, ' ')`` with empty tokens dropped and no
  case folding (a caller that wants case-insensitive search lowercases
  its own input);
- ``postings/`` = (token, doc_id, tf) partitioned by ``tok0``, the
  token's first character: a keyword lookup prunes to one directory
  (partition pruning = the omap consult);
- ``dlens/`` = (doc_id, dl), dl counting every split position, empties
  included;
- ``stats/`` = the 1-row (n_docs, avgdl) corpus statistics;
- BM25 with k1 = 1.2 and b = 0.75.

A delta tokenized or keyed differently would file the same logical
term under other tokens / tok0 directories and every later lookup
would silently miss it, so append reuses the build's rule verbatim.

Lifecycle: `build_text_index` writes all three pieces;
`append_text_index` adds a delta's postings and dlens as new files
(base files untouched) and rewrites stats; `compact` rewrites an index
with one (token, doc_id)-sorted postings file per tok0 directory.
Reads: `keyword_search` (tf ranking), `probe_bm25` over a persisted
index and `bm25_search` per execution; both BM25 paths score through
the one `_bm25_top_k`.

At 100 TB the build is one map + shuffle pass; a probe reads the query
terms' tok0 directories plus the length sidecar, never document bodies.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from skyhookdb_ceph_spark.operators import ensure_parallelism
from skyhookdb_ceph_spark.queries._util import quantize

_K1, _B = 1.2, 0.75


def _postings(docs: DataFrame, terms: tuple[str, ...] | None = None) -> DataFrame:
    """(token, doc_id, tf) of a (doc_id, text) frame under the frozen
    tokenization rule: one explode + one keyed aggregation, the pass a
    probe never contains.  With ``terms`` only those tokens survive the
    explode, so only matching (doc, token) pairs shuffle."""
    keep = F.col("token").isin(*terms) if terms else F.col("token") != ""
    return (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .filter(keep)
        .groupBy("token", "doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )


def _dlens(docs: DataFrame) -> DataFrame:
    return docs.select(
        "doc_id", F.size(F.split("text", " ")).cast("bigint").alias("dl")
    )


def _stats(dlens: DataFrame) -> DataFrame:
    return dlens.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )


def _with_tok0(postings: DataFrame) -> DataFrame:
    return postings.withColumn("tok0", F.substring("token", 1, 1))


def _fetch(postings: DataFrame, terms: tuple[str, ...]) -> DataFrame:
    """The query terms' postings: the tok0 predicate is a partition
    prune on a read-back layout, the token predicate is pushed into the
    pruned scan's row-group stats."""
    first = sorted({t[:1] for t in terms})
    return postings.filter(
        F.col("tok0").isin(first) & F.col("token").isin(*terms)
    )


def _write(spark, docs: DataFrame, path: str, mode: str) -> None:
    docs = ensure_parallelism(docs)
    _with_tok0(_postings(docs)).write.mode(mode).partitionBy("tok0").parquet(
        f"{path}/postings"
    )
    _dlens(docs).write.mode(mode).parquet(f"{path}/dlens")
    _commit_stats(spark, path)


def _commit_stats(spark, path: str) -> None:
    """Rewrite ``stats/`` from the WRITTEN dlens: an aggregate over one
    bigint column instead of a re-tokenize of every body.  avg over
    BIGINT is exact sum / count, so an appended index's stats equal a
    fresh build's bit for bit (tools/fuzz_index.py diffs the two)."""
    _stats(spark.read.parquet(f"{path}/dlens")).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{path}/stats")


def _max_files_per_tok0(path: str) -> int:
    """Max Parquet file count over the index's tok0 directories (a
    directory listing: metadata only, like a manifest read)."""
    worst = 0
    for dirpath, _dirs, files in os.walk(f"{path}/postings"):
        if os.path.basename(dirpath).startswith("tok0="):
            worst = max(worst, sum(f.endswith(".parquet") for f in files))
    return worst


def build_text_index(spark, docs: DataFrame, path: str) -> None:
    """Build the index of a (doc_id, text) frame under ``path``.  Stats
    are written because they are index parameters: a probe reads them
    back and never re-derives them from document bodies."""
    _write(spark, docs, path, "overwrite")


def append_text_index(spark, delta_docs: DataFrame, path: str) -> None:
    """Append a delta corpus to the index at ``path``: postings and
    dlens land as new files (base files byte-untouched, O(delta) work
    instead of an O(corpus) rebuild), then stats are rewritten from the
    combined dlens (the metadata commit: a probe must never score with
    stale n_docs / avgdl)."""
    _write(spark, delta_docs, path, "append")


def compact(spark, src: str, dst: str) -> None:
    """Rewrite the index at ``src`` as a new index at ``dst`` whose
    postings hold ONE file per tok0 directory: repartitioning by tok0
    sends each directory to one task, and rows sorted by (token,
    doc_id) give token-range row-group stats for the probe's pushed
    filter.  Each append leaves new files in every touched directory;
    compaction returns a probe to O(terms) file opens.  The atomic
    swap of ``dst`` for ``src`` is the table-format commit, out of
    scope here.

    Skew: one task per tok0 is fine at fixture scale, but common first
    letters are hot at 100 TB; the scale remedy is
    ``repartitionByRange("tok0", "token")`` with a size-derived count,
    which splits a hot directory into several sorted files that a probe
    still selects by token range."""
    (
        spark.read.parquet(f"{src}/postings")
        .repartition("tok0")
        .sortWithinPartitions("token", "doc_id")
        .write.partitionBy("tok0")
        .parquet(f"{dst}/postings")
    )
    spark.read.parquet(f"{src}/dlens").write.parquet(f"{dst}/dlens")
    _commit_stats(spark, dst)


def keyword_search(postings: DataFrame, keyword: str, k: int = 20) -> DataFrame:
    """Top-k documents for one keyword ranked by tf, over postings rows
    with tok0: a read-back ``postings/`` (the tok0 predicate prunes to
    one partition directory) or ``_with_tok0(_postings(docs))`` in
    memory.  The top-k plans as TakeOrderedAndProject (no global
    sort)."""
    return (
        _fetch(postings, (keyword,))
        .select("doc_id", "tf")
        .orderBy(F.col("tf").desc(), "doc_id")
        .limit(k)
    )


def _bm25_top_k(
    tf: DataFrame, dl: DataFrame, stats: DataFrame, k: int
) -> DataFrame:
    """BM25 top-k from the query terms' (doc_id, token, tf), the
    candidates' (doc_id, dl) and the 1-row (n_docs, avgdl).  df counts
    ``tf`` per token before the dl join, so a candidate restriction on
    ``dl`` leaves df corpus-wide.  df and stats are broadcasts; the
    float sum per doc is over |terms| values, and 6-decimal
    quantization before the rank makes the order engine-invariant.
    Returns (doc_id, bm25, rnk)."""
    df = tf.groupBy("token").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    idf = F.log(1 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5))
    norm = F.col("tf") + _K1 * (1 - _B + _B * F.col("dl") / F.col("avgdl"))
    scored = (
        tf.join(F.broadcast(df), "token")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.sum(idf * F.col("tf") * (_K1 + 1) / norm).alias("raw"))
    )
    top = (
        scored.select("doc_id", quantize(F.col("raw"), 6).alias("bm25"))
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(k)
    )
    w = Window.orderBy(F.desc("bm25"), "doc_id")  # k rows post-limit
    return top.withColumn("rnk", F.row_number().over(w).cast("int"))


def bm25_search(docs: DataFrame, terms: tuple[str, ...], k: int) -> DataFrame:
    """BM25 top-k computed per execution from a (doc_id, text) frame:
    its postings are filtered to ``terms`` at the explode, and dl and
    stats cover exactly the frame's documents.  Lazy; (doc_id, bm25,
    rnk)."""
    dl = _dlens(docs)
    return _bm25_top_k(_postings(docs, terms), dl, _stats(dl), k)


def probe_bm25(
    spark,
    path: str,
    terms: tuple[str, ...],
    k: int = 10,
    doc_pred: str | None = None,
) -> DataFrame:
    """BM25 top-k over a persisted index: the posting fetch is a tok0
    partition prune plus a token filter, and stats come from the
    sidecar, so document bodies never enter the plan (no explode, no
    split).  Lazy; same output as `bm25_search` over the indexed corpus.

    ``doc_pred`` (a doc_id predicate) restricts the CANDIDATES only:
    document frequency is a property of the index, corpus-wide, so
    excluding candidates must not change term weights."""
    tf = _fetch(spark.read.parquet(f"{path}/postings"), terms).select(
        "doc_id", "token", "tf"
    )
    dl = spark.read.parquet(f"{path}/dlens")
    if doc_pred is not None:
        dl = dl.filter(doc_pred)
    return _bm25_top_k(tf, dl, spark.read.parquet(f"{path}/stats"), k)
