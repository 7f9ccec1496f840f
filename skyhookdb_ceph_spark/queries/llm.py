"""Curation pipeline queries (SURVEY.md §2.12): the actions that apply
the dedup and quality verdicts to a corpus — span stripping, corpus
dedup with survivor weights, the token-budgeted sampler — and the
recomposed end-to-end curation pipeline, with their DuckDB oracles.

The verdicts come from `dedup.py` (cluster labels, duplicate spans)
and `text.py` (the quality cascade), so each action selects over the
same derivation as the audit query that reports it.

House rules: deterministic (hash keys, no RNG), identical aliases on
both sides, and every window partitioned — no source-global running
sum.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from skyhookdb_ceph_spark.queries._util import Catalog, quantize
from skyhookdb_ceph_spark.queries.dedup import (
    _dup_spans,
    _spans_ctes,
    cluster_label_ctes,
    cluster_labels,
)
from skyhookdb_ceph_spark.queries.text import (
    _CASCADE_BD,
    _CASCADE_HI,
    _CASCADE_LO,
    cascade_exprs,
)
from skyhookdb_ceph_spark.registry import query


# ---------------------------------------------------------------------------
# Training-data pipeline: chunking, decontamination, quantization
# ---------------------------------------------------------------------------


def _strip_oracle() -> str:
    # Per-character expansion: keep every position not covered by a
    # span, string_agg back in order.  O(corpus chars) rows — fine for
    # an oracle; the Spark side folds the (tiny) span list instead.
    return f"""WITH {_spans_ctes()},
alldocs AS (
  SELECT doc_id, text, length(text) AS n FROM documents
  WHERE text IS NOT NULL),
chars AS (
  SELECT a.doc_id, i, substr(a.text, CAST(i AS INT), 1) AS c
  FROM alldocs a, unnest(generate_series(1, a.n)) t(i)),
kept AS (
  SELECT ch.doc_id, ch.i, ch.c FROM chars ch
  WHERE NOT EXISTS (
    SELECT 1 FROM spans sp
    WHERE sp.doc_id = ch.doc_id AND ch.i BETWEEN sp.s AND sp.e))
SELECT a.doc_id,
  coalesce(k.clean_text, '') AS clean_text,
  CAST(a.n - coalesce(k.kept_chars, 0) AS BIGINT) AS removed_chars
FROM alldocs a LEFT JOIN (
  SELECT doc_id, string_agg(c, '' ORDER BY i) AS clean_text,
    count(*) AS kept_chars
  FROM kept GROUP BY doc_id) k USING (doc_id)"""


@query(
    "q_transform_strip_dup_spans",
    oracle=_strip_oracle(),
    tags=("llm", "dedup", "transform", "scale-design"),
)
def q_transform_strip_dup_spans(spark, sf_dir):
    """The ACTION twin of q_dedup_substring: actually REMOVE every
    duplicated 32-char span from every document (Lee et al. 2022's
    cleaning step — they delete ALL occurrences of a duplicated
    window, including the first), returning the cleaned corpus.  The
    q_maint_recluster pattern applied to dedup: the audit says WHERE
    the boilerplate is, this op produces the corpus without it.

    Plan: _dup_spans (shared with the audit — spans are maximal,
    non-overlapping, sorted) -> collect the per-doc span list (tiny:
    bounded by doc length / 32) -> one aggregate() fold per doc
    rebuilds the residual string from the gaps between spans — pure
    whole-stage-codegen string ops, one pass per doc, no per-char
    explosion.  Docs with no duplicated span pass through unchanged
    via the left join.  At 100 TB this is a map-shaped transform
    (write back to storage, never collect); the only shuffles are the
    audit's own (gram df + doc-keyed merge).  Oracle rebuilds the
    residual per-character (string_agg over uncovered positions) —
    same answer, oracle-only cost.

    Output: doc_id, clean_text, removed_chars."""
    spans = _dup_spans(spark, sf_dir)
    per_doc = spans.groupBy("doc_id").agg(
        F.expr("array_sort(collect_list(struct(s, e)))").alias("sp")
    )
    docs = (
        Catalog(spark, sf_dir)
        .documents.filter("text IS NOT NULL")
        .selectExpr("doc_id", "text", "length(text) AS n")
    )
    joined = docs.join(per_doc, "doc_id", "left")
    # fold the span list: state = (next uncovered position, accumulated
    # clean text); each span appends the gap before it and jumps past
    # it; finish() appends the tail after the last span
    fold = (
        "aggregate("
        # typed empty array: a bare array() is array<string> and only
        # works here via implicit coercion — pin the element struct
        "  coalesce(sp, CAST(array() AS array<struct<s: int, e: int>>)),"
        "  struct(1 AS pos, '' AS acc),"
        "  (st, x) -> struct("
        "    CAST(x.e + 1 AS INT) AS pos,"
        "    concat(st.acc, substring(text, st.pos, x.s - st.pos)) AS acc),"
        "  st -> concat(st.acc, substring(text, st.pos, n - st.pos + 1))"
        ")"
    )
    # project the fold ONCE, then derive removed_chars from its length
    # in a chained select — inlining the fold twice would make Catalyst
    # evaluate the full per-doc string rebuild twice per row unless CSE
    # happens to fire
    return joined.selectExpr("doc_id", "n", f"{fold} AS clean_text").selectExpr(
        "doc_id",
        "clean_text",
        "CAST(n - length(clean_text) AS BIGINT) AS removed_chars",
    )


def _dedup_corpus_oracle() -> str:
    # Shared CTE chain with q_dedup_fuzzy/q_dedup_cluster (labels =
    # the identical pair derivation + 2-round min-label propagation),
    # then the same total-order survivor window as the Spark side.

    return f"""WITH {cluster_label_ctes()},
feat AS (
  SELECT doc_id, CAST(coalesce(length(text), 0) AS BIGINT) AS n_chars
  FROM documents),
ranked AS (
  SELECT l.doc_id, l.cluster, f.n_chars,
    first_value(l.doc_id) OVER w AS canonical_id,
    row_number() OVER w AS rn
  FROM labels l JOIN feat f USING (doc_id)
  WINDOW w AS (PARTITION BY l.cluster
               ORDER BY f.n_chars DESC, l.doc_id))
SELECT doc_id, cluster, n_chars, canonical_id,
  CASE WHEN rn = 1 THEN 'kept' ELSE 'dropped' END AS status
FROM ranked"""


@query(
    "q_transform_dedup_corpus",
    oracle=_dedup_corpus_oracle(),
    tags=("llm", "dedup", "transform", "scale-design"),
)
def q_transform_dedup_corpus(spark, sf_dir):
    """The whole-document dedup ACTION (r11 verdict item 4): turn the
    near-dup cluster verdicts into the deduplicated corpus.  Survivor
    selection is cluster-canonical with a DETERMINISTIC total order —
    keep the doc with the most characters (most content survives,
    the choice production dedup stacks make), doc_id ascending as the
    tie-break — and every dropped doc carries a pointer to the
    canonical survivor that replaces it (the manifest a downstream
    training run needs to audit what was removed and why).

    Plan: cluster_labels (the EXACT derivation q_dedup_cluster runs —
    shared helper, so audit and action cannot drift) -> doc_id-keyed
    join to per-doc char counts -> ONE keyed shuffle on cluster for
    the survivor window (row_number + first_value share a single
    window spec, one Exchange+Sort).  Beyond the existing pair/label
    derivation the action adds exactly that one cluster-keyed
    shuffle, plan-asserted in tests/test_plans.py.  Window width is
    bounded by cluster size (near-dup clusters are small by
    construction; LSH banding caps the pair fan-in), so no skew
    pathology at corpus scale.  At 100 TB this is a map-shaped
    transform over the labeled corpus: survivors stream to the
    cleaned dataset, dropped rows to the manifest — write back to
    storage, never collect.

    Output: doc_id, cluster, n_chars, canonical_id (= doc_id for
    kept rows), status ('kept' | 'dropped')."""

    labels = cluster_labels(spark, sf_dir)
    feat = Catalog(spark, sf_dir).documents.selectExpr(
        "doc_id", "CAST(coalesce(length(text), 0) AS BIGINT) AS n_chars"
    )
    w = Window.partitionBy("cluster").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    return (
        labels.join(feat, "doc_id")
        .select(
            "doc_id",
            "cluster",
            "n_chars",
            F.first("doc_id").over(w).alias("canonical_id"),
            F.row_number().over(w).alias("rn"),
        )
        .selectExpr(
            "doc_id",
            "cluster",
            "n_chars",
            "canonical_id",
            "CASE WHEN rn = 1 THEN 'kept' ELSE 'dropped' END AS status",
        )
    )


_TB_BUDGET = 800  # tokens per source
_TB_K = 4  # hash buckets per source (budget split evenly)
# Knuth draw with the §L.7 overflow guard: deterministic "shuffle"
# order within a source, identical in both engines
_TB_HASH = "(((doc_id % 2147483647) * 2654435761) % 4294967296)"
# bucket = the HIGH two bits of the product (Fibonacci hashing).  The
# LOW bits preserve id strides (knuth is odd, so h ≡ doc_id mod 2^k):
# with source = id % 20 the naive h % 4 put EVERY doc of a source in
# ONE bucket — found live while building this op, the same
# strided-id trap as the r11 recall-sample advisory.
_TB_BKT = f"CAST(floor(({_TB_HASH}) / 1073741824.0) AS BIGINT)"

_TOKEN_BUDGET_ORACLE = f"""
WITH t AS (
  SELECT doc_id, source,
    CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_tokens,
    {_TB_HASH} AS h,
    {_TB_BKT} AS bkt
  FROM documents WHERE text IS NOT NULL),
c AS (
  SELECT *, sum(n_tokens) OVER (
      PARTITION BY source, bkt ORDER BY h, doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM t)
SELECT source,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(CASE WHEN cum <= {_TB_BUDGET // _TB_K} THEN 1 ELSE 0 END)
    AS BIGINT) AS n_kept,
  CAST(sum(CASE WHEN cum <= {_TB_BUDGET // _TB_K} THEN n_tokens ELSE 0 END)
    AS BIGINT) AS tokens_kept,
  floor(sum(CASE WHEN cum <= {_TB_BUDGET // _TB_K} THEN n_tokens ELSE 0 END)
    * 1.0 / {_TB_BUDGET} * 1000000 + 0.5) / 1000000 AS fill_frac
FROM c GROUP BY source ORDER BY source
"""


@query(
    "q_sample_token_budget",
    oracle=_TOKEN_BUDGET_ORACLE,
    tags=("llm", "sampling", "scale-design"),
)
def q_sample_token_budget(spark, sf_dir):
    """TOKEN-budgeted mixture sampling — the consumption side of
    q_data_mix: that op decides how many tokens each source deserves;
    this op SELECTS the documents that fill the budget.  Training
    mixtures are specified in tokens, not documents (a source of
    long documents exhausts its share with fewer docs), so the
    sampler must account in tokens.

    The scalable form is the point: an exact greedy prefix per source
    is a SINGLE-TASK running sum over the whole source — the
    unpartitionable-window scale killer this repo bans.  Instead the
    budget is split evenly across k hash buckets of the source
    (Knuth-hashed doc_id — the §L.7 overflow-guarded draw — so bucket
    membership and order are a deterministic shuffle), and the greedy
    prefix cumsum runs per (source, bucket): k parallel bounded
    windows, identical in both engines.  The trade vs the exact
    prefix is bounded by k · max_doc_tokens of overshoot/undershoot —
    the same accept-bounded-error-for-parallelism argument as
    distributed reservoir sampling; at 100 TB k scales with
    budget / target-partition-tokens while the plan shape is fixed.

    Output: per-source census — n_docs, n_kept, tokens_kept,
    fill_frac (of the whole source budget, 1e-6-quantized)."""
    d = Catalog(spark, sf_dir).documents.filter("text IS NOT NULL")
    per_bucket = _TB_BUDGET // _TB_K
    t = d.selectExpr(
        "doc_id",
        "source",
        "CAST(size(split(trim(text), ' ')) AS BIGINT) AS n_tokens",
        f"{_TB_HASH} AS h",
        f"{_TB_BKT} AS bkt",
    )
    w = (
        Window.partitionBy("source", "bkt")
        .orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = t.withColumn("cum", F.sum("n_tokens").over(w))
    kept = F.when(F.col("cum") <= per_bucket, 1).otherwise(0)
    kept_tok = F.when(F.col("cum") <= per_bucket, F.col("n_tokens")).otherwise(
        F.lit(0)
    )
    return (
        c.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(kept).cast("bigint").alias("n_kept"),
            F.sum(kept_tok).cast("bigint").alias("tokens_kept"),
            quantize(F.sum(kept_tok) * 1.0 / _TB_BUDGET, 6).alias(
                "fill_frac"
            ),
        )
        .orderBy("source")
    )


def _dedup_weights_oracle() -> str:

    return f"""WITH {cluster_label_ctes()},
feat AS (
  SELECT doc_id, CAST(coalesce(length(text), 0) AS BIGINT) AS n_chars
  FROM documents),
ranked AS (
  SELECT l.doc_id, l.cluster,
    row_number() OVER w AS rn,
    CAST(count(*) OVER (PARTITION BY l.cluster) AS BIGINT) AS weight
  FROM labels l JOIN feat f USING (doc_id)
  WINDOW w AS (PARTITION BY l.cluster
               ORDER BY f.n_chars DESC, l.doc_id))
SELECT doc_id, cluster, weight FROM ranked WHERE rn = 1"""


@query(
    "q_transform_dedup_weights",
    oracle=_dedup_weights_oracle(),
    tags=("llm", "dedup", "transform"),
)
def q_transform_dedup_weights(spark, sf_dir):
    """COUNT-PRESERVING dedup: the survivor set of
    q_transform_dedup_corpus, each carrying weight = its cluster's
    size.  Plain dedup shifts the training distribution toward
    content that was never duplicated; weighting each survivor by its
    duplicate count preserves the original distribution while still
    training on each text once (the sampler draws survivors
    proportionally to weight).  Both regimes exist in practice —
    dedup-hard (weight ignored) and dedup-weighted — so the manifest
    carries the count and the downstream sampler chooses.

    Same shared cluster_labels derivation and the SAME canonical
    total order as the corpus action (chars desc, doc_id asc — the
    two ops provably pick identical survivors); the weight is a
    count window over the same cluster partition, so survivor choice
    and weight ride one cluster-keyed shuffle.  Output: doc_id
    (survivor), cluster, weight."""

    labels = cluster_labels(spark, sf_dir)
    feat = Catalog(spark, sf_dir).documents.selectExpr(
        "doc_id", "CAST(coalesce(length(text), 0) AS BIGINT) AS n_chars"
    )
    w = Window.partitionBy("cluster").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    wc = Window.partitionBy("cluster")
    return (
        labels.join(feat, "doc_id")
        .select(
            "doc_id",
            "cluster",
            F.row_number().over(w).alias("rn"),
            F.count(F.lit(1)).over(wc).cast("bigint").alias("weight"),
        )
        .filter("rn = 1")
        .select("doc_id", "cluster", "weight")
    )


_E2E2_DUP_FRAC_MAX = 0.5  # drop docs more than half covered by dup spans


def _e2e_v2_oracle() -> str:

    return f"""WITH {_spans_ctes()},
census AS (
  SELECT doc_id,
    floor(sum(e - s + 1) * 1.0 / any_value(n) * 1000000 + 0.5) / 1000000
      AS dup_frac
  FROM spans GROUP BY doc_id),
base AS (
  SELECT doc_id, lang, n_chars, text, string_split(text, ' ') AS toks,
    row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
  FROM documents WHERE text IS NOT NULL),
s1 AS (
  SELECT *, floor((0.5 * least(len(toks) / 80.0, 1.0)
    + 0.5 * (len(list_distinct(toks)) * 1.0 / len(toks))) * 1000000 + 0.5)
    / 1000000 AS q1
  FROM base),
s2 AS (
  SELECT *, CASE WHEN len(toks) < 2 THEN 1.0
    ELSE floor((len(list_distinct(list_transform(
      generate_series(1, len(toks) - 1),
      i -> toks[i] || ' ' || toks[i + 1]))) * 1.0
      / (len(toks) - 1)) * 1000000 + 0.5) / 1000000 END AS bd
  FROM s1),
kept AS (
  SELECT s2.doc_id, lang,
    CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_tokens
  FROM s2 LEFT JOIN census USING (doc_id)
  WHERE rn = 1 AND n_chars BETWEEN 50 AND 5000
    AND (q1 >= {_CASCADE_HI} OR (q1 >= {_CASCADE_LO} AND bd >= {_CASCADE_BD}))
    AND coalesce(dup_frac, 0.0) < {_E2E2_DUP_FRAC_MAX}),
split AS (
  SELECT doc_id, lang, n_tokens,
    CASE WHEN (((doc_id % 2147483647) * 2654435761) % 4294967296) % 100 < 80
         THEN 'train'
         WHEN (((doc_id % 2147483647) * 2654435761) % 4294967296) % 100 < 90
         THEN 'val'
         ELSE 'test' END AS part
  FROM kept)
SELECT part,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
  CAST(min(doc_id) AS BIGINT) AS min_doc
FROM split GROUP BY part ORDER BY part"""


@query(
    "q_pipeline_e2e_v2",
    oracle=_e2e_v2_oracle(),
    tags=("llm", "pipeline", "scale-design"),
)
def q_pipeline_e2e_v2(spark, sf_dir):
    """The end-to-end curation pipeline RECOMPOSED with the round-11
    operators folded in (r11 verdict item 8): exact dedup + cascade
    quality gate + substring-span dedup gate + deterministic split +
    token accounting, still as ONE Catalyst plan.

    What changed vs q_pipeline_e2e (and why each change matters at
    100 TB):
    - Exact dedup is now a row_number window over md5(text) instead
      of v1's groupBy + semi-join-back — v1's shape scans the corpus
      TWICE (once for the digest agg, once for the kept side); the
      window shape scans it ONCE, so the whole main pipeline — dedup
      rank, cascade scores, length screen, split bucket — rides a
      single corpus pass before its one digest-keyed shuffle
      (plan-asserted: the main subtree has exactly one Scan parquet
      below the digest Exchange).  That is the shared-scan principle
      (q_scan_shared) applied to the pipeline's per-row screens.
      Bonus the declarative form gets for free: the rn = 1 filter
      triggers Catalyst's rank-limit pushdown (WindowGroupLimit),
      pruning duplicate docs per partition BEFORE the digest shuffle
      carries them — exactly the map-side reduction v1's agg had,
      without the second scan.
    - The quality gate is the two-stage CASCADE (shared cascade_exprs
      with q_text_quality_cascade — the expensive bigram score only
      evaluates for the uncertain q1 band, lazily per row).
    - A substring-span gate drops boilerplate-dominated docs
      (dup_frac >= 0.5 from the shared _dup_spans derivation — the
      Lee et al. span audit as an admission screen); its census joins
      in doc-keyed and left-absent docs pass (no spans).
    Whole plan: 2 corpus scans total (main pass + the span census's
    own narrow doc_id+text projection), v1-naive would be >= 5 passes
    for the same screens.  Shuffles: gram-key window, span interval
    merge (doc-keyed), digest window, census join, final 3-row agg.

    Output: part, n_docs, n_langs, total_tokens, min_doc."""

    census = _dup_spans(spark, sf_dir).groupBy("doc_id").agg(
        quantize(
            F.sum(F.col("e") - F.col("s") + 1) / F.first("n"), 6
        ).alias("dup_frac")
    )
    q1, bd = cascade_exprs()
    w = Window.partitionBy(F.expr("md5(text)")).orderBy("doc_id")
    base = (
        Catalog(spark, sf_dir)
        .documents.filter("text IS NOT NULL")
        .select(
            "doc_id",
            "lang",
            "n_chars",
            "text",
            F.row_number().over(w).alias("rn"),
        )
    )
    kept = (
        base.filter(
            f"rn = 1 AND n_chars BETWEEN 50 AND 5000 AND "
            f"({q1} >= {_CASCADE_HI} OR "
            f"({q1} >= {_CASCADE_LO} AND {bd} >= {_CASCADE_BD}))"
        )
        .join(census, "doc_id", "left")
        .filter(f"coalesce(dup_frac, 0.0) < {_E2E2_DUP_FRAC_MAX}")
    )
    # pre-mod by 2^31-1 keeps the Knuth product inside BIGINT for ANY
    # id: the r12 scale smoke KILLED the unguarded form at 30x, where
    # gen_scale's offset doc_ids (max 2.9e10) overflow under ANSI
    # (BASELINE.md §L.7); same guard as the recall-curve audit sample
    bucket = (F.col("doc_id") % 2147483647) * 2654435761 % 4294967296 % 100
    split = kept.select(
        "doc_id",
        "lang",
        F.size(F.split(F.trim("text"), " ")).cast("bigint").alias("n_tokens"),
        F.when(bucket < 80, "train")
        .when(bucket < 90, "val")
        .otherwise("test")
        .alias("part"),
    )
    return (
        split.groupBy("part")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.countDistinct("lang").cast("bigint").alias("n_langs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            F.min("doc_id").cast("bigint").alias("min_doc"),
        )
        .orderBy("part")
    )
