"""Training-data pipeline queries (SURVEY.md §2.12), with their DuckDB
oracles:
- sampling and splitting — hash, stratified, balanced, weighted,
  reservoir, Poisson, length-biased and token-budgeted samples, the
  group-aware and hash train/val/test splits, mixture reweighting;
- shaping — sequence packing, curriculum bins, tokenizer pair
  statistics, feature hashing, hard-negative mining;
- the curation actions that apply the dedup and quality verdicts to
  a corpus — span stripping, corpus dedup with survivor weights — and
  the end-to-end curation pipeline in one plan (`q_pipeline_e2e`,
  recomposed as `q_pipeline_e2e_v2`).

The verdicts come from `dedup.py` (cluster labels, duplicate spans)
and `text.py` (the quality cascade), so each action selects over the
same derivation as the audit query that reports it.  Operators
driven: `operators/vectors.py` — the sign-bucket candidate pairs that
`q_mine_hardneg` mines.

House rules: deterministic (hash keys, no RNG), identical aliases on
both sides, and every window partitioned — no source-global running
sum.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from skyhookdb_ceph_spark.operators import ensure_parallelism
from skyhookdb_ceph_spark.queries._util import (
    Catalog,
    _hexval8,
    _hexval8_spark,
    quantize,
)
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


@query(
    "q_sample_hash",
    oracle=(
        "SELECT * FROM lineitem WHERE "
        "substr(md5(l_orderkey || '-' || l_linenumber), 1, 2) < '1a'"
    ),
)
def q_sample_hash(spark, sf_dir):
    """Deterministic ~10% sample by content hash (training-data
    pipelines need reproducible samples; rand()-based sampling is
    neither engine-portable nor stable across retries).  Hash-mod
    sampling is also the 100 TB pattern: pure per-row predicate, pushes
    into the scan pipeline, no state, no coordination."""
    li = Catalog(spark, sf_dir).lineitem
    return li.filter(
        "substring(md5(concat(cast(l_orderkey AS string), '-', "
        "cast(l_linenumber AS string))), 1, 2) < '1a'"
    )


@query(
    "q_sample_stratified",
    oracle=(
        "SELECT doc_id, lang FROM documents "
        "WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) <= '32'"
    ),
    tags=("pipeline", "sampling"),
)
def q_sample_stratified(spark, sf_dir):
    """Deterministic ~20% sample, uniform WITHIN every stratum: keep a
    doc iff the first md5 byte of its id falls under 0x33 (51/256).
    Hash-keyed sampling beats rand() for training data: reproducible,
    join-stable (the same doc is always in or always out), and a pure
    map-side filter — no shuffle, no state, any corpus size."""
    d = Catalog(spark, sf_dir).documents
    return d.filter(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2) <= "32"
    ).select("doc_id", "lang")


@query(
    "q_split_group_aware",
    oracle=(
        "SELECT doc_id, source, "
        "CASE WHEN substr(md5(source), 1, 1) <= 'b' THEN 'train' ELSE 'held_out' END AS split "
        "FROM documents"
    ),
    tags=("pipeline", "sampling"),
)
def q_split_group_aware(spark, sf_dir):
    """Group-aware train/held-out split: the split key is md5(source),
    so EVERY document of a source lands on the same side — the
    leakage-safe split for grouped corpora (near-dup docs cluster
    within sources).  First hex digit <= 'b' => 12/16 = 75% of sources
    train.  Pure per-row expression; no shuffle."""
    d = Catalog(spark, sf_dir).documents
    return d.select(
        "doc_id",
        "source",
        F.when(F.substring(F.md5("source"), 1, 1) <= "b", "train")
        .otherwise("held_out")
        .alias("split"),
    )


@query(
    "q_sample_balanced",
    oracle=(
        "SELECT doc_id, lang FROM ("
        "  SELECT doc_id, lang, row_number() OVER ("
        "    PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn"
        "  FROM documents) WHERE rn <= 20"
    ),
    tags=("pipeline", "sampling"),
)
def q_sample_balanced(spark, sf_dir):
    """Class-balanced downsampling: at most 20 docs per language,
    chosen by md5 order (deterministic, unbiased within class).  One
    shuffle on the class key; per-class ranking never globally sorts.
    At 100 TB per-class counts are bounded by the cap, so the output
    is always small regardless of input skew."""
    d = Catalog(spark, sf_dir).documents
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        d.select("doc_id", "lang", F.row_number().over(w).alias("rn"))
        .filter("rn <= 20")
        .select("doc_id", "lang")
    )


@query(
    "q_pack_sequences",
    oracle=(
        "SELECT doc_id, source, n_tokens, "
        "CAST(floor(CAST(cum_after - n_tokens AS DOUBLE) / 512) AS BIGINT) AS pack_id, "
        "CAST(cum_after - n_tokens AS BIGINT) AS stream_offset "
        "FROM (SELECT doc_id, source, "
        "CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens, "
        "CAST(SUM(CAST(len(string_split(text, ' ')) AS BIGINT)) OVER ("
        "PARTITION BY source ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_after "
        "FROM documents)"
    ),
    tags=("pipeline", "packing"),
)
def q_pack_sequences(spark, sf_dir):
    """Sequence packing for LLM pretraining: concatenate documents in
    deterministic (source, doc_id) order and cut the token stream into
    512-token packs — every doc gets (pack_id, stream_offset) so the
    tokenizer stage can materialize fixed-length training sequences
    without a second pass.  Packing is PER SOURCE (real pipelines pack
    per shard), so the running-sum window is partitioned — no global
    single-task sort, any corpus size."""
    d = Catalog(spark, sf_dir).documents
    ntok = F.size(F.split("text", " ")).cast("bigint")
    base = d.select("doc_id", "source", ntok.alias("n_tokens"))
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    offset = F.sum("n_tokens").over(w) - F.col("n_tokens")
    return base.select(
        "doc_id",
        "source",
        "n_tokens",
        F.floor(offset.cast("double") / 512).cast("bigint").alias("pack_id"),
        offset.cast("bigint").alias("stream_offset"),
    )


@query(
    "q_sample_weighted",
    oracle=(
        "WITH per AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_lang "
        "FROM documents GROUP BY lang), "
        "tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM documents) "
        "SELECT doc_id, d.lang AS lang FROM documents d "
        "JOIN per ON d.lang = per.lang, tot "
        "WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS BIGINT) "
        "* 5 * n_lang < n_total * 65536"
    ),
    tags=("pipeline", "sampling"),
)
def q_sample_weighted(spark, sf_dir):
    """Mixture-weighted resampling: downsample over-represented
    languages toward an EQUAL 1/5 share per language (the
    domain-reweighting step of corpus curation).  Per-language keep
    rate = min(1, n_total / (5 * n_lang)), applied with an md5-keyed
    INTEGER comparison (h * 5 * n_lang < n_total * 65536) — exact in
    both engines, no float thresholds, reproducible, join-stable.
    Plan: two tiny partial aggs broadcast back onto a map-side filter;
    the corpus itself never shuffles."""
    d = Catalog(spark, sf_dir).documents
    per = d.groupBy("lang").agg(F.count("*").cast("bigint").alias("n_lang"))
    tot = d.groupBy().agg(F.count("*").cast("bigint").alias("n_total"))
    h = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10).cast(
        "bigint"
    )
    return (
        d.join(F.broadcast(per), "lang")
        .crossJoin(F.broadcast(tot))
        .filter(h * 5 * F.col("n_lang") < F.col("n_total") * F.lit(65536))
        .select("doc_id", "lang")
    )


@query(
    "q_sample_negatives",
    oracle=(
        "WITH tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings) "
        "SELECT e.vec_id AS anchor_id, "
        "(e.vec_id * 31 + t.i * 7919) % (SELECT n FROM tot) AS neg_id, "
        "e.label AS anchor_label, b.label AS neg_label, CAST(t.i AS INT) AS draw "
        "FROM embeddings e, unnest(generate_series(1, 3)) t(i) "
        "JOIN embeddings b ON b.vec_id = (e.vec_id * 31 + t.i * 7919) % (SELECT n FROM tot) "
        "WHERE b.vec_id != e.vec_id AND b.label != e.label"
    ),
    tags=("pipeline", "sampling"),
)
def q_sample_negatives(spark, sf_dir):
    """Deterministic negative sampling for contrastive training: 3
    pseudo-random draws per anchor via integer hashing over the
    contiguous id space ((id*31 + i*7919) mod n — exact in both
    engines, reproducible run to run), dropping self-hits and
    same-label (positive) collisions, as standard practice does.
    Plan: corpus count = 1-row broadcast; the only shuffle is the
    skinny (anchor, neg_id) equi-join back to labels."""
    e = Catalog(spark, sf_dir).embeddings
    tot = e.groupBy().agg(F.count("*").cast("bigint").alias("n"))
    draws = (
        e.select(
            F.col("vec_id").alias("anchor_id"),
            F.col("label").alias("anchor_label"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "anchor_id",
            "anchor_label",
            F.explode(F.expr("sequence(1, 3)")).alias("draw"),
            "n",
        )
        .withColumn(
            "neg_id",
            (F.col("anchor_id") * 31 + F.col("draw") * 7919) % F.col("n"),
        )
    )
    labels = e.select(
        F.col("vec_id").alias("neg_id"), F.col("label").alias("neg_label")
    )
    return (
        draws.join(labels, "neg_id")
        .filter(
            (F.col("neg_id") != F.col("anchor_id"))
            & (F.col("neg_label") != F.col("anchor_label"))
        )
        .select(
            "anchor_id",
            "neg_id",
            "anchor_label",
            "neg_label",
            F.col("draw").cast("int").alias("draw"),
        )
    )


_QUALITY_SPARK = (
    "floor((cast(0.5 AS double) * least(size(split(text, ' ')) / cast(80.0 AS double), cast(1.0 AS double)) "
    "+ cast(0.5 AS double) * (cast(size(array_distinct(split(text, ' '))) AS double) "
    "/ size(split(text, ' ')))) * 1000000 + 0.5) / 1000000"
)
_QUALITY_DUCKDB = (
    "floor((0.5 * least(len(string_split(text, ' ')) / CAST(80.0 AS DOUBLE), CAST(1.0 AS DOUBLE)) "
    "+ 0.5 * (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) "
    "/ len(string_split(text, ' ')))) * 1000000 + 0.5) / 1000000"
)


@query(
    "q_curriculum_bins",
    oracle=(
        f"WITH scored AS (SELECT doc_id, {_QUALITY_DUCKDB} AS quality FROM documents), "
        "b AS (SELECT quantile_cont(quality, 0.25) AS q1, "
        "quantile_cont(quality, 0.5) AS q2, quantile_cont(quality, 0.75) AS q3 "
        "FROM scored) "
        "SELECT doc_id, quality, CAST(CASE WHEN quality <= q1 THEN 1 "
        "WHEN quality <= q2 THEN 2 WHEN quality <= q3 THEN 3 ELSE 4 END AS INT) AS bin "
        "FROM scored, b"
    ),
    tags=("pipeline", "text"),
)
def q_curriculum_bins(spark, sf_dir):
    """Curriculum binning: quality-score quartile assignment
    (easy -> hard training order).  Same score as q_text_quality;
    same scale-safe shape as q_win_quartile_scalable — percentile
    BOUNDARIES via a mergeable aggregate, broadcast, per-row CASE.
    No global sort or window at any corpus size.  The score is
    6-decimal-quantized BEFORE the quantile, so both engines rank an
    identical multiset."""
    d = Catalog(spark, sf_dir).documents
    scored = d.selectExpr("doc_id", f"{_QUALITY_SPARK} AS quality")
    b = scored.agg(
        F.expr("percentile(quality, 0.25)").alias("q1"),
        F.expr("percentile(quality, 0.5)").alias("q2"),
        F.expr("percentile(quality, 0.75)").alias("q3"),
    )
    return scored.crossJoin(F.broadcast(b)).selectExpr(
        "doc_id",
        "quality",
        "CAST(CASE WHEN quality <= q1 THEN 1 WHEN quality <= q2 THEN 2 "
        "WHEN quality <= q3 THEN 3 ELSE 4 END AS INT) AS bin",
    )


def _hardneg_oracle():
    from skyhookdb_ceph_spark.operators import vectors

    cos = vectors.cosine_duckdb("x.embedding", "y.embedding")
    return f"""
WITH {vectors.banded_cells_cte_duckdb()},
cand AS (
  SELECT DISTINCT a.vec_id AS va, c.vec_id AS vb
  FROM cells a JOIN cells c ON a.bucket = c.bucket AND a.vec_id < c.vec_id),
oriented AS (
  SELECT va AS anchor_id, vb AS cand_id FROM cand
  UNION ALL SELECT vb, va FROM cand),
scored AS (
  SELECT o.anchor_id, o.cand_id,
    floor(({cos}) * 1000000 + 0.5) / 1000000 AS cos_sim,
    x.label AS la, y.label AS lb
  FROM oriented o
  JOIN embeddings x ON x.vec_id = o.anchor_id
  JOIN embeddings y ON y.vec_id = o.cand_id)
SELECT anchor_id, cand_id AS hard_neg_id, cos_sim FROM (
  SELECT anchor_id, cand_id, cos_sim, row_number() OVER (
    PARTITION BY anchor_id ORDER BY cos_sim DESC, cand_id) AS rn
  FROM scored WHERE la != lb) WHERE rn = 1
"""


@query("q_mine_hardneg", oracle=_hardneg_oracle(), tags=("pipeline", "similarity"))
def q_mine_hardneg(spark, sf_dir):
    """Hard-negative mining: per anchor, the MOST similar vector with
    a DIFFERENT label — the pair that most improves a contrastive
    objective.  Candidates come from the scaled multi-band LSH
    (operators/vectors.bucketed_pairs), never all pairs; both
    orientations of each (a < b) pair are scored; ties break on the
    6-decimal-QUANTIZED cosine then id, so the winner is identical
    across engines (raw-double ordering could flip on 1-ulp drift)."""
    from skyhookdb_ceph_spark.operators import vectors

    e = Catalog(spark, sf_dir).embeddings
    pairs = vectors.bucketed_pairs(e)  # va, vb, ea, eb
    cos = quantize(F.expr(vectors.cosine_expr("ea", "eb")), 6)
    scored_ab = pairs.select(
        F.col("va").alias("anchor_id"), F.col("vb").alias("cand_id"), cos.alias("cos_sim")
    )
    scored_ba = pairs.select(
        F.col("vb").alias("anchor_id"), F.col("va").alias("cand_id"), cos.alias("cos_sim")
    )
    scored = scored_ab.unionByName(scored_ba)
    la = e.select(F.col("vec_id").alias("anchor_id"), F.col("label").alias("la"))
    lb = e.select(F.col("vec_id").alias("cand_id"), F.col("label").alias("lb"))
    w = Window.partitionBy("anchor_id").orderBy(
        F.col("cos_sim").desc(), F.col("cand_id")
    )
    return (
        scored.join(la, "anchor_id")
        .join(lb, "cand_id")
        .filter(F.col("la") != F.col("lb"))
        .withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .select("anchor_id", F.col("cand_id").alias("hard_neg_id"), "cos_sim")
    )


_RESERVOIR_ORACLE = """
SELECT doc_id, lang, rnk FROM (
  SELECT doc_id, lang,
    CAST(row_number() OVER (
      PARTITION BY lang
      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS INT) AS rnk
  FROM documents)
WHERE rnk <= 20
"""


@query("q_sample_reservoir", oracle=_RESERVOIR_ORACLE, tags=("pipeline", "sampling"))
def q_sample_reservoir(spark, sf_dir):
    """Exactly-k-per-stratum deterministic sample: rank every doc
    inside its language by a content-independent hash (md5 of id) and
    keep the k smallest — distributed priority/reservoir sampling.
    Unlike q_sample_stratified's rate-based filter (which yields a
    BINOMIAL count per stratum), this guarantees exactly k rows per
    stratum, reproducibly.  The per-stratum top-k is a partial
    TakeOrdered per partition then a k-row merge per key — never a
    global sort; strata are languages, so the window key never skews
    beyond corpus language balance (salt the hash prefix into the
    partition key if one stratum dominates)."""
    d = Catalog(spark, sf_dir).documents
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        d.select("doc_id", "lang")
        .withColumn("rnk", F.row_number().over(w).cast("int"))
        .where("rnk <= 20")
    )


_VOCAB_PAIRS_ORACLE = """
WITH w AS (SELECT string_split(text, ' ') AS words FROM documents),
p AS (
  SELECT unnest(CASE WHEN len(words) >= 2 THEN
    list_transform(generate_series(1, len(words) - 1),
      i -> array_to_string(list_slice(words, i, i + 1), ' '))
    ELSE [] END) AS pair
  FROM w),
c AS (SELECT pair, CAST(count(*) AS BIGINT) AS n FROM p GROUP BY pair)
SELECT pair, n, rnk FROM (
  SELECT pair, n,
    CAST(row_number() OVER (ORDER BY n DESC, pair) AS INT) AS rnk
  FROM c)
WHERE rnk <= 20
"""


@query("q_vocab_pairs", oracle=_VOCAB_PAIRS_ORACLE, tags=("pipeline", "text"))
def q_vocab_pairs(spark, sf_dir):
    """Adjacent-pair frequency mining — the inner statistic of BPE /
    WordPiece tokenizer training (which symbol pair to merge next) and
    of collocation analysis.  Per-doc pair extraction is a pure map
    (no shuffle); counting is one partial-aggregating groupBy on the
    pair string; the top-20 is computed per-partition first (row_number
    after a 20-row TakeOrdered), so nothing global ever sorts the full
    pair vocabulary.  Sub-2-word docs contribute no pairs in either
    engine (identical CASE guard)."""
    d = ensure_parallelism(Catalog(spark, sf_dir).documents)
    # posexplode + lead instead of a transform/slice lambda per pair:
    # the higher-order-function form interpreted one lambda call per
    # pair (measured 4.0 s at sf0.1); the window form is whole-stage
    # codegen over a doc-keyed shuffle whose per-doc row count is
    # bounded by document length (0.5 s).  Sub-2-word docs contribute
    # no pairs in either engine (lead is NULL at doc end).
    words = d.selectExpr(
        "doc_id", "posexplode(split(text, ' ')) AS (pos, w)"
    )
    wnd = Window.partitionBy("doc_id").orderBy("pos")
    counts = (
        words.withColumn("nxt", F.lead("w").over(wnd))
        .filter(F.col("nxt").isNotNull())
        .selectExpr("w || ' ' || nxt AS pair")
        .groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    top = counts.orderBy(F.desc("n"), "pair").limit(20)
    w = Window.orderBy(F.desc("n"), "pair")  # 20 rows post-limit: single tiny task
    return top.withColumn("rnk", F.row_number().over(w).cast("int"))


def _feat_oracle() -> str:

    digest = "md5(concat('fh#', w))"
    idx = f"({_hexval8(digest)} % 256)"
    sign = (
        f"(CASE WHEN ({_hexval8(digest, 9)} % 2) = 0 "
        "THEN 1 ELSE -1 END)"
    )
    return f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
hashed AS (
  SELECT doc_id, {idx} AS feat_idx, {sign} AS sign FROM tok WHERE w <> '')
SELECT doc_id, feat_idx, CAST(sum(sign) AS BIGINT) AS feat_val
FROM hashed GROUP BY doc_id, feat_idx
HAVING sum(sign) <> 0
ORDER BY doc_id, feat_idx
"""


@query("q_feat_hashing", oracle=_feat_oracle(), tags=("llm", "ml"))
def q_feat_hashing(spark, sf_dir):
    """Feature hashing (the hashing trick): tokens map to a fixed
    256-dim sparse vector via hashed index + hashed sign (the signed
    construction keeps collisions unbiased — Weinberger et al.) — the
    vocabulary-free featurizer for n-gram/bag-of-words models at
    corpus scale, where a fitted vocabulary would itself be a big
    shuffle.  One explode + one (doc, idx) partial aggregate; index
    and sign come from disjoint windows of ONE md5 per token (same
    single-digest pattern as q_filter_bloom), via the conv() fast
    path."""

    d = ensure_parallelism(Catalog(spark, sf_dir).documents)
    tok = (
        d.selectExpr("doc_id", "explode(split(text, ' ')) AS w")
        .filter("w <> ''")
        .selectExpr("doc_id", "md5(concat('fh#', w)) AS h")
    )
    return (
        tok.selectExpr(
            "doc_id",
            f"({_hexval8_spark('h')} % 256) AS feat_idx",
            f"(CASE WHEN ({_hexval8_spark('h', 9)} % 2) = 0 "
            "THEN 1 ELSE -1 END) AS sign",
        )
        .groupBy("doc_id", "feat_idx")
        .agg(F.sum("sign").cast("bigint").alias("feat_val"))
        .filter(F.col("feat_val") != 0)
        .orderBy("doc_id", "feat_idx")
    )


_WSAMPLE_ORACLE = """
SELECT doc_id, lang, n_chars
FROM documents
WHERE (((doc_id % 2147483647) * 2654435761) % 1048576) * 600 < n_chars * 1048576
ORDER BY doc_id
"""


@query("q_sample_length_biased", oracle=_WSAMPLE_ORACLE, tags=("pipeline", "sampling"))
def q_sample_length_biased(spark, sf_dir):
    """Weight-proportional Bernoulli sampling: keep each document with
    probability n_chars/600 using a Knuth-multiplicative integer hash
    of its id as the uniform draw — length-biased corpus sampling
    (train on long documents more often) that is deterministic,
    repartition-invariant, and EXACT across engines because the keep
    test is pure 64-bit integer arithmetic (no float rounding, no RNG
    state).  Pure map over the scan: no shuffle, pushdown-friendly;
    the batch twin of weighted reservoir schemes.  Complements
    q_sample_hash (uniform), q_sample_stratified (per-stratum rate)
    and q_sample_weighted (mixture reweighting)."""
    d = ensure_parallelism(Catalog(spark, sf_dir).documents)
    return (
        d.filter(
            F.expr(
                # pre-mod by 2^31-1: overflow guard for huge ids
                # (r12 scale smoke, BASELINE.md §L.7)
                "(((doc_id % 2147483647) * 2654435761) % 1048576) * 600 "
                "< n_chars * 1048576"
            )
        )
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")
    )


_MIX_ORACLE = """
WITH n AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS n_chars_tot
  FROM documents GROUP BY source),
tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n_total FROM n),
scaled AS (
  SELECT source, n_docs, n_chars_tot, n_total,
         pow(n_docs * 1.0 / n_total, 0.5) AS unnorm
  FROM n, tot),
z AS (SELECT sum(unnorm) AS z FROM scaled)
SELECT source, n_docs,
       floor((n_docs * 1.0 / n_total) * 1000000 + 0.5) / 1000000
         AS raw_share,
       floor((unnorm / z) * 1000000 + 0.5) / 1000000 AS mix_weight,
       CAST(floor((unnorm / z) * n_total + 0.5) AS BIGINT)
         AS target_docs
FROM scaled, z ORDER BY source
"""


@query("q_data_mix", oracle=_MIX_ORACLE, tags=("llm", "sampling"))
def q_data_mix(spark, sf_dir):
    """Temperature-scaled mixture reweighting — the standard
    multilingual / multi-domain rebalancing step (sample source s with
    probability proportional to p_s^(1/T); here T=2, i.e. sqrt
    scaling): low-resource sources are up-weighted, dominant sources
    down-weighted, and target_docs gives the per-source sample budget
    a downstream sampler consumes.  Two 1-row scalar aggregates
    (corpus total, normalizer Z) broadcast back as cross joins — the
    per-source table is computed once and never re-scanned, and at
    100 TB everything after the single (source) agg shuffle operates
    on one row per source.  pow/sqrt on doubles is IEEE-identical in
    both engines; shares are quantized to 1e-6 before compare."""
    c = Catalog(spark, sf_dir)
    n = c.documents.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("n_chars_tot"),
    )
    tot = n.agg(F.sum("n_docs").cast("bigint").alias("n_total"))
    scaled = n.join(F.broadcast(tot)).withColumn(
        "unnorm", F.pow(F.col("n_docs") * 1.0 / F.col("n_total"), 0.5)
    )
    z = scaled.agg(F.sum("unnorm").alias("z"))
    return (
        scaled.join(F.broadcast(z))
        .select(
            "source",
            "n_docs",
            quantize(F.col("n_docs") * 1.0 / F.col("n_total"), 6).alias(
                "raw_share"
            ),
            quantize(F.col("unnorm") / F.col("z"), 6).alias("mix_weight"),
            F.floor(
                (F.col("unnorm") / F.col("z")) * F.col("n_total") + F.lit(0.5)
            )
            .cast("bigint")
            .alias("target_docs"),
        )
        .orderBy("source")
    )


# Knuth multiplicative hash in exact BIGINT arithmetic — engine-
# invariant by construction (no engine hash function involved).
# Pre-mod by 2^31-1: unguarded, the product overflows BIGINT under
# ANSI for ids past ~3.4e9 (r12 scale smoke, BASELINE.md §L.7).
_SPLIT_BUCKET = "(((doc_id % 2147483647) * 2654435761) % 4294967296) % 100"

_SPLIT_ORACLE = f"""
WITH b AS (
  SELECT doc_id, lang, n_chars,
         CASE WHEN {_SPLIT_BUCKET} < 80 THEN 'train'
              WHEN {_SPLIT_BUCKET} < 90 THEN 'val'
              ELSE 'test' END AS split
  FROM documents)
SELECT split, lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       CAST(min(doc_id) AS BIGINT) AS min_doc
FROM b GROUP BY split, lang ORDER BY split, lang
"""


@query("q_data_split", oracle=_SPLIT_ORACLE, tags=("llm", "sampling"))
def q_data_split(spark, sf_dir):
    """Deterministic 80/10/10 train/val/test split — the dataset-
    management primitive every training pipeline needs to be
    reproducible across runs AND engines.  The bucket is a Knuth
    multiplicative hash ((id * 2654435761) mod 2^32) mod 100 in exact
    BIGINT arithmetic, so ANY engine computes the identical
    assignment (no dependence on an engine-specific hash builtin) and
    a document's split never changes as the corpus grows — the
    property random %-sampling lacks.  Plan: pure map + one grouped
    agg; the split column is codegen'd integer math the parquet scan
    feeds directly.  At 100 TB this is a single map-side-combined
    shuffle on (split, lang) — 3 x n_langs groups."""
    c = Catalog(spark, sf_dir)
    bucket = (F.col("doc_id") % 2147483647) * 2654435761 % 4294967296 % 100
    return (
        c.documents.select(
            "doc_id",
            "lang",
            "n_chars",
            F.when(bucket < 80, "train")
            .when(bucket < 90, "val")
            .otherwise("test")
            .alias("split"),
        )
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
            F.min("doc_id").cast("bigint").alias("min_doc"),
        )
        .orderBy("split", "lang")
    )


_E2E_ORACLE = """
WITH dedup AS (
  SELECT min(doc_id) AS doc_id
  FROM documents GROUP BY md5(text)),
kept AS (
  SELECT d.doc_id, d.lang, d.n_chars, d.text
  FROM documents d JOIN dedup USING (doc_id)
  WHERE d.n_chars BETWEEN 50 AND 5000),
split AS (
  SELECT doc_id, lang, n_chars,
    CAST(length(string_split(trim(text), ' ')) AS BIGINT) AS n_tokens,
    CASE WHEN (((doc_id % 2147483647) * 2654435761) % 4294967296) % 100 < 80
         THEN 'train'
         WHEN (((doc_id % 2147483647) * 2654435761) % 4294967296) % 100 < 90
         THEN 'val' ELSE 'test' END AS part
  FROM kept)
SELECT part,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
  CAST(min(doc_id) AS BIGINT) AS min_doc
FROM split GROUP BY part ORDER BY part
"""


@query("q_pipeline_e2e", oracle=_E2E_ORACLE, tags=("llm", "pipeline"))
def q_pipeline_e2e(spark, sf_dir):
    """The whole curation pipeline as ONE Catalyst plan — exact dedup
    (keep min doc_id per text digest), quality gate (length bounds),
    deterministic 80/10/10 hash split, per-split token accounting —
    composed the way a user actually runs it, not as four separate
    jobs.  The point of expressing it declaratively: Catalyst sees
    the WHOLE pipeline, so the length filter pushes below the dedup
    join, the digest agg and the final split agg are each one
    map-combined shuffle, and no intermediate ever materializes.  At
    100 TB this one plan replaces a 4-stage workflow with 2 keyed
    shuffles + 1 broadcast semi join + 1 final agg — the difference
    between an overnight DAG and one job."""
    d = Catalog(spark, sf_dir).documents
    dedup = d.groupBy(F.md5("text")).agg(F.min("doc_id").alias("doc_id"))
    kept = d.join(
        F.broadcast(dedup.select("doc_id")), "doc_id", "leftsemi"
    ).filter(F.col("n_chars").between(50, 5000))
    # pre-mod by 2^31-1: unguarded, the Knuth product overflows BIGINT
    # under ANSI for ids past ~3.4e9 (r12 scale smoke, BASELINE.md §L.7)
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


# Poisson(1) CDF thresholds for k = 0..6 (e^-1 * sum 1/i!); u >= last
# threshold draws k = 7.  Identical literals on both sides.
_POIS_CDF = [
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238462,
    0.9963401531726563,
    0.9994058151824183,
    0.9999167588507119,
]

_POISSON_ORACLE = f"""
WITH u AS (
  SELECT event_type, value,
    (CAST(((event_id % 2147483647) * 2654435761) % 4294967296 AS DOUBLE)
      / 4294967296) AS u
  FROM events),
k AS (
  SELECT event_type, value,
    CASE
      WHEN u < {_POIS_CDF[0]} THEN 0 WHEN u < {_POIS_CDF[1]} THEN 1
      WHEN u < {_POIS_CDF[2]} THEN 2 WHEN u < {_POIS_CDF[3]} THEN 3
      WHEN u < {_POIS_CDF[4]} THEN 4 WHEN u < {_POIS_CDF[5]} THEN 5
      WHEN u < {_POIS_CDF[6]} THEN 6 ELSE 7 END AS k
  FROM u)
SELECT event_type,
  CAST(count(*) AS BIGINT) AS n_orig,
  CAST(sum(k) AS BIGINT) AS n_resampled,
  CAST(sum(CASE WHEN k = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
  floor((sum(value * k)) * 100 + 0.5) / 100 AS resampled_value
FROM k GROUP BY event_type ORDER BY event_type
"""


@query(
    "q_sample_poisson", oracle=_POISSON_ORACLE, tags=("sampling",)
)
def q_sample_poisson(spark, sf_dir):
    """Poisson(1) bootstrap resampling — the bagging/ensemble
    primitive: each row enters the resample k times with
    k ~ Poisson(1), drawn DETERMINISTICALLY by inverting the Poisson
    CDF at a Knuth-hash uniform of the row id (no RNG, reruns and the
    oracle agree bit-for-bit; same multiplier as q_pipeline_e2e's
    split).  This is how you bootstrap a 100 TB table: the classic
    sample-n-of-n WITH replacement needs global row addressing
    (n random indexes -> which partition holds row i? a shuffle per
    resample); per-row Poisson counts are i.i.d.-equivalent for
    n -> inf and embarrassingly parallel — a pure map, no shuffle
    until the final keyed aggregate.  Verdict columns: replicate
    total (E[k]=1 so ~n_orig), dropped fraction (E ~ 36.8 %), and the
    k-weighted value sum."""
    e = Catalog(spark, sf_dir).events
    # pre-mod by 2^31-1: overflow guard for huge ids (r12 scale
    # smoke, BASELINE.md §L.7)
    u = (
        ((F.col("event_id") % 2147483647) * F.lit(2654435761)
         % F.lit(4294967296))
        .cast("double")
        / F.lit(4294967296.0)
    )
    k = F.lit(7)
    for i in range(len(_POIS_CDF) - 1, -1, -1):
        k = F.when(u < F.lit(_POIS_CDF[i]), i).otherwise(k)
    return (
        e.select("event_type", "value", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orig"),
            F.sum("k").cast("bigint").alias("n_resampled"),
            F.sum(F.when(F.col("k") == 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_dropped"),
            F.floor(F.sum(F.col("value") * F.col("k")) * 100 + F.lit(0.5))
            .cast("double")
            .alias("resampled_value_x100"),
        )
        .select(
            "event_type",
            "n_orig",
            "n_resampled",
            "n_dropped",
            (F.col("resampled_value_x100") / 100).alias("resampled_value"),
        )
        .orderBy("event_type")
    )
