"""Round-10 wave (SURVEY.md §2.21).

Closing the r9 verdict's stretch items:

1. q_join_width_probed — the fourth consumer of the measured-stats
   machinery (r9 verdict item 8): a fact-fact equi-join whose keyed
   exchange width (numPartitions) is computed from a 1-row count
   probe (operators/stats.measured_shuffle_width) instead of the
   session-static spark.sql.shuffle.partitions, falling back to the
   planner's default plan when the measured input fits one task.
   Both branches return identical rows; the oracle is the plain join
   and never needs to know which branch ran.  Both plan shapes are
   pinned in tests/test_plans.py.

2. q_text_rerank — two-stage retrieval (r9 verdict item 9): BM25
   top-k candidate generation, then a feature-scored rerank that
   re-touches ONLY the k candidate documents (broadcast candidate
   list, corpus never shuffles) — the retrieve-then-rerank shape
   every production search / RAG pipeline runs.

House rules unchanged: identical aliases both sides, deterministic
everything, no all-pairs, no corpus-sized collect() — the probes'
driver-side materializations are one row / k rows.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from skyhookdb_ceph_spark.operators import minhash, vectors
from skyhookdb_ceph_spark.queries.llm import FUZZY_CTES, FUZZY_SIG_CTES
from skyhookdb_ceph_spark.operators.stats import measured_shuffle_width
from skyhookdb_ceph_spark.operators.text_index import bm25_search
from skyhookdb_ceph_spark.queries._util import (
    Catalog,
    collect_local,
    money,
    quantize,
    scratch,
)
from skyhookdb_ceph_spark.registry import query

# ---------------------------------------------------------------------------
# §2.21.1 probe-driven shuffle-partition count for a keyed join
# ---------------------------------------------------------------------------

_WIDTH_ORACLE = """
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS cnt,
  floor((sum(l_quantity)) * 100 + 0.5) / 100 AS sum_qty
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""

_WIDTH_TARGET_ROWS = 16384


def _width_probed_join(spark, sf_dir, target_rows):
    """Shared body so tests can force either branch via target_rows
    (tiny target -> probed explicit width; huge target -> planner
    default)."""
    c = Catalog(spark, sf_dir)
    li = c.lineitem.select("l_orderkey", "l_quantity")
    o = c.orders.select("o_orderkey", "o_orderpriority")
    width = measured_shuffle_width(li, target_rows)
    if width is None:
        # planner default: input fits one task's budget, the exchange
        # cost is noise and an explicit repartition only adds nodes
        joined = li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
    else:
        # both sides repartitioned to the MEASURED width on the join
        # key: EnsureRequirements sees the children co-partitioned and
        # adds NO further exchange — the join's shuffle now has an
        # input-proportional task count instead of the session-static
        # spark.sql.shuffle.partitions.  shuffle_hash hint because the
        # branch models the fact-fact case (at 100 TB neither side
        # broadcasts); at fixture scale the planner would otherwise
        # broadcast orders and strand both repartitions as dead cost
        joined = li.repartition(width, "l_orderkey").join(
            o.repartition(width, "o_orderkey").hint("shuffle_hash"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
    return (
        joined.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            money(F.sum("l_quantity")).alias("sum_qty"),
        )
        # output cardinality is SCHEMA-bounded (5 priorities at any
        # scale factor): q_agg_groupby's bounded-tail precedent
        .coalesce(1)
        .sortWithinPartitions("o_orderpriority")
    )


@query(
    "q_join_width_probed",
    oracle=_WIDTH_ORACLE,
    tags=("join", "scale-design", "stats-driven"),
)
def q_join_width_probed(spark, sf_dir):
    """Fact-fact equi-join whose keyed-exchange width is computed from
    a measured row-count probe — the shuffle-sizing consumer of the
    measured-statistics machinery (after the agg/join skew branches
    and the window density blocks).

    `spark.sql.shuffle.partitions` is ONE static number for every
    exchange in the session; at 100 TB the lineitem-orders shuffle
    wants tens of thousands of tasks while a dimension shuffle in the
    same session wants dozens.  The probe (one count() job — column
    pruning makes it read row-group metadata, no data pages) sizes
    THIS exchange at ceil(rows / target_rows_per_task); both join
    inputs are repartitioned to that width on the join key, so
    EnsureRequirements sees them co-partitioned and the join itself
    adds no further exchange (plan-asserted).  When the measured input
    fits one task the planner's default plan is kept — both branches
    are row-identical, so the oracle is branch-invariant.  AQE's
    coalescing only merges a too-wide shuffle downward; it can never
    split an undersized one, which is exactly the failure the probe
    prevents."""
    return _width_probed_join(spark, sf_dir, _WIDTH_TARGET_ROWS)


# ---------------------------------------------------------------------------
# §2.21.2 two-stage retrieval: BM25 candidates -> feature rerank
# ---------------------------------------------------------------------------

_RERANK_TERMS = ("table", "query")
_RERANK_K1, _RERANK_B = 1.2, 0.75  # the oracle's statement of BM25's k1, b
_RERANK_CANDIDATES = 20
_RERANK_PHRASE = " ".join(_RERANK_TERMS)

_RERANK_ORACLE = f"""
WITH d AS (
  SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM d),
stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, avg(dl) AS avgdl FROM dl),
tf AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM (
    SELECT doc_id, unnest(toks) AS term FROM d) x
  WHERE term IN ('{_RERANK_TERMS[0]}', '{_RERANK_TERMS[1]}')
  GROUP BY doc_id, term),
idf AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id,
    sum(ln(1 + (s.n_docs - idf.df + 0.5) / (idf.df + 0.5))
        * tf.tf * ({_RERANK_K1} + 1)
        / (tf.tf + {_RERANK_K1} * (1 - {_RERANK_B} + {_RERANK_B} * dl.dl / s.avgdl))
    ) AS raw
  FROM tf JOIN idf USING (term) JOIN dl USING (doc_id), stats s
  GROUP BY tf.doc_id),
cand AS (
  SELECT doc_id, floor(raw * 1000000 + 0.5) / 1000000 AS bm25
  FROM scored
  ORDER BY floor(raw * 1000000 + 0.5) / 1000000 DESC, doc_id
  LIMIT {_RERANK_CANDIDATES}),
feat AS (
  SELECT c.doc_id, c.bm25,
    CASE WHEN d.text LIKE '%{_RERANK_PHRASE}%' THEN 1 ELSE 0 END
      AS phrase_hit,
    1.0 / ln(1 + dl.dl) AS len_prior
  FROM cand c JOIN d USING (doc_id) JOIN dl USING (doc_id)),
r AS (
  SELECT doc_id, bm25,
    floor((bm25 + 0.5 * phrase_hit + len_prior) * 1000000 + 0.5) / 1000000
      AS rerank
  FROM feat)
SELECT doc_id, bm25, rerank,
  CAST(row_number() OVER (ORDER BY rerank DESC, doc_id) AS INT) AS rnk
FROM r ORDER BY rerank DESC, doc_id LIMIT 10
"""


@query(
    "q_text_rerank",
    oracle=_RERANK_ORACLE,
    tags=("pipeline", "text", "scale-design"),
)
def q_text_rerank(spark, sf_dir):
    """Two-stage retrieval: BM25 candidate generation (q_text_bm25's
    scoring path, widened to top-20), then a feature-scored RERANK
    over the candidates only — the retrieve-then-rerank shape every
    production search / RAG pipeline runs (a cheap sparse scorer
    prunes the corpus; an expensive scorer re-orders the survivors).

    The scale contract is the candidate boundary: stage 1 never
    shuffles document text (postings filtered at the explode, exactly
    q_text_bm25), and stage 2's expensive features (phrase scan over
    the raw text + length prior) run on exactly k=20 rows — the
    candidate list broadcasts and the corpus side of the text fetch is
    a broadcast-hash-join stream, so document text STILL never
    shuffles (plan-asserted: no exchange carries `text`).  At 100 TB
    stage 2's cost is O(k), independent of corpus size — the whole
    point of the two-stage shape.  The rerank score is
    bm25 + 0.5 * phrase_hit + 1/ln(1+dl): an exact-phrase bonus (the
    feature BM25's bag-of-words model cannot see) and a brevity
    prior.  Candidate cut on the QUANTIZED bm25 with doc_id tiebreak
    so the k-boundary is engine-invariant; 6-decimal quantization
    before the final rank window (2-term float sums cannot drift)."""
    docs = Catalog(spark, sf_dir).documents
    cand = bm25_search(docs, _RERANK_TERMS, _RERANK_CANDIDATES).select(
        "doc_id", "bm25"
    )
    # stage 2: k-bounded candidate list BROADCASTS; the corpus side is
    # the streamed side of a broadcast hash join, so text never
    # shuffles and the expensive features run on k rows only
    feat = (
        F.broadcast(cand)
        .join(
            docs.select("doc_id", "text", F.size(F.split("text", " ")).alias("dl")),
            "doc_id",
        )
        .select(
            "doc_id",
            "bm25",
            F.when(F.col("text").contains(_RERANK_PHRASE), 1)
            .otherwise(0)
            .alias("phrase_hit"),
            (F.lit(1.0) / F.log(1 + F.col("dl"))).alias("len_prior"),
        )
    )
    r = feat.select(
        "doc_id",
        "bm25",
        quantize(
            F.col("bm25") + 0.5 * F.col("phrase_hit") + F.col("len_prior"), 6
        ).alias("rerank"),
    )
    top = r.orderBy(F.desc("rerank"), "doc_id").limit(10)
    w = Window.orderBy(F.desc("rerank"), "doc_id")  # 10 rows post-limit
    return top.withColumn("rnk", F.row_number().over(w).cast("int"))


# ---------------------------------------------------------------------------
# §2.21.3 dedup-method agreement audit (MinHash vs embedding-cosine)
# ---------------------------------------------------------------------------

_AGREE_ORACLE = f"""
WITH {FUZZY_CTES},
tpair AS (
  SELECT da AS a, db AS b
  FROM cand JOIN sh x ON x.doc_id = cand.da JOIN sh y ON y.doc_id = cand.db
  WHERE floor((len(list_intersect(x.shingles, y.shingles)) * 1.0
        / len(list_distinct(x.shingles || y.shingles))) * 1000000 + 0.5)
        / 1000000 >= 0.8),
{vectors.banded_cells_cte_duckdb()},
ecand AS (
  SELECT DISTINCT a.vec_id AS a, c.vec_id AS b
  FROM cells a JOIN cells c ON a.bucket = c.bucket AND a.vec_id < c.vec_id),
epair AS (
  SELECT ecand.a, ecand.b
  FROM ecand JOIN embeddings x ON x.vec_id = ecand.a
             JOIN embeddings y ON y.vec_id = ecand.b
  WHERE {vectors.cosine_duckdb('x.embedding', 'y.embedding')} > 0.4),
u AS (
  SELECT COALESCE(t.in_text, 0) AS in_text, COALESCE(e.in_embed, 0) AS in_embed
  FROM (SELECT a, b, 1 AS in_text FROM tpair) t
  FULL OUTER JOIN (SELECT a, b, 1 AS in_embed FROM epair) e
    ON t.a = e.a AND t.b = e.b)
SELECT
  CAST(sum(in_text * in_embed) AS BIGINT) AS n_both,
  CAST(sum(in_text * (1 - in_embed)) AS BIGINT) AS n_text_only,
  CAST(sum((1 - in_text) * in_embed) AS BIGINT) AS n_embed_only,
  floor((sum(in_text * in_embed) * 1.0 / count(*)) * 1000000 + 0.5) / 1000000
    AS agreement
FROM u
"""


@query(
    "q_dedup_agreement",
    oracle=_AGREE_ORACLE,
    tags=("llm", "dedup", "scale-design"),
)
def q_dedup_agreement(spark, sf_dir):
    """Agreement audit between the two near-dup detectors: the
    text-side MinHash pipeline (q_dedup_fuzzy: shingle LSH -> exact
    Jaccard >= 0.8) vs the embedding-side cosine pipeline
    (q_dedup_embed's pair stage: sign-LSH buckets -> cosine > 0.4) —
    the validation every production dedup stack runs before trusting
    the cheap method at scale (Jaccard agreement of the pair sets =
    how often the scalable detector and the semantic detector find
    the SAME duplicates; text_only = semantic misses, embed_only =
    lexical misses).

    Scale shape: both pair generators are LSH-bucketed candidate
    joins (never all-pairs — the operators/minhash.py and
    operators/vectors.py machinery with corpus-scaled band widths);
    the agreement join keys on 16-byte id pairs, so its input is
    pair-count-sized, orders of magnitude below the corpus; output is
    ONE row.  Fixture embeddings are synthetic (not derived from the
    texts), so the measured agreement is near zero — the operator's
    value is the plumbing + the confusion counts being exact and
    oracle-checked."""
    c = Catalog(spark, sf_dir)
    tp = minhash.jaccard_pairs(c.documents).select(
        F.col("doc_a").alias("a"),
        F.col("doc_b").alias("b"),
        F.lit(1).alias("in_text"),
    )
    ep = (
        vectors.bucketed_pairs(c.embeddings)
        .selectExpr(
            "va AS a", "vb AS b", f"{vectors.cosine_expr('ea', 'eb')} AS sim"
        )
        .filter("sim > 0.4")
        .select("a", "b", F.lit(1).alias("in_embed"))
    )
    u = tp.join(ep, ["a", "b"], "full_outer").select(
        F.coalesce("in_text", F.lit(0)).alias("in_text"),
        F.coalesce("in_embed", F.lit(0)).alias("in_embed"),
    )
    both = F.sum(F.col("in_text") * F.col("in_embed"))
    return u.agg(
        both.cast("bigint").alias("n_both"),
        F.sum(F.col("in_text") * (1 - F.col("in_embed")))
        .cast("bigint")
        .alias("n_text_only"),
        F.sum((1 - F.col("in_text")) * F.col("in_embed"))
        .cast("bigint")
        .alias("n_embed_only"),
        quantize(both / F.count(F.lit(1)), 6).alias("agreement"),
    )


# ---------------------------------------------------------------------------
# §2.21.4 two-stage quality-filter cascade
# ---------------------------------------------------------------------------

_CASCADE_HI, _CASCADE_LO, _CASCADE_BD = 0.62, 0.5, 0.97


def cascade_exprs() -> tuple[str, str]:
    """(q1, bd) Spark SQL expression strings of the two cascade stage
    scores — shared by q_text_quality_cascade and the recomposed e2e
    pipeline (q_pipeline_e2e_v2, pipeline13.py) so the gate cannot
    drift between the audit and the pipeline that applies it."""
    toks = "split(text, ' ')"
    q1 = (
        f"floor((cast(0.5 AS double) * least(size({toks}) / cast(80.0 AS double), cast(1.0 AS double)) "
        f"+ cast(0.5 AS double) * (cast(size(array_distinct({toks})) AS double) "
        f"/ size({toks}))) * 1000000 + 0.5) / 1000000"
    )
    bg = (
        f"transform(sequence(1, size({toks}) - 1), "
        f"i -> concat(element_at({toks}, i), ' ', element_at({toks}, i + 1)))"
    )
    bd = (
        f"CASE WHEN size({toks}) < 2 THEN cast(1.0 AS double) "
        f"ELSE floor((cast(size(array_distinct({bg})) AS double) "
        f"/ (size({toks}) - 1)) * 1000000 + 0.5) / 1000000 END"
    )
    return q1, bd

_CASCADE_ORACLE = f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
s1 AS (
  SELECT doc_id, toks,
    floor((0.5 * least(len(toks) / 80.0, 1.0)
     + 0.5 * (len(list_distinct(toks)) * 1.0 / len(toks))) * 1000000 + 0.5)
     / 1000000 AS q1
  FROM t),
s2 AS (
  SELECT doc_id, q1,
    CASE WHEN q1 >= {_CASCADE_HI} OR q1 < {_CASCADE_LO} THEN NULL
         WHEN len(toks) < 2 THEN 1.0
         ELSE floor((len(list_distinct(list_transform(
                generate_series(1, len(toks) - 1),
                i -> toks[i] || ' ' || toks[i + 1]))) * 1.0
                / (len(toks) - 1)) * 1000000 + 0.5) / 1000000 END AS bd
  FROM s1)
SELECT doc_id, q1,
  CAST(CASE WHEN bd IS NULL THEN 1 ELSE 2 END AS INT) AS stage,
  CASE WHEN bd IS NULL THEN
         (CASE WHEN q1 >= {_CASCADE_HI} THEN 'accept' ELSE 'reject' END)
       WHEN bd >= {_CASCADE_BD} THEN 'accept' ELSE 'reject' END AS verdict
FROM s2
"""


@query(
    "q_text_quality_cascade",
    oracle=_CASCADE_ORACLE,
    tags=("llm", "text", "scale-design"),
)
def q_text_quality_cascade(spark, sf_dir):
    """Two-stage quality-filter CASCADE: the cheap heuristic score
    (q_text_quality's length x lexical-diversity blend) routes every
    document — confident accepts/rejects exit at stage 1; only the
    uncertain middle band pays the expensive stage-2 feature (bigram
    diversity: distinct bigrams / total bigrams, the n-gram repetition
    screen).  This is the cost model every production quality pipeline
    uses when the expensive scorer (a model) cannot run on the full
    corpus: expensive-cost = P(uncertain) x corpus, not corpus.

    Spark shape: ONE Project over the scan — the cascade is a lazy
    CASE WHEN, and Catalyst's CaseWhen evaluates branches in order per
    row, so the bigram build+distinct runs ONLY for rows that reach
    the stage-2 branch; no second pass, no shuffle, no routing join
    (plan-asserted: zero exchanges).  Both stage scores are
    floor-quantized at 6 decimals BEFORE banding so the band
    assignment is engine-invariant.  size<2 guard because Spark's
    sequence(1, 0) yields a DESCENDING [1,0] while DuckDB's
    generate_series(1, 0) is empty."""
    d = Catalog(spark, sf_dir).documents
    q1, bd = cascade_exprs()
    return d.selectExpr(
        "doc_id",
        f"{q1} AS q1",
        f"CAST(CASE WHEN {q1} >= {_CASCADE_HI} OR {q1} < {_CASCADE_LO} "
        f"THEN 1 ELSE 2 END AS INT) AS stage",
        f"CASE WHEN {q1} >= {_CASCADE_HI} THEN 'accept' "
        f"WHEN {q1} < {_CASCADE_LO} THEN 'reject' "
        f"WHEN {bd} >= {_CASCADE_BD} THEN 'accept' ELSE 'reject' END AS verdict",
    )


# ---------------------------------------------------------------------------
# §2.21.5 bucket-pruned point read over a bucketed table
# ---------------------------------------------------------------------------

_BUCKET_PRUNE_KEYS = (1, 5, 13)
_BUCKET_PRUNE_N = 16

_BUCKET_PRUNE_ORACLE = f"""
SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders,
  floor((sum(o_totalprice)) * 100 + 0.5) / 100 AS spend
FROM orders WHERE o_custkey IN {_BUCKET_PRUNE_KEYS}
GROUP BY o_custkey ORDER BY o_custkey
"""


@query(
    "q_scan_bucket_prune",
    oracle=_BUCKET_PRUNE_ORACLE,
    tags=("scan", "layout", "scale-design"),
)
def q_scan_bucket_prune(spark, sf_dir):
    """Bucket-PRUNED point read: the read-side payoff of the bucketed
    layout that q_join_bucketed pays for at write time.  A key-equality
    (or IN-list) predicate on the bucket column lets the scan open
    ONLY the buckets those keys hash to — the plan's FileSourceScan
    shows `SelectedBucketsCount: k out of 16` (plan-asserted in
    tests/test_bucketing.py) — so a point lookup over a 100 TB
    bucketed fact touches 1/16th of the files per key with ZERO index
    structures, just the layout.  This is the q_scan_partition_prune
    story on a HASHED key (high-cardinality ids that would explode a
    hive partition tree into millions of directories bucket cleanly
    into a fixed file count).  The pushed IN-filter still applies
    within the surviving buckets.  Oracle reads the plain parquet —
    layout must never change results."""
    from skyhookdb_ceph_spark.operators.bucketing import (
        write_bucketed_scoped,
    )

    c = Catalog(spark, sf_dir)
    tbl = write_bucketed_scoped(
        c.orders.select("o_custkey", "o_totalprice"),
        "bp_orders",
        ["o_custkey"],
        _BUCKET_PRUNE_N,
    )
    t = spark.table(tbl)
    return (
        t.filter(F.col("o_custkey").isin(*_BUCKET_PRUNE_KEYS))
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            money(F.sum("o_totalprice")).alias("spend"),
        )
        .orderBy("o_custkey")
    )


# ---------------------------------------------------------------------------
# §2.21.6 event-sequence pattern matching (MATCH_RECOGNIZE-style funnel)
# ---------------------------------------------------------------------------

_PATTERN = "s[vc]*p"  # signup -> (view|click)* -> purchase, contiguous

_PATTERN_ORACLE = f"""
WITH s AS (
  SELECT user_id,
    string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id) AS seq
  FROM events GROUP BY user_id)
SELECT user_id, CAST(length(seq) AS INT) AS seq_len,
  CAST(len(regexp_extract_all(seq, '{_PATTERN}')) AS INT) AS n_funnels,
  CASE WHEN len(regexp_extract_all(seq, '{_PATTERN}')) > 0 THEN 1 ELSE 0 END
    AS has_funnel
FROM s ORDER BY user_id
"""


@query(
    "q_win_event_pattern",
    oracle=_PATTERN_ORACLE,
    tags=("window", "pipeline", "scale-design"),
)
def q_win_event_pattern(spark, sf_dir):
    """MATCH_RECOGNIZE-style event-sequence pattern matching: per user,
    the time-ordered event stream compiles to a compact symbol string
    (one char per event) and the funnel 'signup -> (view|click)* ->
    purchase, uninterrupted' becomes the REGEX s[vc]*p counted
    non-overlapping per user — the complex-event-processing shape that
    q_agg_funnel's fixed-stage count and q_win_sessionize's gap rule
    cannot express (arbitrary repetition + interruption semantics in
    one pattern).

    Scale shape: ONE keyed aggregate builds the per-user string
    (collect_list -> sort_array for a deterministic (ts, event_id)
    order — the q_win_sessionize per-key-bounded-history argument: a
    user's event count is human-bounded at any corpus size, so the
    per-key string is KB-sized while the corpus is 100 TB), then the
    regex runs ONCE per user on the compact string, JVM-side — no
    self-join chain (the k-stage-join funnel alternative multiplies
    the fact table k times), no window over raw events, no Python.
    Tie order pinned by (ts, event_id) in both engines."""
    e = Catalog(spark, sf_dir).events
    seq = e.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.sort_array(
                    F.collect_list(
                        F.struct(
                            F.col("ts"),
                            F.col("event_id"),
                            F.substring("event_type", 1, 1).alias("c"),
                        )
                    )
                ),
                lambda x: x["c"],
            ),
            "",
        ).alias("seq")
    )
    n = F.size(F.regexp_extract_all("seq", F.lit(_PATTERN), F.lit(0)))
    return seq.select(
        "user_id",
        F.length("seq").cast("int").alias("seq_len"),
        n.cast("int").alias("n_funnels"),
        F.when(n > 0, 1).otherwise(0).alias("has_funnel"),
    ).orderBy("user_id")


# ---------------------------------------------------------------------------
# §2.21.7 incremental aggregate maintenance (merge state, not rescan)
# ---------------------------------------------------------------------------

_IVM_CUT = "2024-01-20"

_IVM_ORACLE = """
SELECT event_type, CAST(count(*) AS BIGINT) AS n,
  floor((sum(value)) * 1000000 + 0.5) / 1000000 AS total,
  floor((sum(value) / count(*)) * 1000000 + 0.5) / 1000000 AS avg_value
FROM events GROUP BY event_type ORDER BY event_type
"""


@query(
    "q_agg_incremental_merge",
    oracle=_IVM_ORACLE,
    tags=("aggregate", "scale-design"),
)
def q_agg_incremental_merge(spark, sf_dir):
    """Incremental view maintenance for an aggregate: yesterday's
    MATERIALIZED state (count, sum per key — the mergeable-state form)
    is combined with today's delta instead of recomputing over all
    history — the q_agg_moments merge-by-addition idea applied across
    TIME instead of across partitions.

    The base state is computed once and PERSISTED (parquet round-trip
    through a temp dir, like the maintenance queries); the final
    answer is  merge(read-back state, delta aggregate)  where the
    delta scan carries a PUSHED ts >= cut filter — the plan rescans
    only the delta and a groups-sized state file, never base history.
    At 100 TB with daily ingest this is the difference between
    O(history) and O(delta + groups) per refresh; avg derives from
    the merged (sum, count) rather than being averaged across states
    (averages do not merge; sums and counts do).  The oracle is the
    full recompute — maintenance must equal recomputation exactly."""
    ev = Catalog(spark, sf_dir).events
    cut = F.lit(_IVM_CUT).cast("timestamp")

    with scratch("skyhook_ivm_") as tmp:
        base_state = (
            ev.filter(F.col("ts") < cut)
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n"),
                F.sum("value").alias("s"),
            )
        )
        base_state.write.mode("overwrite").parquet(f"{tmp}/state")
        state = spark.read.parquet(f"{tmp}/state")
        delta = (
            ev.filter(F.col("ts") >= cut)
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n"),
                F.sum("value").alias("s"),
            )
        )
        merged = (
            state.unionByName(delta)
            .groupBy("event_type")
            .agg(
                F.sum("n").cast("bigint").alias("n"),
                F.sum("s").alias("s"),
            )
        )
        out = merged.select(
            "event_type",
            "n",
            quantize(F.col("s"), 6).alias("total"),
            quantize(F.col("s") / F.col("n"), 6).alias("avg_value"),
        ).orderBy("event_type")
        # materialize before the temp dir vanishes (groups-sized)
        return collect_local(out)


# ---------------------------------------------------------------------------
# §2.21.8 GDPR crypto-shredding (erasure by key destruction)
# ---------------------------------------------------------------------------

_SHRED_MOD = 7

_SHRED_ORACLE = f"""
SELECT c_custkey,
  CASE WHEN c_custkey % {_SHRED_MOD} = 0 THEN NULL ELSE c_name END
    AS name_out,
  CAST(CASE WHEN c_custkey % {_SHRED_MOD} = 0 THEN 1 ELSE 0 END AS INT)
    AS shredded
FROM customer ORDER BY c_custkey
"""


@query(
    "q_gdpr_crypto_shred",
    oracle=_SHRED_ORACLE,
    tags=("gdpr", "scale-design"),
)
def q_gdpr_crypto_shred(spark, sf_dir):
    """GDPR erasure by CRYPTO-SHREDDING — the fourth privacy primitive
    (after delete / export / anonymize): PII columns are stored
    encrypted under a PER-USER key; "delete user" destroys the key
    row, after which every copy of the ciphertext — warm storage,
    backups, replicas — is unreadable, with ZERO rewrites of the
    100 TB fact data.  q_gdpr_delete's rewrite-the-table answer costs
    a full-table pass per erasure batch; key destruction costs one
    row in a keys-table.

    Real crypto end-to-end: c_name is aes_encrypt-ed (GCM) under a
    key derived deterministically per customer, the keys table then
    drops every custkey % 7 == 0 row (the erased cohort), and the
    readout LEFT-joins keys and try_aes_decrypt-s — NULL key or wrong
    key yields NULL, never an error.  The keys join broadcasts
    (keys-table is users-sized, orders below the fact data; at true
    scale it shuffles keyed like any dim join).  The oracle pins the
    OUTCOME contract declaratively (original value iff the key
    survives, NULL otherwise) — DuckDB has no AES surface, so the
    round-trip itself is what the Spark side proves.  GCM nonces make
    ciphertexts nondeterministic per run, but decrypt(encrypt(x)) is
    run-invariant, so the output is oracle-exact.

    MODELING NOTE (round-10 advisory): the per-user key here is
    md5(c_custkey) — re-derivable from the row itself — so this query
    models the PLAN SHAPE of crypto-shredding (encrypted fact columns,
    broadcast keys-table join, erasure = key-row deletion), not the
    security guarantee.  Production keys must be random secrets held
    only in the keys table (or a KMS); with a derivable KDF and no
    secret salt, destroying the key row does not make ciphertext
    unrecoverable."""
    c = Catalog(spark, sf_dir).customer.select("c_custkey", "c_name")
    key = F.substring(F.md5(F.col("c_custkey").cast("string")), 1, 16)
    enc = c.select(
        "c_custkey",
        F.expr(
            "aes_encrypt(c_name, substring(md5(cast(c_custkey AS string)), 1, 16))"
        ).alias("name_ct"),
    )
    keys = (
        c.select("c_custkey", key.alias("k"))
        .filter(F.col("c_custkey") % _SHRED_MOD != 0)  # shred the cohort
        .withColumnRenamed("c_custkey", "k_custkey")
    )
    out = enc.join(
        F.broadcast(keys), enc.c_custkey == keys.k_custkey, "left"
    )
    dec = F.expr("try_aes_decrypt(name_ct, k)").cast("string")
    return out.select(
        "c_custkey",
        dec.alias("name_out"),
        F.when(F.col("k").isNull(), 1).otherwise(0).alias("shredded"),
    ).orderBy("c_custkey")



# ---------------------------------------------------------------------------
# §2.21.9 incremental near-dup admission against a persisted index
# ---------------------------------------------------------------------------

_INC_MOD = 5  # doc_id % 5 == 0 -> today's delta; else the indexed base

_INC_ORACLE = f"""
WITH {FUZZY_SIG_CTES},
cand AS (
  SELECT DISTINCT d.doc_id AS dd, b.doc_id AS db
  FROM sig d JOIN sig b ON d.b = b.b AND d.bsig = b.bsig
  WHERE d.doc_id % {_INC_MOD} = 0 AND b.doc_id % {_INC_MOD} != 0),
ver AS (
  SELECT dd, db
  FROM cand JOIN sh x ON x.doc_id = cand.dd JOIN sh y ON y.doc_id = cand.db
  WHERE floor((len(list_intersect(x.shingles, y.shingles)) * 1.0
        / len(list_distinct(x.shingles || y.shingles))) * 1000000 + 0.5)
        / 1000000 >= 0.8),
ag AS (SELECT dd, min(db) AS dup_of FROM ver GROUP BY dd)
SELECT d.doc_id, ag.dup_of,
  CAST(CASE WHEN ag.dup_of IS NOT NULL THEN 1 ELSE 0 END AS INT) AS is_dup
FROM documents d LEFT JOIN ag ON ag.dd = d.doc_id
WHERE d.doc_id % {_INC_MOD} = 0 ORDER BY d.doc_id
"""


@query(
    "q_dedup_incremental",
    oracle=_INC_ORACLE,
    tags=("llm", "dedup", "scale-design"),
)
def q_dedup_incremental(spark, sf_dir):
    """Incremental near-dup ADMISSION: today's delta documents are
    checked against a PERSISTED MinHash signature index of the base
    corpus — the production dedup shape once a corpus exists (nobody
    re-runs all-pairs LSH over 100 TB because one day of crawl
    arrived; the q_agg_incremental_merge maintenance idea applied to
    q_dedup_fuzzy).

    The index is built ONCE (operators/minhash.build_lsh_index: a
    bucketBy(bsig) signature table, pre-shuffled for the band
    equi-join); per refresh operators/minhash.probe_lsh_index pays
    sig(delta) + a delta-vs-index equi-join + exact-Jaccard verify on
    candidates only: O(delta + candidates), never O(corpus).  Verdict
    per delta doc: dup_of = smallest matching base doc
    (deterministic), NULL = admit.  Oracle derives the same
    delta-vs-base pairing from the shared FUZZY_SIG_CTES chain."""
    d = Catalog(spark, sf_dir).documents
    base = d.filter(F.col("doc_id") % _INC_MOD != 0)
    delta = d.filter(F.col("doc_id") % _INC_MOD == 0)
    index = minhash.build_lsh_index(base)
    ver = minhash.probe_lsh_index(index, base, delta)
    ag = ver.groupBy("dd").agg(F.min("db").alias("dup_of"))
    return (
        delta.select("doc_id")
        .join(ag, delta.doc_id == ag.dd, "left")
        .select(
            "doc_id",
            "dup_of",
            F.when(F.col("dup_of").isNotNull(), 1)
            .otherwise(0)
            .cast("int")
            .alias("is_dup"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# §2.21.10 probe-driven broadcast-vs-shuffle join choice
# ---------------------------------------------------------------------------

_BCAST_THRESHOLD = 10 << 20  # 10 MB — the classic broadcast budget

_BCAST_ORACLE = """
SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_orders,
  floor((sum(o_totalprice)) * 100 + 0.5) / 100 AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment ORDER BY c_mktsegment
"""


def _broadcast_probed_join(spark, sf_dir, threshold_bytes):
    """Shared body so tests can force either branch via the threshold
    (tiny threshold -> shuffle branch; shipped 10 MB -> broadcast)."""
    from skyhookdb_ceph_spark.operators.stats import measured_dim_bytes

    c = Catalog(spark, sf_dir)
    o = c.orders.select("o_custkey", "o_totalprice")
    dim = c.customer.select("c_custkey", "c_mktsegment")
    est = measured_dim_bytes(dim, string_cols=["c_mktsegment"])
    if est <= threshold_bytes:
        # measured payload fits the broadcast budget: dim ships to
        # every executor, the fact side never shuffles
        joined = o.join(
            F.broadcast(dim), F.col("o_custkey") == F.col("c_custkey")
        )
    else:
        # measured payload too big to replicate: keyed shuffle join
        joined = o.join(
            dim.hint("shuffle_hash"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
    return (
        joined.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            money(F.sum("o_totalprice")).alias("revenue"),
        )
        .coalesce(1)  # 5 segments at any scale factor
        .sortWithinPartitions("c_mktsegment")
    )


@query(
    "q_join_broadcast_probed",
    oracle=_BCAST_ORACLE,
    tags=("join", "scale-design", "stats-driven"),
)
def q_join_broadcast_probed(spark, sf_dir):
    """Broadcast-vs-shuffle join strategy chosen from a MEASURED
    dimension payload — the fifth consumer of the measured-stats
    machinery (agg salt, join salt, window blocks, shuffle width, now
    join strategy).

    The static alternative, autoBroadcastJoinThreshold, compares
    against FILE statistics: the full table's on-disk size, which for
    a two-column projection of a wide table overestimates by the
    table's width ratio (and for decompressed strings underestimates)
    — so real deployments routinely broadcast too little or OOM
    broadcasting too much.  The probe (operators/stats.
    measured_dim_bytes, one aggregate job) measures the
    post-projection payload actually being replicated and compares it
    to the 10 MB budget.  AQE can convert a sort-merge to broadcast at
    RUNTIME from shuffle-stage sizes, but only after planning (and
    partially executing) the shuffle stage — the probe decides before
    any exchange exists, and works with AQE off (the bench profile).
    Both branches are row-identical; the oracle is branch-invariant.
    Plan shapes pinned both ways in tests/test_plans.py."""
    return _broadcast_probed_join(spark, sf_dir, _BCAST_THRESHOLD)


# ---------------------------------------------------------------------------
# §2.21.11 incremental IVF index maintenance (append, never rebuild)
# ---------------------------------------------------------------------------

_IVF_INC_MOD = 4  # vec_id % 4 == 0 -> newly arriving vectors

_IVF_INC_ORACLE = f"""
WITH nb AS (
  SELECT least(greatest(CAST(ceil(log2(count(*) / 64.0)) AS INT), 4), 16)
    AS nb
  FROM embeddings WHERE vec_id % {_IVF_INC_MOD} != 0),
cells AS (
  SELECT vec_id,
    CASE WHEN vec_id % {_IVF_INC_MOD} = 0 THEN 1 ELSE 0 END AS is_delta,
    array_to_string(list_transform(generate_series(1, nb.nb),
      i -> CASE WHEN embedding[i] >= 0 THEN '1' ELSE '0' END), '')
      AS bucket
  FROM embeddings, nb)
SELECT bucket, CAST(sum(1 - is_delta) AS BIGINT) AS n_base,
  CAST(sum(is_delta) AS BIGINT) AS n_delta,
  CAST(count(*) AS BIGINT) AS n_total
FROM cells GROUP BY bucket ORDER BY bucket
"""


@query(
    "q_vec_ivf_incremental",
    oracle=_IVF_INC_ORACLE,
    tags=("vector", "layout", "scale-design"),
)
def q_vec_ivf_incremental(spark, sf_dir):
    """Incremental IVF index MAINTENANCE: newly arriving vectors are
    hashed with the index's FROZEN bit count and appended into the
    existing partitionBy(bucket) layout — new files in the affected
    cell directories, base files untouched (append-only proven in
    tests/test_ivf_layout.py) — completing the incremental-maintenance
    triad (aggregates: q_agg_incremental_merge, dedup:
    q_dedup_incremental, ANN index: here).  Rebuilding the layout per
    ingest batch costs O(corpus) writes; appending costs O(delta).

    The one real subtlety is pinned: nb is an index PARAMETER frozen
    from the BASE corpus at build time, not re-derived from the grown
    corpus — re-deriving would silently re-key every existing cell
    (the oracle computes nb from the base cohort the same way).  The
    verdict table is the per-cell (n_base, n_delta, n_total) census
    of the read-back index, cohorts told apart by vec_id, which the
    oracle re-derives from direct assignment — proving
    append-maintained == rebuilt-from-scratch."""
    e = Catalog(spark, sf_dir).embeddings
    delta = F.col("vec_id") % _IVF_INC_MOD == 0
    with scratch("skyhook_ivfinc_") as tmp:
        vectors.build_ivf_index(spark, e.filter(~delta), tmp)
        vectors.append_ivf_index(spark, e.filter(delta), tmp)
        out = (
            vectors.read_ivf_index(spark, tmp)
            .withColumn("is_delta", delta.cast("int"))
            .groupBy("bucket")
            .agg(
                F.sum(1 - F.col("is_delta")).cast("bigint").alias("n_base"),
                F.sum("is_delta").cast("bigint").alias("n_delta"),
                F.count(F.lit(1)).cast("bigint").alias("n_total"),
            )
            .orderBy("bucket")
        )
        return collect_local(out)  # cell census: bounded by 2^nb


# ---------------------------------------------------------------------------
# §2.21.12 zone-map clustering advisor (runstats -> layout decision)
# ---------------------------------------------------------------------------

_ZM_LO, _ZM_HI = "1996-01-01", "1996-03-31"
_ZM_KEY_WIDTH = 4096  # orderkey rows per physical-proxy zone


def _zm_oracle() -> str:
    pred = (
        f"l_shipdate >= TIMESTAMP '{_ZM_LO}' "
        f"AND l_shipdate <= TIMESTAMP '{_ZM_HI} 23:59:59'"
    )
    legs = []
    for label, zone in (
        ("physical_orderkey", f"CAST(floor(l_orderkey / {_ZM_KEY_WIDTH}) AS BIGINT)"),
        ("clustered_ship_month", "CAST(date_trunc('month', l_shipdate) AS DATE)"),
    ):
        legs.append(f"""
SELECT '{label}' AS layout,
  CAST(count(*) AS BIGINT) AS zones_total,
  CAST(sum(sel) AS BIGINT) AS zones_selected,
  CAST(sum(sel * n) AS BIGINT) AS rows_scanned,
  CAST(sum(sel * m) AS BIGINT) AS rows_matched,
  CAST(sum(m) AS BIGINT) AS rows_matched_global,
  CAST(CASE WHEN sum(sel * m) = sum(m) THEN 1 ELSE 0 END AS INT)
    AS lossless
FROM (
  SELECT {zone} AS zone, count(*) AS n,
    sum(CASE WHEN {pred} THEN 1 ELSE 0 END) AS m,
    CASE WHEN max(l_shipdate) >= TIMESTAMP '{_ZM_LO}'
          AND min(l_shipdate) <= TIMESTAMP '{_ZM_HI} 23:59:59'
         THEN 1 ELSE 0 END AS sel
  FROM lineitem GROUP BY 1) z""")
    return " UNION ALL ".join(legs) + " ORDER BY layout"


@query(
    "q_scan_zonemap_advisor",
    oracle=_zm_oracle(),
    tags=("scan", "layout", "stats-driven", "scale-design"),
)
def q_scan_zonemap_advisor(spark, sf_dir):
    """Zone-map CLUSTERING ADVISOR: measures, per candidate layout,
    how much of the table a min/max manifest on l_shipdate would let a
    date-range predicate SKIP — the decision input for "should this
    table be re-clustered?" (the reference's runstats -> sort-on-write
    loop [U: cls_tabular.cc — exec_runstats_op, SIT_IDX_RID];
    Delta/Iceberg's file-stats pruning).

    Two layouts are audited in one pass each: the physical-order proxy
    (orderkey-range zones — how the table is laid out today) and the
    clustered candidate (ship-month zones — what sort-on-write would
    give).  On the fixture the verdict is stark and real: orderkey
    zones prune NOTHING (TPC-H shipdate is uncorrelated with orderkey
    — every zone's [min, max] spans the predicate), while ship-month
    zones scan only the predicate's months.  The lossless column is
    the zone-map correctness invariant re-derived in-query (selected
    zones contain ALL matching rows, both layouts, always — a zone map
    can over-scan but never lose).  Shape: two keyed partial
    aggregates, zone-count-bounded, no window, no join — the manifest
    build is exactly a runstats pass, so the advisor costs one scan
    per candidate layout at any scale."""
    li = Catalog(spark, sf_dir).lineitem
    lo = F.lit(_ZM_LO).cast("timestamp")
    hi = F.lit(f"{_ZM_HI} 23:59:59").cast("timestamp")
    pred = (F.col("l_shipdate") >= lo) & (F.col("l_shipdate") <= hi)
    legs = []
    for label, zone in (
        (
            "physical_orderkey",
            F.floor(F.col("l_orderkey") / _ZM_KEY_WIDTH).cast("bigint"),
        ),
        (
            "clustered_ship_month",
            F.date_trunc("month", F.col("l_shipdate")).cast("date"),
        ),
    ):
        z = li.groupBy(zone.alias("zone")).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(pred, 1).otherwise(0)).alias("m"),
            F.when(
                (F.max("l_shipdate") >= lo) & (F.min("l_shipdate") <= hi), 1
            )
            .otherwise(0)
            .alias("sel"),
        )
        legs.append(
            z.agg(
                F.count(F.lit(1)).cast("bigint").alias("zones_total"),
                F.sum("sel").cast("bigint").alias("zones_selected"),
                F.sum(F.col("sel") * F.col("n"))
                .cast("bigint")
                .alias("rows_scanned"),
                F.sum(F.col("sel") * F.col("m"))
                .cast("bigint")
                .alias("rows_matched"),
                F.sum("m").cast("bigint").alias("rows_matched_global"),
                F.when(
                    F.sum(F.col("sel") * F.col("m")) == F.sum("m"), 1
                )
                .otherwise(0)
                .cast("int")
                .alias("lossless"),
            ).select(F.lit(label).alias("layout"), "*")
        )
    return legs[0].unionByName(legs[1]).orderBy("layout")


# ---------------------------------------------------------------------------
# §2.21.13 triangle counting (the third graph primitive)
# ---------------------------------------------------------------------------

_TRI_BUCKET_SEC = 600
_TRI_CAP = 8

_TRI_ORACLE = f"""
WITH b AS (
  SELECT DISTINCT event_type,
    CAST(floor(epoch(ts) / {_TRI_BUCKET_SEC}) AS BIGINT) AS mn, user_id
  FROM events),
small AS (
  SELECT event_type, mn FROM b GROUP BY 1, 2 HAVING count(*) <= {_TRI_CAP}),
bs AS (SELECT b.* FROM b JOIN small USING (event_type, mn)),
e AS (
  SELECT DISTINCT x.user_id AS a, y.user_id AS b2
  FROM bs x JOIN bs y
    ON x.event_type = y.event_type AND x.mn = y.mn
   AND x.user_id < y.user_id),
w AS (SELECT e1.a, e1.b2 AS b, e2.b2 AS c FROM e e1 JOIN e e2 ON e1.b2 = e2.a),
t AS (SELECT count(*) AS tri FROM w JOIN e e3 ON w.a = e3.a AND w.c = e3.b2)
SELECT CAST((SELECT count(*) FROM e) AS BIGINT) AS n_edges,
  CAST((SELECT count(*) FROM w) AS BIGINT) AS n_wedges,
  CAST(tri AS BIGINT) AS n_triangles,
  floor((tri * 1.0 / (SELECT count(*) FROM w)) * 1000000 + 0.5) / 1000000
    AS closure_ratio
FROM t
"""


@query(
    "q_graph_triangles",
    oracle=_TRI_ORACLE,
    tags=("graph", "scale-design"),
)
def q_graph_triangles(spark, sf_dir):
    """Triangle counting — the third graph primitive (after connected
    components and PageRank): the clustering-structure measure behind
    community detection and link-spam screens.  Graph = users
    co-occurring in a RARE (event_type, 10-minute) bucket, with the
    q_dedup_containment fanout cap (buckets holding > 8 users emit no
    edges) — the projection cap that keeps co-occurrence graphs
    buildable at any corpus size (a hot bucket would otherwise emit
    O(bucket²) edges).

    The count uses the ORIENTED wedge-close algorithm: edges stored
    once as a < b, wedges a<b<c from one self-equi-join on the middle
    vertex, closed by a second equi-join probing the (a, c) edge —
    every join keyed, no cartesian, wedge count bounded by
    cap x edges.  This orientation IS the classic degree-ordering
    trick's fixed-order variant: each triangle is counted exactly
    once (from its smallest vertex), not 6 times.  closure_ratio =
    triangles / wedges, the global transitivity under the same
    orientation.  Output is ONE row; nothing corpus-sized leaves the
    executors."""
    ev = Catalog(spark, sf_dir).events
    b = (
        ev.select(
            "event_type",
            F.floor(F.unix_timestamp("ts") / _TRI_BUCKET_SEC)
            .cast("bigint")
            .alias("mn"),
            "user_id",
        )
        .distinct()
    )
    small = (
        b.groupBy("event_type", "mn")
        .agg(F.count(F.lit(1)).alias("sz"))
        .filter(F.col("sz") <= _TRI_CAP)
        .drop("sz")
    )
    bs = b.join(small, ["event_type", "mn"])
    x = bs.selectExpr("event_type", "mn", "user_id AS a")
    y = bs.selectExpr("event_type AS et2", "mn AS mn2", "user_id AS b2")
    e = (
        x.join(
            y,
            (x.event_type == y.et2) & (x.mn == y.mn2) & (x.a < y.b2),
        )
        .select("a", "b2")
        .distinct()
    )
    e1 = e.selectExpr("a", "b2 AS b")
    e2 = e.selectExpr("a AS b_", "b2 AS c")
    w = e1.join(e2, e1.b == e2.b_).select("a", "b", "c")
    e3 = e.selectExpr("a AS a_", "b2 AS c_")
    tri = w.join(e3, (w.a == e3.a_) & (w.c == e3.c_))
    # three 1-row aggregates combined in ONE plan (1-row broadcast
    # config-join precedent); ReusedExchange dedupes the shared edge
    # subtree instead of recomputing it per count
    ne = e.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
    nw = w.agg(F.count(F.lit(1)).cast("bigint").alias("n_wedges"))
    nt = tri.agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
    return (
        ne.crossJoin(F.broadcast(nw))
        .crossJoin(F.broadcast(nt))
        .select(
            "n_edges",
            "n_wedges",
            "n_triangles",
            # NULL when the graph has no wedges (found by the sf10
            # scaling smoke: at 100× event density EVERY bucket
            # exceeds the fanout cap, the capped graph goes empty, and
            # an unguarded ratio raises DIVIDE_BY_ZERO under ANSI —
            # matches DuckDB, where x/0 is NULL)
            quantize(
                F.when(
                    F.col("n_wedges") > 0,
                    F.col("n_triangles") / F.col("n_wedges"),
                ),
                6,
            ).alias("closure_ratio"),
        )
    )


# ---------------------------------------------------------------------------
# §2.21.14 corpus drift monitor (per-source JS divergence)
# ---------------------------------------------------------------------------

_DRIFT_ORACLE = """
WITH tok AS (
  SELECT source, unnest(string_split(text, ' ')) AS w FROM documents),
n AS (SELECT count(*) AS n FROM tok),
cw AS (SELECT w, count(*) AS cw FROM tok GROUP BY w),
ns AS (SELECT source, count(*) AS ns FROM tok GROUP BY source),
csw AS (SELECT source, w, count(*) AS csw FROM tok GROUP BY source, w),
terms AS (
  SELECT csw.source,
    (csw.csw * 1.0 / ns.ns) AS p, (cw.cw * 1.0 / n.n) AS q
  FROM csw JOIN ns USING (source) JOIN cw USING (w), n),
ag AS (
  SELECT source,
    sum(0.5 * p * log2(2 * p / (p + q))
      + 0.5 * q * log2(2 * q / (p + q))) AS s_term,
    sum(q) AS q_mass
  FROM terms GROUP BY source)
SELECT ag.source, CAST(ns.ns AS BIGINT) AS n_tokens,
  floor(q_mass * 1000000 + 0.5) / 1000000 AS q_mass,
  floor((s_term + 0.5 * (1 - q_mass)) * 1000000 + 0.5) / 1000000 AS js
FROM ag JOIN ns ON ag.source = ns.source ORDER BY ag.source
"""


@query(
    "q_text_drift_js",
    oracle=_DRIFT_ORACLE,
    tags=("llm", "text", "scale-design"),
)
def q_text_drift_js(spark, sf_dir):
    """Corpus DRIFT monitor: Jensen-Shannon divergence of each
    source's token distribution from the global corpus mix — the
    distribution-shift alarm every continuously-ingesting training
    pipeline runs (a source whose JS jumps changed its content mix;
    q_agg_entropy and q_text_zipf describe ONE distribution, this
    compares them).

    The naive JS needs each (source, global) pair's UNION of support —
    a per-source full-outer join over the vocabulary.  The closed form
    used here avoids it: tokens ABSENT from a source contribute
    exactly 0.5·q each (p=0 ⇒ the KL(q‖m) term is q·log2(2q/q)·0.5 =
    q/2), so  JS = Σ_{w∈source} term(p,q) + 0.5·(1 − Σ_{w∈source} q)
    — only PRESENT (source, token) rows are ever materialized.  Shape:
    three keyed partial aggregates (per-token, per-source,
    per-source-token), one vocab-bounded equi-join, a 1-row total
    broadcast; output is sources-bounded.  Summation-order drift sits
    ~7 orders below the 6-decimal quantization (term sums are
    vocab-length chains of ~1e-3 doubles)."""
    d = Catalog(spark, sf_dir).documents
    tok = d.select("source", F.explode(F.split("text", " ")).alias("w"))
    n = tok.agg(F.count(F.lit(1)).alias("n"))
    cw = tok.groupBy("w").agg(F.count(F.lit(1)).alias("cw"))
    ns = tok.groupBy("source").agg(F.count(F.lit(1)).alias("ns"))
    csw = tok.groupBy("source", "w").agg(F.count(F.lit(1)).alias("csw"))
    terms = (
        csw.join(ns, "source")
        .join(cw, "w")
        .crossJoin(F.broadcast(n))
        .select(
            "source",
            (F.col("csw") / F.col("ns")).alias("p"),
            (F.col("cw") / F.col("n")).alias("q"),
        )
    )
    term = 0.5 * F.col("p") * F.log2(2 * F.col("p") / (F.col("p") + F.col("q"))) \
        + 0.5 * F.col("q") * F.log2(2 * F.col("q") / (F.col("p") + F.col("q")))
    ag = terms.groupBy("source").agg(
        F.sum(term).alias("s_term"), F.sum("q").alias("q_mass")
    )
    return (
        ag.join(ns, "source")
        .select(
            "source",
            F.col("ns").cast("bigint").alias("n_tokens"),
            quantize(F.col("q_mass"), 6).alias("q_mass"),
            quantize(
                F.col("s_term") + 0.5 * (1 - F.col("q_mass")), 6
            ).alias("js"),
        )
        .orderBy("source")
    )
