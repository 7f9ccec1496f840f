"""Round-15 wave (SURVEY.md §2.11) — the queries that exercise the
persisted INVERTED TEXT index's lifecycle: probe-only retrieval,
incremental append, hybrid serving and compaction.

The index itself — the frozen tokenization rule, the tok0-partitioned
``postings/`` + ``dlens/`` + ``stats/`` layout, build / append /
compact and the BM25 scorer — lives in operators/text_index.py (the
Spark re-expression of SkyhookDM's SIT_IDX_TXT omap keyword index
[U: cls_tabular_utils.h — SkyIdxType; cls_tabular.cc —
exec_build_sky_index_op]).  This module only runs it:

1. q_text_bm25_indexed — BM25 PROBE-ONLY against a built index (no
   explode, no split, no documents scan in the probe plan); the oracle
   is the IDENTICAL SQL as q_text_bm25.
2. q_text_index_incremental — base build + delta append, census of
   the read-back postings by cohort.
3. q_hybrid_rrf_indexed — RRF fusion of a probe-only BM25 leg and a
   probe-only ANN cascade leg (the persisted signature index of
   operators/sig_index.py); no tokenize and no encode pass anywhere
   in the fused plan.
4. q_text_index_compact — compaction of an appended (fragmented)
   index, answers pinned unchanged.

House rules unchanged: identical aliases both sides, quantize before
rank, deterministic doc_id tie-breaks, broadcast-sized dims only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from skyhookdb_ceph_spark.operators import ensure_parallelism, vectors
from skyhookdb_ceph_spark.operators.sig_index import (
    HAMMING,
    NCAND,
    build_sig_index,
)
from skyhookdb_ceph_spark.operators.text_index import (
    _max_files_per_tok0,
    append_text_index,
    build_text_index,
    compact,
    probe_bm25,
)
from skyhookdb_ceph_spark.queries._util import (
    Catalog,
    collect_local,
    local_df,
    scratch,
)
from skyhookdb_ceph_spark.queries.pipeline3 import (
    _BM25_B,
    _BM25_K1,
    _BM25_ORACLE,
    _BM25_TERMS,
)
from skyhookdb_ceph_spark.queries.pipeline16 import (
    _RRF_K,
    _RRF_SHORTLIST,
    _RRF_TOPK,
)
from skyhookdb_ceph_spark.registry import query


@query(
    "q_text_bm25_indexed",
    oracle=_BM25_ORACLE,
    tags=("pipeline", "text", "layout", "scale-design"),
)
def q_text_bm25_indexed(spark, sf_dir):
    """q_text_bm25's ranked retrieval run PROBE-ONLY against the
    persisted inverted index: the posting fetch is a tok0 partition
    prune + token filter over the layout build_text_index wrote — no
    explode, no split, no scan of document bodies anywhere in the
    probe plan (plan-asserted in tests/test_text_index.py, mirroring
    test_sig_index.py::test_probe_plan_never_encodes).  The oracle is
    the IDENTICAL SQL as the per-execution q_text_bm25: the index
    must change nothing about the answer.

    The build runs inside this query (fixture lifecycle, same as
    q_vec_sig_build); tools/scale_smoke.py measures the probe with
    the build amortized out — at 100 TB the build is once per corpus
    and this query's marginal cost is |postings(terms)| + the
    doc-length join, independent of corpus text bytes."""
    with scratch("skyhook_txtidx_") as tmp:
        build_text_index(spark, Catalog(spark, sf_dir).documents, tmp)
        out = probe_bm25(spark, tmp, _BM25_TERMS)
        return collect_local(out)


# ---------------------------------------------------------------------------
# incremental append under the frozen-tokenization rule
# ---------------------------------------------------------------------------

_TXT_DELTA_PRED = "doc_id % 10 = 7"

_TXT_INC_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token
  FROM documents),
p AS (
  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
  FROM toks WHERE token <> '' GROUP BY doc_id, token)
SELECT CAST(CASE WHEN {_TXT_DELTA_PRED} THEN 1 ELSE 0 END AS INT)
    AS is_delta,
  CAST(count(*) AS BIGINT) AS n_postings,
  CAST(count(DISTINCT token) AS BIGINT) AS n_tokens,
  CAST(sum(tf) AS BIGINT) AS sum_tf
FROM p GROUP BY 1 ORDER BY 1
"""


@query(
    "q_text_index_incremental",
    oracle=_TXT_INC_ORACLE,
    tags=("pipeline", "text", "layout", "scale-design"),
)
def q_text_index_incremental(spark, sf_dir):
    """Incremental inverted-index MAINTENANCE: the base cohort is
    indexed with build_text_index, then the delta corpus (the
    _TXT_DELTA_PRED cohort) goes through append_text_index, which
    tokenizes it with the SAME frozen rule — new row files only, base
    files byte-untouched (pinned in tests/test_text_index.py).
    Rebuilding per ingest batch re-tokenizes the corpus; appending
    re-tokenizes only the delta.

    The frozen-parameter rule here is the tokenization + partition
    key (the q_vec_sig_incremental thresholds lesson, applied to
    text): a delta split on a different delimiter or case-folded
    differently would file postings for the same logical term under
    different tokens/tok0 directories, so lookups would silently miss
    the delta's documents.  The verdict is a census of the READ-BACK
    postings by cohort (posting count, distinct vocabulary, tf mass);
    the oracle re-derives both cohorts' postings from the raw text —
    persisted-and-appended == computed-fresh, cohort by cohort."""
    with scratch("skyhook_txtinc_") as tmp:
        _build_then_append(spark, sf_dir, tmp)
        cohort = F.when(F.expr(_TXT_DELTA_PRED), 1).otherwise(0)
        out = (
            _postings_census(
                spark.read.parquet(f"{tmp}/postings").groupBy(
                    cohort.alias("is_delta")
                )
            )
            .orderBy("is_delta")
        )
        return collect_local(out)


def _build_then_append(spark, sf_dir: str, path: str) -> None:
    """Index the base cohort, then append the _TXT_DELTA_PRED delta."""
    d = Catalog(spark, sf_dir).documents
    build_text_index(spark, d.filter(f"NOT ({_TXT_DELTA_PRED})"), path)
    append_text_index(spark, d.filter(_TXT_DELTA_PRED), path)


def _postings_census(grouped):
    """(n_postings, n_tokens, sum_tf) of a postings frame or grouping."""
    return grouped.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_postings"),
        F.countDistinct("token").cast("bigint").alias("n_tokens"),
        F.sum("tf").cast("bigint").alias("sum_tf"),
    )


# ---------------------------------------------------------------------------
# hybrid retrieval over BOTH persisted indexes (lexical + vector legs
# probe-only, RRF fusion) — the end-to-end serving shape
# ---------------------------------------------------------------------------


def _probe_vec_leg(e, idx) -> DataFrame:
    """Vector leg of the indexed hybrid: the 1-bit cascade of
    sig_index run for the single query vector (vec_id 0) with a
    _RRF_SHORTLIST-deep rerank.  Coarse Hamming (sig_index.HAMMING)
    touches only the 16 B/vector signature columns; the float corpus
    enters only at the NCAND-bounded rerank join-back (same guarantee
    as probe_binary — plan-asserted in tests/test_text_index.py).
    Unlike the per-query-window shortlist, both top-N cuts here are
    distributed TakeOrdered (orderBy+limit) — one query needs no qid
    partitioning; ranking windows see only post-limit rows."""
    sigs = idx.select("vec_id", "sig_lo", "sig_hi")
    q = (
        sigs.filter("vec_id = 0")
        .join(e.selectExpr("vec_id", "embedding AS qv"), "vec_id")
        .selectExpr("qv", "sig_lo AS q_lo", "sig_hi AS q_hi")
    )
    ham = (
        sigs.crossJoin(F.broadcast(q.drop("qv")))
        .filter("vec_id <> 0")
        .selectExpr("vec_id", f"CAST({HAMMING} AS INT) AS ham")
    )
    cand = ham.orderBy(F.asc("ham"), F.asc("vec_id")).limit(NCAND)
    rr = (
        cand.join(e.selectExpr("vec_id", "embedding"), "vec_id")
        .crossJoin(F.broadcast(q.select("qv")))
        .selectExpr(
            "vec_id",
            f"floor(({vectors.cosine_expr('embedding', 'qv')}) * 1000000"
            " + 0.5) / 1000000 AS sim",
        )
    )
    top = rr.orderBy(F.desc("sim"), F.asc("vec_id")).limit(_RRF_SHORTLIST)
    w = Window.orderBy(F.desc("sim"), F.asc("vec_id"))
    return top.withColumn(
        "r_vec", F.row_number().over(w).cast("int")
    ).selectExpr("vec_id AS doc_id", "r_vec")


def probe_hybrid_rrf(spark, text_path: str, sig_path: str, e) -> DataFrame:
    """Hybrid RRF retrieval with BOTH legs probe-only: the lexical
    leg is probe_bm25 over the persisted postings (df corpus-wide,
    the query document excluded as a candidate), the vector leg is
    the persisted-signature cascade for query vector 0; reciprocal-
    rank fusion combines the two 50-row shortlists.  Lazy — the plan
    must contain no tokenize pass (explode/split of document text)
    and no encode pass (posexplode/percentile of embeddings); both
    ran once at build."""
    lex = probe_bm25(
        spark,
        text_path,
        terms=("table", "query"),
        k=_RRF_SHORTLIST,
        doc_pred="doc_id <> 0",
    ).selectExpr("doc_id", "rnk AS r_lex")
    idx = spark.read.parquet(f"{sig_path}/sigs")
    vec = _probe_vec_leg(e, idx)
    fused = lex.join(vec, "doc_id", "full").selectExpr(
        "doc_id",
        "r_lex",
        "r_vec",
        # CAST the literal: both engines parse bare 1.0 as DECIMAL
        # and the decimal quotient leaks into the output dtype
        f"floor((coalesce(CAST(1.0 AS DOUBLE) / ({_RRF_K} + r_lex), 0)"
        f" + coalesce(CAST(1.0 AS DOUBLE) / ({_RRF_K} + r_vec), 0))"
        " * 1000000 + 0.5) / 1000000 AS rrf",
    )
    w = Window.orderBy(F.desc("rrf"), F.asc("doc_id"))
    return (
        fused.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= _RRF_TOPK)
        .select("doc_id", "r_lex", "r_vec", "rrf", "rnk")
    )


_HYB_IDX_ORACLE_T = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token
  FROM documents),
p AS (
  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
  FROM toks WHERE token <> '' GROUP BY doc_id, token),
dl AS (
  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
  FROM documents),
stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs, avg(dl) AS avgdl FROM dl),
tf AS (
  SELECT doc_id, token AS term, tf FROM p
  WHERE token IN ('table', 'query')),
df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
lex AS (
  SELECT doc_id, CAST(row_number() OVER (
      ORDER BY floor(raw * 1000000 + 0.5) / 1000000 DESC, doc_id)
    AS INT) AS r_lex
  FROM (
    SELECT tf.doc_id,
      sum(ln(1 + (s.n_docs - df.df + 0.5) / (df.df + 0.5))
          * tf.tf * ({{k1}} + 1)
          / (tf.tf + {{k1}} * (1 - {{b}} + {{b}} * dl.dl / s.avgdl)))
        AS raw
    FROM tf JOIN df USING (term) JOIN dl USING (doc_id), stats s
    WHERE tf.doc_id <> 0
    GROUP BY tf.doc_id) sc
  QUALIFY r_lex <= {_RRF_SHORTLIST}),
s AS (
  SELECT vec_id, {{sig_lo}} AS sig_lo, {{sig_hi}} AS sig_hi
  FROM embeddings),
qs AS (
  SELECT s.sig_lo AS q_lo, s.sig_hi AS q_hi, e.embedding AS qv
  FROM s JOIN embeddings e ON e.vec_id = s.vec_id WHERE s.vec_id = 0),
h AS (
  SELECT s.vec_id,
    CAST(bit_count(xor(s.sig_lo, q.q_lo))
       + bit_count(xor(s.sig_hi, q.q_hi)) AS INT) AS ham
  FROM s, qs q WHERE s.vec_id <> 0),
cand AS (
  SELECT vec_id FROM h
  QUALIFY row_number() OVER (ORDER BY ham, vec_id) <= {{ncand}}),
rr AS (
  SELECT c.vec_id, floor(({{cos}}) * 1000000 + 0.5) / 1000000 AS sim
  FROM cand c JOIN embeddings e ON e.vec_id = c.vec_id, qs q),
vec AS (
  SELECT vec_id AS doc_id,
    CAST(row_number() OVER (ORDER BY sim DESC, vec_id) AS INT) AS r_vec
  FROM rr QUALIFY r_vec <= {_RRF_SHORTLIST}),
fused AS (
  SELECT coalesce(lex.doc_id, vec.doc_id) AS doc_id, r_lex, r_vec,
    floor((coalesce(CAST(1.0 AS DOUBLE) / ({_RRF_K} + r_lex), 0)
         + coalesce(CAST(1.0 AS DOUBLE) / ({_RRF_K} + r_vec), 0))
        * 1000000 + 0.5)
      / 1000000 AS rrf
  FROM lex FULL JOIN vec ON lex.doc_id = vec.doc_id)
SELECT doc_id, r_lex, r_vec, rrf,
  CAST(row_number() OVER (ORDER BY rrf DESC, doc_id) AS INT) AS rnk
FROM fused QUALIFY rnk <= {_RRF_TOPK}
"""


def _hyb_idx_oracle() -> str:
    from skyhookdb_ceph_spark.queries.pipeline14 import _sig_duckdb

    return _HYB_IDX_ORACLE_T.format(
        k1=_BM25_K1,
        b=_BM25_B,
        ncand=NCAND,
        sig_lo=_sig_duckdb("embedding", 1, 32),
        sig_hi=_sig_duckdb("embedding", 33, 64),
        cos=vectors.cosine_duckdb("e.embedding", "q.qv"),
    )


@query(
    "q_hybrid_rrf_indexed",
    oracle=_hyb_idx_oracle(),
    tags=("llm", "retrieval", "text", "layout", "scale-design"),
)
def q_hybrid_rrf_indexed(spark, sf_dir):
    """q_text_hybrid_rrf's serving shape run end-to-end over BOTH
    persisted indexes — the round-15 lifecycle story closed at the
    application layer: the lexical leg reads the inverted-postings
    layout (tok0 prune + token filter, df corpus-wide, query doc 0
    excluded as a candidate), the vector leg probes the 1-bit
    signature index (Hamming coarse over 16 B/vector, NCAND-bounded
    exact rerank), and RRF fuses the two 50-row shortlists.  No
    tokenize and no encode pass anywhere in the probe plan
    (plan-asserted in tests/test_text_index.py) — at 100 TB a query
    touches a few posting lists + the signature column + ~150 float
    rows, never a document body or a corpus-wide float scan.

    Contract deltas vs q_text_hybrid_rrf, both index-inherent: BM25
    statistics (n_docs/avgdl/df) are the INDEX's, corpus-wide —
    a probe cannot re-derive per-universe statistics without reading
    bodies; and the vector leg ranks the CASCADE's shortlist (top
    _RRF_SHORTLIST of the NCAND Hamming survivors) rather than an
    exact corpus-wide cosine — that approximation is the entire
    point of the signature tier.  The oracle mirrors both deltas
    declaratively.

    Builds run inside the query (fixture lifecycle, same as
    q_text_bm25_indexed); tools/scale_smoke.py measures the fused
    probe with both builds amortized out."""
    e = ensure_parallelism(Catalog(spark, sf_dir).embeddings)
    with scratch("skyhook_hybt_") as tdir, scratch("skyhook_hybs_") as sdir:
        build_text_index(spark, Catalog(spark, sf_dir).documents, tdir)
        build_sig_index(spark, e, sdir)
        out = probe_hybrid_rrf(spark, tdir, sdir, e)
        return collect_local(out)


# ---------------------------------------------------------------------------
# small-file compaction of the postings layout (maintenance)
# ---------------------------------------------------------------------------

_TXT_CMP_ORACLE = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token
  FROM documents),
p AS (
  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
  FROM toks WHERE token <> '' GROUP BY doc_id, token),
c AS (
  SELECT CAST(count(*) AS BIGINT) AS n_postings,
    CAST(count(DISTINCT token) AS BIGINT) AS n_tokens,
    CAST(sum(tf) AS BIGINT) AS sum_tf
  FROM p)
SELECT 'compacted' AS phase, n_postings, n_tokens, sum_tf,
  CAST(1 AS INT) AS single_file_per_tok0
FROM c
UNION ALL
SELECT 'fragmented', n_postings, n_tokens, sum_tf, CAST(0 AS INT)
FROM c
ORDER BY phase
"""


@query(
    "q_text_index_compact",
    oracle=_TXT_CMP_ORACLE,
    tags=("pipeline", "text", "layout", "maintenance", "scale-design"),
)
def q_text_index_compact(spark, sf_dir):
    """Postings-layout COMPACTION — the maintenance op incremental
    append makes mandatory (q_maint_compact's story applied to the
    index): each append lands new row files inside the tok0
    directories, so after k ingest batches a probe of one token opens
    O(k) small files.  text_index.compact rewrites the fragmented
    index into a NEW one with exactly ONE sorted file per tok0
    directory.

    Verdict: census of BOTH layouts' postings (posting count,
    vocabulary, tf mass — compaction must not change one row) plus the
    physical invariant measured from the layouts themselves:
    single_file_per_tok0 = 0 fragmented (base build + delta append
    leave some directory with >= 2 files), = 1 compacted.  The oracle
    re-derives the census from raw text and states both invariant
    constants declaratively — if the writer ever stopped fragmenting
    or compaction stopped consolidating, the measured column diverges
    from the declared one and the oracle diff flags it.

    At 100 TB: compaction cost is one read + one shuffle of the
    POSTINGS (a fraction of corpus text bytes), amortized across the
    probes it speeds up."""
    with scratch("skyhook_txtcmp_") as tmp:
        frag, comp = f"{tmp}/fragmented", f"{tmp}/compacted"
        _build_then_append(spark, sf_dir, frag)
        fr = _postings_census(spark.read.parquet(f"{frag}/postings")).collect()[0]
        fr_files = _max_files_per_tok0(frag)
        if fr_files < 2:
            # The oracle declares single_file_per_tok0 = 0 for this
            # phase; nothing STRUCTURALLY guarantees the base build +
            # delta append overlap in at least one tok0 dir at every
            # scale factor / partition setting.  If the precondition
            # ever fails, raise a distinguishable error
            # instead of shipping a row the driver would misread as a
            # real correctness divergence.
            raise RuntimeError(
                "q_text_index_compact: fragmented layout precondition "
                f"failed (max files per tok0 = {fr_files}, expected >= 2 "
                "from base build + delta append) — fixture/partitioning "
                "change, not a compaction bug"
            )
        compact(spark, frag, comp)
        co = _postings_census(spark.read.parquet(f"{comp}/postings")).collect()[0]
        co_files = _max_files_per_tok0(comp)

        rows = [
            ("compacted", co.n_postings, co.n_tokens, co.sum_tf,
             int(co_files == 1)),
            ("fragmented", fr.n_postings, fr.n_tokens, fr.sum_tf,
             int(fr_files == 1)),
        ]
        return local_df(
            spark,
            rows,
            "phase string, n_postings bigint, n_tokens bigint,"
            " sum_tf bigint, single_file_per_tok0 int",
        ).orderBy("phase")
