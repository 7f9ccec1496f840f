"""LLM-data-pipeline operators (SURVEY.md §2.12) — the north-star
extension set: dedup (exact / MinHash / SimHash / n-gram / embedding),
similarity search, text analysis, multimodal columns.

Every operator here is oracle-checked (the driver red-flags oracle-less
registrations): hash functions are md5 (byte-identical in DuckDB),
float math is widened to double in a fixed fold order, and thresholds /
band counts are deterministic constants — no RNG anywhere.

100 TB design rule applied throughout: no all-pairs comparison ever —
LSH banding / sign-bucketing reduces every pairwise op to an equi-join;
top-k is TakeOrderedAndProject; exact dedup groups on a 64-bit hash so
only (hash, id) pairs cross the shuffle, not document bodies.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

from skyhookdb_ceph_spark.operators import (
    ensure_parallelism,
    minhash,
    simhash,
    vectors,
)
from skyhookdb_ceph_spark.operators.text_index import (
    _postings,
    _with_tok0,
    keyword_search,
)
from skyhookdb_ceph_spark.queries._util import Catalog, quantize
from skyhookdb_ceph_spark.registry import query

# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------


@query(
    "q_dedup_exact",
    oracle=(
        "SELECT min(doc_id) AS doc_id, count(*) AS dup_cnt "
        "FROM documents GROUP BY text"
    ),
    tags=("llm", "dedup"),
)
def q_dedup_exact(spark, sf_dir):
    """Exact dedup by content hash: group on xxhash64(text) so the
    shuffle carries (hash, doc_id), never the document body — at 100 TB
    that's the difference between shuffling 8-byte keys and shuffling
    the corpus.  Survivor = min(doc_id) per group (deterministic);
    dup_cnt exposes cluster sizes.  Oracle groups by the text itself
    (collision probability at 64 bits is ~n^2/2^65 — negligible)."""
    d = Catalog(spark, sf_dir).documents
    return (
        d.groupBy(F.xxhash64("text").alias("h"))
        .agg(F.min("doc_id").alias("doc_id"), F.count(F.lit(1)).alias("dup_cnt"))
        .select("doc_id", "dup_cnt")
    )


# Split into CTE body + final select so q_dedup_cluster can reuse the
# identical pair derivation as a sub-CTE of its propagation oracle,
# and the signature sub-chain (sh/hsh/sig, no pairing) so
# q_dedup_incremental can pair DELTA-vs-BASE instead of all-vs-all.
FUZZY_SIG_CTES = """sh AS (
  -- array_to_string(list_slice(...)) mirrors Spark's concat_ws/slice
  -- exactly for docs shorter than the shingle width (a partial
  -- shingle, not NULL — round-2 advisory parity edge)
  SELECT doc_id, list_distinct(list_transform(
    generate_series(1, greatest(len(string_split(text, ' ')) - 2, 1)),
    i -> array_to_string(list_slice(string_split(text, ' '), i, i + 2), ' '))) AS shingles
  FROM documents),
hsh AS (
  SELECT doc_id, list_transform(shingles, s -> md5(s)) AS hs FROM sh),
sig AS (
  -- banded (b=8, r=4) signature: concat of 4 row-minima per band —
  -- collision needs ALL rows equal (oracle twin of
  -- operators/minhash.band_signatures, incl. the same 8-hex rotated
  -- digest windows)
  SELECT doc_id, b,
    list_aggregate(list_transform(hs, h -> substr(h || h, b * 4 + 1, 8)), 'min')
    || list_aggregate(list_transform(hs, h -> substr(h || h, b * 4 + 2, 8)), 'min')
    || list_aggregate(list_transform(hs, h -> substr(h || h, b * 4 + 3, 8)), 'min')
    || list_aggregate(list_transform(hs, h -> substr(h || h, b * 4 + 4, 8)), 'min') AS bsig
  FROM hsh, unnest(generate_series(0, 7)) t(b))"""

FUZZY_CTES = FUZZY_SIG_CTES + """,
cand AS (
  SELECT DISTINCT a.doc_id AS da, c.doc_id AS db
  FROM sig a JOIN sig c ON a.b = c.b AND a.bsig = c.bsig AND a.doc_id < c.doc_id)"""

FUZZY_SELECT = """SELECT da AS doc_a, db AS doc_b,
  floor((len(list_intersect(x.shingles, y.shingles)) * 1.0
        / len(list_distinct(x.shingles || y.shingles))) * 1000000 + 0.5) / 1000000 AS jac
FROM cand JOIN sh x ON x.doc_id = cand.da JOIN sh y ON y.doc_id = cand.db
WHERE floor((len(list_intersect(x.shingles, y.shingles)) * 1.0
        / len(list_distinct(x.shingles || y.shingles))) * 1000000 + 0.5) / 1000000 >= 0.8"""

_FUZZY_ORACLE = f"WITH {FUZZY_CTES}\n{FUZZY_SELECT}"


@query("q_dedup_fuzzy", oracle=_FUZZY_ORACLE, tags=("llm", "dedup"))
def q_dedup_fuzzy(spark, sf_dir):
    """Near-dup detection: 3-word shingles -> 8-band MinHash LSH ->
    exact Jaccard on candidates -> pairs with jac >= 0.8.  See
    operators/minhash.py for the banding math; candidate generation is
    an equi-join on (band, signature), never all-pairs."""
    d = Catalog(spark, sf_dir).documents
    return minhash.jaccard_pairs(d)


@query(
    "q_dedup_simhash",
    oracle=simhash.simhash_pairs_oracle(),
    tags=("llm", "dedup"),
)
def q_dedup_simhash(spark, sf_dir):
    """SimHash dedup: 64-bit md5-projection signature per doc (widened
    from 16 bits in round 3 — a 16-bit space caps the corpus at 65k
    distinct clusters, colliding unrelated docs at scale), banded into
    4×16-bit LSH keys.  Candidates share any band (equi-join on a
    short string key); exact Hamming distance <= 8 confirms near-dups.
    Downstream dedup keeps min(doc_a) per connected component."""
    d = Catalog(spark, sf_dir).documents
    return simhash.simhash_pairs(d)


_NGRAM_ORACLE = """
WITH fp AS (
  SELECT doc_id, string_split(text, ' ') AS words,
    list_aggregate(list_transform(
      generate_series(1, greatest(length(text) - 7, 1), 4),
      i -> md5(substr(text, i, 8))), 'min') AS fp8
  FROM documents)
SELECT a.doc_id AS doc_a, c.doc_id AS doc_b,
  floor((len(list_intersect(list_distinct(a.words), list_distinct(c.words))) * 1.0
        / len(list_distinct(a.words || c.words))) * 1000000 + 0.5) / 1000000 AS tok_jac
FROM fp a JOIN fp c ON a.fp8 = c.fp8 AND a.doc_id < c.doc_id
WHERE floor((len(list_intersect(list_distinct(a.words), list_distinct(c.words))) * 1.0
        / len(list_distinct(a.words || c.words))) * 1000000 + 0.5) / 1000000 >= 0.5
"""


@query("q_dedup_ngram", oracle=_NGRAM_ORACLE, tags=("llm", "dedup"))
def q_dedup_ngram(spark, sf_dir):
    """Character-n-gram dedup: candidates = docs sharing the minimum
    md5(char-8-gram) over a stride-4 winnowing sample of the 8-gram
    stream (4x less hashing per doc than every-position, same LSH
    shape; min-over-sample is still a deterministic fingerprint), then
    exact token-set Jaccard >= 0.5 on candidates.  Catches near-dups
    that word shingling misses (punctuation/whitespace edits)."""
    d = ensure_parallelism(Catalog(spark, sf_dir).documents)
    # array_distinct ONCE per doc here, not once per candidate pair —
    # a doc in k near-dup pairs would otherwise be deduped k times,
    # and the deduped array is also a smaller join payload.
    fp = d.selectExpr(
        "doc_id",
        "array_distinct(split(text, ' ')) AS words",
        "array_min(transform(sequence(1, greatest(length(text) - 7, 1), 4), "
        "i -> md5(substring(text, i, 8)))) AS fp8",
    )
    # materialize the winnowed-fingerprint pass once (self-join sides
    # carry different aliases - no exchange reuse; q_text_edit_distance
    # precedent)
    fp = fp.localCheckpoint()
    a = fp.selectExpr("doc_id AS doc_a", "words AS wa", "fp8")
    c = fp.selectExpr("doc_id AS doc_b", "words AS wb", "fp8 AS fp8b")
    return (
        a.join(c, (a.fp8 == c.fp8b) & (a.doc_a < c.doc_b))
        .selectExpr(
            "doc_a",
            "doc_b",
            f"{minhash.jaccard_sql('wa', 'wb')} AS tok_jac",
        )
        .filter("tok_jac >= 0.5")
    )


_EMBED_DEDUP_ORACLE = f"""
WITH {vectors.banded_cells_cte_duckdb()},
cand AS (
  SELECT DISTINCT a.vec_id AS va, c.vec_id AS vb
  FROM cells a JOIN cells c ON a.bucket = c.bucket AND a.vec_id < c.vec_id),
dup AS (
  SELECT DISTINCT cand.vb
  FROM cand JOIN embeddings x ON x.vec_id = cand.va
            JOIN embeddings y ON y.vec_id = cand.vb
  WHERE {vectors.cosine_duckdb('x.embedding', 'y.embedding')} > 0.4)
SELECT vec_id FROM embeddings WHERE vec_id NOT IN (SELECT vb FROM dup)
"""


@query("q_dedup_embed", oracle=_EMBED_DEDUP_ORACLE, tags=("llm", "dedup"))
def q_dedup_embed(spark, sf_dir):
    """Embedding-cosine near-dup removal, keep-first: drop any vector
    whose cosine to a LOWER-id vector in a shared LSH bucket exceeds
    0.4.  Bucket bits scale with corpus size (expected bucket stays
    ~TARGET_BUCKET_ROWS — the O(n²/const) trap closed in round 3) and
    4 OR-amplified bands keep recall; see operators/vectors.py."""
    e = Catalog(spark, sf_dir).embeddings
    pairs = vectors.bucketed_pairs(e)
    dup = (
        pairs.selectExpr("vb", f"{vectors.cosine_expr('ea', 'eb')} AS sim")
        .filter("sim > 0.4")
        .select("vb")
        .distinct()
    )
    return e.join(dup, e.vec_id == dup.vb, "left_anti").select("vec_id")


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------

_NORMALIZE_ORACLE = f"""
SELECT vec_id,
  floor((CAST(embedding[1] AS DOUBLE) / sqrt({vectors.dot_duckdb('embedding', 'embedding')})) * 1000000 + 0.5) / 1000000 AS u1,
  floor((CAST(embedding[2] AS DOUBLE) / sqrt({vectors.dot_duckdb('embedding', 'embedding')})) * 1000000 + 0.5) / 1000000 AS u2,
  floor((sqrt({vectors.dot_duckdb('embedding', 'embedding')})) * 1000000 + 0.5) / 1000000 AS norm
FROM embeddings
"""


@query("q_vec_normalize", oracle=_NORMALIZE_ORACLE, tags=("llm", "similarity"))
def q_vec_normalize(spark, sf_dir):
    """Vector normalization (the preprocessing step every cosine
    pipeline needs): L2 norm via the JVM higher-order fold, unit
    components checked on the first two dims.  Pure per-row math, no
    shuffle."""
    e = ensure_parallelism(Catalog(spark, sf_dir).embeddings)
    nrm = f"sqrt({vectors.norm_sq_expr('embedding')})"
    return e.selectExpr(
        "vec_id",
        f"floor((cast(element_at(embedding, 1) AS double) / {nrm}) * 1000000 + 0.5) / 1000000 AS u1",
        f"floor((cast(element_at(embedding, 2) AS double) / {nrm}) * 1000000 + 0.5) / 1000000 AS u2",
        f"floor(({nrm}) * 1000000 + 0.5) / 1000000 AS norm",
    )


_KNN_ORACLE = f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
SELECT vec_id, floor(({vectors.cosine_duckdb('embedding', 'qv')}) * 1000000 + 0.5) / 1000000 AS sim
FROM embeddings, q
ORDER BY sim DESC, vec_id LIMIT 10
"""


@query("q_sim_knn", oracle=_KNN_ORACLE, tags=("llm", "similarity"))
def q_sim_knn(spark, sf_dir):
    """Brute-force cosine top-k vs one query vector (vec_id=0).  The
    query vector is a 1-row broadcast cross-join; per-row math is a
    JVM-side higher-order fold (no Python); the plan is scan ->
    TakeOrderedAndProject — at 100 TB each partition keeps a k-heap and
    the driver merges k rows per partition, no global sort.  The
    IVF-style scale path (prune by bucket first) is q_sim_pairs'
    machinery composed with this scorer."""
    e = Catalog(spark, sf_dir).embeddings
    q = e.filter(F.col("vec_id") == 0).selectExpr("embedding AS qv")
    return (
        e.crossJoin(F.broadcast(q))
        .selectExpr("vec_id", f"floor(({vectors.cosine_expr('embedding', 'qv')}) * 1000000 + 0.5) / 1000000 AS sim")
        .orderBy(F.col("sim").desc(), "vec_id")
        .limit(10)
    )


_PAIRS_ORACLE = f"""
WITH {vectors.banded_cells_cte_duckdb()},
cand AS (
  SELECT DISTINCT a.vec_id AS va, c.vec_id AS vb
  FROM cells a JOIN cells c ON a.bucket = c.bucket AND a.vec_id < c.vec_id)
SELECT cand.va AS vec_a, cand.vb AS vec_b,
  floor(({vectors.cosine_duckdb('x.embedding', 'y.embedding')}) * 1000000 + 0.5) / 1000000 AS sim
FROM cand JOIN embeddings x ON x.vec_id = cand.va
          JOIN embeddings y ON y.vec_id = cand.vb
WHERE floor(({vectors.cosine_duckdb('x.embedding', 'y.embedding')}) * 1000000 + 0.5) / 1000000 > 0.25
"""


@query("q_sim_pairs", oracle=_PAIRS_ORACLE, tags=("llm", "similarity"))
def q_sim_pairs(spark, sf_dir):
    """All-pairs similarity above a threshold, LSH-pruned: candidates
    come only from shared LSH buckets, with the bit count derived from
    the corpus size (expected bucket ~TARGET_BUCKET_ROWS, so candidate
    volume grows O(n·target), not O(n²/const)) and 4 OR-amplified bands
    for recall.  The oracle computes identical banded semantics."""
    e = Catalog(spark, sf_dir).embeddings
    pairs = vectors.bucketed_pairs(e)
    return (
        pairs.selectExpr(
            "va AS vec_a",
            "vb AS vec_b",
            f"floor(({vectors.cosine_expr('ea', 'eb')}) * 1000000 + 0.5) / 1000000 AS sim",
        )
        .filter("sim > 0.25")
    )


_KNN_IVF_ORACLE = f"""
WITH {vectors.primary_cell_cte_duckdb()},
q AS (SELECT embedding AS qv, bucket AS qbucket FROM b WHERE vec_id = 0)
SELECT vec_id, floor(({vectors.cosine_duckdb('embedding', 'qv')}) * 1000000 + 0.5) / 1000000 AS sim
FROM b, q WHERE b.bucket = q.qbucket
ORDER BY sim DESC, vec_id LIMIT 10
"""


@query("q_sim_knn_ivf", oracle=_KNN_IVF_ORACLE, tags=("llm", "similarity"))
def q_sim_knn_ivf(spark, sf_dir):
    """IVF-style ANN: vectors are pre-assigned to coarse cells (the
    deterministic sign-bucket quantizer, bit count scaled to corpus
    size so cells stay ~TARGET_BUCKET_ROWS); the query probes ONLY its
    own cell, scoring ~n/cells candidates instead of n.  This is the
    scale path for q_sim_knn: at 100 TB the cell assignment is a
    partition column, so probing a cell is partition pruning, and
    recall is traded via n_bits / multi-probe.  The oracle computes the
    identical cell-restricted search."""
    e = Catalog(spark, sf_dir).embeddings
    return vectors.probe(vectors.bucketed_cells(e), 10)


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


@query(
    "q_text_stats",
    oracle=(
        "SELECT lang, source, count(*) AS n_docs, "
        "CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens, "
        "floor((avg(len(string_split(text, ' ')))) * 1000000 + 0.5) / 1000000 AS avg_tokens, "
        "floor((avg(length(text))) * 1000000 + 0.5) / 1000000 AS avg_chars "
        "FROM documents GROUP BY lang, source"
    ),
    tags=("llm", "text"),
)
def q_text_stats(spark, sf_dir):
    """Corpus statistics per (lang, source): doc counts, token counts,
    length moments — the first pass of any training-data audit.  One
    groupBy shuffle; token counting stays JVM-side (split + size)."""
    d = Catalog(spark, sf_dir).documents
    ntok = F.size(F.split("text", " "))
    return d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(ntok).alias("total_tokens"),
        quantize(F.avg(ntok), 6).alias("avg_tokens"),
        quantize(F.avg(F.length("text")), 6).alias("avg_chars"),
    )


@query(
    "q_text_keyword",
    oracle=(
        "SELECT doc_id, count(*) AS tf FROM ("
        "SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w FROM documents) "
        "WHERE w = 'join' GROUP BY doc_id ORDER BY tf DESC, doc_id LIMIT 20"
    ),
    tags=("llm", "text"),
)
def q_text_keyword(spark, sf_dir):
    """Keyword search ranked by term frequency through the inverted
    index's postings (operators/text_index.py — the reference's IDX_TXT
    analog [U: cls_tabular_utils.h — SIT_IDX_TXT]), built in memory.
    Case-insensitive like the oracle: the index does not case-fold, so
    the text is lowercased before tokenizing.  Searching 'join' (a
    high-frequency corpus token)."""
    d = Catalog(spark, sf_dir).documents.select(
        "doc_id", F.lower("text").alias("text")
    )
    return keyword_search(_with_tok0(_postings(d)), "join", k=20)


_LANGID_MARKERS = {
    "en": ("the", "a", "and", "of", "to"),
    "fr": ("le", "la", "et", "les", "des"),
    "es": ("el", "los", "que", "una", "por"),
    "de": ("der", "die", "und", "das", "ein"),
}


def _langid_exprs(spark_side: bool) -> tuple[str, str]:
    """(hit-count select list, CASE expression) for both engines."""
    size_fn = "size" if spark_side else "len"
    filt = "filter" if spark_side else "list_filter"
    words = "split(text, ' ')" if spark_side else "string_split(text, ' ')"
    hits = []
    for lang, marks in _LANGID_MARKERS.items():
        inlist = ", ".join(f"'{m}'" for m in marks)
        hits.append(
            f"{size_fn}({filt}({words}, w -> w IN ({inlist}))) AS hits_{lang}"
        )
    # DuckDB regexp_replace is first-match-only without the 'g' flag;
    # Spark's replaces all matches by default.
    case = (
        "CASE WHEN length(regexp_replace(text, '[\\x00-\\x7f]', '', 'g')) > 0 THEN 'zh' "
        if not spark_side
        else "CASE WHEN length(regexp_replace(text, '[\\\\x00-\\\\x7f]', '')) > 0 THEN 'zh' "
    )
    case += (
        "WHEN hits_en >= hits_fr AND hits_en >= hits_es AND hits_en >= hits_de "
        "AND hits_en > 0 THEN 'en' "
        "WHEN hits_fr >= hits_es AND hits_fr >= hits_de AND hits_fr > 0 THEN 'fr' "
        "WHEN hits_es >= hits_de AND hits_es > 0 THEN 'es' "
        "WHEN hits_de > 0 THEN 'de' ELSE 'und' END AS pred_lang"
    )
    return ", ".join(hits), case


_LID_HITS_SQL, _LID_CASE_SQL = _langid_exprs(spark_side=False)
_LANGID_ORACLE = (
    f"SELECT doc_id, pred_lang FROM ("
    f"SELECT doc_id, text, {_LID_HITS_SQL} FROM documents) t "
    f"CROSS JOIN LATERAL (SELECT {_LID_CASE_SQL}) c"
)


def _split_select(exprs: str) -> list[str]:
    """Split a comma-joined select list, respecting parentheses."""
    out, depth, cur = [], 0, []
    for ch in exprs:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == "," and depth == 0:
            out.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    if cur:
        out.append("".join(cur).strip())
    return out


@query("q_text_langid", oracle=_LANGID_ORACLE, tags=("llm", "text"))
def q_text_langid(spark, sf_dir):
    """Language ID via stopword-marker n-gram heuristic + non-ASCII
    (CJK) detection.  Deterministic scoring, no model — the synthetic
    corpus mostly resolves to 'en'/'und', which exercises the plumbing;
    real corpora swap in richer marker sets, same plan shape (pure
    per-row JVM expressions, no shuffle)."""
    d = Catalog(spark, sf_dir).documents
    hits, case = _langid_exprs(spark_side=True)
    return (
        d.selectExpr("doc_id", "text", *_split_select(hits))
        .selectExpr("doc_id", case)
        .select("doc_id", "pred_lang")
    )


@query(
    "q_text_quality",
    oracle=(
        "SELECT doc_id, len(string_split(text, ' ')) AS n_tokens, "
        "floor((len(list_distinct(string_split(text, ' '))) * 1.0 "
        "/ len(string_split(text, ' '))) * 1000000 + 0.5) / 1000000 AS uniq_ratio, "
        "floor((length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) * 1.0 "
        "/ length(text)) * 1000000 + 0.5) / 1000000 AS punct_ratio, "
        "floor((0.5 * least(len(string_split(text, ' ')) / 80.0, 1.0) "
        "+ 0.5 * (len(list_distinct(string_split(text, ' '))) * 1.0 "
        "/ len(string_split(text, ' ')))) * 1000000 + 0.5) / 1000000 AS quality "
        "FROM documents"
    ),
    tags=("llm", "text"),
)
def q_text_quality(spark, sf_dir):
    """Heuristic quality scoring: length, lexical diversity, punctuation
    ratio, and a combined score — the standard cheap pre-filter before
    expensive model-based scoring.  Pure per-row JVM expressions."""
    d = Catalog(spark, sf_dir).documents
    return d.selectExpr(
        "doc_id",
        "size(split(text, ' ')) AS n_tokens",
        "floor((cast(size(array_distinct(split(text, ' '))) AS double) "
        "/ size(split(text, ' '))) * 1000000 + 0.5) / 1000000 AS uniq_ratio",
        "floor((cast(length(regexp_replace(text, '[a-z0-9 ]', '')) AS double) "
        "/ length(text)) * 1000000 + 0.5) / 1000000 AS punct_ratio",
        "floor((cast(0.5 AS double) * least(size(split(text, ' ')) / cast(80.0 AS double), cast(1.0 AS double)) "
        "+ cast(0.5 AS double) * (cast(size(array_distinct(split(text, ' '))) AS double) "
        "/ size(split(text, ' ')))) * 1000000 + 0.5) / 1000000 AS quality",
    )


@query(
    "q_text_tokens",
    oracle=(
        "SELECT doc_id, len(string_split(text, ' ')) AS ws_tokens, "
        "len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS re_tokens, "
        "length(text) AS n_chars_actual FROM documents"
    ),
    tags=("llm", "text"),
)
def q_text_tokens(spark, sf_dir):
    """Token counting two ways: whitespace split and a BPE-ish regex
    (letter runs / digit runs / single symbols) — the cheap token-budget
    estimator for training-data accounting."""
    d = Catalog(spark, sf_dir).documents
    return d.selectExpr(
        "doc_id",
        "size(split(text, ' ')) AS ws_tokens",
        "size(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)) AS re_tokens",
        "length(text) AS n_chars_actual",
    )


@query(
    "q_text_fingerprint",
    oracle=(
        "SELECT doc_id, md5(text) AS fp_full, "
        "list_aggregate(list_transform("
        "generate_series(1, greatest(length(text) - 7, 1)), "
        "i -> md5(substr(text, i, 8))), 'min') AS fp_min8 "
        "FROM documents"
    ),
    tags=("llm", "text"),
)
def q_text_fingerprint(spark, sf_dir):
    """Document fingerprinting: whole-text digest + minimum rolling
    char-8-gram digest (winnowing-style, robust to local edits).  Both
    are JVM expressions; fingerprints feed the dedup ops above."""
    d = ensure_parallelism(Catalog(spark, sf_dir).documents)
    return d.selectExpr(
        "doc_id",
        "md5(text) AS fp_full",
        "array_min(transform(sequence(1, greatest(length(text) - 7, 1)), "
        "i -> md5(substring(text, i, 8)))) AS fp_min8",
    )


_EDIT_ORACLE = """
WITH hsh AS (
  SELECT doc_id, text, list_transform(
    generate_series(1, greatest(length(text) - 7, 1)),
    i -> md5(substr(text, i, 8))) AS hs
  FROM documents),
fp AS (
  SELECT doc_id, text,
    list_aggregate(list_transform(hs, h -> substr(h, 1, 8)), 'min') || '|' ||
    list_aggregate(list_transform(hs, h -> substr(h, 9, 8)), 'min') || '|' ||
    list_aggregate(list_transform(hs, h -> substr(h, 17, 8)), 'min') || '|' ||
    list_aggregate(list_transform(hs, h -> substr(h, 25, 8)), 'min') AS fp8
  FROM hsh)
SELECT a.doc_id AS doc_a, c.doc_id AS doc_b,
  CAST(levenshtein(a.text, c.text) AS INT) AS edit_dist
FROM fp a JOIN fp c ON a.fp8 = c.fp8 AND a.doc_id < c.doc_id
  AND abs(length(a.text) - length(c.text)) <= 20
WHERE levenshtein(a.text, c.text) <= 20
"""


@query("q_text_edit_distance", oracle=_EDIT_ORACLE, tags=("llm", "dedup"))
def q_text_edit_distance(spark, sf_dir):
    """Edit-distance near-dup: Levenshtein computed ONLY on fingerprint
    candidates (docs sharing the min char-8-gram hash) — O(len^2) per
    pair is affordable exactly because LSH already shrank the pair set;
    all-pairs Levenshtein at corpus scale is never acceptable.

    Two prunes keep the DP budget bounded: (1) the candidate key is
    FOUR concatenated min-hashes (rotated md5 windows), so collision
    probability is J^4 — a single min-hash collides on merely-similar
    docs (this corpus: 312k candidates vs 276); (2) |len(a)-len(b)|
    lower-bounds edit distance, dropping pairs beyond the threshold
    before the quadratic comparison (semantics-preserving)."""
    d = ensure_parallelism(Catalog(spark, sf_dir).documents)
    fp = d.selectExpr(
        "doc_id",
        "text",
        "transform(sequence(1, greatest(length(text) - 7, 1)), "
        "i -> md5(substring(text, i, 8))) AS hs",
    ).selectExpr(
        "doc_id",
        "text",
        "concat_ws('|', "
        "array_min(transform(hs, h -> substring(h, 1, 8))), "
        "array_min(transform(hs, h -> substring(h, 9, 8))), "
        "array_min(transform(hs, h -> substring(h, 17, 8))), "
        "array_min(transform(hs, h -> substring(h, 25, 8)))) AS fp8",
    )
    # Materialize the fingerprint pass ONCE: the self-join's two sides
    # carry different aliases, so Catalyst cannot reuse the exchange
    # and would run the per-8-gram md5 transform (the dominant cost —
    # |text| digests per doc) twice.  Same localCheckpoint pattern as
    # cluster_labels; the checkpointed frame is (doc_id, text, fp8),
    # corpus-sized, which a deployment would checkpoint to shared
    # storage exactly like the LSH edge list.
    fp = fp.localCheckpoint()
    a = fp.selectExpr("doc_id AS doc_a", "text AS ta", "fp8")
    c = fp.selectExpr("doc_id AS doc_b", "text AS tb", "fp8 AS fp8b")
    return (
        a.join(
            c,
            (a.fp8 == c.fp8b)
            & (a.doc_a < c.doc_b)
            & (F.abs(F.length(a.ta) - F.length(c.tb)) <= 20),
        )
        .selectExpr("doc_a", "doc_b", "levenshtein(ta, tb) AS edit_dist")
        .filter("edit_dist <= 20")
    )


# ---------------------------------------------------------------------------
# Multimodal columns
# ---------------------------------------------------------------------------


@query(
    "q_multimodal_json",
    oracle=(
        "SELECT event_id, event_type, "
        "CAST(json_extract_string(props, '$.k') AS INT) AS k "
        "FROM events"
    ),
    tags=("llm", "multimodal"),
)
def q_multimodal_json(spark, sf_dir):
    """Typed extraction from the semi-structured props column via
    from_json with an explicit schema (not per-path string getters) —
    the schema-on-read door for metadata travelling beside media
    columns."""
    e = Catalog(spark, sf_dir).events
    schema = T.StructType([T.StructField("k", T.IntegerType())])
    return e.select(
        "event_id",
        "event_type",
        F.from_json("props", schema).getField("k").alias("k"),
    )


@query(
    "q_multimodal_binary",
    oracle=(
        "SELECT doc_id, octet_length(CAST(text AS BLOB)) AS n_bytes, "
        "md5(text) AS payload_md5 FROM documents"
    ),
    tags=("llm", "multimodal"),
)
def q_multimodal_binary(spark, sf_dir):
    """Opaque-binary column handling: payload cast to binary, byte
    length + content digest as typed metadata — the query-side surface
    of the multimodal model (decode/resize/hash stages live in
    operators/multimodal.py as Arrow-batched row maps)."""
    d = Catalog(spark, sf_dir).documents
    payload = F.col("text").cast(T.BinaryType())
    return d.select(
        "doc_id",
        F.length(payload).alias("n_bytes"),
        F.md5(payload).alias("payload_md5"),
    )


# ---------------------------------------------------------------------------
# Training-data pipeline: chunking, decontamination, quantization
# ---------------------------------------------------------------------------

_CHUNK_ORACLE = """
WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents)
SELECT doc_id, CAST(gs AS INT) AS chunk_start,
  CAST(len(list_slice(words, gs, gs + 63)) AS INT) AS chunk_tokens,
  md5(array_to_string(list_slice(words, gs, gs + 63), ' ')) AS chunk_md5
FROM w, unnest(generate_series(1, len(words), 48)) t(gs)
"""


@query("q_text_chunk", oracle=_CHUNK_ORACLE, tags=("llm", "text"))
def q_text_chunk(spark, sf_dir):
    """Overlapping token-window chunking (64-token windows, stride 48)
    — the standard context-window preprocessing step before embedding /
    tokenization.  One explode per document, no shuffle at all: chunk
    rows stay on the partition that scanned the document, so at 100 TB
    this is a pure map stage.  chunk_md5 gives each chunk a stable id
    for downstream dedup/lineage."""
    d = ensure_parallelism(Catalog(spark, sf_dir).documents)
    return (
        d.selectExpr("doc_id", "split(text, ' ') AS words")
        .selectExpr(
            "doc_id",
            "words",
            "explode(sequence(1, size(words), 48)) AS chunk_start",
        )
        .selectExpr(
            "doc_id",
            "cast(chunk_start AS int) AS chunk_start",
            "cast(size(slice(words, chunk_start, 64)) AS int) AS chunk_tokens",
            "md5(concat_ws(' ', slice(words, chunk_start, 64))) AS chunk_md5",
        )
    )


_DECON_ORACLE = """
WITH sh AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
    generate_series(1, greatest(len(string_split(text, ' ')) - 4, 1)),
    i -> array_to_string(list_slice(string_split(text, ' '), i, i + 4), ' ')))) AS s
  FROM documents),
b AS (SELECT DISTINCT s FROM sh WHERE doc_id < 20)
SELECT sh.doc_id, CAST(count(DISTINCT sh.s) AS BIGINT) AS n_shared
FROM sh JOIN b USING (s) WHERE sh.doc_id >= 20 GROUP BY sh.doc_id
"""


@query("q_dedup_decontaminate", oracle=_DECON_ORACLE, tags=("llm", "dedup"))
def q_dedup_decontaminate(spark, sf_dir):
    """Benchmark decontamination: find corpus documents sharing any
    5-word shingle with a benchmark set (here: doc_id < 20 plays the
    held-out eval set), reporting how many distinct shingles leak.
    The benchmark shingle set is tiny by construction, so it
    BROADCASTS: the corpus-side scan never shuffles document text,
    only the matched (doc_id, shingle) pairs reach the count — the
    shape that survives a 100 TB corpus against a fixed eval suite.
    Downstream, `anti-join on doc_id` removes the contaminated docs."""
    d = ensure_parallelism(Catalog(spark, sf_dir).documents)
    sh = d.selectExpr(
        "doc_id", f"explode({minhash.shingle_expr(5)}) AS s"
    )
    bench = sh.filter("doc_id < 20").select("s").distinct()
    return (
        sh.filter("doc_id >= 20")
        .join(F.broadcast(bench), "s")
        .groupBy("doc_id")
        .agg(F.countDistinct("s").alias("n_shared"))
    )


_QUANT_ORACLE = """
WITH s AS (
  SELECT vec_id, embedding,
    CAST(127 AS DOUBLE) / greatest(
      list_aggregate(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))), 'max'),
      CAST(1e-12 AS DOUBLE)) AS scale
  FROM embeddings)
SELECT vec_id,
  floor(scale * 1000000 + 0.5) / 1000000 AS scale_q,
  CAST(list_aggregate(list_transform(embedding,
    x -> CAST(floor(CAST(x AS DOUBLE) * scale + 0.5) AS BIGINT)), 'sum') AS BIGINT) AS q_sum,
  CAST(floor(CAST(embedding[1] AS DOUBLE) * scale + 0.5) AS BIGINT) AS q1
FROM s
"""


@query("q_embed_quantize", oracle=_QUANT_ORACLE, tags=("llm", "similarity"))
def q_embed_quantize(spark, sf_dir):
    """Int8 scalar quantization of embedding vectors (symmetric,
    per-vector max-abs scale) — the storage/bandwidth lever for
    billion-vector ANN indexes (4x smaller than float32).  All JVM
    higher-order functions, zero shuffle; checked output is the scale
    plus integer digests of the quantized vector (integer sums are
    fold-order-independent, so the check is deterministic)."""
    e = Catalog(spark, sf_dir).embeddings
    s = e.selectExpr(
        "vec_id",
        "embedding",
        "cast(127 AS double) / greatest("
        "array_max(transform(embedding, x -> abs(cast(x AS double)))), "
        "cast(1e-12 AS double)) AS scale",
    )
    return s.selectExpr(
        "vec_id",
        "floor(scale * 1000000 + 0.5) / 1000000 AS scale_q",
        "cast(aggregate(transform(embedding, "
        "x -> cast(floor(cast(x AS double) * scale + 0.5) AS bigint)), "
        "cast(0 AS bigint), (a, x) -> a + x) AS bigint) AS q_sum",
        "cast(floor(cast(element_at(embedding, 1) AS double) * scale + 0.5) AS bigint) AS q1",
    )


_TFIDF_ORACLE = """
WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2),
df AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
n AS (SELECT count(*) AS n FROM documents),
scored AS (
  SELECT doc_id, term,
    floor((tf * ln(CAST(n AS DOUBLE) / CAST(df AS DOUBLE))) * 1000000 + 0.5) / 1000000 AS tfidf
  FROM tf JOIN df USING (term), n),
r AS (SELECT doc_id, term, tfidf,
        row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rn
      FROM scored)
SELECT doc_id, term, tfidf FROM r WHERE rn <= 5
"""


@query("q_text_tfidf", oracle=_TFIDF_ORACLE, tags=("llm", "text"))
def q_text_tfidf(spark, sf_dir):
    """Top-5 TF-IDF terms per document — the classic relevance scoring
    over the corpus.  Three shuffles, all key-partitioned and
    partial-aggregated: tf on (doc, term), df on term, then a
    per-document window for top-5.  The corpus size N is a broadcast
    1-row aggregate, not a driver-side collect, so the plan is fully
    distributed at any corpus size."""
    from pyspark.sql import Window

    d = ensure_parallelism(Catalog(spark, sf_dir).documents)
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = toks.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    ndocs = d.agg(F.count(F.lit(1)).alias("n"))
    scored = (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(ndocs))
        .select(
            "doc_id",
            "term",
            quantize(
                F.col("tf")
                * F.log(F.col("n").cast("double") / F.col("df").cast("double")),
                6,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), "term")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter("rn <= 5")
        .select("doc_id", "term", "tfidf")
    )
