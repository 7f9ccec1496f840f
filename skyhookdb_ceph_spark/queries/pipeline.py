"""Training-data pipeline operators, round 3 (SURVEY.md §2.14) —
sampling/splitting, CDC compaction, skew-safe aggregation and range
analytics.  Everything is oracle-checked; sampling and
splitting are DETERMINISTIC (md5-keyed, no RNG) so reruns — and the
DuckDB oracle — reproduce the exact subset, which is what training-data
lineage requires anyway.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from skyhookdb_ceph_spark.operators.range_join import banded_interval_join
from skyhookdb_ceph_spark.operators.skew import salted_sum_count
from skyhookdb_ceph_spark.queries._util import Catalog, local_df, money, quantize
from skyhookdb_ceph_spark.registry import query


# ---------------------------------------------------------------------------
# Deterministic sampling / splitting
# ---------------------------------------------------------------------------


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
    from pyspark.sql import Window

    d = Catalog(spark, sf_dir).documents
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        d.select("doc_id", "lang", F.row_number().over(w).alias("rn"))
        .filter("rn <= 20")
        .select("doc_id", "lang")
    )


# ---------------------------------------------------------------------------
# CDC compaction / upsert
# ---------------------------------------------------------------------------


@query(
    "q_upsert_latest",
    oracle=(
        "WITH versions AS ("
        "  SELECT event_id, value, 0 AS seq FROM events"
        "  UNION ALL"
        "  SELECT event_id, value + 1000, 1 AS seq FROM events WHERE event_id % 2 = 0)"
        "SELECT event_id, "
        "floor((max_by(value, seq)) * 100 + 0.5) / 100 AS value_q, "
        "CAST(count(*) AS BIGINT) AS n_versions "
        "FROM versions GROUP BY event_id"
    ),
    tags=("pipeline",),
)
def q_upsert_latest(spark, sf_dir):
    """CDC upsert compaction (MERGE-into semantics on plain parquet):
    a base snapshot unioned with an update batch (every even event,
    value+1000, higher sequence number); latest-wins per key via
    max_by(value, seq) — a map-side-combinable aggregate, NOT a
    window (one partial-agg shuffle on the key, no per-key sort), so
    compaction throughput scales with the key count, not version
    depth."""
    e = Catalog(spark, sf_dir).events.select("event_id", "value")
    base = e.withColumn("seq", F.lit(0))
    updates = (
        e.filter(F.col("event_id") % 2 == 0)
        .withColumn("value", F.col("value") + 1000)
        .withColumn("seq", F.lit(1))
    )
    return (
        base.unionByName(updates)
        .groupBy("event_id")
        .agg(
            money(F.max_by("value", "seq")).alias("value_q"),
            F.count(F.lit(1)).alias("n_versions"),
        )
    )


# ---------------------------------------------------------------------------
# Skew-safe aggregation (operators/skew.py surfaced as a query)
# ---------------------------------------------------------------------------


@query(
    "q_agg_salted_skew",
    oracle=(
        "SELECT event_type, CAST(sum(floor(value * 100)) AS BIGINT) AS sum_cents, "
        "CAST(count(*) AS BIGINT) AS cnt "
        "FROM events GROUP BY event_type"
    ),
    tags=("pipeline", "skew"),
)
def q_agg_salted_skew(spark, sf_dir):
    """Two-phase salted aggregation on a low-cardinality (= skewed by
    construction) key: partial sums per (key, salt) spread the hot
    key's rows over 16 tasks, the final shuffle carries 16 rows per
    key.  Values accumulate as integer cents so the salted partial
    order is exactly the direct sum (doubles would re-associate).
    The oracle is the DIRECT group-by — the identity that makes
    salting safe to deploy."""
    e = Catalog(spark, sf_dir).events.select(
        "event_id",
        "event_type",
        F.floor(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    out = salted_sum_count(
        e, ["event_type"], "cents", salt_col=F.col("event_id"), n_salts=16
    )
    return out.select(
        "event_type",
        F.col("sum_cents").cast("bigint").alias("sum_cents"),
        F.col("cnt").cast("bigint").alias("cnt"),
    )


# ---------------------------------------------------------------------------
# Range (band) join — operators/range_join.py surfaced as a query
# ---------------------------------------------------------------------------

_TIERS = [
    ("bronze", 0.0, 99999.99),
    ("silver", 100000.0, 199999.99),
    ("gold", 200000.0, 299999.99),
    ("platinum", 300000.0, 599999.99),
]
_TIERS_SQL = ", ".join(f"('{t}', {lo}, {hi})" for t, lo, hi in _TIERS)


@query(
    "q_join_range",
    oracle=(
        f"SELECT tier, CAST(count(*) AS BIGINT) AS n_orders, "
        f"floor((sum(o_totalprice)) * 100 + 0.5) / 100 AS sum_total "
        f"FROM orders JOIN (VALUES {_TIERS_SQL}) t(tier, lo, hi) "
        f"ON o_totalprice BETWEEN lo AND hi GROUP BY tier"
    ),
    tags=("pipeline", "join"),
)
def q_join_range(spark, sf_dir):
    """Range (band) join: orders priced into value tiers.  A naive
    BETWEEN join plans BroadcastNestedLoop (quadratic once the dim
    outgrows broadcast); banded_interval_join explodes each interval
    to its covered width-100k buckets and equi-joins on bucket id —
    one keyed shuffle, linear work, any scale (operators/range_join.py;
    same recipe as q_join_theta)."""
    o = Catalog(spark, sf_dir).orders.select("o_orderkey", "o_totalprice")
    tiers = local_df(spark, _TIERS, "tier string, lo double, hi double")
    joined = banded_interval_join(
        o, tiers, "o_totalprice", F.col("lo"), F.col("hi"), width=100000.0
    )
    return joined.groupBy("tier").agg(
        F.count(F.lit(1)).alias("n_orders"),
        money(F.sum("o_totalprice")).alias("sum_total"),
    )


# ---------------------------------------------------------------------------
# Sketched quantiles, vector centroids
# ---------------------------------------------------------------------------


@query(
    "q_agg_approx_quantile",
    oracle=(
        "SELECT l_returnflag, "
        "CAST(quantile_disc(l_quantity, 0.25) AS DOUBLE) AS q25, "
        "CAST(quantile_disc(l_quantity, 0.50) AS DOUBLE) AS q50, "
        "CAST(quantile_disc(l_quantity, 0.75) AS DOUBLE) AS q75, "
        "CAST(quantile_disc(l_quantity, 0.95) AS DOUBLE) AS q95 "
        "FROM lineitem GROUP BY l_returnflag"
    ),
    tags=("pipeline", "agg"),
)
def q_agg_approx_quantile(spark, sf_dir):
    """Sketch-based grouped quantiles: percentile_approx builds a
    mergeable KLL-style sketch per partition (partial agg, one keyed
    shuffle of sketches — the 100 TB path where exact percentile's
    per-group sort buffer won't fit).  At accuracy 50000 on this
    integer-valued column the sketch answer equals DuckDB's exact
    discrete quantile, which keeps the op hash-checkable; real
    deployments trade accuracy down for memory."""
    li = Catalog(spark, sf_dir).lineitem
    arr = F.expr(
        "percentile_approx(l_quantity, array(0.25D, 0.50D, 0.75D, 0.95D), 50000)"
    )
    g = li.groupBy("l_returnflag").agg(arr.alias("qs"))
    return g.select(
        "l_returnflag",
        F.element_at("qs", 1).cast("double").alias("q25"),
        F.element_at("qs", 2).cast("double").alias("q50"),
        F.element_at("qs", 3).cast("double").alias("q75"),
        F.element_at("qs", 4).cast("double").alias("q95"),
    )


# ---------------------------------------------------------------------------
# Wave 2: clustering, modal values, correlation, URL parsing, PII redaction
# ---------------------------------------------------------------------------


@query(
    "q_agg_mode",
    oracle=(
        "SELECT o_orderstatus, o_orderpriority AS mode_priority, cnt FROM ("
        "  SELECT o_orderstatus, o_orderpriority, CAST(count(*) AS BIGINT) AS cnt, "
        "  row_number() OVER (PARTITION BY o_orderstatus "
        "                     ORDER BY count(*) DESC, o_orderpriority) AS rn "
        "  FROM orders GROUP BY o_orderstatus, o_orderpriority) WHERE rn = 1"
    ),
    tags=("pipeline", "agg"),
)
def q_agg_mode(spark, sf_dir):
    """Modal value per group (most frequent order priority per status)
    with a DETERMINISTIC tie-break (lexicographic) — engines' built-in
    mode() break ties arbitrarily, so the explicit count + window
    formulation is the oracle-safe one.  Count partial-aggregates
    map-side; the window only ranks the (status, priority) aggregate,
    never base rows."""
    from pyspark.sql import Window

    o = Catalog(spark, sf_dir).orders
    counts = o.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.desc("cnt"), "o_orderpriority"
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .select(
            "o_orderstatus",
            F.col("o_orderpriority").alias("mode_priority"),
            "cnt",
        )
    )


@query(
    "q_agg_corr",
    oracle=(
        "SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n, "
        "floor((corr(l_extendedprice, l_quantity)) * 1000000 + 0.5) / 1000000 AS price_qty_corr, "
        "floor((covar_samp(l_extendedprice, l_quantity)) * 100 + 0.5) / 100 AS price_qty_covar "
        "FROM lineitem GROUP BY l_returnflag"
    ),
    tags=("pipeline", "agg"),
)
def q_agg_corr(spark, sf_dir):
    """Correlation / covariance aggregates per group — the feature-
    screening statistics.  Both are single-pass mergeable co-moment
    aggregates (partial per partition, exact merge), so the plan is
    the plain partial+final HashAggregate at any scale.  Cross-engine
    float drift measured at ~1e-15 relative; quantization absorbs it."""
    li = Catalog(spark, sf_dir).lineitem
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        quantize(F.corr("l_extendedprice", "l_quantity"), 6).alias("price_qty_corr"),
        money(F.covar_samp("l_extendedprice", "l_quantity")).alias("price_qty_covar"),
    )


@query(
    "q_fn_url_parse",
    oracle=(
        "SELECT doc_id, url, "
        "regexp_extract(url, '^https://([^/]+)', 1) AS host, "
        "regexp_extract(url, '^https://[^/]+(/[^?]*)', 1) AS path, "
        "regexp_extract(url, 'ref=([a-z0-9]+)', 1) AS ref_param "
        "FROM (SELECT doc_id, 'https://' || source || '.example.com/' || lang "
        "|| '/doc/' || CAST(doc_id AS VARCHAR) || '?ref=' || lang AS url FROM documents)"
    ),
    tags=("pipeline", "text"),
)
def q_fn_url_parse(spark, sf_dir):
    """URL parsing (host / path / query param) — the crawl-metadata
    extraction every web-corpus pipeline runs.  URLs are synthesized
    deterministically from fixture columns (the corpus has none);
    Spark's parse_url is the JVM fast path, the oracle mirrors with
    anchored regexes."""
    d = Catalog(spark, sf_dir).documents
    url = F.concat(
        F.lit("https://"), F.col("source"), F.lit(".example.com/"),
        F.col("lang"), F.lit("/doc/"), F.col("doc_id").cast("string"),
        F.lit("?ref="), F.col("lang"),
    )
    u = d.select("doc_id", url.alias("url"))
    return u.select(
        "doc_id",
        "url",
        F.parse_url("url", F.lit("HOST")).alias("host"),
        F.parse_url("url", F.lit("PATH")).alias("path"),
        F.parse_url("url", F.lit("QUERY"), F.lit("ref")).alias("ref_param"),
    )


# ---------------------------------------------------------------------------
# Wave 3 — sequence packing, mixture sampling, LM scoring, sessionization,
# URL canonicalization
# ---------------------------------------------------------------------------


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
    from pyspark.sql import Window

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
    "q_win_sessionize",
    oracle=(
        "SELECT user_id, event_id, ts, "
        "CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id "
        "ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq "
        "FROM (SELECT user_id, event_id, ts, "
        "CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL "
        "OR date_diff('second', lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id), ts) > 43200 "
        "THEN 1 ELSE 0 END AS is_new FROM events)"
    ),
    tags=("pipeline", "window"),
)
def q_win_sessionize(spark, sf_dir):
    """Batch sessionization (gaps-and-islands): a new session starts
    when a user's inter-event gap exceeds 12 h; session_seq is the
    running count of session starts.  Two stacked windows over the
    SAME (user_id; ts, event_id) partitioning — one shuffle, one sort,
    both window ops pipeline over it.  The streaming twin is
    q_stream_session (session_window); this is the backfill/batch
    formulation every event pipeline also needs."""
    from pyspark.sql import Window

    e = Catalog(spark, sf_dir).events
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    is_new = F.when(gap.isNull() | (gap > 43200), 1).otherwise(0)
    flagged = e.select("user_id", "event_id", "ts", is_new.alias("is_new"))
    wc = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return flagged.select(
        "user_id",
        "event_id",
        "ts",
        F.sum("is_new").over(wc).cast("bigint").alias("session_seq"),
    )


# ---------------------------------------------------------------------------
# Wave 4 — contrastive-training data prep: negative sampling, curriculum
# binning, hard-negative mining
# ---------------------------------------------------------------------------


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
    from pyspark.sql import Window

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
