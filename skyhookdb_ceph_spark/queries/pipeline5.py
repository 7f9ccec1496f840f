"""Round-4 wave-3 operators (SURVEY.md §2.15 continued) — relational
reshaping (unpivot/melt), table profiling (multi-column statistics),
product analytics (activity bitmaps, cohort retention), proximity
search, and canonicalization dedup.

Same house rules as pipeline4.py: deterministic, engine-invariant
quantization, identical aliases both sides, unique tie-breaks.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from skyhookdb_ceph_spark.operators import ensure_parallelism
from skyhookdb_ceph_spark.queries._util import (
    Catalog,
    collect_local,
    quantize,
    quantize2,
    scratch,
)
from skyhookdb_ceph_spark.registry import query

# ---------------------------------------------------------------------------
# §2.15.23 Unpivot / melt (wide -> long)
# ---------------------------------------------------------------------------

_UNPIVOT_ORACLE = """
SELECT l_orderkey, l_linenumber, 'quantity' AS metric,
       floor(l_quantity * 1000000 + 0.5) / 1000000 AS val
FROM lineitem WHERE l_orderkey % 50 = 0
UNION ALL
SELECT l_orderkey, l_linenumber, 'price',
       floor(l_extendedprice * 1000000 + 0.5) / 1000000
FROM lineitem WHERE l_orderkey % 50 = 0
UNION ALL
SELECT l_orderkey, l_linenumber, 'discount',
       floor(l_discount * 1000000 + 0.5) / 1000000
FROM lineitem WHERE l_orderkey % 50 = 0
UNION ALL
SELECT l_orderkey, l_linenumber, 'tax',
       floor(l_tax * 1000000 + 0.5) / 1000000
FROM lineitem WHERE l_orderkey % 50 = 0
"""


@query("q_fn_unpivot", oracle=_UNPIVOT_ORACLE, tags=("functions", "reshape"))
def q_fn_unpivot(spark, sf_dir):
    """Unpivot / melt: four measure columns to (metric, val) rows via
    stack() — the inverse of q_agg_pivot, a single Generate over the
    scan (pure map, no shuffle; the 4x row fan-out is the contract).
    The oracle states the same reshape as UNION ALL.  Deterministic
    1/50 orderkey thinning keeps the long output bounded."""
    li = Catalog(spark, sf_dir).lineitem.filter(
        F.expr("l_orderkey % 50 = 0")
    )
    return li.selectExpr(
        "l_orderkey",
        "l_linenumber",
        "stack(4, "
        "'quantity', floor(l_quantity * 1000000 + 0.5) / 1000000, "
        "'price', floor(l_extendedprice * 1000000 + 0.5) / 1000000, "
        "'discount', floor(l_discount * 1000000 + 0.5) / 1000000, "
        "'tax', floor(l_tax * 1000000 + 0.5) / 1000000"
        ") AS (metric, val)",
    )


# ---------------------------------------------------------------------------
# §2.15.24 Multi-column table profiling (ANALYZE-style summary)
# ---------------------------------------------------------------------------

_PROFILE_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


def _profile_oracle() -> str:
    parts = []
    for c in _PROFILE_COLS:
        parts.append(
            f"SELECT '{c}' AS col_name, CAST(count(*) AS BIGINT) AS n_rows, "
            f"CAST(count(*) - count({c}) AS BIGINT) AS n_null, "
            f"floor(min({c}) * 1000000 + 0.5) / 1000000 AS min_val, "
            f"floor(max({c}) * 1000000 + 0.5) / 1000000 AS max_val, "
            f"floor(avg({c}) * 1000000 + 0.5) / 1000000 AS avg_val "
            f"FROM lineitem"
        )
    return " UNION ALL ".join(parts)


@query("q_stats_profile", oracle=_profile_oracle(), tags=("stats",))
def q_stats_profile(spark, sf_dir):
    """Table profiling: per-column row/null counts, min/max/mean for
    every numeric measure — the reference's ANALYZE/statistics pass as
    one query.  ALL columns profile in a SINGLE scan (one partial
    aggregate computing 4x5 states), then the wide 1-row aggregate
    unpivots via stack() — at 100 TB this is one pass over the table
    instead of one per column, which is the entire point."""
    li = Catalog(spark, sf_dir).lineitem
    aggs = []
    for c in _PROFILE_COLS:
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__n"),
            (F.count(F.lit(1)) - F.count(c)).alias(f"{c}__nn"),
            quantize(F.min(c), 6).alias(f"{c}__mn"),
            quantize(F.max(c), 6).alias(f"{c}__mx"),
            quantize(F.avg(c), 6).alias(f"{c}__av"),
        ]
    wide = li.agg(*aggs)
    stack = ", ".join(
        f"'{c}', {c}__n, {c}__nn, {c}__mn, {c}__mx, {c}__av"
        for c in _PROFILE_COLS
    )
    return wide.selectExpr(
        f"stack({len(_PROFILE_COLS)}, {stack}) AS "
        "(col_name, n_rows, n_null, min_val, max_val, avg_val)"
    )


# ---------------------------------------------------------------------------
# §2.15.25 Activity bitmaps (retention-style bit aggregation)
# ---------------------------------------------------------------------------

_BITMAP_ORACLE = """
WITH anchor AS (SELECT min(CAST(ts AS DATE)) AS d0 FROM events),
off AS (
  SELECT user_id,
    CAST(date_diff('day', anchor.d0, CAST(ts AS DATE)) AS INT) AS k
  FROM events, anchor)
SELECT user_id,
  bit_or(CAST(1 AS BIGINT) << k) AS day_bitmap,
  CAST(bit_count(bit_or(CAST(1 AS BIGINT) << k)) AS BIGINT) AS active_days
FROM off WHERE k < 63 GROUP BY user_id ORDER BY user_id
"""


@query("q_agg_retention_bitmap", oracle=_BITMAP_ORACLE, tags=("analytics",))
def q_agg_retention_bitmap(spark, sf_dir):
    """Per-user activity bitmap: day-of-month presence packed into one
    BIGINT via bit_or(1 << day_offset), active-day count via
    bit_count — the constant-width retention/engagement encoding (a
    31-day user history is 8 bytes regardless of event volume, and
    bitmaps AND/OR across periods for cohort algebra).  One partial
    bit_or aggregate; integers only, so cross-engine parity is
    exact.  The anchor day is the data's own min date (1-row
    broadcast) and offsets cap below 63 — a fixture regenerated on a
    different calendar can never push the shift past the BIGINT
    width, where the engines' overflow semantics diverge."""
    ev = Catalog(spark, sf_dir).events
    anchor = ev.agg(F.min(F.col("ts").cast("date")).alias("d0"))
    off = ev.crossJoin(F.broadcast(anchor)).select(
        "user_id",
        F.datediff(F.col("ts").cast("date"), F.col("d0")).alias("k"),
    ).filter(F.col("k") < 63)
    bit = F.expr("shiftleft(CAST(1 AS BIGINT), k)")
    return (
        off.groupBy("user_id")
        .agg(F.bit_or(bit).alias("day_bitmap"))
        .select(
            "user_id",
            "day_bitmap",
            F.bit_count("day_bitmap").cast("bigint").alias("active_days"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# §2.15.26 Cohort retention triangle
# ---------------------------------------------------------------------------

_COHORT_ORACLE = """
WITH act AS (
  SELECT DISTINCT user_id,
    CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT) AS d
  FROM events),
cohort AS (SELECT user_id, min(d) AS c0 FROM act GROUP BY user_id)
SELECT c0 AS cohort_day, a.d - c.c0 AS day_k,
  CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_active
FROM act a JOIN cohort c ON a.user_id = c.user_id
WHERE a.d - c.c0 <= 7
GROUP BY 1, 2 ORDER BY 1, 2
"""


@query("q_win_retention_cohort", oracle=_COHORT_ORACLE, tags=("analytics",))
def q_win_retention_cohort(spark, sf_dir):
    """Cohort retention triangle: users grouped by first-activity day,
    counted on each of their next 7 active days — the standard
    retention matrix.  (user, day) distinct first (one keyed partial
    agg collapses event volume to at most users x days rows), cohort
    day via a per-user min re-joined on user_id; the final count is a
    (cohort, k) aggregate.  Every stage shuffles on bounded
    cardinalities, never raw events."""
    ev = Catalog(spark, sf_dir).events
    act = (
        ev.select(
            "user_id",
            F.datediff(
                F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
            )
            .cast("bigint")
            .alias("d"),
        )
        .distinct()
    )
    cohort = act.groupBy("user_id").agg(F.min("d").alias("c0"))
    return (
        act.join(cohort, "user_id")
        .withColumn("day_k", F.col("d") - F.col("c0"))
        .filter(F.col("day_k") <= 7)
        .groupBy(F.col("c0").alias("cohort_day"), "day_k")
        .agg(F.count_distinct("user_id").cast("bigint").alias("n_active"))
        .orderBy("cohort_day", "day_k")
    )


# ---------------------------------------------------------------------------
# §2.15.27 Term-proximity search (positional postings)
# ---------------------------------------------------------------------------

_PROXIMITY_ORACLE = """
WITH pos AS (
  SELECT doc_id, t.w, CAST(t.i AS BIGINT) AS p
  FROM (SELECT doc_id,
          unnest(string_split(text, ' ')) AS w,
          unnest(generate_series(1, len(string_split(text, ' ')))) AS i
        FROM documents) t(doc_id, w, i)
  WHERE t.w IN ('spark', 'query')),
a AS (SELECT doc_id, p FROM pos WHERE w = 'spark'),
b AS (SELECT doc_id, p FROM pos WHERE w = 'query')
SELECT a.doc_id, CAST(min(abs(a.p - b.p)) AS BIGINT) AS min_gap
FROM a JOIN b ON a.doc_id = b.doc_id
GROUP BY a.doc_id HAVING min(abs(a.p - b.p)) <= 3
ORDER BY a.doc_id
"""


@query("q_text_proximity", oracle=_PROXIMITY_ORACLE, tags=("llm", "text"))
def q_text_proximity(spark, sf_dir):
    """Proximity search: documents where 'spark' and 'query' occur
    within 3 words, with the minimum gap — the positional-postings
    operator behind phrase/NEAR queries (reference IDX_TXT keeps word
    positions for exactly this [U: cls_tabular IDX_TXT]).  Postings
    are filtered to the two query terms AT THE EXPLODE (the full
    position list never shuffles); the per-doc pair join is bounded by
    per-doc term frequency, not document length."""
    d = ensure_parallelism(Catalog(spark, sf_dir).documents)
    pos = (
        d.selectExpr("doc_id", "posexplode(split(text, ' ')) AS (p0, w)")
        .filter(F.col("w").isin("spark", "query"))
        .selectExpr("doc_id", "w", "CAST(p0 + 1 AS BIGINT) AS p")
    )
    a = pos.filter("w = 'spark'").selectExpr("doc_id", "p AS pa")
    b = pos.filter("w = 'query'").selectExpr("doc_id AS db", "p AS pb")
    return (
        a.join(b, F.col("doc_id") == F.col("db"))
        .groupBy("doc_id")
        .agg(
            F.min(F.abs(F.col("pa") - F.col("pb")))
            .cast("bigint")
            .alias("min_gap")
        )
        .filter(F.col("min_gap") <= 3)
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# §2.15.28 Canonicalization (casefold) dedup
# ---------------------------------------------------------------------------

_CASEFOLD_ORACLE = """
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 2000000, upper(text) || '!!' FROM documents
  WHERE doc_id % 7 = 0),
canon AS (
  SELECT doc_id,
    trim(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g')) AS raw1
  FROM corpus),
canon2 AS (
  SELECT doc_id, regexp_replace(raw1, ' +', ' ', 'g') AS ctext FROM canon)
SELECT md5(ctext) AS canon_md5, min(doc_id) AS keep_id,
  CAST(count(*) AS BIGINT) AS dup_cnt
FROM canon2 GROUP BY ctext HAVING count(*) > 1
ORDER BY keep_id
"""


@query("q_dedup_casefold", oracle=_CASEFOLD_ORACLE, tags=("llm", "dedup"))
def q_dedup_casefold(spark, sf_dir):
    """Canonicalization dedup: lowercase, strip non-alphanumerics,
    collapse whitespace, then exact-match on the canonical form —
    catches formatting-only duplicates (case, punctuation, spacing)
    that hash-exact dedup misses and MinHash wastes bands on.  Only
    (canonical-md5, id) pairs shuffle; the group carries the digest,
    never the text.  Spark's regexp_replace is global by default; the
    oracle passes the 'g' flag for identical semantics.  A synthetic
    variant set (every 7th doc uppercased with trailing punctuation)
    guarantees the fixture exercises hits deterministically."""
    d = Catalog(spark, sf_dir).documents
    variants = d.filter(F.expr("doc_id % 7 = 0")).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.concat(F.upper("text"), F.lit("!!")).alias("text"),
    )
    corpus = d.select("doc_id", "text").unionByName(variants)
    d = ensure_parallelism(corpus)
    canon = d.select(
        "doc_id",
        F.trim(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", " ")
        ).alias("raw1"),
    ).select(
        "doc_id",
        F.regexp_replace(F.col("raw1"), " +", " ").alias("ctext"),
    )
    return (
        canon.groupBy("ctext")
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).alias("dup_cnt"),
        )
        .filter(F.col("dup_cnt") > 1)
        .select(F.md5("ctext").alias("canon_md5"), "keep_id", "dup_cnt")
        .orderBy("keep_id")
    )


# ---------------------------------------------------------------------------
# §2.15.29 TPC-H Q7: bilateral trade volume by year
# ---------------------------------------------------------------------------

_Q7_ORACLE = """
SELECT supp_nation, cust_nation, l_year,
  floor(sum(volume) * 100 + 0.5) / 100 AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(year(l_shipdate) AS BIGINT) AS l_year,
         l_extendedprice * (1 - l_discount) AS volume
  FROM supplier
  JOIN lineitem ON s_suppkey = l_suppkey
  JOIN orders ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE n1.n_name IN ('NATION_1', 'NATION_2')
    AND n2.n_name IN ('NATION_1', 'NATION_2')
    AND n1.n_name <> n2.n_name) t
GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
"""


@query("q_tpch_q7", oracle=_Q7_ORACLE, tags=("tpch",))
def q_tpch_q7(spark, sf_dir):
    """TPC-H Q7 volume-shipping shape: revenue between two nations by
    ship year, in both directions.  The nation filters reach BOTH
    sides before the fact joins (supplier and customer each pre-join
    their 25-row nation dim broadcast-style and filter to the pair),
    so the expensive lineitem-orders shuffle only carries rows whose
    endpoints survive — the same dim-first pruning the reference's
    storage-side filters deliver."""
    c = Catalog(spark, sf_dir)
    n1 = c.nation.filter(
        F.col("n_name").isin("NATION_1", "NATION_2")
    ).selectExpr("n_nationkey AS sk", "n_name AS supp_nation")
    n2 = c.nation.filter(
        F.col("n_name").isin("NATION_1", "NATION_2")
    ).selectExpr("n_nationkey AS ck", "n_name AS cust_nation")
    sup = c.supplier.join(n1, F.col("s_nationkey") == F.col("sk")).select(
        "s_suppkey", "supp_nation"
    )
    cust = c.customer.join(n2, F.col("c_nationkey") == F.col("ck")).select(
        "c_custkey", "cust_nation"
    )
    return (
        c.lineitem.join(sup, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(c.orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(cust, F.col("c_custkey") == F.col("o_custkey"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("bigint").alias("l_year"),
        )
        .agg(
            quantize2(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            ).alias("revenue")
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


# ---------------------------------------------------------------------------
# §2.15.30 TPC-H Q8: national market share
# ---------------------------------------------------------------------------

_Q8_ORACLE = """
SELECT o_year,
  floor((sum(CASE WHEN nation = 'NATION_3' THEN volume ELSE 0 END)
         / sum(volume)) * 1000000 + 0.5) / 1000000 AS mkt_share
FROM (
  SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
         l_extendedprice * (1 - l_discount) AS volume,
         n2.n_name AS nation
  FROM part
  JOIN lineitem ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region ON n1.n_regionkey = r_regionkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE r_name = 'ASIA' AND p_type = 'PROMO') t
GROUP BY o_year ORDER BY o_year
"""


@query("q_tpch_q8", oracle=_Q8_ORACLE, tags=("tpch",))
def q_tpch_q8(spark, sf_dir):
    """TPC-H Q8 market-share shape: a 7-way join (3 dims on each side
    of the fact path) with a conditional-share aggregate per order
    year.  Every dim filter (region, part type) prunes before the
    fact shuffles; the supplier nation arrives as a second broadcast
    of the same 25-row dim.  The share division happens after ONE
    grouped aggregate (both sums in the same pass)."""
    c = Catalog(spark, sf_dir)
    cust_asia = (
        c.customer.join(
            c.nation, F.col("c_nationkey") == F.col("n_nationkey")
        )
        .join(
            c.region.filter(F.col("r_name") == "ASIA"),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("c_custkey")
    )
    supp_nat = c.supplier.join(
        c.nation.selectExpr("n_nationkey AS snk", "n_name AS nation"),
        F.col("s_nationkey") == F.col("snk"),
    ).select("s_suppkey", "nation")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        c.lineitem.join(
            c.part.filter(F.col("p_type") == "PROMO"),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(supp_nat, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(c.orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust_asia, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(F.year("o_orderdate").cast("bigint").alias("o_year"))
        .agg(
            quantize(
                F.sum(
                    F.when(F.col("nation") == "NATION_3", vol).otherwise(0.0)
                )
                / F.sum(vol),
                6,
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


# ---------------------------------------------------------------------------
# §2.15.31 TPC-H Q13: customer order-count distribution
# ---------------------------------------------------------------------------

_Q13_ORACLE = """
SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
FROM (
  SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
  FROM customer LEFT JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey) t
GROUP BY c_count ORDER BY custdist DESC, c_count DESC
"""


@query("q_tpch_q13", oracle=_Q13_ORACLE, tags=("tpch",))
def q_tpch_q13(spark, sf_dir):
    """TPC-H Q13 customer-distribution shape: LEFT join with an extra
    join-side predicate (excluded priority), count per customer
    including zero-order customers, then the histogram of counts.
    Two grouped aggregates; the second runs on at most |customers|
    rows.  The join-side filter must NOT become a WHERE (that would
    drop zero-order customers) — stated identically in both
    engines."""
    c = Catalog(spark, sf_dir)
    joined = c.customer.join(
        c.orders,
        (F.col("c_custkey") == F.col("o_custkey"))
        & (F.col("o_orderpriority") != "1-URGENT"),
        "left",
    )
    per_cust = joined.groupBy("c_custkey").agg(
        F.count("o_orderkey").alias("c_count")
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


# ---------------------------------------------------------------------------
# §2.15.32 TPC-H Q19: disjunctive predicate pushdown
# ---------------------------------------------------------------------------

_Q19_ORACLE = """
SELECT floor(sum(l_extendedprice * (1 - l_discount)) * 100 + 0.5) / 100
       AS revenue
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
       AND l_quantity >= 1 AND l_quantity <= 11)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 25
       AND l_quantity >= 10 AND l_quantity <= 20)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 35
       AND l_quantity >= 20 AND l_quantity <= 30)
"""


@query("q_tpch_q19", oracle=_Q19_ORACLE, tags=("tpch",))
def q_tpch_q19(spark, sf_dir):
    """TPC-H Q19 disjunctive-predicate shape: three OR'd brand/size/
    quantity conjunctions across the join.  Catalyst derives the
    common implied ranges (l_quantity in [1,30], p_size in [1,35]) and
    pushes them into BOTH scans even though the full disjunction can
    only evaluate post-join — the query that shows predicate
    simplification working, not just pushdown of literal filters."""
    c = Catalog(spark, sf_dir)
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 15)
            & (F.col("l_quantity") >= 1)
            & (F.col("l_quantity") <= 11)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(10, 25)
            & (F.col("l_quantity") >= 10)
            & (F.col("l_quantity") <= 20)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(20, 35)
            & (F.col("l_quantity") >= 20)
            & (F.col("l_quantity") <= 30)
        )
    )
    return (
        c.lineitem.join(c.part, F.col("l_partkey") == F.col("p_partkey"))
        .filter(cond)
        .agg(
            quantize2(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            ).alias("revenue")
        )
    )


# ---------------------------------------------------------------------------
# §2.15.33 Multi-probe IVF ANN (recall recovery without more cells)
# ---------------------------------------------------------------------------

def _multiprobe_oracle() -> str:
    from skyhookdb_ceph_spark.operators import vectors

    return f"""
WITH {vectors.primary_cell_cte_duckdb()},
q AS (SELECT embedding AS qv, bucket AS qb FROM b WHERE vec_id = 0),
probes AS (
  SELECT qb AS pb FROM q
  UNION
  SELECT substr(q.qb, 1, t.i - 1)
         || (CASE WHEN substr(q.qb, t.i, 1) = '1' THEN '0' ELSE '1' END)
         || substr(q.qb, t.i + 1, nb.nb) AS pb
  FROM q, nb, unnest(generate_series(1, nb.nb)) t(i))
SELECT b.vec_id,
  floor(({vectors.cosine_duckdb('b.embedding', 'q.qv')}) * 1000000 + 0.5)
    / 1000000 AS sim
FROM b JOIN probes ON b.bucket = probes.pb, q
ORDER BY sim DESC, b.vec_id LIMIT 10
"""


@query(
    "q_sim_knn_multiprobe",
    oracle=_multiprobe_oracle(),
    tags=("llm", "similarity"),
)
def q_sim_knn_multiprobe(spark, sf_dir):
    """Multi-probe IVF ANN: the query probes its own LSH cell PLUS the
    nb Hamming-1 neighbor cells (each sign bit flipped once) — the
    standard recall recovery for sign-bucket quantizers: near
    neighbors that fell across a hyperplane boundary land in an
    adjacent cell, so probing nb+1 of the 2^nb cells recovers most of
    them while still scoring only ~(nb+1)/2^nb of the corpus.  The
    probe set is nb+1 rows built from the 1-row query broadcast; the
    candidate restriction stays a bucket equi-join (partition pruning
    at scale, like q_sim_knn_ivf)."""
    from skyhookdb_ceph_spark.operators import vectors

    e = Catalog(spark, sf_dir).embeddings
    return vectors.probe(vectors.bucketed_cells(e), 10, multiprobe=True)


# ---------------------------------------------------------------------------
# §2.15.34 Feature hashing (the hashing trick)
# ---------------------------------------------------------------------------

def _feat_oracle() -> str:
    from skyhookdb_ceph_spark.queries.pipeline4 import _hexval8

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
    from skyhookdb_ceph_spark.queries.pipeline4 import _hexval8_spark

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


# ---------------------------------------------------------------------------
# §2.15.35 Error-safe parsing (TRY_CAST / NULL-safe division)
# ---------------------------------------------------------------------------

_TRY_ORACLE = """
WITH raw AS (
  SELECT doc_id, n_chars,
    CASE WHEN doc_id % 3 = 0 THEN 'x' || CAST(doc_id AS VARCHAR)
         ELSE CAST(doc_id AS VARCHAR) END AS s
  FROM documents)
SELECT doc_id, TRY_CAST(s AS BIGINT) AS parsed,
  CASE WHEN TRY_CAST(s AS BIGINT) IS NULL THEN 1 ELSE 0 END AS parse_err,
  floor((CAST(n_chars AS DOUBLE) / nullif(doc_id % 5, 0)) * 1000000 + 0.5)
    / 1000000 AS safe_ratio
FROM raw ORDER BY doc_id
"""


@query("q_fn_try_cast", oracle=_TRY_ORACLE, tags=("functions",))
def q_fn_try_cast(spark, sf_dir):
    """Error-safe parsing: TRY_CAST returns NULL on malformed input
    (every 3rd id gets a non-numeric prefix) instead of failing the
    job — the dirty-data ingestion contract — plus NULL-safe division
    via nullif.  At 100 TB a single bad row must never kill a stage;
    per-row error columns make the failure rate itself queryable."""
    d = Catalog(spark, sf_dir).documents
    raw = d.selectExpr(
        "doc_id",
        "n_chars",
        "CASE WHEN doc_id % 3 = 0 THEN concat('x', CAST(doc_id AS STRING)) "
        "ELSE CAST(doc_id AS STRING) END AS s",
    )
    return raw.selectExpr(
        "doc_id",
        "TRY_CAST(s AS BIGINT) AS parsed",
        "CASE WHEN TRY_CAST(s AS BIGINT) IS NULL THEN 1 ELSE 0 END AS parse_err",
        "floor((CAST(n_chars AS DOUBLE) / nullif(doc_id % 5, 0)) * 1000000 + 0.5)"
        " / 1000000 AS safe_ratio",
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# §2.15.36 Time-series anomaly flagging (z-score)
# ---------------------------------------------------------------------------

_ANOMALY_ORACLE = """
WITH hourly AS (
  SELECT event_type,
    CAST(floor(epoch(ts) / 3600) AS BIGINT) AS bucket,
    sum(value) AS v
  FROM events GROUP BY 1, 2),
stats AS (
  SELECT event_type, avg(v) AS mu, stddev_samp(v) AS sigma
  FROM hourly GROUP BY event_type)
SELECT h.event_type, h.bucket,
  floor(h.v * 1000000 + 0.5) / 1000000 AS v,
  floor(((h.v - s.mu) / s.sigma) * 1000 + 0.5) / 1000 AS z,
  CASE WHEN abs((h.v - s.mu) / s.sigma) > 2.5 THEN 1 ELSE 0 END AS is_anomaly
FROM hourly h JOIN stats s ON h.event_type = s.event_type
ORDER BY h.event_type, h.bucket
"""


@query("q_ts_anomaly", oracle=_ANOMALY_ORACLE, tags=("timeseries",))
def q_ts_anomaly(spark, sf_dir):
    """Z-score anomaly flagging on hourly sums per event type: one
    partial-aggregating rollup of raw events, per-type mean/stddev as
    a type-count-bounded aggregate broadcast back, per-bucket z and a
    2.5-sigma flag.  The z column is quantized at 3 decimals (not 6):
    it is a RATIO of two accumulated doubles, where cross-engine
    summation-order drift is amplified near sigma ~ 0; 3 decimals is
    still far finer than any anomaly threshold cares about."""
    ev = Catalog(spark, sf_dir).events
    hourly = ev.groupBy(
        "event_type",
        F.floor(F.unix_timestamp("ts") / 3600).cast("bigint").alias("bucket"),
    ).agg(F.sum("value").alias("v"))
    stats = hourly.groupBy(F.col("event_type").alias("et")).agg(
        F.avg("v").alias("mu"), F.stddev_samp("v").alias("sigma")
    )
    z = (F.col("v") - F.col("mu")) / F.col("sigma")
    return (
        hourly.join(F.broadcast(stats), F.col("event_type") == F.col("et"))
        .select(
            "event_type",
            "bucket",
            quantize(F.col("v"), 6).alias("v"),
            quantize(z, 3).alias("z"),
            F.when(F.abs(z) > 2.5, 1).otherwise(0).alias("is_anomaly"),
        )
        .orderBy("event_type", "bucket")
    )


# ---------------------------------------------------------------------------
# §2.15.37 Equi-depth histogram (quantile-boundary binning)
# ---------------------------------------------------------------------------

_EQDEPTH_ORACLE = """
WITH b AS (
  SELECT quantile_cont(o_totalprice, 0.25) AS q1,
         quantile_cont(o_totalprice, 0.50) AS q2,
         quantile_cont(o_totalprice, 0.75) AS q3
  FROM orders)
SELECT CASE WHEN o_totalprice <= q1 THEN 0
            WHEN o_totalprice <= q2 THEN 1
            WHEN o_totalprice <= q3 THEN 2
            ELSE 3 END AS bin,
  CAST(count(*) AS BIGINT) AS n,
  floor(min(o_totalprice) * 100 + 0.5) / 100 AS lo,
  floor(max(o_totalprice) * 100 + 0.5) / 100 AS hi
FROM orders, b GROUP BY 1 ORDER BY 1
"""


@query("q_agg_histogram_eqdepth", oracle=_EQDEPTH_ORACLE, tags=("stats",))
def q_agg_histogram_eqdepth(spark, sf_dir):
    """Equi-depth histogram: quartile boundaries computed once
    (percentile aggregate -> 1-row broadcast), every row binned by a
    branch-only CASE, per-bin count and range — the optimizer-
    statistics histogram (complements fixed-width q_fn_histogram).
    Spark's percentile() interpolates identically to DuckDB's
    quantile_cont on this data; the boundary compare uses the raw
    (unquantized) values on both sides so bin membership is
    identical."""
    o = Catalog(spark, sf_dir).orders
    b = o.agg(
        F.expr("percentile(o_totalprice, 0.25)").alias("q1"),
        F.expr("percentile(o_totalprice, 0.50)").alias("q2"),
        F.expr("percentile(o_totalprice, 0.75)").alias("q3"),
    )
    binned = o.crossJoin(F.broadcast(b)).withColumn(
        "bin",
        F.when(F.col("o_totalprice") <= F.col("q1"), 0)
        .when(F.col("o_totalprice") <= F.col("q2"), 1)
        .when(F.col("o_totalprice") <= F.col("q3"), 2)
        .otherwise(3),
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            quantize2(F.min("o_totalprice")).alias("lo"),
            quantize2(F.max("o_totalprice")).alias("hi"),
        )
        .orderBy("bin")
    )


# ---------------------------------------------------------------------------
# §2.15.38 Gaps and islands (contiguous-range detection)
# ---------------------------------------------------------------------------

_ISLANDS_ORACLE = """
WITH keys AS (
  SELECT DISTINCT o_orderkey AS k FROM orders WHERE o_orderkey % 7 <> 0),
grp AS (
  SELECT k, k - row_number() OVER (ORDER BY k) AS g FROM keys)
SELECT min(k) AS island_start, max(k) AS island_end,
  CAST(count(*) AS BIGINT) AS island_len
FROM grp GROUP BY g
HAVING count(*) >= 3
ORDER BY island_start
"""


@query("q_win_islands", oracle=_ISLANDS_ORACLE, tags=("window", "analytics"))
def q_win_islands(spark, sf_dir):
    """Gaps-and-islands: contiguous runs in a key sequence (orderkeys
    with every 7th removed), via the k - row_number() grouping
    constant — the sequence-integrity / missing-range audit.

    Two-level boundary-merge plan (VERDICT r4 item 4; same
    decomposition as q_win_gaps): keys are block-partitioned
    (k div 8192), maximal runs are found with the islands trick inside
    a window PARTITIONED by block, and only runs TOUCHING a block edge
    (s at the block's first key slot or e at its last — at most 2 per
    block) enter the cross-block merge, a chained-interval pass over
    that 2n/8192-row summary (run chains: adjacent runs with
    end+1 == next start collapse via a cumulative new-chain flag).
    Interior runs are final as computed.  No corpus-sized total-order
    window anywhere; recursing the same split bounds the summary too."""
    B = 8192
    o = Catalog(spark, sf_dir).orders
    keys = (
        o.filter(F.expr("o_orderkey % 7 <> 0"))
        .select(F.col("o_orderkey").alias("k"))
        .distinct()
        .withColumn("blk", F.expr(f"k div {B}"))
    )
    in_w = Window.partitionBy("blk").orderBy("k")
    runs = (
        keys.withColumn("g", F.col("k") - F.row_number().over(in_w))
        .groupBy("blk", "g")
        .agg(F.min("k").alias("s"), F.max("k").alias("e"))
    )
    is_boundary = F.expr(f"s % {B} = 0 OR e % {B} = {B - 1}")
    interior = runs.filter(~is_boundary).select("s", "e")
    bruns = runs.filter(is_boundary).select("s", "e")
    # Chain-merge the (<= 2 per block) boundary runs: a run starts a
    # new chain unless it begins exactly one past the previous run's
    # end; cumulative sum of the flag numbers the chains.
    ch_w = Window.orderBy("s")
    chained = bruns.withColumn(
        "new_chain",
        F.when(
            F.col("s") - F.lag("e").over(ch_w) == 1, F.lit(0)
        ).otherwise(F.lit(1)),
    ).withColumn(
        "chain",
        F.sum("new_chain").over(
            Window.orderBy("s").rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    merged = chained.groupBy("chain").agg(
        F.min("s").alias("s"), F.max("e").alias("e")
    ).select("s", "e")
    return (
        interior.unionByName(merged)
        .selectExpr(
            "s AS island_start",
            "e AS island_end",
            "CAST(e - s + 1 AS BIGINT) AS island_len",
        )
        .filter(F.col("island_len") >= 3)
        .orderBy("island_start")
    )


# ---------------------------------------------------------------------------
# §2.15.39 GDPR deletion propagation (right-to-be-forgotten audit)
# ---------------------------------------------------------------------------

_GDPR_ORACLE = """
WITH del AS (
  SELECT DISTINCT user_id FROM events WHERE user_id % 13 = 0)
SELECT event_type, CAST(count(*) AS BIGINT) AS n_total,
  CAST(sum(CASE WHEN d.user_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
    AS n_deleted,
  CAST(sum(CASE WHEN d.user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    AS n_kept
FROM events e LEFT JOIN del d ON e.user_id = d.user_id
GROUP BY event_type ORDER BY event_type
"""


@query("q_gdpr_delete", oracle=_GDPR_ORACLE, tags=("pipeline", "compliance"))
def q_gdpr_delete(spark, sf_dir):
    """Deletion propagation (right-to-be-forgotten): a deletion list
    of user ids applied across the event log, with the audit counts
    (total / purged / retained per event type) compliance requires.
    The deletion list arrives as a broadcast (id-only — at 100 TB the
    list is millions of ids, the log is the 100 TB side, and the log
    never shuffles for the match); the scrub itself is the same join
    with a NULL filter."""
    ev = Catalog(spark, sf_dir).events
    dels = (
        ev.filter(F.expr("user_id % 13 = 0"))
        .select(F.col("user_id").alias("du"))
        .distinct()
    )
    return (
        ev.join(F.broadcast(dels), ev.user_id == dels.du, "left")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(F.when(F.col("du").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_deleted"),
            F.sum(F.when(F.col("du").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_kept"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# §2.15.40 Grid-bucketed spatial self-join (close-pair counting)
# ---------------------------------------------------------------------------

_SPATIAL_ORACLE = """
WITH pts AS (
  SELECT p_partkey AS id, CAST(p_size AS BIGINT) AS x,
    CAST(CAST(floor(p_retailprice) AS BIGINT) % 50 AS BIGINT) AS y
  FROM part),
probes AS (
  SELECT id, x, y, x + dx.v AS px, y + dy.v AS py
  FROM pts,
    (SELECT unnest(generate_series(-1, 1)) AS v) dx,
    (SELECT unnest(generate_series(-1, 1)) AS v) dy),
pairs AS (
  SELECT DISTINCT a.id AS ia, b.id AS ib
  FROM probes a JOIN pts b ON a.px = b.x AND a.py = b.y AND a.id < b.id)
SELECT CAST(count(*) AS BIGINT) AS n_close_pairs,
  CAST(count(DISTINCT ia) AS BIGINT) AS n_left_points
FROM pairs
"""


@query("q_join_spatial_grid", oracle=_SPATIAL_ORACLE, tags=("join", "spatial"))
def q_join_spatial_grid(spark, sf_dir):
    """2-D close-pair join via grid bucketing: points on an integer
    grid, pairs within Chebyshev distance 1 found by probing the 3x3
    neighbor cells — the standard spatial-join pattern (9x bounded
    fan-out + equi-join on the cell, NEVER an all-pairs distance
    filter).  The 1-D analog is operators/range_join.py; this is its
    2-D extension, and at scale the cell key doubles as the partition
    column.  Output is the close-pair audit (pair count, points with
    a neighbor)."""
    p = Catalog(spark, sf_dir).part
    pts = p.selectExpr(
        "p_partkey AS id",
        "CAST(p_size AS BIGINT) AS x",
        "CAST(CAST(floor(p_retailprice) AS BIGINT) % 50 AS BIGINT) AS y",
    )
    probes = pts.selectExpr(
        "id",
        "explode(sequence(-1, 1)) AS dxv",
        "x",
        "y",
    ).selectExpr("id", "x + dxv AS basex", "y", "explode(sequence(-1, 1)) AS dyv").selectExpr(
        "id", "basex AS px", "y + dyv AS py"
    )
    b = pts.selectExpr("id AS ib", "x AS bx", "y AS by")
    pairs = (
        probes.join(
            b,
            (F.col("px") == F.col("bx"))
            & (F.col("py") == F.col("by"))
            & (F.col("id") < F.col("ib")),
        )
        .select(F.col("id").alias("ia"), "ib")
        .distinct()
    )
    return pairs.agg(
        F.count(F.lit(1)).alias("n_close_pairs"),
        F.count_distinct("ia").cast("bigint").alias("n_left_points"),
    )


# ---------------------------------------------------------------------------
# §2.15.41 Bucketed co-located join (surfacing operators/bucketing.py)
# ---------------------------------------------------------------------------

_BUCKETED_ORACLE = """
SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_orders,
  floor(sum(o_totalprice) * 100 + 0.5) / 100 AS revenue
FROM customer JOIN orders ON c_custkey = o_custkey
GROUP BY c_mktsegment ORDER BY c_mktsegment
"""


@query("q_join_bucketed", oracle=_BUCKETED_ORACLE, tags=("join", "layout"))
def q_join_bucketed(spark, sf_dir):
    """Exchange-free co-located join: customer and orders are written
    bucketBy(8, custkey) into the catalog, then joined WITHOUT any
    shuffle on either side (tests/test_bucketing.py asserts the plan
    has no Exchange before the SortMergeJoin) — the pay-the-shuffle-
    once-at-ingest layout that makes repeated fact-fact joins cheap at
    100 TB.  The write is part of the query here to stay
    self-contained; a real deployment writes once and joins many
    times.  The oracle is the plain join — bucketing must never
    change results, only the plan."""
    from skyhookdb_ceph_spark.operators.bucketing import (
        colocated_join,
        write_bucketed,
    )

    c = Catalog(spark, sf_dir)
    write_bucketed(
        c.customer.select("c_custkey", "c_mktsegment"),
        "bq_customer",
        ["c_custkey"],
        8,
        sort_cols=["c_custkey"],
    )
    write_bucketed(
        c.orders.select("o_custkey", "o_totalprice"),
        "bq_orders",
        ["o_custkey"],
        8,
        sort_cols=["o_custkey"],
    )
    cust = spark.table("bq_customer")
    orders = spark.table("bq_orders")
    joined = cust.join(
        orders, F.col("c_custkey") == F.col("o_custkey")
    )
    return (
        joined.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            quantize2(F.sum("o_totalprice")).alias("revenue"),
        )
        .orderBy("c_mktsegment")
    )


# ---------------------------------------------------------------------------
# §2.15.42 Partition-pruned scan (hive-style date partitioning)
# ---------------------------------------------------------------------------

_PARTPRUNE_ORACLE = """
SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS event_date,
  event_type, CAST(count(*) AS BIGINT) AS cnt
FROM events
WHERE CAST(ts AS DATE) >= DATE '2024-01-10'
  AND CAST(ts AS DATE) < DATE '2024-01-13'
GROUP BY 1, 2 ORDER BY 1, 2
"""


@query("q_scan_partition_prune", oracle=_PARTPRUNE_ORACLE, tags=("scan", "layout"))
def q_scan_partition_prune(spark, sf_dir):
    """Hive-style partition pruning: events re-laid-out
    partitionBy(event_date), then a 3-day filter reads ONLY those
    directories — the listing itself skips the other ~27 days before
    any file opens (PartitionFilters in the scan node, vs
    PushedFilters which still touches every file's footer).  This is
    the date-partitioned table layout every 100 TB event store uses;
    the write is in-query to stay self-contained."""
    ev = Catalog(spark, sf_dir).events
    with scratch("skyhook_partprune_") as tmp:
        path = f"{tmp}/events_by_date"
        (
            ev.withColumn("event_date", F.col("ts").cast("date"))
            .write.mode("overwrite")
            .partitionBy("event_date")
            .parquet(path)
        )
        part = spark.read.parquet(path)
        out = (
            part.filter(
                (F.col("event_date") >= F.lit("2024-01-10").cast("date"))
                & (F.col("event_date") < F.lit("2024-01-13").cast("date"))
            )
            .groupBy(
                F.col("event_date").cast("string").alias("event_date"),
                "event_type",
            )
            .agg(F.count(F.lit(1)).alias("cnt"))
            .orderBy("event_date", "event_type")
        )
        # Materialize the (days x types)-bounded result before the
        # scratch dir is removed (house pattern, _util.scratch).
        return collect_local(out)


# ---------------------------------------------------------------------------
# §2.15.43 Skyline (Pareto frontier) query
# ---------------------------------------------------------------------------

_SKYLINE_ORACLE = """
WITH pts AS (
  SELECT DISTINCT CAST(p_size AS BIGINT) AS x,
    CAST(floor(p_retailprice) AS BIGINT) AS y
  FROM part),
ranked AS (
  SELECT x, y, min(y) OVER (ORDER BY x, y
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS min_y_before
  FROM pts)
SELECT x, y FROM ranked
WHERE min_y_before IS NULL OR y < min_y_before
ORDER BY x, y
"""


@query("q_agg_skyline", oracle=_SKYLINE_ORACLE, tags=("analytics",))
def q_agg_skyline(spark, sf_dir):
    """Skyline / Pareto frontier (minimize size AND price), 2-phase
    scalable form: only a point with the MINIMUM y at its x can
    possibly survive the (x asc, y asc) running-min dominance test
    (any same-x point with larger y is dominated by it), so phase 1 is
    a map-combining groupBy(x).min(y) that collapses the corpus to one
    row per distinct x, and phase 2 runs the strict prefix-min window
    over THAT |distinct x|-row aggregate — never over base rows.  At
    100 TB the window input is the x-domain (bucket x first if
    continuous); the corpus itself sees one keyed partial aggregate.
    Replaces the r4 single-partition window over all distinct points
    (VERDICT r4 item 4)."""
    p = Catalog(spark, sf_dir).part
    pts = p.selectExpr(
        "CAST(p_size AS BIGINT) AS x",
        "CAST(floor(p_retailprice) AS BIGINT) AS y",
    ).distinct()
    mins = pts.groupBy("x").agg(F.min("y").alias("y"))
    w = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, -1)
    ranked = mins.withColumn("min_y_before", F.min("y").over(w))
    return (
        ranked.filter(
            F.col("min_y_before").isNull()
            | (F.col("y") < F.col("min_y_before"))
        )
        .select("x", "y")
        .orderBy("x", "y")
    )


# ---------------------------------------------------------------------------
# §2.15.44 IVF index build + pruned probe (ANN as physical layout)
# ---------------------------------------------------------------------------

def _ivf_build_oracle() -> str:
    from skyhookdb_ceph_spark.operators import vectors

    return f"""
WITH {vectors.primary_cell_cte_duckdb()},
q AS (SELECT embedding AS qv, bucket AS qb FROM b WHERE vec_id = 0)
SELECT b.vec_id,
  floor(({vectors.cosine_duckdb('b.embedding', 'q.qv')}) * 1000000 + 0.5)
    / 1000000 AS sim
FROM b JOIN q ON b.bucket = q.qb
ORDER BY sim DESC, b.vec_id LIMIT 5
"""


@query("q_vec_ivf_build", oracle=_ivf_build_oracle(), tags=("llm", "similarity", "layout"))
def q_vec_ivf_build(spark, sf_dir):
    """IVF index BUILD as physical layout: embeddings written
    partitionBy(cell) to scratch (operators/vectors.build_ivf_index),
    then the probe reads back with a cell filter — so the candidate
    restriction is DIRECTORY pruning, not even a row filter: the
    probe's IO is |cell|, not |corpus|.  This is what q_sim_knn_ivf's docstring
    promises at scale ('the cell assignment is a partition column'),
    demonstrated end-to-end.  Results are identical to the logical
    cell filter, which is what the oracle states."""
    from skyhookdb_ceph_spark.operators import vectors

    e = Catalog(spark, sf_dir).embeddings
    with scratch("skyhook_ivf_") as tmp:
        vectors.build_ivf_index(spark, e, tmp)
        # the query row is read back too: the probe never recomputes a
        # cell, and the bucket filter prunes directories
        out = vectors.probe(vectors.read_ivf_index(spark, tmp), 5)
        return collect_local(out)


# ---------------------------------------------------------------------------
# §2.15.45 BPE merge step (tokenizer-training inner loop)
# ---------------------------------------------------------------------------

_BPE_ORACLE = """
WITH w AS (SELECT doc_id, text, string_split(text, ' ') AS ws FROM documents),
prs AS (
  SELECT ws[t.i] || ' ' || ws[t.i + 1] AS pair
  FROM w, unnest(generate_series(1, len(ws) - 1)) t(i)
  WHERE len(ws) >= 2),
top AS (SELECT pair FROM prs GROUP BY pair
        ORDER BY count(*) DESC, pair LIMIT 1)
SELECT t.pair AS merged_pair,
  CAST(sum((length(w.text) - length(replace(w.text, t.pair, '')))
           / length(t.pair)) AS BIGINT) AS n_occurrences,
  CAST(sum(CASE WHEN contains(w.text, t.pair) THEN 1 ELSE 0 END) AS BIGINT)
    AS n_docs_affected
FROM w, top t GROUP BY t.pair
"""


@query("q_text_bpe_merge", oracle=_BPE_ORACLE, tags=("llm", "text"))
def q_text_bpe_merge(spark, sf_dir):
    """One BPE training step: find the globally most frequent adjacent
    token pair (q_vocab_pairs' statistic, argmax'd), then measure its
    application across the corpus (occurrence count via the
    length-delta trick, affected-doc count) — the inner loop a
    tokenizer trainer repeats per merge.  The top pair is a 1-row
    broadcast; application is a pure map over the corpus.  Counting is
    string-level (both engines apply the identical non-overlapping
    left-to-right replace), documented as the standard
    whitespace-corpus approximation."""
    d = ensure_parallelism(Catalog(spark, sf_dir).documents)
    words = d.selectExpr(
        "doc_id", "posexplode(split(text, ' ')) AS (pos, w)"
    )
    wnd = Window.partitionBy("doc_id").orderBy("pos")
    top = (
        words.withColumn("nxt", F.lead("w").over(wnd))
        .filter(F.col("nxt").isNotNull())
        .selectExpr("w || ' ' || nxt AS pair")
        .groupBy("pair")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), "pair")
        .limit(1)
        .select("pair")
    )
    return (
        d.crossJoin(F.broadcast(top))
        .agg(
            F.first("pair").alias("merged_pair"),
            F.sum(
                (F.length("text") - F.length(F.expr("replace(text, pair, '')")))
                / F.length("pair")
            )
            .cast("bigint")
            .alias("n_occurrences"),
            F.sum(
                F.when(F.expr("contains(text, pair)"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_docs_affected"),
        )
    )


# ---------------------------------------------------------------------------
# §2.15.46 CDC with tombstones (latest state excluding deletes)
# ---------------------------------------------------------------------------

_TOMBSTONE_ORACLE = """
WITH log AS (
  SELECT event_id AS key, value, 0 AS seq, 'U' AS op FROM events
  UNION ALL
  SELECT event_id, value + 1000, 1, 'U' FROM events WHERE event_id % 2 = 0
  UNION ALL
  SELECT event_id, CAST(NULL AS DOUBLE), 2, 'D' FROM events
  WHERE event_id % 5 = 0)
SELECT key, floor((max_by(value, seq)) * 100 + 0.5) / 100 AS value_q,
  CAST(count(*) AS BIGINT) AS n_versions
FROM log GROUP BY key
HAVING max_by(op, seq) = 'U'
ORDER BY key
"""


@query("q_dedup_tombstone", oracle=_TOMBSTONE_ORACLE, tags=("pipeline", "merge"))
def q_dedup_tombstone(spark, sf_dir):
    """CDC compaction with DELETE tombstones: the changelog carries
    upserts AND deletes (op column); the compacted state is
    latest-wins per key, with keys whose latest op is a delete dropped
    entirely — q_upsert_latest extended to the full
    insert/update/delete contract every CDC feed has.  Still one
    map-combinable aggregate (max_by for both the value and the op);
    the HAVING is a post-aggregate filter on the one-row-per-key
    result, never a second pass over versions."""
    e = Catalog(spark, sf_dir).events.select("event_id", "value")
    base = e.selectExpr(
        "event_id AS key", "value", "0 AS seq", "'U' AS op"
    )
    upd = (
        e.filter(F.col("event_id") % 2 == 0)
        .selectExpr("event_id AS key", "value + 1000 AS value", "1 AS seq", "'U' AS op")
    )
    dels = (
        e.filter(F.col("event_id") % 5 == 0)
        .selectExpr(
            "event_id AS key", "CAST(NULL AS DOUBLE) AS value",
            "2 AS seq", "'D' AS op",
        )
    )
    return (
        base.unionByName(upd)
        .unionByName(dels)
        .groupBy("key")
        .agg(
            quantize2(F.max_by("value", "seq")).alias("value_q"),
            F.count(F.lit(1)).alias("n_versions"),
            F.max_by("op", "seq").alias("_last_op"),
        )
        .filter(F.col("_last_op") == "U")
        .drop("_last_op")
        .orderBy("key")
    )


# ---------------------------------------------------------------------------
# §2.15.47 SCD2 point-in-time (temporal) dimension join
# ---------------------------------------------------------------------------

_SCD2_ORACLE = """
WITH dim AS (
  SELECT c_custkey, CAST(c_nationkey AS BIGINT) AS attr,
    TIMESTAMP '1995-01-01' AS valid_from, TIMESTAMP '1998-01-01' AS valid_to
  FROM customer
  UNION ALL
  SELECT c_custkey, CAST((c_nationkey + 1) % 25 AS BIGINT),
    TIMESTAMP '1998-01-01', TIMESTAMP '2005-01-01'
  FROM customer)
SELECT attr AS nation_at_order, CAST(count(*) AS BIGINT) AS n_orders,
  floor(sum(o_totalprice) * 100 + 0.5) / 100 AS revenue
FROM orders JOIN dim
  ON o_custkey = c_custkey
  AND o_orderdate >= valid_from AND o_orderdate < valid_to
GROUP BY attr ORDER BY nation_at_order
"""


@query("q_join_scd2", oracle=_SCD2_ORACLE, tags=("join", "temporal"))
def q_join_scd2(spark, sf_dir):
    """SCD type-2 point-in-time join: each order joins the dimension
    VERSION that was valid at its order date (a two-era synthetic
    history over customer) — the temporal-consistency join every
    warehouse fact load needs.  The join key stays the equi custkey
    with the validity range as a residual predicate, so the plan is a
    keyed join (broadcast at fixture scale, sort-merge at 100 TB) and
    never a nested loop; version count per key bounds the residual
    fan-out."""
    c = Catalog(spark, sf_dir)
    era1 = c.customer.selectExpr(
        "c_custkey",
        "CAST(c_nationkey AS BIGINT) AS attr",
        "TIMESTAMP '1995-01-01' AS valid_from",
        "TIMESTAMP '1998-01-01' AS valid_to",
    )
    era2 = c.customer.selectExpr(
        "c_custkey",
        "CAST((c_nationkey + 1) % 25 AS BIGINT) AS attr",
        "TIMESTAMP '1998-01-01' AS valid_from",
        "TIMESTAMP '2005-01-01' AS valid_to",
    )
    dim = era1.unionByName(era2)
    return (
        c.orders.join(
            dim,
            (F.col("o_custkey") == F.col("c_custkey"))
            & (F.col("o_orderdate") >= F.col("valid_from"))
            & (F.col("o_orderdate") < F.col("valid_to")),
        )
        .groupBy(F.col("attr").alias("nation_at_order"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            quantize2(F.sum("o_totalprice")).alias("revenue"),
        )
        .orderBy("nation_at_order")
    )


# ---------------------------------------------------------------------------
# §2.15.48 Data-quality constraint audit (expectations suite)
# ---------------------------------------------------------------------------

_CONSTRAINTS_ORACLE = """
SELECT 'o_totalprice_nonneg' AS rule, CAST(count(*) AS BIGINT) AS n_checked,
  CAST(sum(CASE WHEN o_totalprice < 0 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_violations
FROM orders
UNION ALL
SELECT 'o_orderdate_in_range', CAST(count(*) AS BIGINT),
  CAST(sum(CASE WHEN o_orderdate < TIMESTAMP '1990-01-01'
                  OR o_orderdate > TIMESTAMP '2010-01-01'
             THEN 1 ELSE 0 END) AS BIGINT)
FROM orders
UNION ALL
SELECT 'o_custkey_not_null', CAST(count(*) AS BIGINT),
  CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
FROM orders
UNION ALL
SELECT 'o_custkey_fk_customer', CAST(count(*) AS BIGINT),
  CAST(sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
ORDER BY rule
"""


@query("q_stats_constraints", oracle=_CONSTRAINTS_ORACLE, tags=("stats", "quality"))
def q_stats_constraints(spark, sf_dir):
    """Data-quality constraint audit (the expectations-suite shape):
    non-negativity, range, NOT NULL, and referential integrity checked
    in one pass each, emitting per-rule checked/violation counts — the
    contract gate before a table is published downstream.  The three
    column rules fold into ONE scan (single aggregate, stacked out);
    the FK rule is a broadcast left join counting orphans — at 100 TB
    the dim side broadcasts and the fact never shuffles to be
    checked."""
    c = Catalog(spark, sf_dir)
    o = c.orders
    col_rules = o.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("o_totalprice") < 0, 1).otherwise(0))
        .cast("bigint")
        .alias("v_price"),
        F.sum(
            F.when(
                (F.col("o_orderdate") < F.lit("1990-01-01").cast("timestamp"))
                | (F.col("o_orderdate") > F.lit("2010-01-01").cast("timestamp")),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("v_date"),
        F.sum(F.when(F.col("o_custkey").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("v_null"),
    ).selectExpr(
        "stack(3, "
        "'o_totalprice_nonneg', n, v_price, "
        "'o_orderdate_in_range', n, v_date, "
        "'o_custkey_not_null', n, v_null"
        ") AS (rule, n_checked, n_violations)"
    )
    fk = (
        o.join(
            F.broadcast(c.customer.select("c_custkey")),
            F.col("o_custkey") == F.col("c_custkey"),
            "left",
        )
        .agg(
            F.count(F.lit(1)).alias("n_checked"),
            F.sum(F.when(F.col("c_custkey").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_violations"),
        )
        .selectExpr(
            "'o_custkey_fk_customer' AS rule", "n_checked", "n_violations"
        )
    )
    return col_rules.unionByName(fk).orderBy("rule")


# ---------------------------------------------------------------------------
# §2.15.49 Benford first-digit profile (fraud / synthetic-data signal)
# ---------------------------------------------------------------------------

_BENFORD_ORACLE = """
WITH d AS (
  SELECT CAST(floor(o_totalprice / power(10, floor(log10(o_totalprice))))
              AS BIGINT) AS digit
  FROM orders WHERE o_totalprice >= 1),
tot AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM d)
SELECT digit, CAST(count(*) AS BIGINT) AS cnt,
  floor((count(*) / tot.n) * 1000000 + 0.5) / 1000000 AS share,
  floor(log10(1.0 + 1.0 / digit) * 1000000 + 0.5) / 1000000
    AS benford_expected
FROM d, tot GROUP BY digit, tot.n ORDER BY digit
"""


@query("q_agg_benford", oracle=_BENFORD_ORACLE, tags=("stats", "quality"))
def q_agg_benford(spark, sf_dir):
    """Benford's-law first-digit profile of order totals with the
    theoretical log10(1 + 1/d) expectation alongside — the classic
    fabricated-data / synthetic-corpus screen.  First digit via
    floor(x / 10^floor(log10 x)) (pure IEEE, both engines identical);
    one 9-group aggregate plus a 1-row total broadcast."""
    o = Catalog(spark, sf_dir).orders.filter(F.col("o_totalprice") >= 1)
    d = o.selectExpr(
        "CAST(floor(o_totalprice / power(10, floor(log10(o_totalprice)))) "
        "AS BIGINT) AS digit"
    )
    tot = d.agg(F.count(F.lit(1)).cast("double").alias("n"))
    return (
        d.groupBy("digit")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .crossJoin(F.broadcast(tot))
        .select(
            "digit",
            "cnt",
            quantize(F.col("cnt") / F.col("n"), 6).alias("share"),
            quantize(
                F.log10(1.0 + 1.0 / F.col("digit")), 6
            ).alias("benford_expected"),
        )
        .orderBy("digit")
    )


# ---------------------------------------------------------------------------
# §2.15.50 HTML/boilerplate stripping (corpus cleaning)
# ---------------------------------------------------------------------------

_HTMLSTRIP_ORACLE = """
WITH corpus AS (
  SELECT doc_id,
    CASE WHEN doc_id % 5 = 0
      THEN '<html><body><p>' || text || '</p><br/></body></html>'
      ELSE text END AS raw
  FROM documents),
stripped AS (
  SELECT doc_id, raw,
    trim(regexp_replace(regexp_replace(raw, '<[^>]*>', ' ', 'g'),
                        ' +', ' ', 'g')) AS clean
  FROM corpus)
SELECT CAST(sum(CASE WHEN length(raw) > length(clean) THEN 1 ELSE 0 END)
            AS BIGINT) AS n_docs_stripped,
  CAST(sum(length(raw) - length(clean)) AS BIGINT) AS bytes_removed,
  md5(string_agg(clean, '|' ORDER BY doc_id)) AS corpus_digest
FROM stripped
"""


@query("q_text_html_strip", oracle=_HTMLSTRIP_ORACLE, tags=("llm", "text"))
def q_text_html_strip(spark, sf_dir):
    """HTML/boilerplate stripping: tag removal + whitespace collapse
    over a deterministically HTML-wrapped subset (every 5th doc) —
    the first cleaning stage of any web-scrape corpus.  Pure per-row
    JVM regex (global-replace semantics aligned via the oracle's 'g'
    flag); the audit row carries an order-fixed corpus digest so the
    oracle verifies the exact cleaned text of every document, not
    just counts."""
    d = ensure_parallelism(Catalog(spark, sf_dir).documents)
    corpus = d.selectExpr(
        "doc_id",
        "CASE WHEN doc_id % 5 = 0 "
        "THEN '<html><body><p>' || text || '</p><br/></body></html>' "
        "ELSE text END AS raw",
    )
    stripped = corpus.select(
        "doc_id",
        "raw",
        F.trim(
            F.regexp_replace(
                F.regexp_replace(F.col("raw"), "<[^>]*>", " "), " +", " "
            )
        ).alias("clean"),
    )
    return stripped.agg(
        F.sum(
            F.when(F.length("raw") > F.length("clean"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_docs_stripped"),
        F.sum(F.length("raw") - F.length("clean"))
        .cast("bigint")
        .alias("bytes_removed"),
        F.md5(
            F.expr("string_agg(clean, '|') WITHIN GROUP (ORDER BY doc_id)")
        ).alias("corpus_digest"),
    )


# ---------------------------------------------------------------------------
# §2.15.51 nth_value window (completing the window-function family)
# ---------------------------------------------------------------------------

_NTH_ORACLE = """
SELECT DISTINCT o_custkey,
  nth_value(o_orderkey, 2) OVER w AS second_order,
  nth_value(o_orderkey, 3) OVER w AS third_order
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
ORDER BY o_custkey
"""


@query("q_win_nth_value", oracle=_NTH_ORACLE, tags=("window",))
def q_win_nth_value(spark, sf_dir):
    """nth_value over the full partition frame: each customer's 2nd
    and 3rd order by date — completing the window-function surface
    (first/last/lag/lead/rank/ntile/cume_dist already covered).
    Partitioned window + unique tie-break; DISTINCT collapses to one
    row per customer."""
    o = Catalog(spark, sf_dir).orders
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return (
        o.select(
            "o_custkey",
            F.nth_value("o_orderkey", 2).over(w).alias("second_order"),
            F.nth_value("o_orderkey", 3).over(w).alias("third_order"),
        )
        .distinct()
        .orderBy("o_custkey")
    )


# ---------------------------------------------------------------------------
# §2.15.52 Regression aggregates (trend screening)
# ---------------------------------------------------------------------------

_REGR_ORACLE = """
SELECT o_orderstatus,
  floor(regr_slope(o_totalprice, year(o_orderdate)) * 10000 + 0.5) / 10000
    AS slope,
  floor(regr_intercept(o_totalprice, year(o_orderdate)) * 10 + 0.5) / 10
    AS intercept,
  CAST(regr_count(o_totalprice, year(o_orderdate)) AS BIGINT) AS n
FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


@query("q_agg_regression", oracle=_REGR_ORACLE, tags=("stats",))
def q_agg_regression(spark, sf_dir):
    """Linear-regression aggregates (slope / intercept / count of
    order value vs order year, per status) — the single-pass trend
    screen over a fact table; the co-moment accumulation is mergeable,
    so it partial-aggregates map-side like any sum.  Slope quantizes
    at 4 decimals and the intercept at 1: both are RATIOS of large
    accumulated double sums (intercept ~1e5 magnitude), where
    cross-engine summation order costs more ulps than plain sums —
    the quantization absorbs it while staying far finer than any
    trend decision needs."""
    o = Catalog(spark, sf_dir).orders
    return (
        o.groupBy("o_orderstatus")
        .agg(
            quantize(
                F.expr("regr_slope(o_totalprice, year(o_orderdate))"), 4
            ).alias("slope"),
            (
                F.floor(
                    F.expr("regr_intercept(o_totalprice, year(o_orderdate))")
                    * 10
                    + F.lit(0.5)
                )
                / 10
            ).alias("intercept"),
            F.expr("regr_count(o_totalprice, year(o_orderdate))")
            .cast("bigint")
            .alias("n"),
        )
        .orderBy("o_orderstatus")
    )


# ---------------------------------------------------------------------------
# §2.15.53 Dynamic partition pruning (star-join runtime pruning)
# ---------------------------------------------------------------------------

# OR'd equalities instead of IN: DuckDB 1.0.0 mismatches
# CAST(ts AS DATE) IN (DATE ...) (returns empty) while = matches.
_DPP_ORACLE = """
WITH dim AS (
  SELECT DISTINCT CAST(ts AS DATE) AS d FROM events
  WHERE CAST(ts AS DATE) = DATE '2024-01-05'
     OR CAST(ts AS DATE) = DATE '2024-01-15'
     OR CAST(ts AS DATE) = DATE '2024-01-25')
SELECT CAST(e.event_date AS VARCHAR) AS event_date, e.event_type,
  CAST(count(*) AS BIGINT) AS cnt
FROM (SELECT CAST(ts AS DATE) AS event_date, event_type FROM events) e
JOIN dim ON e.event_date = dim.d
GROUP BY 1, 2 ORDER BY 1, 2
"""


@query("q_join_dpp", oracle=_DPP_ORACLE, tags=("join", "layout"))
def q_join_dpp(spark, sf_dir):
    """Dynamic partition pruning: the fact table is laid out
    partitionBy(event_date); the selective DIMENSION (3 chosen dates)
    arrives only through a join, so no static filter exists on the
    fact — Spark inserts a runtime dynamicpruning subquery that reads
    the dim first and prunes the fact's partition listing to the 3
    matching directories BEFORE scanning (tests/test_plans.py asserts
    the dynamicpruningexpression).  This is THE star-join feature at
    100 TB: the fact side's IO is decided by the dim filter at
    runtime, exactly like the reference deciding which objects to
    touch from an index lookup."""
    ev = Catalog(spark, sf_dir).events
    with scratch("skyhook_dpp_") as tmp:
        path = f"{tmp}/events_by_date"
        (
            ev.withColumn("event_date", F.col("ts").cast("date"))
            .repartition("event_date")
            .write.mode("overwrite")
            .partitionBy("event_date")
            .parquet(path)
        )
        fact = spark.read.parquet(path)
        dim = (
            ev.select(F.col("ts").cast("date").alias("d"))
            .filter(
                F.col("d").isin(
                    [F.lit(x).cast("date") for x in
                     ("2024-01-05", "2024-01-15", "2024-01-25")]
                )
            )
            .distinct()
        )
        out = (
            fact.join(dim, fact.event_date == dim.d)
            .groupBy(
                F.col("event_date").cast("string").alias("event_date"),
                "event_type",
            )
            .agg(F.count(F.lit(1)).alias("cnt"))
            .orderBy("event_date", "event_type")
        )
        return collect_local(out)


# ---------------------------------------------------------------------------
# §2.15.54 Audio-style overlapping windows over binary payloads
# ---------------------------------------------------------------------------

_AUDIO_WIN_ORACLE = """
WITH w AS (
  SELECT doc_id, text,
    unnest(generate_series(0, greatest(length(text) - 1, 0), 128)) AS off
  FROM documents
  WHERE length(text) > 0
    AND octet_length(encode(text)) = length(text)),
wins AS (
  SELECT doc_id AS media_id, CAST(off / 128 AS INT) AS win_no,
    CAST(off AS INT) AS byte_offset,
    CAST(length(substr(text, off + 1, 256)) AS INT) AS win_len,
    md5(substr(text, off + 1, 256)) AS win_md5
  FROM w WHERE length(substr(text, off + 1, 256)) * 2 >= 256)
SELECT media_id, win_no, byte_offset, win_len, win_md5
FROM wins ORDER BY media_id, win_no
"""


@query(
    "q_multimodal_audio_windows",
    oracle=_AUDIO_WIN_ORACLE,
    tags=("pipeline", "multimodal"),
)
def q_multimodal_audio_windows(spark, sf_dir):
    """Audio-style OVERLAPPING windowing: 256-byte windows at a
    128-byte hop over an opaque binary payload (operators/multimodal
    sliding_windows — the Arrow-batched mapInPandas shape an STFT /
    feature-frame stage drops into; trailing windows shorter than half
    the length are dropped, the common framing default).  Each kept
    window is fingerprinted so the oracle verifies exact boundaries,
    hop phase, and content cross-engine.  Pure map stage: windows
    never shuffle.  Complements q_multimodal_frames (non-overlapping
    video sampling).

    The operator windows BYTES; DuckDB's substr/length are
    character-based and it has no BLOB substring, so both engines
    restrict to payloads whose UTF-8 byte length equals the char
    length (byte==char semantics identical) — non-ASCII docs are
    excluded identically on both sides instead of silently diverging.
    """
    from skyhookdb_ceph_spark.operators.multimodal import sliding_windows

    d = ensure_parallelism(Catalog(spark, sf_dir).documents)
    d = d.filter(F.octet_length("text") == F.length("text"))
    media = d.select(
        F.col("doc_id").alias("media_id"),
        F.col("text").cast("binary").alias("payload"),
    )
    wins = sliding_windows(media, window_bytes=256, hop_bytes=128)
    return wins.select(
        "media_id",
        "win_no",
        "byte_offset",
        "win_len",
        F.md5("window").alias("win_md5"),
    ).orderBy("media_id", "win_no")


# ---------------------------------------------------------------------------
# §2.15.55 Bigram language-model scoring (add-one smoothed)
# ---------------------------------------------------------------------------

_BIGRAM_LM_ORACLE = """
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
prs AS (
  SELECT doc_id, ws[t.i] AS w1, ws[t.i + 1] AS w2
  FROM w, unnest(generate_series(1, len(ws) - 1)) t(i)
  WHERE len(ws) >= 2),
pc AS (SELECT w1, w2, CAST(count(*) AS DOUBLE) AS c2 FROM prs GROUP BY 1, 2),
uc AS (SELECT w1, CAST(count(*) AS DOUBLE) AS c1 FROM prs GROUP BY 1),
v AS (SELECT CAST(count(DISTINCT w2) AS DOUBLE) AS vsz FROM prs)
SELECT p.doc_id,
  floor(avg(log10((pc.c2 + 1) / (uc.c1 + v.vsz))) * 1000000 + 0.5) / 1000000
    AS mean_lp,
  CAST(count(*) AS BIGINT) AS n_bigrams
FROM prs p
JOIN pc ON p.w1 = pc.w1 AND p.w2 = pc.w2
JOIN uc ON p.w1 = uc.w1, v
GROUP BY p.doc_id ORDER BY p.doc_id
"""


@query("q_text_bigram_lm", oracle=_BIGRAM_LM_ORACLE, tags=("llm", "text"))
def q_text_bigram_lm(spark, sf_dir):
    """Bigram language-model quality score: per-doc mean log10 of the
    add-one-smoothed corpus bigram probability P(w2|w1) =
    (c(w1,w2)+1)/(c(w1)+V) — the context-aware upgrade of
    q_text_unigram_lp (gibberish scores low even when individual
    words are common).  Pair extraction reuses the posexplode+lead
    shape; corpus statistics are two keyed partial aggregates joined
    back on the pair/unigram keys; V is a 1-row broadcast."""
    d = ensure_parallelism(Catalog(spark, sf_dir).documents)
    words = d.selectExpr(
        "doc_id", "posexplode(split(text, ' ')) AS (pos, w)"
    )
    wnd = Window.partitionBy("doc_id").orderBy("pos")
    prs = (
        words.withColumn("nxt", F.lead("w").over(wnd))
        .filter(F.col("nxt").isNotNull())
        .selectExpr("doc_id", "w AS w1", "nxt AS w2")
    )
    pc = prs.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("double").alias("c2")
    )
    uc = prs.groupBy(F.col("w1").alias("u1")).agg(
        F.count(F.lit(1)).cast("double").alias("c1")
    )
    v = prs.agg(F.count_distinct("w2").cast("double").alias("vsz"))
    return (
        prs.join(pc, ["w1", "w2"])
        .join(uc, F.col("w1") == F.col("u1"))
        .crossJoin(F.broadcast(v))
        .groupBy("doc_id")
        .agg(
            quantize(
                F.avg(
                    F.log10((F.col("c2") + 1) / (F.col("c1") + F.col("vsz")))
                ),
                6,
            ).alias("mean_lp"),
            F.count(F.lit(1)).alias("n_bigrams"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# §2.15.56 Two-level rollup (continuous-aggregate re-aggregability)
# ---------------------------------------------------------------------------

_ROLLUP2_ORACLE = """
SELECT event_type, CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
  CAST(count(*) AS BIGINT) AS n_events,
  floor(sum(value) * 100 + 0.5) / 100 AS sum_value,
  floor(min(value) * 1000000 + 0.5) / 1000000 AS min_value,
  floor(max(value) * 1000000 + 0.5) / 1000000 AS max_value
FROM events GROUP BY 1, 2 ORDER BY 1, 2
"""


@query("q_ts_rollup_two_level", oracle=_ROLLUP2_ORACLE, tags=("timeseries",))
def q_ts_rollup_two_level(spark, sf_dir):
    """Continuous-aggregate hierarchy: DAILY stats computed FROM the
    HOURLY materialization's partial states (count/sum re-sum,
    min/max re-min/max) — never from raw events — and the oracle
    computes the same dailies directly from raw, so the diff PROVES
    the rollup's mergeability (the property that makes hypertable /
    materialized-rollup maintenance incremental: a late hour
    re-aggregates one hourly row, not a day of raw data).  The raw
    scan happens once (hourly level); the daily level aggregates
    24x fewer rows."""
    ev = Catalog(spark, sf_dir).events
    hourly = ev.groupBy(
        "event_type",
        F.date_trunc("hour", F.col("ts")).alias("h"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("value").alias("s"),
        F.min("value").alias("mn"),
        F.max("value").alias("mx"),
    )
    return (
        hourly.groupBy(
            "event_type",
            F.col("h").cast("date").cast("string").alias("day"),
        )
        .agg(
            F.sum("n").alias("n_events"),
            quantize2(F.sum("s")).alias("sum_value"),
            quantize(F.min("mn"), 6).alias("min_value"),
            quantize(F.max("mx"), 6).alias("max_value"),
        )
        .orderBy("event_type", "day")
    )


# ---------------------------------------------------------------------------
# §2.15.57 Boolean aggregates (count_if / bool_and / bool_or)
# ---------------------------------------------------------------------------

_BOOL_AGG_ORACLE = """
SELECT o_orderstatus,
  CAST(sum(CASE WHEN o_totalprice > 100000 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_big,
  bool_and(o_totalprice > 0) AS all_positive,
  bool_or(o_orderpriority = '1-URGENT') AS any_urgent
FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


@query("q_agg_bool", oracle=_BOOL_AGG_ORACLE, tags=("aggregate",))
def q_agg_bool(spark, sf_dir):
    """Boolean aggregate surface: count_if, bool_and (every), bool_or
    (any) per group — the predicates-as-aggregates family data-quality
    rules compose from.  All three partial-aggregate map-side like any
    sum; the oracle states count_if as its sum(CASE) definition."""
    o = Catalog(spark, sf_dir).orders
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.expr("count_if(o_totalprice > 100000)")
            .cast("bigint")
            .alias("n_big"),
            F.expr("bool_and(o_totalprice > 0)").alias("all_positive"),
            F.expr("bool_or(o_orderpriority = '1-URGENT')").alias(
                "any_urgent"
            ),
        )
        .orderBy("o_orderstatus")
    )


# ---------------------------------------------------------------------------
# §2.15.58 Advanced string functions (translate/reverse/pad/repeat)
# ---------------------------------------------------------------------------

_STRING_ADV_ORACLE = """
SELECT c_custkey,
  reverse(c_mktsegment) AS seg_rev,
  translate(c_mktsegment, 'AEIOU', 'aeiou') AS seg_lowvowel,
  lpad(CAST(c_custkey AS VARCHAR), 8, '0') AS key_padded,
  repeat(substr(c_mktsegment, 1, 1), 3) AS initial_x3,
  left(c_name, 4) AS name_head,
  right(c_name, 2) AS name_tail
FROM customer ORDER BY c_custkey
"""


@query("q_fn_string_adv", oracle=_STRING_ADV_ORACLE, tags=("functions",))
def q_fn_string_adv(spark, sf_dir):
    """Advanced string surface: reverse, translate (char mapping),
    zero-padding lpad, repeat, left/right — completing the §2.4
    function family (basic ops in q_fn_string).  Pure per-row JVM
    expressions; byte-identical in both engines on ASCII fixtures."""
    c = Catalog(spark, sf_dir).customer
    return c.selectExpr(
        "c_custkey",
        "reverse(c_mktsegment) AS seg_rev",
        "translate(c_mktsegment, 'AEIOU', 'aeiou') AS seg_lowvowel",
        "lpad(CAST(c_custkey AS STRING), 8, '0') AS key_padded",
        "repeat(substr(c_mktsegment, 1, 1), 3) AS initial_x3",
        "left(c_name, 4) AS name_head",
        "right(c_name, 2) AS name_tail",
    ).orderBy("c_custkey")


# ---------------------------------------------------------------------------
# §2.15.59 Grouped argmax (max_by with a deterministic composite key)
# ---------------------------------------------------------------------------

_ARGMAX_ORACLE = """
WITH keyed AS (
  SELECT CAST(c_nationkey AS BIGINT) AS nation, c_custkey, c_name,
    CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) * 100000000 + c_custkey
      AS ordkey
  FROM customer)
SELECT nation, max_by(c_custkey, ordkey) AS top_custkey,
  max_by(c_name, ordkey) AS top_name,
  CAST(count(*) AS BIGINT) AS n_cust
FROM keyed GROUP BY nation ORDER BY nation
"""


@query("q_agg_argmax", oracle=_ARGMAX_ORACLE, tags=("aggregate",))
def q_agg_argmax(spark, sf_dir):
    """Grouped argmax: the richest customer per nation via max_by over
    a composite (exact-cents, custkey) BIGINT — ties broken
    deterministically INSIDE the ordering key, so the mergeable
    aggregate replaces the usual rank-window idiom (one partial-agg
    shuffle, no per-group sort; same trade q_upsert_latest makes)."""
    cust = Catalog(spark, sf_dir).customer
    keyed = cust.selectExpr(
        "CAST(c_nationkey AS BIGINT) AS nation",
        "c_custkey",
        "c_name",
        "CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) * 100000000 "
        "+ c_custkey AS ordkey",
    )
    return (
        keyed.groupBy("nation")
        .agg(
            F.max_by("c_custkey", "ordkey").alias("top_custkey"),
            F.max_by("c_name", "ordkey").alias("top_name"),
            F.count(F.lit(1)).alias("n_cust"),
        )
        .orderBy("nation")
    )


# ---------------------------------------------------------------------------
# §2.15.60 Pagination (ORDER BY + LIMIT/OFFSET)
# ---------------------------------------------------------------------------

_PAGINATION_ORACLE = """
SELECT o_orderkey, o_custkey,
  floor(o_totalprice * 100 + 0.5) / 100 AS total_price
FROM orders ORDER BY o_totalprice DESC, o_orderkey
LIMIT 20 OFFSET 40
"""


@query("q_sort_pagination", oracle=_PAGINATION_ORACLE, tags=("sort",))
def q_sort_pagination(spark, sf_dir):
    """Keyset-free pagination: page 3 of the price-ranked orders via
    ORDER BY + LIMIT/OFFSET.  Spark plans offset+limit as a combined
    top-(offset+limit) (per-partition heaps of 60 rows, driver
    discards the first 40) — fine for UI-depth pages; deep pagination
    at 100 TB should switch to keyset predicates (WHERE key > last)
    which q_filter_range_conj's pushdown shape covers.  Unique
    orderkey tie-break keeps both engines' page boundary identical."""
    o = Catalog(spark, sf_dir).orders
    return (
        o.select(
            "o_orderkey",
            "o_custkey",
            quantize2(F.col("o_totalprice")).alias("total_price"),
        )
        .orderBy(F.desc(F.col("o_totalprice")), "o_orderkey")
        .offset(40)
        .limit(20)
    )
