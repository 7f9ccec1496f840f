"""Aggregations (SURVEY.md §2.4).

Reference: min/max/sum/count computed *inside the scan* as agg
predicates, one partial row per object, client merges partials
[U: cls_tabular_utils.h — SOT_min/max/sum/cnt;
 run-query.cc — query a + client merge].  Spark's two-phase
HashAggregate (partial on the mapper, final after the shuffle) is the
same pattern, chosen automatically by the planner — at 100 TB only the
per-group partial rows cross the network, never the raw scan.
"""

from __future__ import annotations

from pyspark.sql import Window

from skyhookdb_ceph_spark.queries._util import Catalog, F, money, quantize, ratio
from skyhookdb_ceph_spark.registry import query


@query(
    "q_agg_scalar",
    oracle=(
        "SELECT min(l_extendedprice) AS min_price, max(l_extendedprice) AS max_price, "
        "floor((sum(l_extendedprice)) * 100 + 0.5) / 100 AS sum_price, count(*) AS cnt FROM lineitem"
    ),
)
def q_agg_scalar(spark, sf_dir):
    """Global min/max/sum/count — the reference's 'query a' shape over
    lineitem [U: run-query.cc — query a]."""
    li = Catalog(spark, sf_dir).lineitem
    return li.agg(
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"),
        money(F.sum("l_extendedprice")).alias("sum_price"),
        F.count(F.lit(1)).alias("cnt"),
    )


@query(
    "q_agg_groupby",
    oracle=(
        "SELECT l_returnflag, l_linestatus, "
        "floor((sum(l_quantity)) * 100 + 0.5) / 100 AS sum_qty, "
        "floor((sum(l_extendedprice)) * 100 + 0.5) / 100 AS sum_base_price, "
        "floor((sum(l_extendedprice * (1 - l_discount))) * 100 + 0.5) / 100 AS sum_disc_price, "
        "floor((avg(l_quantity)) * 1000000 + 0.5) / 1000000 AS avg_qty, "
        "floor((avg(l_extendedprice)) * 10000 + 0.5) / 10000 AS avg_price, "
        "floor((avg(l_discount)) * 1000000 + 0.5) / 1000000 AS avg_disc, "
        "count(*) AS count_order "
        "FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-09-02' "
        "GROUP BY l_returnflag, l_linestatus "
        "ORDER BY l_returnflag, l_linestatus"
    ),
)
def q_agg_groupby(spark, sf_dir):
    """FLAGSHIP: TPC-H Q1 shape — scan, pushed filter, grouped
    multi-aggregate, order.  This is the reference's banner capability
    composed end-to-end [P1]; Catalyst plans
    Scan(PushedFilters) -> partial HashAggregate -> Exchange ->
    final HashAggregate -> single-partition Sort.

    The final sort is coalesce(1) + sortWithinPartitions rather than
    orderBy: the aggregate's output cardinality is SCHEMA-bounded
    (|returnflag| x |linestatus| = 6 groups at any scale factor, 100 TB
    included), so a global range-partitioned sort would spend a
    sampling job + an exchange ordering 6 rows.  Measured at sf0.1:
    645 -> 420 ms median-of-5, 2 jobs -> 1 (r7 verdict item 4).  The
    partial/final aggregate and the pushed filter are untouched — only
    the bounded post-aggregate tail changed.  coalesce on the
    post-shuffle side also runs the final aggregate in one task, which
    is the right plan for 6 groups of pre-merged partials."""
    li = Catalog(spark, sf_dir).lineitem
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            money(F.sum("l_quantity")).alias("sum_qty"),
            money(F.sum("l_extendedprice")).alias("sum_base_price"),
            money(F.sum(disc_price)).alias("sum_disc_price"),
            ratio(F.avg("l_quantity")).alias("avg_qty"),
            quantize(F.avg("l_extendedprice"), 4).alias("avg_price"),
            ratio(F.avg("l_discount")).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .coalesce(1)
        .sortWithinPartitions("l_returnflag", "l_linestatus")
    )


@query(
    "q_agg_having",
    oracle=(
        "SELECT o_custkey, count(*) AS order_cnt, floor((sum(o_totalprice)) * 100 + 0.5) / 100 AS spend "
        "FROM orders GROUP BY o_custkey HAVING count(*) > 12"
    ),
)
def q_agg_having(spark, sf_dir):
    """Post-aggregation filter (client-side in the reference)."""
    o = Catalog(spark, sf_dir).orders
    return (
        o.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("order_cnt"),
            money(F.sum("o_totalprice")).alias("spend"),
        )
        .filter(F.col("order_cnt") > 12)
    )


@query(
    "q_agg_distinct",
    oracle=(
        "SELECT count(DISTINCT l_partkey) AS distinct_parts, "
        "count(DISTINCT l_suppkey) AS distinct_supps, "
        "count(DISTINCT l_returnflag) AS distinct_flags FROM lineitem"
    ),
)
def q_agg_distinct(spark, sf_dir):
    li = Catalog(spark, sf_dir).lineitem
    return li.agg(
        F.countDistinct("l_partkey").alias("distinct_parts"),
        F.countDistinct("l_suppkey").alias("distinct_supps"),
        F.countDistinct("l_returnflag").alias("distinct_flags"),
    )


@query(
    "q_agg_approx_distinct",
    oracle="SELECT true AS parts_ok, true AS orders_ok",
)
def q_agg_approx_distinct(spark, sf_dir):
    """Approximate count-distinct (HyperLogLog++).  At 100 TB an exact
    distinct is a full shuffle of the key universe; the sketch is
    mergeable per-partition (constant memory, no row shuffle) — the same
    partial/merge shape the reference hard-codes for exact aggs.

    Sketch-independent oracle: DuckDB's HLL produces different estimates,
    so the checked output is the error-band verdict |approx-exact|/exact
    <= 3*rsd, which must be true for a correct sketch; the oracle emits
    the same booleans.  If the sketch drifts out of band the hash fails.
    """
    li = Catalog(spark, sf_dir).lineitem
    # One distinct-aggregate per column (HLL is duplicate-insensitive,
    # so sketching the distinct set gives the identical estimate) —
    # avoids the Expand operator a multi-column DISTINCT agg plans.
    a = li.select("l_partkey").distinct().agg(
        F.count(F.lit(1)).alias("ep"),
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("ap"),
    )
    b = li.select("l_orderkey").distinct().agg(
        F.count(F.lit(1)).alias("eo"),
        F.approx_count_distinct("l_orderkey", rsd=0.02).alias("ao"),
    )
    band = 3 * 0.02
    return a.crossJoin(b).select(
        (F.abs(F.col("ap") - F.col("ep")) / F.col("ep") <= band).alias("parts_ok"),
        (F.abs(F.col("ao") - F.col("eo")) / F.col("eo") <= band).alias("orders_ok"),
    )


@query(
    "q_agg_rollup",
    oracle=(
        "SELECT l_returnflag, l_linestatus, count(*) AS cnt, "
        "floor((sum(l_quantity)) * 100 + 0.5) / 100 AS sum_qty "
        "FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)"
    ),
)
def q_agg_rollup(spark, sf_dir):
    """Hierarchical subtotals (ROLLUP) — one pass, grouping-set
    expansion happens in the aggregate, not via repeated scans."""
    li = Catalog(spark, sf_dir).lineitem
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("cnt"),
        money(F.sum("l_quantity")).alias("sum_qty"),
    )


@query(
    "q_agg_cube",
    oracle=(
        "SELECT o_orderstatus, o_orderpriority, count(*) AS cnt "
        "FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)"
    ),
)
def q_agg_cube(spark, sf_dir):
    o = Catalog(spark, sf_dir).orders
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("cnt")
    )


@query(
    "q_agg_percentiles",
    oracle=(
        "SELECT l_returnflag, "
        "floor((quantile_cont(l_extendedprice, 0.5)) * 10000 + 0.5) / 10000 AS p50, "
        "floor((quantile_cont(l_extendedprice, 0.9)) * 10000 + 0.5) / 10000 AS p90, "
        "floor((quantile_cont(l_extendedprice, 0.99)) * 10000 + 0.5) / 10000 AS p99 "
        "FROM lineitem GROUP BY l_returnflag"
    ),
)
def q_agg_percentiles(spark, sf_dir):
    """Exact interpolated percentiles per group (Spark percentile ==
    DuckDB quantile_cont, both linear interpolation).  Exact percentile
    is a mergeable sort-based aggregate; at 100 TB swap in
    approx_percentile (t-digest sketch, constant memory) — same plan
    shape, bounded error.  One percentile(col, array(...)) call shares
    a single sorted buffer across all three quantiles (3 separate calls
    sort the group 3x — measured 2.4x slower)."""
    li = Catalog(spark, sf_dir).lineitem
    return (
        li.groupBy("l_returnflag")
        .agg(F.expr("percentile(l_extendedprice, array(0.5, 0.9, 0.99))").alias("ps"))
        .select(
            "l_returnflag",
            quantize(F.col("ps")[0], 4).alias("p50"),
            quantize(F.col("ps")[1], 4).alias("p90"),
            quantize(F.col("ps")[2], 4).alias("p99"),
        )
    )


@query(
    "q_agg_grouping_sets",
    oracle=(
        "SELECT l_returnflag, l_linestatus, count(*) AS cnt, "
        "CAST(grouping(l_returnflag) AS INT) AS g_rf, "
        "CAST(grouping(l_linestatus) AS INT) AS g_ls "
        "FROM lineitem "
        "GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())"
    ),
)
def q_agg_grouping_sets(spark, sf_dir):
    """Explicit GROUPING SETS (beyond rollup/cube) with grouping()
    indicator columns — one aggregation pass, grouping-set expansion in
    the aggregate operator.  Runs through the SQL door so the text is
    shared with the oracle."""
    Catalog(spark, sf_dir).register_views()
    return spark.sql(
        "SELECT l_returnflag, l_linestatus, count(*) AS cnt, "
        "CAST(grouping(l_returnflag) AS INT) AS g_rf, "
        "CAST(grouping(l_linestatus) AS INT) AS g_ls "
        "FROM lineitem "
        "GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())"
    )


@query(
    "q_agg_pivot",
    oracle=(
        "SELECT l_returnflag, "
        "count(*) FILTER (WHERE l_linestatus = 'F') AS F, "
        "count(*) FILTER (WHERE l_linestatus = 'O') AS O "
        "FROM lineitem GROUP BY l_returnflag"
    ),
)
def q_agg_pivot(spark, sf_dir):
    """Pivot (cross-tab): one pass, no per-value scans — the explicit
    value list keeps the plan static (a dynamic pivot needs a first
    pass to collect values; avoid at scale)."""
    li = Catalog(spark, sf_dir).lineitem
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .count()
        .na.fill(0, ["F", "O"])
    )


@query(
    "q_agg_listagg",
    oracle=(
        "SELECT l_returnflag, "
        "array_to_string(list_sort(list_distinct(list(l_linestatus))), ',') AS statuses, "
        "count(*) AS cnt FROM lineitem GROUP BY l_returnflag"
    ),
)
def q_agg_listagg(spark, sf_dir):
    """Collect-and-join aggregate (LISTAGG/string_agg analog): the
    collected set is per-group bounded (distinct statuses), so it's
    shuffle-safe; sorted before joining for determinism."""
    li = Catalog(spark, sf_dir).lineitem
    return li.groupBy("l_returnflag").agg(
        F.array_join(F.array_sort(F.collect_set("l_linestatus")), ",").alias(
            "statuses"
        ),
        F.count(F.lit(1)).alias("cnt"),
    )


@query(
    "q_agg_avg_stddev",
    oracle=(
        "SELECT l_returnflag, floor((avg(l_quantity)) * 1000000 + 0.5) / 1000000 AS avg_qty, "
        "floor((stddev_samp(l_quantity)) * 1000000 + 0.5) / 1000000 AS sd_qty, "
        "floor((var_samp(l_quantity)) * 1000000 + 0.5) / 1000000 AS var_qty "
        "FROM lineitem GROUP BY l_returnflag"
    ),
)
def q_agg_avg_stddev(spark, sf_dir):
    """Moment aggregates (derivable from the reference's sum/cnt model)."""
    li = Catalog(spark, sf_dir).lineitem
    return li.groupBy("l_returnflag").agg(
        ratio(F.avg("l_quantity")).alias("avg_qty"),
        ratio(F.stddev_samp("l_quantity")).alias("sd_qty"),
        ratio(F.var_samp("l_quantity")).alias("var_qty"),
    )


@query(
    "q_agg_filtered",
    oracle=(
        "SELECT l_returnflag, "
        "CAST(sum(CASE WHEN l_quantity > 25 THEN 1 ELSE 0 END) AS BIGINT) AS n_bulk, "
        "floor((sum(CASE WHEN l_discount >= 0.05 THEN l_extendedprice ELSE 0.0 END)) * 100 + 0.5) / 100 AS disc_rev, "
        "CAST(count(*) AS BIGINT) AS n_all "
        "FROM lineitem GROUP BY l_returnflag"
    ),
)
def q_agg_filtered(spark, sf_dir):
    """Conditional (filtered) aggregation — several differently-filtered
    measures in ONE scan/shuffle instead of one query per predicate.
    CASE-based form (not FILTER syntax) so the empty-group semantics
    are identical in both engines; partial aggregation applies as
    usual, so only per-group partials cross the network."""
    li = Catalog(spark, sf_dir).lineitem
    return li.groupBy("l_returnflag").agg(
        F.sum(F.when(F.col("l_quantity") > 25, 1).otherwise(0))
        .cast("bigint")
        .alias("n_bulk"),
        money(
            F.sum(
                F.when(F.col("l_discount") >= 0.05, F.col("l_extendedprice")).otherwise(
                    F.lit(0.0)
                )
            )
        ).alias("disc_rev"),
        F.count(F.lit(1)).alias("n_all"),
    )


_KS_SPLIT = "DATE '1998-01-01'"
_KS_BUCKET_WIDTH = 5000.0

_KS_ORACLE = f"""
WITH d AS (
  SELECT o_totalprice AS v,
    CAST(o_orderdate < {_KS_SPLIT} AS INT) AS ia
  FROM orders),
g AS (SELECT v, sum(ia) AS ca, sum(1 - ia) AS cb FROM d GROUP BY v),
t AS (SELECT CAST(sum(ia) AS BIGINT) AS n_a,
             CAST(sum(1 - ia) AS BIGINT) AS n_b FROM d),
c AS (
  SELECT
    sum(ca) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum_a,
    sum(cb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum_b
  FROM g)
SELECT t.n_a, t.n_b,
  floor(max(abs(CAST(cum_a AS DOUBLE) / t.n_a
              - CAST(cum_b AS DOUBLE) / t.n_b)) * 1000000 + 0.5)
    / 1000000 AS ks_stat
FROM c, t GROUP BY t.n_a, t.n_b
"""


@query(
    "q_stats_ks_drift",
    oracle=_KS_ORACLE,
    tags=("stats", "drift", "scale-design"),
)
def q_stats_ks_drift(spark, sf_dir):
    """Two-sample Kolmogorov-Smirnov statistic between the pre- and
    post-1998 order-price distributions — the classic exact
    distribution-shift test, complementing the closed-form binned
    Jensen-Shannon monitor (q_text_drift_js).  KS = max over the
    pooled ECDF of |F_a(v) - F_b(v)|.

    Distributed-prefix-sum shape (NOT a global window over rows):
    group by distinct value (one keyed shuffle, map-side partial),
    bucket values by price band, cumulative counts INSIDE each
    bucket via a bucket-partitioned window, per-bucket totals carried
    across buckets by a window over the ~120 bucket-summary rows
    (bounded by price range / band width, independent of row count),
    broadcast the offsets back, final max is a plain aggregate.  The
    ECDF ratio divides exact BIGINT cumulants once per distinct
    value, so the statistic is bit-deterministic in both engines.
    The oracle computes the identical KS with DuckDB's single-node
    window — same values, different physical plan, which is the
    point."""
    o = Catalog(spark, sf_dir).orders
    d = o.selectExpr(
        "o_totalprice AS v",
        f"CAST(o_orderdate < {_KS_SPLIT} AS INT) AS ia",
    )
    tot = d.agg(
        F.sum("ia").cast("bigint").alias("n_a"),
        F.sum(F.expr("1 - ia")).cast("bigint").alias("n_b"),
    )
    g = (
        d.groupBy("v")
        .agg(F.sum("ia").alias("ca"), F.sum(F.expr("1 - ia")).alias("cb"))
        .withColumn(
            "bkt", F.expr(f"CAST(floor(v / {_KS_BUCKET_WIDTH}) AS BIGINT)")
        )
    )
    wi = (
        Window.partitionBy("bkt")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    intra = g.select(
        "bkt",
        F.sum("ca").over(wi).alias("ia_cum"),
        F.sum("cb").over(wi).alias("ib_cum"),
    )
    bs = g.groupBy("bkt").agg(
        F.sum("ca").alias("sa"), F.sum("cb").alias("sb")
    )
    # bucket-offset carry: a window over the bucket SUMMARIES — row
    # count bounded by (price range / band width), not by data size
    wo = (
        Window.orderBy("bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    boff = bs.select(
        "bkt",
        F.coalesce(F.sum("sa").over(wo), F.lit(0)).alias("oa"),
        F.coalesce(F.sum("sb").over(wo), F.lit(0)).alias("ob"),
    )
    cum = intra.join(F.broadcast(boff), "bkt").selectExpr(
        "oa + ia_cum AS cum_a", "ob + ib_cum AS cum_b"
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .selectExpr(
            "n_a",
            "n_b",
            "abs(CAST(cum_a AS DOUBLE) / n_a"
            " - CAST(cum_b AS DOUBLE) / n_b) AS dd",
        )
        .groupBy("n_a", "n_b")
        .agg(
            F.expr(
                "floor(max(dd) * 1000000 + 0.5) / 1000000"
            ).alias("ks_stat")
        )
    )


_MI_MIN_DF = 5  # vocabulary floor: tokens in >= 5 docs
_MI_TOPK = 30


def _mi_term_sql(c: str, nx: str, nl: str, n: str) -> str:
    """One MI contingency term (in bits), zero-guarded: identical
    operation order in both engines, all counts widened to DOUBLE
    before any multiply (products stay < 2^53 — exact)."""
    return (
        f"CASE WHEN {c} > 0 THEN (CAST({c} AS DOUBLE) / {n}) * "
        f"log2((CAST({c} AS DOUBLE) * CAST({n} AS DOUBLE)) / "
        f"(CAST({nx} AS DOUBLE) * CAST({nl} AS DOUBLE))) "
        f"ELSE 0.0 END"
    )


_MI_ORACLE = f"""
WITH pres AS (
  SELECT DISTINCT doc_id, lang, tok FROM (
    SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
    FROM documents WHERE text IS NOT NULL)
  WHERE tok <> ''),
ntl AS (SELECT tok, lang, CAST(count(*) AS BIGINT) AS n_tl
        FROM pres GROUP BY tok, lang),
nt AS (SELECT tok, CAST(sum(n_tl) AS BIGINT) AS n_t FROM ntl GROUP BY tok),
vocab AS (SELECT tok, n_t FROM nt WHERE n_t >= {_MI_MIN_DF}),
ls AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_l,
              CAST((SELECT count(*) FROM documents) AS BIGINT) AS n
       FROM documents GROUP BY lang),
cell AS (
  SELECT v.tok, v.n_t, ls.lang, ls.n_l, ls.n,
         coalesce(ntl.n_tl, 0) AS n_tl
  FROM vocab v CROSS JOIN ls
  LEFT JOIN ntl ON ntl.tok = v.tok AND ntl.lang = ls.lang),
mi AS (
  SELECT tok AS token, max(n_t) AS n_docs,
    floor(sum({_mi_term_sql('n_tl', 'n_t', 'n_l', 'n')}
            + {_mi_term_sql('(n_l - n_tl)', '(n - n_t)', 'n_l', 'n')})
      * 1000000 + 0.5) / 1000000 AS mi
  FROM cell GROUP BY tok)
SELECT token, n_docs, mi FROM mi
ORDER BY mi DESC, token LIMIT {_MI_TOPK}
"""


@query(
    "q_agg_mutual_info",
    oracle=_MI_ORACLE,
    tags=("llm", "text", "stats"),
)
def q_agg_mutual_info(spark, sf_dir):
    """Token <-> label mutual information (bits): for every vocabulary
    token, I(token-presence; lang) over the full 2 x |langs|
    contingency — the classic feature-selection / label-leakage
    audit run before training a quality or topic classifier.  All
    four cells contribute (absent-cells matter: a token missing only
    from one language is informative), counts come from two keyed
    aggregations (doc-presence distinct, (token,lang) counts) plus a
    tok-partitioned window for token totals, and the lang census is
    a broadcast of one SMALL aggregate; absent (token,lang) cells
    collapse algebraically into one closed-form correction per token
    (see inline comment) so no vocab x langs grid materializes.

    Top-30 by quantized MI with a token tie-break.  At 100 TB the
    only stage that reads document TEXT is the single explode ->
    distinct -> count chain (map-side-combinable); the N and
    per-lang censuses re-scan only the pruned `lang` column
    (plan-asserted: their ReadSchema excludes text), so the heavy
    column moves through the cluster exactly once.  The MI
    arithmetic itself runs on vocabulary-sized data."""
    docs = Catalog(spark, sf_dir).documents
    pres = (
        docs.filter("text IS NOT NULL")
        .select(
            "doc_id", "lang", F.explode(F.split("text", " ")).alias("tok")
        )
        .filter("tok <> ''")
        .distinct()
    )
    ntl = pres.groupBy("tok", "lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tl")
    )
    n_total = docs.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    ls = (
        docs.groupBy("lang")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_l"))
        .crossJoin(F.broadcast(n_total))
    )
    # Token totals via a tok-partitioned WINDOW instead of a groupBy +
    # join-back, so the (token, lang) counts are consumed exactly once
    # and the presence explode — the only scan of the text column —
    # runs exactly once (plan-asserted).  Langs where the token never
    # appears contribute ONLY their absent cell; the sum of those
    # terms collapses algebraically to one closed-form correction per
    # token: sum_{missing l} (n_l/N)*log2(N/(N-n_t))
    #      = ((N - sum_present n_l)/N) * log2(N/(N-n_t)).
    # The log2 argument is the exact integer quotient both engines
    # round identically; the outer multiply regroups a sum of rounded
    # products, a ~1e-16 regrouping absorbed by the 1e-6 quantum.
    w = Window.partitionBy("tok")
    cell = (
        ntl.join(F.broadcast(ls), "lang")
        .withColumn("n_t", F.sum("n_tl").over(w).cast("bigint"))
        .withColumn("nl_pres", F.sum("n_l").over(w).cast("bigint"))
        .filter(F.col("n_t") >= _MI_MIN_DF)
        .withColumn(
            "t_pres",
            F.expr(
                f"{_mi_term_sql('n_tl', 'n_t', 'n_l', 'n')}"
                f" + {_mi_term_sql('(n_l - n_tl)', '(n - n_t)', 'n_l', 'n')}"
            ),
        )
        .withColumn(
            "t_miss",
            F.expr(
                "CASE WHEN n - n_t > 0 AND n - nl_pres > 0 THEN "
                "(CAST(n - nl_pres AS DOUBLE) / n) * "
                "log2(CAST(n AS DOUBLE) / CAST(n - n_t AS DOUBLE)) "
                "ELSE 0.0 END"
            ),
        )
    )
    mi = cell.groupBy(F.col("tok").alias("token")).agg(
        F.max("n_t").alias("n_docs"),
        F.expr(
            "floor((sum(t_pres) + max(t_miss)) * 1000000 + 0.5) / 1000000"
        ).alias("mi"),
    )
    return mi.orderBy(F.desc("mi"), F.asc("token")).limit(_MI_TOPK)
