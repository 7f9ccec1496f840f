"""Aggregations (SURVEY.md §2.4).

Reference: min/max/sum/count computed *inside the scan* as agg
predicates, one partial row per object, client merges partials
[U: cls_tabular_utils.h — SOT_min/max/sum/cnt;
 run-query.cc — query a + client merge].  Spark's two-phase
HashAggregate (partial on the mapper, final after the shuffle) is the
same pattern, chosen automatically by the planner — at 100 TB only the
per-group partial rows cross the network, never the raw scan.

Beyond the reference's four: statistics and data-quality profiles,
mergeable sketches (HLL, count-min, approx top-k), analytics shapes
(funnel, retention, skyline, Gini) and incremental view maintenance.
Operators driven: `operators/skew.py` — salted partial sums and the
measured hot-key share that picks `adaptive_sum_by_key`'s branch.
"""

from __future__ import annotations

from pyspark.sql import Window

from skyhookdb_ceph_spark.operators import ensure_parallelism
from skyhookdb_ceph_spark.operators.skew import (
    SKEW_SHARE_THRESHOLD,
    max_key_share,
    salted_sum_count,
)
from skyhookdb_ceph_spark.queries._util import (
    Catalog,
    F,
    _hexval8,
    _hexval8_spark,
    collect_local,
    money,
    quantize,
    ratio,
    scratch,
)
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


_ENTROPY_ORACLE = """
WITH t AS (
  SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents),
c AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS n
      FROM t GROUP BY source, tok),
tot AS (SELECT source, CAST(sum(n) AS BIGINT) AS n_tokens,
               CAST(count(*) AS BIGINT) AS vocab
        FROM c GROUP BY source)
SELECT c.source, tot.n_tokens, tot.vocab,
  floor(-sum((n * 1.0 / n_tokens) * ln(n * 1.0 / n_tokens)) * 1000000 + 0.5)
    / 1000000 AS entropy
FROM c JOIN tot USING (source)
GROUP BY c.source, tot.n_tokens, tot.vocab
"""


@query("q_agg_entropy", oracle=_ENTROPY_ORACLE, tags=("pipeline", "text"))
def q_agg_entropy(spark, sf_dir):
    """Shannon entropy of the token distribution per source — the
    vocabulary-diversity signal quality filters use to catch template
    spam (low entropy) and binary junk (spuriously high entropy).
    Two keyed shuffles total: token counts partial-aggregate map-side
    on (source, token); per-source totals are a second tiny agg
    joined back broadcast-small.  Cross-engine float drift from
    summation order is ~1e-12 against a 5e-7 quantization threshold
    (same tolerance argument as q_text_unigram_lp/q_agg_corr)."""
    t = ensure_parallelism(Catalog(spark, sf_dir).documents).select(
        "source", F.explode(F.split("text", " ")).alias("tok")
    )
    c = t.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("n"))
    tot = c.groupBy("source").agg(
        F.sum("n").alias("n_tokens"), F.count(F.lit(1)).alias("vocab")
    )
    p = F.col("n") * 1.0 / F.col("n_tokens")
    return (
        c.join(F.broadcast(tot), "source")
        .groupBy("source", "n_tokens", "vocab")
        .agg(quantize(-F.sum(p * F.log(p)), 6).alias("entropy"))
    )


def _cm_col(key_expr: str, row: int) -> str:
    """CMS column for sketch row 0/1: disjoint 8-hex windows of ONE
    md5 digest per key (same single-digest construction as the Bloom
    filter).  Portable SQL (oracle form)."""
    digest = f"md5(concat('cm#', {key_expr}))"
    return f"({_hexval8(digest, 8 * row + 1)} % 64)"


def _cm_col_spark(hcol: str, row: int) -> str:
    return f"({_hexval8_spark(hcol, 8 * row + 1)} % 64)"


_COUNTMIN_ORACLE = f"""
WITH k AS (
  SELECT concat(event_type, '#', user_id % 50) AS key FROM events),
rows_ AS (SELECT 0 AS r UNION ALL SELECT 1),
sk AS (
  SELECT r,
    CASE WHEN r = 0 THEN {_cm_col('key', 0)} ELSE {_cm_col('key', 1)} END AS c,
    CAST(count(*) AS BIGINT) AS cnt
  FROM k, rows_ GROUP BY 1, 2),
truth AS (SELECT key, CAST(count(*) AS BIGINT) AS true_cnt FROM k GROUP BY key)
SELECT t.key, t.true_cnt, least(s0.cnt, s1.cnt) AS est_cnt
FROM truth t
JOIN sk s0 ON s0.r = 0 AND s0.c = {_cm_col('t.key', 0)}
JOIN sk s1 ON s1.r = 1 AND s1.c = {_cm_col('t.key', 1)}
ORDER BY t.true_cnt DESC, t.key LIMIT 20
"""


@query("q_agg_countmin", oracle=_COUNTMIN_ORACLE, tags=("sketch",))
def q_agg_countmin(spark, sf_dir):
    """Count-Min sketch: depth-2 x width-64 counter matrix over a
    ~250-distinct-key stream (event_type x user bucket), then the top
    true keys probed for their estimates (est = min over rows; always
    >= true, deterministic because the hash rows are md5-derived).
    The sketch build is ONE map-side-combining groupBy whose state is
    128 counters regardless of input size — the point of CMS at
    100 TB: heavy-hitter frequency at fixed memory.  The probe joins
    the 128-row sketch broadcast-style against the distinct keys."""
    ev = Catalog(spark, sf_dir).events
    keyed = ev.selectExpr("concat(event_type, '#', user_id % 50) AS key")
    # ONE md5 per row; both sketch-row columns are conv() windows over
    # the digest column (same single-digest fast path as
    # q_filter_bloom).
    sketch = (
        keyed.selectExpr("md5(concat('cm#', key)) AS h")
        .selectExpr(
            f"explode(array(struct(0 AS r, {_cm_col_spark('h', 0)} AS c), "
            f"struct(1 AS r, {_cm_col_spark('h', 1)} AS c))) AS rc"
        )
        .selectExpr("rc.r AS r", "rc.c AS c")
        .groupBy("r", "c")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    truth = keyed.groupBy("key").agg(
        F.count(F.lit(1)).alias("true_cnt")
    )
    s0 = sketch.filter("r = 0").selectExpr("c AS c0", "cnt AS cnt0")
    s1 = sketch.filter("r = 1").selectExpr("c AS c1", "cnt AS cnt1")
    return (
        truth.withColumn("kh", F.expr("md5(concat('cm#', key))"))
        .withColumn("pc0", F.expr(f"coalesce({_cm_col_spark('kh', 0)}, -1)"))
        .withColumn("pc1", F.expr(f"coalesce({_cm_col_spark('kh', 1)}, -1)"))
        .join(F.broadcast(s0), F.col("pc0") == F.col("c0"))
        .join(F.broadcast(s1), F.col("pc1") == F.col("c1"))
        .select(
            "key",
            "true_cnt",
            F.least("cnt0", "cnt1").alias("est_cnt"),
        )
        .orderBy(F.desc("true_cnt"), "key")
        .limit(20)
    )


_FUNNEL_ORACLE = """
WITH ev AS (
  SELECT user_id, event_type, CAST(floor(epoch(ts)) AS BIGINT) AS sec
  FROM events),
u AS (
  SELECT user_id,
    min(CASE WHEN event_type = 'view' THEN sec END) AS v
  FROM ev GROUP BY user_id),
c AS (
  SELECT e.user_id, min(e.sec) AS c
  FROM ev e JOIN u ON u.user_id = e.user_id AND u.v IS NOT NULL
  WHERE e.event_type = 'click' AND e.sec >= u.v AND e.sec < u.v + 21600
  GROUP BY e.user_id),
p AS (
  SELECT e.user_id, min(e.sec) AS p
  FROM ev e JOIN c ON c.user_id = e.user_id
  WHERE e.event_type = 'purchase' AND e.sec >= c.c AND e.sec < c.c + 21600
  GROUP BY e.user_id)
SELECT CASE WHEN p.p IS NOT NULL THEN 3
            WHEN c.c IS NOT NULL THEN 2
            WHEN u.v IS NOT NULL THEN 1
            ELSE 0 END AS stage,
  CAST(count(*) AS BIGINT) AS n_users
FROM u LEFT JOIN c ON c.user_id = u.user_id
       LEFT JOIN p ON p.user_id = u.user_id
GROUP BY 1 ORDER BY 1
"""


@query("q_agg_funnel", oracle=_FUNNEL_ORACLE, tags=("pipeline", "analytics"))
def q_agg_funnel(spark, sf_dir):
    """Ordered funnel: view -> click (within 6 h) -> purchase (within
    6 h of the click), users counted at their deepest stage — the
    product-analytics window-funnel operator.  Each stage is one
    user-keyed partial aggregate; stages join on user_id only (three
    shuffles on the same key — co-partitioned, and a bucketed table
    would make them exchange-free).  Whole-second BIGINT time math."""
    ev = Catalog(spark, sf_dir).events.select(
        "user_id", "event_type", F.unix_timestamp("ts").alias("sec")
    )
    u = ev.groupBy("user_id").agg(
        F.min(
            F.when(F.col("event_type") == "view", F.col("sec"))
        ).alias("v")
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .join(
            u.filter(F.col("v").isNotNull()).select("user_id", "v"),
            "user_id",
        )
        .filter(
            (F.col("sec") >= F.col("v"))
            & (F.col("sec") < F.col("v") + 21600)
        )
        .groupBy("user_id")
        .agg(F.min("sec").alias("c"))
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .join(clicks, "user_id")
        .filter(
            (F.col("sec") >= F.col("c"))
            & (F.col("sec") < F.col("c") + 21600)
        )
        .groupBy("user_id")
        .agg(F.min("sec").alias("p"))
    )
    stage = (
        F.when(F.col("p").isNotNull(), 3)
        .when(F.col("c").isNotNull(), 2)
        .when(F.col("v").isNotNull(), 1)
        .otherwise(0)
    )
    return (
        u.join(clicks.withColumnRenamed("c", "c"), "user_id", "left")
        .join(purchases, "user_id", "left")
        .select(stage.alias("stage"))
        .groupBy("stage")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("stage")
    )


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
            money(F.min("o_totalprice")).alias("lo"),
            money(F.max("o_totalprice")).alias("hi"),
        )
        .orderBy("bin")
    )


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


_WAVG_ORACLE = """
WITH w AS (
  SELECT event_type, value, CAST(event_id % 7 + 1 AS DOUBLE) AS wt
  FROM events)
SELECT event_type,
  floor(sum(wt) * 100 + 0.5) / 100 AS sum_wt,
  floor((sum(value * wt) / sum(wt)) * 1000000 + 0.5) / 1000000 AS wavg,
  floor((sum(value * value * wt) / sum(wt)
         - (sum(value * wt) / sum(wt)) * (sum(value * wt) / sum(wt)))
        * 10000 + 0.5) / 10000 AS wvar
FROM w GROUP BY event_type ORDER BY event_type
"""


@query("q_agg_weighted_avg", oracle=_WAVG_ORACLE, tags=("agg",))
def q_agg_weighted_avg(spark, sf_dir):
    """Weighted mean and weighted variance per group — the moments
    every importance-weighted training metric needs (loss reweighting,
    stratification corrections).  All three sums (w, v*w, v^2*w) are
    map-side-combinable partial aggregates in ONE shuffle; the moment
    algebra happens on the tiny per-group result.  wvar quantized to
    4 decimals: it subtracts two ~1e9 double sums, so the last two
    decimals of the 1e-6 grid are accumulation-order noise between
    engines."""
    ev = ensure_parallelism(Catalog(spark, sf_dir).events)
    w = ev.selectExpr(
        "event_type", "value", "CAST(event_id % 7 + 1 AS DOUBLE) AS wt"
    )
    g = w.groupBy("event_type").agg(
        F.sum("wt").alias("sw"),
        F.sum(F.expr("value * wt")).alias("svw"),
        F.sum(F.expr("value * value * wt")).alias("svvw"),
    )
    return g.select(
        "event_type",
        quantize(F.col("sw"), 2).alias("sum_wt"),
        quantize(F.col("svw") / F.col("sw"), 6).alias("wavg"),
        quantize(
            F.col("svvw") / F.col("sw")
            - (F.col("svw") / F.col("sw")) * (F.col("svw") / F.col("sw")),
            4,
        ).alias("wvar"),
    ).orderBy("event_type")


_MEDIAN_ORACLE = """
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       floor(median(l_extendedprice) * 1000000 + 0.5) / 1000000 AS med
FROM lineitem
"""


@query("q_agg_median_exact", oracle=_MEDIAN_ORACLE, tags=("agg", "scale-design"))
def q_agg_median_exact(spark, sf_dir):
    """EXACT median with NO global sort — the two-pass order-statistic
    pattern that scales where sort-everything cannot: pass 1 histograms
    the column into 1024 equal-width buckets (one map-combined shuffle
    of <=1024 rows); a prefix sum over the BUCKET TABLE (tiny — the
    boundary-merge class, never corpus-sized) locates the bucket(s)
    holding global ranks floor((N+1)/2) and N//2+1; pass 2 sorts ONLY
    the candidate bucket's rows (~N/1024) inside a bucket-partitioned
    window and averages the two middle values — exactly DuckDB's
    interpolating median, proven by the oracle using median() itself.
    Contrast q_agg_approx_quantile (sketch, error-bounded) and
    q_agg_percentiles (Spark's exact percentile, which materializes
    per-group value multisets): this path touches each row twice,
    sorts 0.1% of them, and is exact.  At 100 TB: two scans, two
    bounded shuffles, candidate set fits one executor by construction
    (add a refinement level if a single bucket is still too large)."""
    c = Catalog(spark, sf_dir)
    x = c.lineitem.select(F.col("l_extendedprice").alias("x"))
    stats = x.agg(
        F.min("x").alias("mn"),
        F.max("x").alias("mx"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    nbkt = 1024
    b = x.join(F.broadcast(stats)).select(
        "x",
        "n",
        F.least(
            F.lit(nbkt - 1),
            F.floor((F.col("x") - F.col("mn")) / ((F.col("mx") - F.col("mn")) / nbkt + 1e-300)),
        )
        .cast("bigint")
        .alias("bkt"),
    )
    counts = b.groupBy("bkt", "n").agg(F.count(F.lit(1)).alias("c"))
    wb = Window.orderBy("bkt")  # <=1024 rows: the tiny merge pass
    cum = counts.select(
        "bkt",
        "n",
        (F.sum("c").over(wb.rowsBetween(Window.unboundedPreceding, 0)) - F.col("c")).alias("cum_start"),
        F.sum("c").over(wb.rowsBetween(Window.unboundedPreceding, 0)).alias("cum_end"),
        (((F.col("n") + 1) / 2).cast("bigint")).alias("lo"),
        ((F.col("n") / 2).cast("bigint") + 1).alias("hi"),
    )
    cand_b = cum.filter(
        (F.col("cum_end") >= F.col("lo")) & (F.col("cum_start") < F.col("hi"))
    ).select("bkt", "cum_start", "lo", "hi")
    cand = b.join(
        F.broadcast(cand_b.withColumnsRenamed({"bkt": "cb"})),
        F.col("bkt") == F.col("cb"),
    )
    win = Window.partitionBy("bkt").orderBy("x")
    mids = cand.withColumn(
        "grank", F.col("cum_start") + F.row_number().over(win)
    ).filter((F.col("grank") == F.col("lo")) | (F.col("grank") == F.col("hi")))
    return mids.groupBy("n").agg(
        quantize(F.avg("x"), 6).alias("med")
    ).select(F.col("n").alias("n_rows"), "med")


_GINI_ORACLE = """
WITH rev AS (
  SELECT l_suppkey,
    CAST(floor(sum(l_extendedprice * (1 - l_discount)) * 100 + 0.5)
         AS BIGINT) AS cents
  FROM lineitem GROUP BY l_suppkey),
ranked AS (
  SELECT cents,
    CAST(row_number() OVER (ORDER BY cents, l_suppkey) AS BIGINT) AS i,
    CAST(count(*) OVER () AS BIGINT) AS n
  FROM rev)
SELECT n AS n_suppliers,
  CAST(sum(cents) AS BIGINT) AS total_cents,
  floor((sum((2 * i - n - 1) * cents) * 1.0 / (n * sum(cents)))
        * 1000000 + 0.5) / 1000000 AS gini
FROM ranked GROUP BY n
"""


@query("q_agg_gini", oracle=_GINI_ORACLE, tags=("agg",))
def q_agg_gini(spark, sf_dir):
    """Gini concentration of supplier revenue — the inequality metric
    behind 'is our supply chain concentrated?' dashboards.  Uses the
    rank formulation G = sum((2i - n - 1) x_i) / (n sum(x)) over
    ascending-ranked values, computed ENTIRELY in exact integer cents
    (rank, n, and all products are BIGINT; one final division) so no
    accumulation order can move the result.  The rank window runs
    over the per-supplier AGGREGATE — bounded by the supplier table,
    never the fact table, at any scale (same bounded-aggregate-window
    class as q_tpch_q15); the fact scan itself is one map-combined
    (suppkey) shuffle."""
    c = Catalog(spark, sf_dir)
    rev = (
        c.lineitem.groupBy("l_suppkey")
        .agg(
            F.floor(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
                * 100
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("cents")
        )
    )
    w = Window.orderBy("cents", "l_suppkey")  # supplier-bounded aggregate
    ranked = rev.select(
        "cents",
        F.row_number().over(w).cast("bigint").alias("i"),
        F.count(F.lit(1)).over(Window.partitionBy()).cast("bigint").alias("n"),
    )
    return (
        ranked.groupBy("n")
        .agg(
            F.sum("cents").cast("bigint").alias("total_cents"),
            quantize(
                F.sum((2 * F.col("i") - F.col("n") - 1) * F.col("cents"))
                * 1.0
                / (F.col("n") * F.sum("cents")),
                6,
            ).alias("gini"),
        )
        .select(
            F.col("n").alias("n_suppliers"), "total_cents", "gini"
        )
    )


_GROUPING_ID_ORACLE = """
SELECT l_returnflag, l_linestatus,
  CAST(grouping(l_returnflag) AS INT) AS g_flag,
  CAST(grouping(l_linestatus) AS INT) AS g_status,
  CAST(count(*) AS BIGINT) AS cnt
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
ORDER BY g_flag, g_status, l_returnflag, l_linestatus
"""


@query("q_agg_grouping_id", oracle=_GROUPING_ID_ORACLE, tags=("agg",))
def q_agg_grouping_id(spark, sf_dir):
    """GROUPING() markers on a ROLLUP — the disambiguation every
    report over nullable group columns needs: a NULL in a subtotal
    row (grouping()=1) is not a NULL data value (grouping()=0), and
    without the marker the two are indistinguishable downstream.
    Same Expand + two-phase aggregate plan as q_agg_rollup; the
    marker column is free metadata carried through the expand."""
    li = Catalog(spark, sf_dir).lineitem
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.grouping("l_returnflag").cast("int").alias("g_flag"),
            F.grouping("l_linestatus").cast("int").alias("g_status"),
            F.count(F.lit(1)).cast("bigint").alias("cnt"),
        )
        .select(
            "l_returnflag", "l_linestatus", "g_flag", "g_status", "cnt"
        )
        .orderBy("g_flag", "g_status", "l_returnflag", "l_linestatus")
    )


_SKEW_ADAPTIVE_ORACLE = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
       floor((sum(value) / count(*)) * 1000000 + 0.5) / 1000000 AS avg_value
FROM events GROUP BY event_type ORDER BY event_type
"""


_N_SALTS = 16  # salted branch: the hot key's rows spread over 16 tasks


def adaptive_sum_by_key(df, key):
    """groupBy(key).agg(count, sum cents, avg value) with the PHYSICAL
    strategy chosen from a measured 1-row skew probe: if the hottest
    key holds more than one shuffle-partition's fair share of rows,
    aggregate per (key, salt) first and re-aggregate per key (both
    phases map-side combinable — the hot key's work spreads over
    _N_SALTS tasks and the second shuffle carries only _N_SALTS rows
    per key); otherwise the plain partial/final aggregate, which is
    strictly cheaper when no key dominates.  The salt is a
    deterministic hash of the value column scaled to cents — never
    RNG — so either branch returns identical, oracle-checkable rows.
    Exposed as a helper so tests can drive BOTH branches."""
    cents = F.floor(F.col("value") * 100).cast("bigint")
    base = df.select(key, cents.alias("cents"), "value")
    if max_key_share(df.select(key), key) > SKEW_SHARE_THRESHOLD:
        salted = base.withColumn(
            "__salt", F.pmod(F.hash("cents"), F.lit(_N_SALTS))
        )
        part = salted.groupBy(key, "__salt").agg(
            F.count(F.lit(1)).alias("pn"),
            F.sum("cents").alias("ps"),
            F.sum("value").alias("pv"),
        )
        agg = part.groupBy(key).agg(
            F.sum("pn").cast("bigint").alias("n_events"),
            F.sum("ps").cast("bigint").alias("sum_cents"),
            ratio(F.sum("pv") / F.sum("pn")).alias("avg_value"),
        )
    else:
        agg = base.groupBy(key).agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum("cents").cast("bigint").alias("sum_cents"),
            ratio(F.sum("value") / F.count(F.lit(1))).alias("avg_value"),
        )
    return agg.orderBy(key)


@query(
    "q_agg_skew_adaptive",
    oracle=_SKEW_ADAPTIVE_ORACLE,
    tags=("agg", "stats", "scale-design"),
)
def q_agg_skew_adaptive(spark, sf_dir):
    """Stats-driven AGGREGATION strategy — the runstats→optimizer
    story (q_runstats, q_join_stats_driven) closed for aggregates: a
    1-row skew probe measures the hot key's row share
    (operators/skew.py max_key_share — map-combined keyed count, one
    tiny shuffle, one driver row), and the plan salts the aggregate
    only when one key exceeds a shuffle-partition's fair share.
    events.event_type has ~5 values (hot share ≈ 0.2 ≫ 1/32), so this
    query always takes the salted branch — the plain branch is
    plan-asserted separately via the helper on a high-cardinality key
    (tests/test_plans.py).  avg is re-derived as sum/count from the
    salted partials (plain avg-of-avgs would be wrong); both branches
    are algebraically identical, so the oracle never needs to know
    which one ran — exactly the property a real optimizer hides
    behind.  At 100 TB the probe costs one columnar scan of the key
    column; a mis-planned hot-key aggregate costs a straggler task
    holding the whole stage."""
    e = Catalog(spark, sf_dir).events
    return adaptive_sum_by_key(e, "event_type")


_HLL_ORACLE = """
SELECT event_type,
       CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
       CAST(1 AS BOOLEAN) AS est_ok,
       CAST(1 AS BOOLEAN) AS merge_consistent
FROM events GROUP BY event_type ORDER BY event_type
"""


@query("q_agg_hll_merge", oracle=_HLL_ORACLE, tags=("agg", "sketch", "scale-design"))
def q_agg_hll_merge(spark, sf_dir):
    """MERGEABLE sketch state — the algebraic property every 100 TB
    rollup pipeline is built on: per-(type, day) HLL sketches are
    built in ONE pass (the daily incremental job), then
    hll_union_agg collapses each type's day-sketches into the same
    state a direct whole-history sketch holds — so yesterday's
    pre-aggregated bytes answer today's distinct-count question
    without rescanning history.  Two claims are proven against the
    oracle as banded verdict columns (the registry's non-SQL-op
    pattern): est_ok — the direct sketch estimate is within 5 % of
    the EXACT distinct count (computed in the same Spark agg and
    matched exactly against DuckDB's count(DISTINCT)); and
    merge_consistent — the union-of-day-sketches estimate is within
    the SAME 5 % of exact.  Exact equality of union and direct
    estimates holds only while sketches stay in sparse/coupon mode
    (true at sf0.01, 150 uniques/key); past promotion to dense HLL
    the union's internal HLL_8 accumulator legitimately lands a few
    counts off the direct sketch (measured sf0.1, 1500 uniques/key:
    direct 1494 vs union 1488 vs exact 1500 — both inside the error
    bound, NOT equal; the first r7 sf0.1 oracle sweep caught the
    over-strong equality claim).  Contrast q_agg_countmin (frequency
    sketch): here the sketch bytes are engine-native binary state, so
    a user can persist the per-day column and keep merging forever.
    Plan: two map-combined keyed aggs + a 5-row broadcast join; the
    sketch column shuffles as fixed-size binary regardless of row
    count."""
    e = Catalog(spark, sf_dir).events.select(
        "event_type", "user_id", F.to_date("ts").alias("day")
    )
    direct = e.groupBy("event_type").agg(
        F.count_distinct("user_id").cast("bigint").alias("exact_users"),
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("est_direct"),
    )
    daily = (
        e.groupBy("event_type", "day")
        .agg(F.hll_sketch_agg("user_id").alias("sk_day"))
        .groupBy("event_type")
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk_day")).alias("est_union")
        )
        .withColumnRenamed("event_type", "u_type")
    )
    return (
        direct.join(
            F.broadcast(daily), F.col("event_type") == F.col("u_type")
        )
        .select(
            "event_type",
            "exact_users",
            (
                F.abs(F.col("est_direct") - F.col("exact_users"))
                <= 0.05 * F.col("exact_users")
            ).alias("est_ok"),
            (
                F.abs(F.col("est_union") - F.col("exact_users"))
                <= 0.05 * F.col("exact_users")
            ).alias("merge_consistent"),
        )
        .orderBy("event_type")
    )


_TOPK_SKETCH_ORACLE = """
SELECT o_orderpriority AS item, CAST(count(*) AS BIGINT) AS cnt
FROM orders GROUP BY o_orderpriority
ORDER BY cnt DESC, item LIMIT 3
"""


@query("q_agg_approx_topk", oracle=_TOPK_SKETCH_ORACLE, tags=("agg", "sketch"))
def q_agg_approx_topk(spark, sf_dir):
    """Heavy hitters via the engine-native approx_top_k sketch — the
    one-pass, bounded-memory answer to "what dominates this column"
    that replaces a full groupBy+sort when only the head matters.
    With the tracked-item budget (10 000) above the column's
    cardinality the sketch counts are EXACT, so the result is
    oracle-checkable without tolerance; the sketch's own tie order is
    arbitrary, so the entries are exploded and re-ranked with a
    deterministic (count DESC, item) key — the same
    determinism-over-convenience rule as q_agg_mode.  At scale the
    sketch state is a fixed-size map per partition, merged
    map-side — one shuffle of sketch bytes, never of rows (contrast
    q_agg_countmin, the hand-rolled CM construction for when the
    budget must be sub-cardinality)."""
    o = Catalog(spark, sf_dir).orders
    sk = o.agg(F.expr("approx_top_k(o_orderpriority, 5)").alias("tk"))
    return (
        sk.select(F.explode("tk").alias("e"))
        .select(
            F.col("e.item").alias("item"),
            F.col("e.count").cast("bigint").alias("cnt"),
        )
        .orderBy(F.desc("cnt"), "item")
        .limit(3)
    )


_MOMENTS_ORACLE = """
WITH s AS (
  SELECT event_type, value / 100 AS v FROM events),
p AS (
  SELECT event_type,
         count(*) AS n, sum(v) AS s1, sum(v*v) AS s2,
         sum(v*v*v) AS s3, sum(v*v*v*v) AS s4
  FROM s GROUP BY event_type)
SELECT event_type, CAST(n AS BIGINT) AS n,
  floor((s1/n) * 1000000 + 0.5) / 1000000 AS mean_v,
  floor((
    (s3/n - 3*(s1/n)*(s2/n) + 2*(s1/n)*(s1/n)*(s1/n))
    / pow(s2/n - (s1/n)*(s1/n), 1.5)
  ) * 100000 + 0.5) / 100000 AS skew_v,
  floor((
    (s4/n - 4*(s1/n)*(s3/n) + 6*(s1/n)*(s1/n)*(s2/n)
     - 3*(s1/n)*(s1/n)*(s1/n)*(s1/n))
    / pow(s2/n - (s1/n)*(s1/n), 2) - 3
  ) * 10000 + 0.5) / 10000 AS kurt_v
FROM p ORDER BY event_type
"""


@query("q_agg_moments", oracle=_MOMENTS_ORACLE, tags=("agg", "scale-design"))
def q_agg_moments(spark, sf_dir):
    """Skewness and excess kurtosis per event_type computed from RAW
    POWER SUMS (n, Σv, Σv², Σv³, Σv⁴) rather than the engines' builtin
    skewness()/kurtosis() — deliberately: Spark's builtins are
    population-form while DuckDB's carry sample-bias corrections, so
    the builtins can never hash-match; the power-sum arithmetic is
    identical IEEE ops in both engines.  That choice IS the scale
    story: power sums are the mergeable-sketch form of higher moments
    (combine by addition — the same partial/final shape as sum/count),
    so the whole statistic is ONE map-combined pass with a 5-number
    state per key, where a two-pass mean-then-deviations design would
    re-scan the corpus.  Values are pre-scaled by 100 (skew/kurt are
    scale-invariant) so the quartic sums stay ~1e7 and summation-order
    drift stays below the 5/4-decimal quantization."""
    e = Catalog(spark, sf_dir).events

    v = F.col("value") / 100
    p = e.select("event_type", v.alias("v")).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v").alias("s1"),
        F.sum(F.col("v") * F.col("v")).alias("s2"),
        F.sum(F.col("v") * F.col("v") * F.col("v")).alias("s3"),
        F.sum(F.col("v") * F.col("v") * F.col("v") * F.col("v")).alias(
            "s4"
        ),
    )
    n, s1, s2, s3, s4 = (F.col(c) for c in ("n", "s1", "s2", "s3", "s4"))
    mu = s1 / n
    m2 = s2 / n - mu * mu
    m3 = s3 / n - 3 * mu * (s2 / n) + 2 * mu * mu * mu
    m4 = (
        s4 / n
        - 4 * mu * (s3 / n)
        + 6 * mu * mu * (s2 / n)
        - 3 * mu * mu * mu * mu
    )
    return p.select(
        "event_type",
        n.cast("bigint").alias("n"),
        quantize(mu, 6).alias("mean_v"),
        quantize(m3 / F.pow(m2, 1.5), 5).alias("skew_v"),
        quantize(m4 / F.pow(m2, 2.0) - 3, 4).alias("kurt_v"),
    ).orderBy("event_type")


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
