"""Scalar function families (SURVEY.md §2.8).

Reference scalar surface: typed comparisons, arithmetic in the agg
path, regex match, DATE as a storable type
[U: cls_tabular_utils.h — SDT_DATE, SOT_like].  Everything here is
Spark built-ins — JVM-side, inside whole-stage codegen; no Python in
the hot path.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import types as T

from skyhookdb_ceph_spark.operators import ensure_parallelism
from skyhookdb_ceph_spark.queries._util import Catalog, F, money, quantize, ratio
from skyhookdb_ceph_spark.registry import query


@query(
    "q_fn_string",
    oracle=(
        "SELECT p_partkey, upper(p_name) AS name_up, lower(p_brand) AS brand_lo, "
        "substr(p_name, 1, 5) AS name5, CAST(length(p_name) AS INT) AS name_len, "
        "concat(p_brand, ':', p_type) AS brand_type, "
        "trim(p_name) AS name_trim, replace(p_name, ' ', '_') AS name_us "
        "FROM part"
    ),
)
def q_fn_string(spark, sf_dir):
    p = Catalog(spark, sf_dir).part
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("name_up"),
        F.lower("p_brand").alias("brand_lo"),
        F.substring("p_name", 1, 5).alias("name5"),
        F.length("p_name").alias("name_len"),
        F.concat_ws(":", "p_brand", "p_type").alias("brand_type"),
        F.trim(F.col("p_name")).alias("name_trim"),
        F.replace(F.col("p_name"), F.lit(" "), F.lit("_")).alias("name_us"),
    )


@query(
    "q_fn_split",
    oracle=(
        "SELECT p_partkey, string_split(p_name, ' ')[1] AS first_word, "
        "CAST(len(string_split(p_name, ' ')) AS INT) AS n_words FROM part"
    ),
)
def q_fn_split(spark, sf_dir):
    """split + element access (1-based in DuckDB, 0-based getItem in
    Spark — normalized to the same first word)."""
    p = Catalog(spark, sf_dir).part
    words = F.split("p_name", " ")
    return p.select(
        "p_partkey",
        words.getItem(0).alias("first_word"),
        F.size(words).alias("n_words"),
    )


@query(
    "q_fn_date",
    oracle=(
        "SELECT o_orderkey, CAST(year(o_orderdate) AS INT) AS o_year, "
        "CAST(month(o_orderdate) AS INT) AS o_month, "
        "date_trunc('month', o_orderdate) AS month_start, "
        "CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS o_date, "
        "CAST(date_diff('day', TIMESTAMP '1995-01-01', o_orderdate) AS INT) AS days_since "
        "FROM orders"
    ),
)
def q_fn_date(spark, sf_dir):
    """Date/time functions over the timestamp-typed order date
    (FIXTURES.md: timestamps, NOT dates; session TZ pinned UTC)."""
    o = Catalog(spark, sf_dir).orders
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("o_year"),
        F.month("o_orderdate").alias("o_month"),
        F.date_trunc("month", "o_orderdate").alias("month_start"),
        F.to_date("o_orderdate").cast("string").alias("o_date"),
        F.datediff(F.to_date("o_orderdate"), F.lit("1995-01-01").cast("date")).alias(
            "days_since"
        ),
    )


@query(
    "q_fn_math",
    oracle=(
        "SELECT l_orderkey, l_linenumber, "
        "round(l_extendedprice, 0) AS price_r0, "
        "abs(l_discount - 0.05) AS disc_dev, "
        "CAST(floor(l_quantity) AS BIGINT) AS qty_floor, "
        "CAST(ceil(l_quantity / 7) AS BIGINT) AS qty_ceil7, "
        "floor((pow(l_quantity, 2)) * 10000 + 0.5) / 10000 AS qty_sq, floor((ln(l_extendedprice)) * 1000000 + 0.5) / 1000000 AS price_ln, "
        "CAST(l_quantity AS BIGINT) % 5 AS qty_mod "
        "FROM lineitem"
    ),
)
def q_fn_math(spark, sf_dir):
    li = Catalog(spark, sf_dir).lineitem
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round("l_extendedprice", 0).alias("price_r0"),
        F.abs(F.col("l_discount") - 0.05).alias("disc_dev"),
        F.floor("l_quantity").alias("qty_floor"),
        F.ceil(F.col("l_quantity") / 7).alias("qty_ceil7"),
        quantize(F.pow("l_quantity", F.lit(2)), 4).alias("qty_sq"),
        ratio(F.log(F.col("l_extendedprice"))).alias("price_ln"),
        (F.col("l_quantity").cast("bigint") % 5).alias("qty_mod"),
    )


@query(
    "q_fn_case",
    oracle=(
        "SELECT o_orderkey, o_totalprice, "
        "CASE WHEN o_totalprice >= 300000 THEN 'large' "
        "WHEN o_totalprice >= 100000 THEN 'medium' ELSE 'small' END AS size_class, "
        "CASE o_orderstatus WHEN 'F' THEN 'finished' WHEN 'O' THEN 'open' "
        "ELSE 'other' END AS status_word "
        "FROM orders"
    ),
)
def q_fn_case(spark, sf_dir):
    o = Catalog(spark, sf_dir).orders
    return o.select(
        "o_orderkey",
        "o_totalprice",
        F.when(F.col("o_totalprice") >= 300000, "large")
        .when(F.col("o_totalprice") >= 100000, "medium")
        .otherwise("small")
        .alias("size_class"),
        F.when(F.col("o_orderstatus") == "F", "finished")
        .when(F.col("o_orderstatus") == "O", "open")
        .otherwise("other")
        .alias("status_word"),
    )


@query(
    "q_fn_cast",
    oracle=(
        "SELECT l_orderkey, CAST(l_quantity AS INT) AS qty_int, "
        "CAST(l_orderkey AS VARCHAR) AS okey_str, "
        "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS DOUBLE) AS price_dec, "
        "CAST(l_linenumber AS DOUBLE) AS ln_dbl, "
        "CAST(CAST(l_shipdate AS DATE) AS VARCHAR) AS ship_date "
        "FROM lineitem"
    ),
)
def q_fn_cast(spark, sf_dir):
    """Casts across the SDT-equivalent type lattice
    ([U: cls_tabular_utils.h — SDT_* enum]).  The DECIMAL and DATE casts
    are exercised for real, then normalized back to DOUBLE / ISO string
    on BOTH sides: the cast *values* agree across engines but their
    canonical textual forms (Decimal('100.10') vs 100.1, date vs
    datetime64) do not survive the driver's value-hash otherwise."""
    li = Catalog(spark, sf_dir).lineitem
    return li.select(
        "l_orderkey",
        F.col("l_quantity").cast(T.IntegerType()).alias("qty_int"),
        F.col("l_orderkey").cast(T.StringType()).alias("okey_str"),
        F.col("l_extendedprice")
        .cast(T.DecimalType(18, 2))
        .cast(T.DoubleType())
        .alias("price_dec"),
        F.col("l_linenumber").cast(T.DoubleType()).alias("ln_dbl"),
        F.col("l_shipdate")
        .cast(T.DateType())
        .cast(T.StringType())
        .alias("ship_date"),
    )


@query(
    "q_fn_date_arith",
    oracle=(
        "SELECT o_orderkey, "
        "CAST(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY AS DATE)::VARCHAR AS due_date, "
        "CAST(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS DATE)::VARCHAR AS quarter_out, "
        "CAST(date_trunc('week', o_orderdate) AS DATE)::VARCHAR AS week_start, "
        "CAST(dayofweek(o_orderdate) AS INT) AS dow, "
        "CAST(quarter(o_orderdate) AS INT) AS qtr "
        "FROM orders"
    ),
)
def q_fn_date_arith(spark, sf_dir):
    """Date arithmetic: interval add, week truncation, calendar parts
    (dates normalized to ISO strings for the cross-engine hash)."""
    o = Catalog(spark, sf_dir).orders
    return o.select(
        "o_orderkey",
        F.date_add(F.to_date("o_orderdate"), 30).cast("string").alias("due_date"),
        F.add_months(F.to_date("o_orderdate"), 3).cast("string").alias("quarter_out"),
        F.date_trunc("week", "o_orderdate").cast("date").cast("string").alias("week_start"),
        # Spark numbers Sunday=1, DuckDB Sunday=0 — normalize to 0-based
        (F.dayofweek("o_orderdate") - 1).alias("dow"),
        F.quarter("o_orderdate").alias("qtr"),
    )


@query(
    "q_fn_posexplode",
    oracle=(
        "SELECT p_partkey, words[i] AS word, CAST(i - 1 AS INT) AS pos FROM "
        "(SELECT p_partkey, string_split(p_name, ' ') AS words FROM part), "
        "unnest(generate_series(1, len(words))) t(i)"
    ),
)
def q_fn_posexplode(spark, sf_dir):
    """posexplode(split(...)) — the JVM-side, whole-stage-codegen'd
    hot path that q_udtf's Python table function demonstrates the
    extension surface for; same output, built-in speed."""
    p = Catalog(spark, sf_dir).part
    return p.select(
        "p_partkey", F.posexplode(F.split("p_name", " ")).alias("pos", "word")
    ).select("p_partkey", "word", "pos")


@query(
    "q_fn_bitwise",
    oracle=(
        "SELECT l_orderkey, l_linenumber, "
        "l_orderkey & 255 AS key_and, l_orderkey | 7 AS key_or, "
        "xor(l_orderkey, l_linenumber) AS key_xor, "
        "l_linenumber << 2 AS ln_shl, l_orderkey >> 3 AS key_shr, "
        "(l_orderkey % 2 = 0) <> (l_linenumber % 2 = 0) AS parity_xor "
        "FROM lineitem"
    ),
)
def q_fn_bitwise(spark, sf_dir):
    """Bitwise op surface — present in the reference's op enum
    ([U: cls_tabular_utils.h — SOT_bitwise_and/or, SOT_logical_xor])
    and easy to miss: &, |, xor, shifts on integer keys plus boolean
    XOR (expressed as <> for engine parity)."""
    li = Catalog(spark, sf_dir).lineitem
    return li.selectExpr(
        "l_orderkey",
        "l_linenumber",
        "l_orderkey & 255 AS key_and",
        "l_orderkey | 7 AS key_or",
        "l_orderkey ^ l_linenumber AS key_xor",
        "shiftleft(l_linenumber, 2) AS ln_shl",
        "shiftright(l_orderkey, 3) AS key_shr",
        "(l_orderkey % 2 = 0) != (l_linenumber % 2 = 0) AS parity_xor",
    )


@query(
    "q_fn_regex_extract",
    oracle=(
        "SELECT p_partkey, regexp_extract(p_name, '^(\\w+)', 1) AS first_word, "
        "regexp_extract(p_type, '(\\w+)$', 1) AS last_type_word, "
        "CAST(len(regexp_extract_all(p_name, '[aeiou]')) AS INT) AS n_vowels "
        "FROM part"
    ),
)
def q_fn_regex_extract(spark, sf_dir):
    """Regex capture-group extraction + match counting (both engines
    use the same perl-ish character classes for these patterns)."""
    p = Catalog(spark, sf_dir).part
    return p.select(
        "p_partkey",
        F.regexp_extract("p_name", r"^(\w+)", 1).alias("first_word"),
        F.regexp_extract("p_type", r"(\w+)$", 1).alias("last_type_word"),
        F.expr("size(regexp_extract_all(p_name, '[aeiou]', 0))").alias("n_vowels"),
    )


@query(
    "q_fn_map",
    oracle=(
        "SELECT event_id, json_keys(props)[1] AS first_key, "
        "CAST(len(json_keys(props)) AS INT) AS n_keys, "
        "CAST(json_extract_string(props, '$.k') AS INT) AS k_val "
        "FROM events"
    ),
)
def q_fn_map(spark, sf_dir):
    """MapType surface: props parsed as map<string,int>, then
    map_keys/size/element access — the schema-on-read path when the
    JSON payload's keys are dynamic (vs q_multimodal_json's fixed
    struct)."""
    e = Catalog(spark, sf_dir).events
    m = F.from_json("props", "map<string,int>")
    return e.select(
        "event_id",
        F.map_keys(m).getItem(0).alias("first_key"),
        F.size(F.map_keys(m)).alias("n_keys"),
        m.getItem("k").alias("k_val"),
    )


@query(
    "q_fn_array",
    oracle=(
        "SELECT vec_id, CAST(len(embedding) AS INT) AS dim, "
        "floor((CAST(embedding[1] AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS first_val, "
        "floor((list_aggregate(list_transform(embedding, x -> CAST(x AS DOUBLE)), 'sum')) * 1000000 + 0.5) / 1000000 AS vec_sum, "
        "floor((list_aggregate(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')) * 1000000 + 0.5) / 1000000 AS vec_sq_sum "
        "FROM embeddings"
    ),
)
def q_fn_array(spark, sf_dir):
    """Array ops over the 64-dim embedding column: size, element access,
    higher-order transform + aggregate (all JVM-side, no UDF)."""
    e = Catalog(spark, sf_dir).embeddings
    vec_d = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    return e.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        quantize(F.element_at("embedding", 1).cast("double"), 6).alias("first_val"),
        quantize(
            F.aggregate(vec_d, F.lit(0.0), lambda acc, x: acc + x), 6
        ).alias("vec_sum"),
        quantize(
            F.aggregate(vec_d, F.lit(0.0), lambda acc, x: acc + x * x), 6
        ).alias("vec_sq_sum"),
    )


@query(
    "q_fn_map_json",
    oracle=(
        "SELECT event_type, count(*) AS cnt, "
        "floor((avg(CAST(json_extract_string(props, '$.k') AS INT))) * 1000000 + 0.5) / 1000000 AS avg_k "
        "FROM events GROUP BY event_type"
    ),
)
def q_fn_map_json(spark, sf_dir):
    """JSON extraction from the events.props string column — the
    [EXT] multimodal/semi-structured path (FIXTURES.md).

    The parse is spread across cores BEFORE extraction
    (ensure_parallelism): the fixture's single-row-group parquet scans
    as ONE task, which would serialize 100 % of the per-row parse work
    on one core; the narrow (event_type, props) shuffle costs less
    than the serialized parse (measured sf0.1: 359 → 270 ms median)
    and is a no-op at scale where the input already has thousands of
    splits.  Parser choice (r8-verdict item, tools/exp_map_json.py —
    removed, last present at commit 0295a37;
    interleaved median-of-5/7 at sf0.1 across three sessions): the
    Spark 4 VARIANT path — parse_json once, try_variant_get typed
    extraction — beat get_json_object in every session (314 vs 323,
    425 vs 463, 344 vs 493 ms medians; 6/7 paired samples in the
    confirmation run), so it ships.  from_json's struct hoist stays
    REJECTED (355–421 ms, struct materialization costs more than the
    single-path parse).  At 100 TB the variant encoding also amortizes:
    one binary parse serves every later extraction, where each extra
    get_json_object would re-parse the string."""
    e = Catalog(spark, sf_dir).events
    w = ensure_parallelism(e.select("event_type", "props"))
    # try_parse_json (not parse_json): NULL on malformed rows, matching
    # get_json_object's old null-tolerance -- one bad props row at 100 TB
    # must not fail the query.
    k = F.try_variant_get(
        F.try_parse_json(F.col("props")), "$.k", "int"
    )
    return w.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("cnt"),
        ratio(F.avg(k)).alias("avg_k"),
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


_HISTOGRAM_ORACLE = """
WITH g AS (
  SELECT CAST(least(floor(l_extendedprice / 11000), 9) AS INT) AS bucket,
    CAST(count(*) AS BIGINT) AS cnt
  FROM lineitem GROUP BY 1)
SELECT bucket,
  CAST(bucket * 11000 AS DOUBLE) AS lo,
  CAST(bucket * 11000 + 11000 AS DOUBLE) AS hi,
  cnt,
  floor(cnt * 1.0 / sum(cnt) OVER () * 1000000 + 0.5) / 1000000 AS share
FROM g
"""


@query("q_fn_histogram", oracle=_HISTOGRAM_ORACLE, tags=("pipeline", "agg"))
def q_fn_histogram(spark, sf_dir):
    """Fixed-width histogram of l_extendedprice (10 bins of 11000, top
    bin open): the dataset-profiling pass a pipeline runs before
    choosing filters/curriculum thresholds.  Bin assignment is pure
    integer math (floor-divide), so it partial-aggregates map-side and
    the shuffle carries at most 10 rows regardless of input size; the
    share window runs over those 10 aggregate rows, never over data."""
    li = Catalog(spark, sf_dir).lineitem
    g = li.groupBy(
        F.least(F.floor(F.col("l_extendedprice") / 11000), F.lit(9))
        .cast("int")
        .alias("bucket")
    ).agg(F.count("*").alias("cnt"))
    return g.select(
        "bucket",
        (F.col("bucket").cast("double") * 11000).alias("lo"),
        (F.col("bucket").cast("double") * 11000 + 11000).alias("hi"),
        "cnt",
        quantize(F.col("cnt") / F.sum("cnt").over(Window.partitionBy()), 6).alias(
            "share"
        ),
    )


_STRUCT_ORACLE = """
WITH ranked AS (
  SELECT o_custkey, o_orderkey, o_totalprice,
    CAST(floor(epoch(o_orderdate)) AS BIGINT) AS sec,
    row_number() OVER (PARTITION BY o_custkey
                       ORDER BY floor(epoch(o_orderdate)), o_orderkey) AS rn,
    count(*) OVER (PARTITION BY o_custkey) AS n_orders
  FROM orders)
SELECT o_custkey AS custkey, o_orderkey AS first_orderkey,
  sec AS first_sec,
  floor(o_totalprice * 100 + 0.5) / 100 AS first_price,
  CAST(n_orders AS BIGINT) AS n_orders
FROM ranked WHERE rn = 1
"""


@query("q_fn_struct_ops", oracle=_STRUCT_ORACLE, tags=("functions",))
def q_fn_struct_ops(spark, sf_dir):
    """Struct algebra: per customer, orders are packed into an array of
    structs, array_sort uses the struct's NATURAL lexicographic order
    (epoch sec, then orderkey — deterministic tie-break), and the
    earliest order's fields are projected back out of the nested
    value.  Exercises struct(), collect_list, array_sort on structs,
    element_at and nested-field access; the oracle states the same
    thing relationally (row_number = 1).  One keyed shuffle; the
    per-group array is order-count bounded."""
    o = Catalog(spark, sf_dir).orders
    packed = (
        o.select(
            "o_custkey",
            F.struct(
                F.unix_timestamp("o_orderdate").alias("sec"),
                F.col("o_orderkey").alias("okey"),
                F.col("o_totalprice").alias("price"),
            ).alias("rec"),
        )
        .groupBy("o_custkey")
        .agg(
            F.array_sort(F.collect_list("rec")).alias("recs"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )
    first = F.element_at(F.col("recs"), 1)
    return packed.select(
        F.col("o_custkey").alias("custkey"),
        first.getField("okey").alias("first_orderkey"),
        first.getField("sec").alias("first_sec"),
        money(first.getField("price")).alias("first_price"),
        "n_orders",
    )


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


_TRY_ARITH_ORACLE = """
WITH t AS (
  SELECT o_orderkey,
    CASE WHEN o_orderkey % 7 = 0 THEN 0.0 ELSE CAST(o_orderkey % 5 AS DOUBLE) END
      AS denom,
    o_totalprice
  FROM orders WHERE o_custkey < 100)
SELECT
  CAST(count(*) AS BIGINT) AS n_rows,
  CAST(sum(CASE WHEN denom = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_null_div,
  floor(sum(CASE WHEN denom = 0 THEN NULL
            ELSE o_totalprice / denom END) * 100 + 0.5) / 100
    AS sum_safe_ratio
FROM t
"""


@query("q_fn_try_arith", oracle=_TRY_ARITH_ORACLE, tags=("functions",))
def q_fn_try_arith(spark, sf_dir):
    """Error-safe arithmetic — try_divide yields NULL on a zero
    divisor instead of Infinity (non-ANSI float semantics) or a job
    abort (ANSI mode): the difference between one bad row poisoning a
    100 TB aggregate and that row degrading to NULL.  The oracle
    expresses the identical semantics as an explicit CASE guard, so
    the try_* fast path is proven equivalent to the defensive SQL
    users write by hand.  Pure codegen map + one scalar aggregate."""
    o = Catalog(spark, sf_dir).orders.filter(F.col("o_custkey") < 100)
    t = o.select(
        "o_totalprice",
        F.when(F.col("o_orderkey") % 7 == 0, F.lit(0.0))
        .otherwise((F.col("o_orderkey") % 5).cast("double"))
        .alias("denom"),
    )
    safe = t.withColumn(
        "ratio", F.expr("try_divide(o_totalprice, nullif(denom, 0.0))")
    )
    return safe.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(F.when(F.col("denom") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_null_div"),
        money(F.sum("ratio")).alias("sum_safe_ratio"),
    )


_VARIANT_ORACLE = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS cnt,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT)
         AS sum_k,
       CAST(count(*) AS BIGINT) AS n_missing_null,
       'OBJECT<k: BIGINT>' AS variant_schema
FROM events GROUP BY event_type ORDER BY event_type
"""


@query("q_fn_variant", oracle=_VARIANT_ORACLE, tags=("functions", "semi-structured"))
def q_fn_variant(spark, sf_dir):
    """The VARIANT type — Spark 4's binary semi-structured encoding
    (parse_json once, typed variant_get extraction after): the open
    lakehouse answer to storing JSON as strings and re-parsing per
    access.  Three semantics proven against the JSON-string oracle:
    typed path extraction equals json_extract (sum over every row),
    try_variant_get on an absent path is NULL for EVERY row (never an
    error — n_missing_null == cnt), and schema_of_variant infers the
    stable object shape, pinned as a literal verdict column.  The
    fixture stores props as string so the parse still runs per row
    here; the type's 100 TB payoff is WRITING the variant column to
    parquet once and paying binary field access, not Jackson, on
    every later read — same plan, parse hoisted to ingest."""
    e = Catalog(spark, sf_dir).events
    v = e.select(
        "event_type",
        F.expr("variant_get(parse_json(props), '$.k', 'int')").alias("k"),
        F.expr(
            "try_variant_get(parse_json(props), '$.absent', 'int')"
        ).alias("miss"),
        F.expr("schema_of_variant(parse_json(props))").alias("sch"),
    )
    return (
        v.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("cnt"),
            F.sum("k").cast("bigint").alias("sum_k"),
            F.count_if(F.col("miss").isNull()).cast("bigint").alias(
                "n_missing_null"
            ),
            F.min("sch").alias("variant_schema"),
        )
        .orderBy("event_type")
    )


_COLLATION_ORACLE = """
WITH ws AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
w AS (
  SELECT CASE WHEN i % 2 = 1 THEN upper(toks[i]) ELSE toks[i] END AS w2
  FROM ws, unnest(generate_series(1, len(toks))) t(i)
  WHERE toks[i] <> '')
SELECT CAST(count(*) AS BIGINT) AS n_words,
       CAST(count(DISTINCT w2) AS BIGINT) AS distinct_cs,
       CAST(count(DISTINCT lower(w2)) AS BIGINT) AS distinct_ci
FROM w
"""


@query("q_fn_collation", oracle=_COLLATION_ORACLE, tags=("functions", "text"))
def q_fn_collation(spark, sf_dir):
    """COLLATION-aware comparison — Spark 4 collations make
    case-insensitive equality a property of the COLUMN instead of a
    lower() wrapped around every predicate and join key: the distinct
    count over collate(w, 'UTF8_LCASE') must equal the oracle's
    explicit count(DISTINCT lower(w)).  Case variation is synthesized
    deterministically (every even-position token uppercased —
    1-based/0-based indexing aligned between engines) so the
    case-sensitive and case-insensitive counts provably diverge on
    the same data.  At scale the win is plan-level: a collated
    equi-join or aggregate hashes the collation key directly — no
    derived lower() column to materialize, shuffle, and keep in sync
    on 100 TB of text."""
    d = ensure_parallelism(Catalog(spark, sf_dir).documents)
    w = (
        d.selectExpr("posexplode(split(text, ' ')) AS (pos, w)")
        .filter("w <> ''")
        .selectExpr(
            "CASE WHEN pos % 2 = 0 THEN upper(w) ELSE w END AS w2"
        )
    )
    return w.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_words"),
        F.count_distinct("w2").cast("bigint").alias("distinct_cs"),
        F.count_distinct(F.expr("collate(w2, 'UTF8_LCASE')"))
        .cast("bigint")
        .alias("distinct_ci"),
    )


_SQL_UDF_ORACLE = """
SELECT l_returnflag,
       CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100)
                AS BIGINT)) AS BIGINT) AS rev_cents,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100)
                AS BIGINT)) // count(*) AS BIGINT) AS avg_rev_cents
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


@query("q_fn_sql_udf", oracle=_SQL_UDF_ORACLE, tags=("function", "sql"))
def q_fn_sql_udf(spark, sf_dir):
    """SQL-DEFINED functions (Spark 4 `CREATE FUNCTION ... RETURN
    expr`) + lateral column aliases — the declarative UDF door: the
    business definition (discounted price) lives ONCE as a named SQL
    function, is inlined by Catalyst at plan time (no Python worker,
    no serialization boundary — contrast §2.9's pandas UDFs), and the
    lateral alias derives avg_rev_cents from the rev_cents/n_rows
    aggregate ALIASES in the same SELECT — no subquery, no
    re-aggregation.  Per-row cents quantization before the sum
    keeps both engines integer-exact.  The oracle inlines the same
    expressions — value equality proves the function call IS the
    expression, and the whole plan stays one partial/final aggregate
    over the scan."""
    Catalog(spark, sf_dir).lineitem.createOrReplaceTempView(
        "li_sql_udf_v"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION skyhook_disc_price("
        "p DOUBLE, d DOUBLE) RETURNS DOUBLE RETURN p * (1 - d)"
    )
    return spark.sql(
        "SELECT l_returnflag, "
        "  CAST(sum(CAST(floor("
        "    skyhook_disc_price(l_extendedprice, l_discount) * 100"
        "  ) AS BIGINT)) AS BIGINT) AS rev_cents, "
        "  CAST(count(*) AS BIGINT) AS n_rows, "
        # lateral column aliases: avg derives from the two aggregate
        # ALIASES in the same SELECT — no subquery, no re-aggregation
        "  CAST(rev_cents DIV n_rows AS BIGINT) AS avg_rev_cents "
        "FROM li_sql_udf_v GROUP BY l_returnflag ORDER BY l_returnflag"
    )


_HOF_ORACLE = """
SELECT vec_id,
  CAST(len(list_filter(embedding, x -> x > 0)) AS INT) AS n_pos,
  CAST(len(list_filter(embedding, x -> abs(x) > 2)) > 0 AS BOOLEAN)
    AS has_big,
  CAST(len(list_filter(embedding, x -> abs(x) >= 10)) = 0 AS BOOLEAN)
    AS all_small,
  floor((list_aggregate(list_transform(generate_series(1, len(embedding)),
      i -> CAST(embedding[i] AS DOUBLE) * (i - 1)), 'sum'))
    * 1000000 + 0.5) / 1000000 AS idx_weighted
FROM embeddings
"""


@query("q_fn_higher_order", oracle=_HOF_ORACLE, tags=("function", "array"))
def q_fn_higher_order(spark, sf_dir):
    """The higher-order-lambda surface q_fn_array's transform/aggregate
    pair leaves open: filter (keep positive components), exists (any
    |x| > 2), forall (all |x| < 10), and a position-aware reduction
    (sum of x_i * i via zip_with against a sequence).  All four are
    Catalyst lambda expressions — JVM-evaluated inside whole-stage
    codegen, no Python worker, no explode: the per-row array never
    becomes 64 rows.  At 100 TB that is the difference between a map
    over n rows and a shuffle-prone explode into n x dim rows."""
    e = Catalog(spark, sf_dir).embeddings
    emb_d = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    idx = F.sequence(F.lit(0), F.size("embedding") - 1)

    return e.select(
        "vec_id",
        F.size(F.filter(F.col("embedding"), lambda x: x > 0)).alias("n_pos"),
        F.exists(F.col("embedding"), lambda x: F.abs(x) > 2).alias(
            "has_big"
        ),
        F.forall(F.col("embedding"), lambda x: F.abs(x) < 10).alias(
            "all_small"
        ),
        quantize(
            F.aggregate(
                F.zip_with(emb_d, idx, lambda x, i: x * i.cast("double")),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ),
            6,
        ).alias("idx_weighted"),
    )
