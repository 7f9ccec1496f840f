"""Scalar function families (SURVEY.md §2.8).

Reference scalar surface: typed comparisons, arithmetic in the agg
path, regex match, DATE as a storable type
[U: cls_tabular_utils.h — SDT_DATE, SOT_like].  Everything here is
Spark built-ins — JVM-side, inside whole-stage codegen; no Python in
the hot path.
"""

from __future__ import annotations

from pyspark.sql import types as T

from skyhookdb_ceph_spark.operators import ensure_parallelism
from skyhookdb_ceph_spark.queries._util import Catalog, F, quantize, ratio
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
