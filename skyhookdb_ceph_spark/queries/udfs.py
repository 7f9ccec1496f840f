"""UDF / UDAF / UDTF surface (SURVEY.md §2.9).

The reference's extension point is a compiled C++ cls plugin registered
into the OSD [U: src/cls/tabular/cls_tabular.cc — CLS_INIT /
cls_register_cxx_method].  The Spark analogs are the sanctioned Python
extension points, all Arrow-vectorized where the API allows:

- scalar pandas UDF: Series -> Series over Arrow batches (the moral
  equivalent of OSD-side vectorized eval — ~10-100x over row-at-a-time);
- grouped-agg pandas UDF: Series -> scalar per group;
- Python UDTF: one row -> many rows, lateral-joined.

UDFs stay the SLOW PATH: every query here has a pure-built-in
equivalent elsewhere in the suite; these exist to prove the extension
surface with oracle-checked semantics.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf, udtf

from skyhookdb_ceph_spark.queries._util import Catalog
from skyhookdb_ceph_spark.registry import query


@pandas_udf(T.DoubleType())
def _revenue_udf(price: pd.Series, discount: pd.Series) -> pd.Series:
    # floor(x*100+0.5)/100: the same engine-invariant quantization as
    # queries/_util.money, in vectorized numpy.
    return np.floor(price * (1 - discount) * 100 + 0.5) / 100


@query(
    "q_udf_pandas_scalar",
    oracle=(
        "SELECT l_orderkey, l_linenumber, "
        "floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) / 100 AS revenue "
        "FROM lineitem"
    ),
    tags=("udf",),
)
def q_udf_pandas_scalar(spark, sf_dir):
    """Arrow-vectorized scalar pandas UDF computing per-row revenue.
    IEEE ops in identical order on both sides make the result
    bit-exact vs the oracle."""
    li = Catalog(spark, sf_dir).lineitem
    return li.select(
        "l_orderkey",
        "l_linenumber",
        _revenue_udf("l_extendedprice", "l_discount").alias("revenue"),
    )


@pandas_udf(T.LongType())
def _cents_sum_udf(value: pd.Series) -> int:
    # Integer-cents accumulation: exact and order-independent, so the
    # grouped aggregate is oracle-comparable without FP tolerance.
    return int(np.floor(value.to_numpy() * 100).sum())


@pandas_udf(T.LongType())
def _count_udf(value: pd.Series) -> int:
    # Spark disallows mixing grouped-agg pandas UDFs with built-in
    # aggregates in one agg(); the count is a pandas UDF too.
    return len(value)


@query(
    "q_udaf_grouped_agg",
    oracle=(
        "SELECT l_returnflag, count(*) AS cnt, "
        "CAST(sum(floor(l_extendedprice * 100)) AS BIGINT) AS price_cents "
        "FROM lineitem GROUP BY l_returnflag"
    ),
    tags=("udf",),
)
def q_udaf_grouped_agg(spark, sf_dir):
    """Grouped-aggregate pandas UDF (UDAF surface): per-group custom
    reduction over Arrow batches.  Spark plans it like any aggregate —
    shuffle on the group key, one Python eval per group partition."""
    li = Catalog(spark, sf_dir).lineitem
    return li.groupBy("l_returnflag").agg(
        _count_udf("l_extendedprice").alias("cnt"),
        _cents_sum_udf("l_extendedprice").alias("price_cents"),
    )


@udtf(returnType="word: string, pos: int")
class _SplitWordsUDTF:
    """Table function: one (text) row -> one row per word with its
    1-based position — the UDTF surface (Spark 4 Python UDTF)."""

    def eval(self, text: str):
        if text is None:
            return
        for i, w in enumerate(text.split(" ")):
            yield w, i + 1


@query(
    "q_udtf",
    oracle=(
        "SELECT p_partkey, words[i] AS word, CAST(i AS INT) AS pos FROM "
        "(SELECT p_partkey, string_split(p_name, ' ') AS words FROM part), "
        "unnest(generate_series(1, len(words))) t(i)"
    ),
    tags=("udf",),
)
def q_udtf(spark, sf_dir):
    """Python UDTF lateral-joined against part: explodes p_name into
    (word, pos) rows.  Hot-path equivalent is posexplode(split(...)) —
    built-in, JVM-side; the UDTF exists to prove the extension surface."""
    spark.udtf.register("skyhook_split_words", _SplitWordsUDTF)
    p = Catalog(spark, sf_dir).part
    return spark.sql(
        "SELECT p.p_partkey, s.word, s.pos "
        "FROM {part} p, LATERAL skyhook_split_words(p.p_name) s",
        part=p,
    )
