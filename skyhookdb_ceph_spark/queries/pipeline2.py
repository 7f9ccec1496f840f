"""Training-data pipeline operators, round 3 wave 5 (SURVEY.md §2.14)
— histogram profiling, Z-order layout keys (the reference's
sort-on-write / RID-index locality idea re-expressed as a measurable
query), salted skew joins and the exactly-once file sink.

Same house rules as pipeline.py: deterministic (no RNG), every
computed column quantized engine-invariantly and aliased identically
in Spark and oracle SQL.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from skyhookdb_ceph_spark.operators.skew import salted_join
from skyhookdb_ceph_spark.queries._util import Catalog, collect_local, quantize, scratch
from skyhookdb_ceph_spark.registry import query
from skyhookdb_ceph_spark.streaming.replay import drain_to_files, events_stream


# ---------------------------------------------------------------------------
# Histogram profiling (fixed-width bins, one partial-agg pass)
# ---------------------------------------------------------------------------

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


# ---------------------------------------------------------------------------
# Z-order (Morton) layout keys — the RID-index / sort-on-write analog
# ---------------------------------------------------------------------------


def _morton_terms(x: str, y: str, dialect: str) -> str:
    """16-term Morton interleave of two 8-bit ints, exact in both
    engines (shiftright/& in Spark, >>/& in DuckDB; plain int math)."""
    terms = []
    for i in range(8):
        if dialect == "spark":
            bx, by = f"(shiftright({x}, {i}) & 1)", f"(shiftright({y}, {i}) & 1)"
        else:
            bx, by = f"(({x} >> {i}) & 1)", f"(({y} >> {i}) & 1)"
        terms.append(f"{bx} * {1 << (2 * i)}")
        terms.append(f"{by} * {1 << (2 * i + 1)}")
    return " + ".join(terms)


_ZX = "CAST(least(floor(l_extendedprice / 412), 255) AS INT)"
_ZY = "CAST(least(greatest(CAST(l_quantity AS INT) - 1, 0), 255) AS INT)"

_ZORDER_ORACLE = f"""
WITH z AS (
  SELECT CAST(({_morton_terms(_ZX, _ZY, 'duckdb')}) // 1024 AS INT) AS zrange,
    {_ZX} AS x, {_ZY} AS y
  FROM lineitem)
SELECT zrange, CAST(count(*) AS BIGINT) AS cnt,
  min(x) AS min_x, max(x) AS max_x, min(y) AS min_y, max(y) AS max_y
FROM z GROUP BY zrange
"""


@query("q_layout_zorder", oracle=_ZORDER_ORACLE, tags=("pipeline", "layout"))
def q_layout_zorder(spark, sf_dir):
    """Z-order (Morton) layout keys over (price, quantity): interleave
    the bits of two quantized 8-bit dimensions so that sorting by the
    single zkey co-locates rows that are close in BOTH dimensions —
    Spark's analog of the reference's sort-on-write RID locality
    [U: cls_tabular.cc — SIT_IDX_RID; SURVEY §2.11].  The query groups
    rows into coarse z-ranges (zkey div 1024) and reports each range's
    x/y bounding box: tight boxes == tight row-group min/max stats ==
    2-D predicate pruning from a 1-D sort.  operators/layout.py writes
    the actual files; this is the measurable/oracle-checkable core.
    Pure per-row int math + one partial agg, any scale."""
    li = Catalog(spark, sf_dir).lineitem
    z = li.selectExpr(
        f"CAST(({_morton_terms(_ZX, _ZY, 'spark')}) div 1024 AS INT) AS zrange",
        f"{_ZX} AS x",
        f"{_ZY} AS y",
    )
    return z.groupBy("zrange").agg(
        F.count("*").alias("cnt"),
        F.min("x").alias("min_x"),
        F.max("x").alias("max_x"),
        F.min("y").alias("min_y"),
        F.max("y").alias("max_y"),
    )


# ---------------------------------------------------------------------------
# Wave 6: multimodal frame sampling, salted skew join, file-sink streaming
# ---------------------------------------------------------------------------


_SKEW_JOIN_ORACLE = """
SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS cnt,
  floor(sum(o_totalprice) * 100 + 0.5) / 100 AS sum_price
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


@query(
    "q_join_skew_salted",
    oracle=_SKEW_JOIN_ORACLE,
    tags=("pipeline", "join", "skew"),
)
def q_join_skew_salted(spark, sf_dir):
    """Skew-safe fact-dim join via key salting (operators/skew.py
    salted_join): orders' custkey is salted with hash(o_orderkey) mod 8
    and customer is replicated once per salt, joining on (key, salt).
    A plain equi-join funnels a hot key's rows into one shuffle task;
    salting spreads them over n_salts tasks at the cost of replicating
    the (much smaller) dim side — the standing fix when the dim is too
    big to broadcast and AQE's sort-merge skew split doesn't apply.
    The salt is a deterministic hash, so the join result — and the
    per-segment rollup checked here — is identical to the unsalted
    join."""
    c = Catalog(spark, sf_dir)
    joined = salted_join(
        c.orders,
        c.customer,
        "o_custkey",
        "c_custkey",
        F.col("o_orderkey"),
        n_salts=8,
    )
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("cnt"),
        quantize(F.sum("o_totalprice"), 2).alias("sum_price"),
    )


_FILESINK_ORACLE = """
SELECT event_type, CAST(count(*) AS BIGINT) AS cnt,
  floor(sum(value) * 100 + 0.5) / 100 AS sum_value
FROM events
WHERE event_type IN ('click', 'purchase') AND value > 10
GROUP BY event_type
"""


@query(
    "q_stream_filesink",
    oracle=_FILESINK_ORACLE,
    tags=("pipeline", "stream"),
)
def q_stream_filesink(spark, sf_dir):
    """Exactly-once streaming persistence: readStream over the events
    fixture -> stateless filter/projection -> transactional parquet
    FILE sink (streaming/replay.py drain_to_files) -> batch read of
    the committed files -> rollup.  The file sink's _spark_metadata
    commit log lists exactly the files of committed batches, so the
    read-back sees no partial output even if a task died mid-write —
    matching the oracle on the SOURCE proves the sink round-trip is
    lossless and exactly-once.  The streaming stage is a pure map
    (no state, no watermark), so at scale it's one pass per
    micro-batch with zero shuffle.  Scratch: see ``_util.scratch``."""
    with scratch("skyhook_filesink_") as tmp:
        src = (
            events_stream(spark, sf_dir)
            .where(
                F.col("event_type").isin("click", "purchase")
                & (F.col("value") > 10)
            )
            .select("event_id", "event_type", "value")
        )
        committed = drain_to_files(src, f"{tmp}/out")
        out = committed.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("cnt"),
            quantize(F.sum("value"), 2).alias("sum_value"),
        )
        # Materialize before the scratch dir is removed.
        return collect_local(out)
