"""Table/column statistics surface (SURVEY.md §2.11 runstats analog).

The reference collects per-object stats to guide selectivity decisions
[U: cls_tabular.cc — exec_runstats_op].  Spark's equivalents:

- `ANALYZE TABLE ... COMPUTE STATISTICS FOR COLUMNS` feeding the CBO
  (enabled in session.py: spark.sql.cbo.enabled);
- AQE runtime statistics (shuffle sizes) re-planning joins mid-query;
- this module's `column_stats`, the user-facing runstats: one
  aggregation pass emitting one row per column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def column_stats(df: DataFrame, cols: list[str]) -> DataFrame:
    """(col, min, max, cnt, ndv) per requested numeric column in ONE
    scan: stack() unpivots the columns to (col, val) rows, then a
    single grouped aggregate computes all stats.  The distinct agg is
    partially deduped per partition before the (col, val) shuffle, so
    network volume is ndv-bounded — the same partial-stats-per-object
    shape as the reference's runstats, but N columns per pass instead
    of N passes."""
    stack_args = ", ".join(f"'{c}', CAST({c} AS DOUBLE)" for c in cols)
    stacked = df.select(
        F.expr(f"stack({len(cols)}, {stack_args}) AS (col, val)")
    )
    return stacked.groupBy("col").agg(
        F.min("val").alias("min_val"),
        F.max("val").alias("max_val"),
        F.count("val").alias("cnt"),
        F.countDistinct("val").alias("ndv"),
    )


def measured_block_width(
    df: DataFrame,
    key: str,
    order_sec: str,
    frame_sec: int,
    target_rows: int,
) -> int | None:
    """Pick a time-block width for decomposing a per-key RANGE window
    from a MEASURED density probe (the window-planning consumer of the
    runstats idea, sibling of skew.max_key_share's join/agg branches).

    One keyed-partial probe job (map-combined: at most keys x
    partitions partial rows cross the wire, reduced to ONE row)
    measures the densest key's row count and the time span; the block
    width is then sized so a (key, block) task holds ~target_rows of
    the densest key:

        width = span * target_rows / max_key_rows

    clamped to >= 4 * frame_sec — the decomposition duplicates the
    trailing frame_sec of each block as contributor-only ghost rows,
    so the clamp caps ghost inflation at 25 %; correctness only needs
    width >= frame_sec (a frame may reach at most ONE block back).
    Returns None when the measured width covers the whole span —
    i.e. the data is too sparse for decomposition to buy parallelism
    and the caller should keep the plain per-key window (both plan
    shapes return identical rows, so callers and oracles never need
    to know which ran).  Static file stats cannot make this call: the
    density that matters is POST-filter, per-key."""
    row = (
        df.groupBy(key)
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.min(order_sec).alias("__lo"),
            F.max(order_sec).alias("__hi"),
        )
        .agg(
            F.max("__n").alias("max_n"),
            (F.max("__hi") - F.min("__lo")).alias("span"),
        )
        .first()
    )
    if row is None or not row["max_n"]:
        return None
    span = int(row["span"] or 0)
    if span <= 0:
        return None
    width = max(4 * frame_sec, span * target_rows // int(row["max_n"]))
    return None if width >= span else int(width)


def measured_shuffle_width(
    df: DataFrame,
    target_rows_per_task: int,
    max_width: int = 4096,
) -> int | None:
    """Pick numPartitions for a keyed exchange from a MEASURED row
    count — the shuffle-sizing consumer of the runstats idea (sibling
    of measured_block_width's window branch and skew.max_key_share's
    join/agg branches).  `spark.sql.shuffle.partitions` is one static
    number for every exchange in the session; the right width for a
    specific keyed shuffle is input-proportional:

        width = ceil(measured_rows / target_rows_per_task)

    Returns None when the input fits in a single task's budget — the
    caller keeps the planner's default plan (at that size the exchange
    cost is noise and an explicit repartition would only add plan
    nodes).  The probe is one count() job; on an unfiltered parquet
    scan Catalyst prunes EVERY column (ReadSchema: struct<>), so the
    count reads row-group metadata plus null bitmaps only — at 100 TB
    the probe touches no data pages, while the exchange it sizes moves
    the whole table.  max_width caps the task count so a huge measured
    input degrades to bigger tasks, not a scheduler flood (AQE's
    coalescing works downward from a too-big width, never upward from
    a too-small one — which is why undersizing is the failure mode
    worth a probe).

    Engine floor (measured, Spark 4.1.2): under a shuffled join,
    EnsureRequirements honors a user repartition width only when it is
    >= spark.sql.shuffle.partitions and rewrites smaller widths up to
    that conf — so the probe only ever WIDENS the exchange beyond the
    static conf, which is exactly the direction AQE cannot go."""
    n = df.count()
    if n <= target_rows_per_task:
        return None
    width = -(-n // target_rows_per_task)  # ceil
    return int(min(width, max_width))


def measured_dim_bytes(
    df: DataFrame,
    string_cols: list[str],
    fixed_bytes_per_row: int = 16,
) -> int:
    """Estimate a dimension's in-memory payload from a MEASURED probe:
    one aggregate job returning row count and total string length, so

        est = rows * fixed_bytes_per_row + sum(string lengths)

    The static alternative — autoBroadcastJoinThreshold against file
    statistics — sees the FULL table's on-disk size; this probe sees
    the post-projection, post-filter dimension actually being joined,
    which can be orders of magnitude smaller (two columns of a wide
    table) or larger (decompressed strings) than the file stat.  One
    aggregate-sized driver row, same cost class as the other probes."""
    from pyspark.sql import functions as F

    # octet_length, not length: length() counts CHARACTERS, so
    # multibyte UTF-8 strings undercount the byte payload and a dim
    # near the broadcast budget could be misclassified (r10 advisory).
    aggs = [F.count(F.lit(1)).alias("__n")] + [
        F.sum(F.octet_length(F.col(c))).alias(f"__l{i}")
        for i, c in enumerate(string_cols)
    ]
    row = df.agg(*aggs).first()
    n = int(row["__n"] or 0)
    strlen = sum(int(row[f"__l{i}"] or 0) for i in range(len(string_cols)))
    return n * fixed_bytes_per_row + strlen


def measured_grid_cell_width(
    a: DataFrame,
    a_ts: str,
    b: DataFrame,
    b_ts: str,
    target_pairs_per_cell: int,
    floor_sec: int = 60,
    coarse_sec: int = 3600,
) -> int | None:
    """Pick the grid-cell width for an interval-overlap equi-join from
    MEASURED arrival rates — the interval-join consumer of the
    runstats idea (sixth measured-stats consumer, after the shuffle
    width, window block width, dim-bytes and the two skew-share
    branches).

    Per-cell join work for a grid-bucketed interval join is
    (rate_a * w) * (rate_b * w): QUADRATIC in the cell width, linear
    in each side's arrival rate.  A static width (one hour) is only
    right at one density — at 100x the arrival rate each hour cell
    holds 100x the rows and per-cell pair work inflates 10,000x,
    which is exactly how a grid join goes quadratic in production.
    One probe job (both sides union-tagged into a single two-group
    aggregate, column-pruned to the timestamp) measures each side's
    arrival rate over its span; the width solves

        (rate_a * w) * (rate_b * w) = target_pairs_per_cell
        w = sqrt(target / (rate_a * rate_b))

    floored at floor_sec (finer cells only multiply the explode
    fan-out — an interval spanning k cells is emitted k times — for
    no balance win) and surrendered as None at coarse_sec or wider:
    the caller keeps its static coarse grid, because the probe just
    proved per-cell work is already under target there.  Correctness
    never depends on the branch — ANY width yields the same pairs
    under the containing-cell responsibility rule — so callers'
    oracles stay branch-invariant, like measured_shuffle_width's."""
    import math

    tagged = a.select(
        F.col(a_ts).alias("__ts"), F.lit(0).alias("__s")
    ).unionAll(b.select(F.col(b_ts).alias("__ts"), F.lit(1).alias("__s")))
    rows = (
        tagged.groupBy("__s")
        .agg(
            F.count(F.lit(1)).alias("__n"),
            (
                F.unix_timestamp(F.max("__ts"))
                - F.unix_timestamp(F.min("__ts"))
            ).alias("__span"),
        )
        .collect()
    )
    if len(rows) < 2:
        return None  # a side is empty: nothing to balance
    rates = []
    for r in rows:
        span = int(r["__span"] or 0)
        if span <= 0 or not r["__n"]:
            return None  # degenerate span: coarse grid is one cell
        rates.append(int(r["__n"]) / span)
    w = int(math.sqrt(target_pairs_per_cell / (rates[0] * rates[1])))
    w = max(floor_sec, w)
    return None if w >= coarse_sec else w
