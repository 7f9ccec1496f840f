"""Custom Python DataSource with storage-side filter pushdown — the
architectural mirror of SkyhookDM itself (SURVEY.md §4 "custom-work
verdict" item (a)).

SkyhookDM's design point: the client sends a predicate vector to each
storage object; the OSD evaluates it against the object's rows and
only matching rows cross the network [U: cls_tabular.cc —
exec_query_op; P1][P2].  This source reproduces that split inside
Spark's planner:

- one InputPartition per Parquet ROW GROUP  = one RADOS object;
- `pushFilters` accepts comparison predicates = the query_op predicate
  vector (Catalyst stops re-evaluating what we accept);
- `partitions()` prunes row groups whose min/max statistics cannot
  match = the omap/index consult before reading object bytes;
- `read()` evaluates accepted predicates with Arrow compute INSIDE the
  reader and yields filtered RecordBatches = OSD-side processSkyFb —
  only matching rows cross into the JVM.

The value here is the pushdown CONTRACT, which is what you'd implement
against a real object store (S3 Select / Ceph RGW / a SkyhookDM cluster
itself); the built-in vectorized reader serves plain Parquet everywhere
else in this engine.  At fixture scale the two are close: on the
perfbench 2 MB, 3-row-group layout at 10 % selectivity (4-core box,
warm medians) a query costs 0.21 s through this source with pushdown,
0.25 s without, and 0.25 s through the native reader (BASELINE.md
§E.2).  Each query makes a few Python worker calls (schema, filter
pushdown, partitions, one read per row group); `_pyworker` keeps their
fixed cost to ~20 ms apiece.
"""

from __future__ import annotations

import json
import os
from typing import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    IsNotNull,
    LessThan,
    LessThanOrEqual,
    StringContains,
    StringEndsWith,
    StringStartsWith,
)

# Planner-side observability (the reference's --use-cls experiment
# reported objects touched vs skipped [U: run-query.cc]): partitions()
# records how many row groups the last planning kept vs pruned.  Driver
# side only — read it right after an action for test/bench assertions.
LAST_PLAN_STATS: dict[str, int] = {"total": 0, "planned": 0, "pruned": 0}


def _normalize_schema(schema):
    """Spark's Arrow exchange only accepts microsecond timestamps;
    rewrite any other timestamp unit to us (value-preserving for the
    fixtures' ms data)."""
    import pyarrow as pa

    fields = []
    for f in schema:
        if pa.types.is_timestamp(f.type) and f.type.unit != "us":
            f = pa.field(f.name, pa.timestamp("us", f.type.tz), f.nullable)
        fields.append(f)
    return pa.schema(fields)


class RowGroupPartition(InputPartition):
    def __init__(
        self,
        path: str,
        row_group: int,
        filters: list[Filter],
        lo: int | None = None,
        hi: int | None = None,
    ):
        self.path = path
        self.row_group = row_group
        # the predicate vector ships WITH the partition (the query_op
        # payload of the reference's aio_exec call) — read() never
        # consults reader state.  Cross-QUERY contamination (pushFilters
        # is skipped entirely on filterless plans) is prevented by the
        # fresh-relation contract in read_skyhook().
        self.filters = filters
        # optional ROW SLICE within the group (min_splits mode): Spark's
        # scan-parallelism unit is the row group, so a file with fewer
        # groups than cores serializes all downstream per-row work —
        # slicing trades tiny redundant footer/decode IO for parallel
        # compute.  None = whole group (the at-scale path: a 100 TB
        # table has orders more groups than cores and never slices).
        self.lo = lo
        self.hi = hi


def _to_arrow_expr(f: Filter):
    """Translate a Spark DS filter to a pyarrow compute expression.
    Returns None for shapes we don't handle (left for Spark)."""
    import pyarrow.compute as pc

    if isinstance(f, (EqualTo, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual)):
        col, val = f.attribute[-1], f.value
        field = pc.field(col)
        return {
            EqualTo: field == val,
            GreaterThan: field > val,
            GreaterThanOrEqual: field >= val,
            LessThan: field < val,
            LessThanOrEqual: field <= val,
        }[type(f)]
    if isinstance(f, In):
        return pc.field(f.attribute[-1]).isin(list(f.value))
    if isinstance(f, IsNotNull):
        return pc.field(f.attribute[-1]).is_valid()
    # LIKE family ('abc%' / '%abc' / '%abc%') — the reference's regex
    # predicate class [U: cls_tabular_utils.h — SOT_like]
    if isinstance(f, StringStartsWith):
        return pc.starts_with(pc.field(f.attribute[-1]), pattern=f.value)
    if isinstance(f, StringEndsWith):
        return pc.ends_with(pc.field(f.attribute[-1]), pattern=f.value)
    if isinstance(f, StringContains):
        return pc.match_substring(pc.field(f.attribute[-1]), pattern=f.value)
    return None


def _stats_can_match(f: Filter, stats) -> bool:
    """Row-group min/max pruning for one accepted filter (the omap
    consult): False only when the statistics PROVE no row matches."""
    if stats is None or not stats.has_min_max:
        return True
    lo, hi = stats.min, stats.max
    try:
        if isinstance(f, EqualTo):
            return lo <= f.value <= hi
        if isinstance(f, GreaterThan):
            return hi > f.value
        if isinstance(f, GreaterThanOrEqual):
            return hi >= f.value
        if isinstance(f, LessThan):
            return lo < f.value
        if isinstance(f, LessThanOrEqual):
            return lo <= f.value
        if isinstance(f, In):
            return any(lo <= v <= hi for v in f.value)
        if isinstance(f, StringStartsWith):
            # rows with prefix p sort within [p, p + chr(max)); the
            # group can match only if that range overlaps [lo, hi]
            p = f.value
            return lo[: len(p)] <= p <= hi[: len(p)]
    except TypeError:  # incomparable types -> can't prune
        return True
    return True


class SkyhookReader(DataSourceReader):
    def __init__(self, path: str, pushdown: bool = True, min_splits: int = 1,
                 columns: list[str] | None = None):
        self.path = path
        self.columns = columns  # the declared schema's, decoded in order
        # the reference exposes pushdown as a PER-QUERY flag
        # (--use-cls on/off [U: run-query.cc]); so do we — an A/B knob,
        # not a deployment config.  (A runtime flip of
        # spark.sql.python.filterPushdown.enabled does NOT reach the
        # planning worker — verified empirically.)
        self.pushdown = pushdown
        # minimum scan partitions: when the file has fewer row groups
        # than this, groups are sliced into row ranges so CPU-heavy
        # downstream work (JSON parse, UDFs) parallelizes without a
        # shuffle (BASELINE.md §L.4 — the q_fn_map_json lever)
        self.min_splits = max(1, min_splits)
        self.accepted: list[Filter] = []

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        # one planning = one filter set; the reader instance is reused
        # across plannings of the same DataFrame, so reset accumulated
        # state or a previous query's predicates would leak into this one
        self.accepted = []
        if not self.pushdown:
            yield from filters  # client-side mode: Spark evaluates all
            return
        for f in filters:
            if _to_arrow_expr(f) is not None:
                self.accepted.append(f)  # we evaluate it storage-side
            else:
                yield f  # Spark keeps evaluating this one

    def partitions(self):
        import pyarrow.parquet as pq

        # NON-destructive read of this planning's accepted set (reset
        # happens only in pushFilters): if Spark re-plans the same
        # relation — AQE replan, stage retry — a second partitions()
        # call must still ship the predicate vector with each
        # partition, or the scan would silently return unfiltered rows
        # while Catalyst believes the predicates were evaluated
        # storage-side (round-2 advisory).
        accepted = list(self.accepted)
        md = pq.ParquetFile(self.path).metadata
        col_index = {md.schema.column(i).name: i for i in range(md.num_columns)}
        parts = []
        for rg in range(md.num_row_groups):
            group = md.row_group(rg)
            keep = True
            for f in accepted:
                name = f.attribute[-1]
                if name in col_index:
                    stats = group.column(col_index[name]).statistics
                    if not _stats_can_match(f, stats):
                        keep = False  # proven empty: never read the object
                        break
            if keep:
                parts.append(RowGroupPartition(self.path, rg, accepted))
        if parts and len(parts) < self.min_splits:
            # slice surviving groups into row ranges (post-prune, so a
            # stats-skipped group is never resurrected); each slice
            # re-decodes its group but parallelizes per-row compute
            per = -(-self.min_splits // len(parts))
            sliced = []
            for p in parts:
                n = md.row_group(p.row_group).num_rows
                step = -(-n // per)
                for lo in range(0, n, step):
                    sliced.append(
                        RowGroupPartition(
                            p.path,
                            p.row_group,
                            p.filters,
                            lo,
                            min(lo + step, n),
                        )
                    )
            parts = sliced
        LAST_PLAN_STATS.update(
            total=md.num_row_groups,
            planned=len(parts),
            pruned=md.num_row_groups - len(parts),
        )
        # Spark plans Python data sources in a SEPARATE worker process,
        # so the in-memory stats above never reach the driver under
        # real execution (only direct-call tests see them).  When the
        # observer asks (env var set), persist the counts — the
        # reference's "objects touched vs skipped" metric from the
        # --use-cls experiment [U: run-query.cc].
        stats_file = os.environ.get("SPARK_GRAFT_PLAN_STATS_FILE")
        if stats_file:
            try:
                with open(stats_file, "w") as fh:
                    json.dump(LAST_PLAN_STATS, fh)
            except OSError:
                pass  # observability must never fail the scan
        return parts

    def read(self, partition: RowGroupPartition):
        import pyarrow.parquet as pq

        table = pq.ParquetFile(partition.path).read_row_group(
            partition.row_group, columns=self.columns
        )
        if partition.lo is not None:
            table = table.slice(partition.lo, partition.hi - partition.lo)
        expr = None
        for f in partition.filters:
            e = _to_arrow_expr(f)
            expr = e if expr is None else (expr & e)
        if expr is not None:
            table = table.filter(expr)  # OSD-side predicate evaluation
        yield from table.cast(_normalize_schema(table.schema)).to_batches()


class SkyhookDataSource(DataSource):
    """spark.read.format("skyhook").option("path", ...).load()"""

    @classmethod
    def name(cls) -> str:
        return "skyhook"

    def schema(self):
        import pyarrow.parquet as pq

        from pyspark.sql.pandas.types import from_arrow_schema

        sch = _normalize_schema(
            pq.ParquetFile(self.options["path"]).schema_arrow
        )
        cols = self.options.get("columns")
        if cols:
            import pyarrow as pa

            sch = pa.schema(
                [sch.field(c.strip()) for c in cols.split(",")]
            )
        return from_arrow_schema(sch)

    def reader(self, schema) -> SkyhookReader:
        return SkyhookReader(
            self.options["path"],
            pushdown=self.options.get("pushdown", "true").lower() == "true",
            min_splits=int(self.options.get("min_splits", "1")),
            columns=schema.fieldNames(),
        )

    def streamReader(self, schema) -> "SkyhookStreamReader":
        cols = self.options.get("columns")
        return SkyhookStreamReader(
            self.options["path"],
            n_chunks=int(self.options.get("chunks", "4")),
            columns=[c.strip() for c in cols.split(",")] if cols else None,
        )


def register(spark) -> None:
    try:  # runtime-settable; the driver's bare session won't have it
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    except Exception:  # noqa: BLE001
        pass
    spark.dataSource.register(SkyhookDataSource)


def read_skyhook(spark, path: str):
    """Load one table through the pushdown source.

    ALWAYS load a fresh DataFrame per query: Spark (4.1) caches the
    planned Python-DS scan on the relation instance, so a query with
    pushed filters poisons later filter-less queries on the SAME
    DataFrame (verified empirically; tests/test_skyhook_source.py
    pins both the correct fresh-relation behavior and the hazard).
    """
    register(spark)
    return spark.read.format("skyhook").option("path", path).load()


def read_skyhook_no_pushdown(spark, path: str):
    """Client-side-filtering twin of read_skyhook — every object ships
    whole and Spark filters after the boundary (the --use-cls-OFF arm
    of the reference's experiment)."""
    register(spark)
    return (
        spark.read.format("skyhook")
        .option("path", path)
        .option("pushdown", "false")
        .load()
    )


# ---------------------------------------------------------------------------
# Streaming face of the same storage-side source (SURVEY.md §2.18)
# ---------------------------------------------------------------------------


class ChunkPartition(InputPartition):
    """One micro-batch slice of the object: rows [lo, hi)."""

    def __init__(self, path: str, lo: int, hi: int, columns):
        self.path, self.lo, self.hi, self.columns = path, lo, hi, columns


class SkyhookStreamReader(DataSourceStreamReader):
    """Streaming REPLAY over a parquet object with SOURCE-SIDE
    admission control: latestOffset advances at most ONE chunk per
    micro-batch (the maxFilesPerTrigger idea pushed into the source
    itself — the storage tier, not the engine, decides how much a
    batch may ingest), offsets are plain {"chunk": i} dicts
    checkpointed by Spark, partition planning maps each offset range
    to row slices, and read() runs ON EXECUTORS via Arrow — the
    driver never touches data, unlike the SimpleDataSourceStreamReader
    convenience API (which prefetches through the driver and falls
    back to single-batch under AvailableNow — both measured, both the
    reason this is the full reader).  At scale chunk boundaries would
    be row groups / objects; the offset contract is identical."""

    def __init__(self, path: str, n_chunks: int, columns):
        import pyarrow.parquet as pq

        self.path, self.n, self.columns = path, n_chunks, columns
        self.total = pq.ParquetFile(path).metadata.num_rows
        self._served = 0

    def initialOffset(self):
        return {"chunk": 0}

    def latestOffset(self):
        # rate limit: one chunk of new data admitted per micro-batch
        self._served = min(self._served + 1, self.n)
        return {"chunk": self._served}

    def partitions(self, start, end):
        # Restart contract: _served is driver-memory only, but the
        # offsets Spark hands back here come from the CHECKPOINT.  On a
        # restart, a fresh reader's _served counter restarts at 0 and
        # latestOffset could otherwise fall BEHIND the committed start
        # offset (end < start — progress rewound, committed chunks
        # replayed).  Clamping _served to every checkpoint-derived
        # offset Spark shows us recovers the counter from durable state.
        self._served = max(self._served, start["chunk"], end["chunk"])
        return [
            ChunkPartition(
                self.path,
                i * self.total // self.n,
                (i + 1) * self.total // self.n,
                self.columns,
            )
            for i in range(start["chunk"], end["chunk"])
        ]

    def read(self, partition: ChunkPartition):
        # Row-group-targeted: decode ONLY the groups overlapping
        # [lo, hi), then slice inside them.  The previous
        # read-everything-then-slice shape was O(object) per batch —
        # harmless on the single-row-group fixture, quadratic across a
        # replay of a 100 TB multi-group object (every chunk would
        # re-decode the whole file).  Chunk offsets are row positions,
        # so the group walk below is the exact storage analog of
        # "fetch only the RADOS objects this offset range names".
        import pyarrow.parquet as pq

        f = pq.ParquetFile(partition.path)
        off = 0
        groups: list[int] = []
        first_group_start = 0
        for i in range(f.metadata.num_row_groups):
            n = f.metadata.row_group(i).num_rows
            if off + n > partition.lo and off < partition.hi:
                if not groups:
                    first_group_start = off
                groups.append(i)
            off += n
        if not groups:
            return
        t = f.read_row_groups(groups, columns=partition.columns)
        t = t.slice(
            partition.lo - first_group_start, partition.hi - partition.lo
        )
        yield from t.cast(_normalize_schema(t.schema)).to_batches()

    def commit(self, end):
        # Nothing to release (the object is immutable), but commit is
        # the other checkpoint-sourced signal a restarted reader sees —
        # keep the rate-limit counter at-or-past every committed offset.
        self._served = max(self._served, end["chunk"])
