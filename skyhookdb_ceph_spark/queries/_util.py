"""Shared helpers for query modules.

Oracle-parity rules (SURVEY.md §5.2, FIXTURES.md):
- money/double aggregates rounded to 2 decimals on BOTH sides;
- averages/ratios rounded to 6;
- every computed column aliased identically in Spark and oracle SQL;
- top-k always carries a deterministic tie-break key.

Query lifecycle: a query that writes data stages it in a ``scratch()``
dir, evaluates, and pins its verdict-sized result with
``collect_local()`` before the ``with`` block exits and the dir is
removed — scratch lives exactly until the result is pinned.  Session
confs a query tunes for its own jobs go through ``scoped_conf()``.
Scratch is ``$SPARK_GRAFT_SCRATCH``, else tmpfs, else system temp; at
100 TB ``SPARK_GRAFT_SCRATCH`` MUST be shared storage (s3://...,
hdfs://...) — executors and the driver do not share a local /tmp.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import tempfile

from pyspark.sql import Column
from pyspark.sql import functions as F

from skyhookdb_ceph_spark.catalog import Catalog

__all__ = [
    "Catalog",
    "F",
    "collect_local",
    "local_df",
    "money",
    "MONEY_SQL",
    "ratio",
    "scoped_conf",
    "scratch",
]


def _tmpfs() -> str | None:
    """/dev/shm when present: local round-trips then pay no disk IO."""
    return "/dev/shm" if os.path.isdir("/dev/shm") else None


def _scratch_dir() -> str | None:
    """$SPARK_GRAFT_SCRATCH if set; else tmpfs; else None (system temp)."""
    return os.environ.get("SPARK_GRAFT_SCRATCH") or _tmpfs()


@contextlib.contextmanager
def scratch(prefix: str):
    """A fresh dir ``<prefix><pid>_*`` under ``_scratch_dir()``, removed
    on exit (normal or exceptional).  The pid names the owner, so a
    leak check can tell this process's entries from other processes'
    in a shared scratch root.  Pin anything read from it with
    ``collect_local`` inside the block."""
    d = tempfile.mkdtemp(prefix=f"{prefix}{os.getpid()}_", dir=_scratch_dir())
    try:
        yield d
    finally:
        shutil.rmtree(d, ignore_errors=True)


def collect_local(df):
    """Materialize a SMALL frame and rebuild it as a pure-JVM
    LocalRelation (``local_df``): the result no longer depends on the
    files it was read from."""
    return local_df(df.sparkSession, df.collect(), df.schema)


@contextlib.contextmanager
def scoped_conf(spark, confs: dict[str, str]):
    """Set session confs for the block and restore the previous values
    on exit, exceptions included.  A key never set explicitly restores
    to the effective value it had (its built-in default) — unset and
    set-to-default behave identically."""
    prev = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def local_df(spark, rows, schema):
    """Rebuild a SMALL materialized result as a pure-JVM LocalRelation.

    ``spark.createDataFrame(rows, schema)`` yields a Python-RDD-backed
    plan (``Scan ExistingRDD``): every later action on it — the bench's
    Arrow collect, a parquet write, a broadcast build — must spin up
    Python workers to recompute the partitions (measured 0.3–7 s per
    action on the r16 bench box, pure worker-startup overhead for
    verdict-sized row sets).  Binding the same values as literals of a
    parameterized VALUES clause plans a LocalRelation instead: pure
    JVM, no Python worker in any downstream job, and the outer CASTs
    pin the exact schema the caller materialized.  Falls back to
    createDataFrame for types parameter binding can't carry (arrays,
    structs, binary) and for row sets big enough to bloat the plan —
    the pattern is meant for verdict-sized results, not data."""
    from pyspark.sql import types as T

    if isinstance(schema, str):
        schema = T._parse_datatype_string(schema)  # noqa: SLF001
    ok = (
        T.ByteType,
        T.ShortType,
        T.IntegerType,
        T.LongType,
        T.FloatType,
        T.DoubleType,
        T.StringType,
        T.BooleanType,
        T.DateType,
        T.TimestampType,
        T.TimestampNTZType,
        T.DecimalType,
    )
    fields = schema.fields
    if (
        not rows
        or len(rows) * len(fields) > 20000
        or not all(isinstance(f.dataType, ok) for f in fields)
    ):
        return spark.createDataFrame(rows, schema)
    def lit(v, f) -> str:
        ddl = f.dataType.simpleString()
        if v is None:
            return f"CAST(NULL AS {ddl})"
        if isinstance(f.dataType, T.BooleanType):
            return "TRUE" if v else "FALSE"
        if isinstance(f.dataType, (T.FloatType, T.DoubleType)):
            # repr() is the shortest round-trip decimal form; the
            # string cast re-parses it to the identical binary64
            return f"CAST('{v!r}' AS {ddl})"
        if isinstance(
            f.dataType, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
        ):
            return f"CAST({int(v)} AS {ddl})"
        if isinstance(f.dataType, T.DecimalType):
            return f"CAST('{v}' AS {ddl})"
        if isinstance(f.dataType, T.DateType):
            return f"DATE '{v.isoformat()}'"
        if isinstance(f.dataType, T.TimestampNTZType):
            return f"TIMESTAMP_NTZ '{v.isoformat(sep=' ')}'"
        if isinstance(f.dataType, T.TimestampType):
            return f"TIMESTAMP '{v.isoformat(sep=' ')}'"
        # string: base64-armored so no quoting/escape dialect applies
        import base64

        b64 = base64.b64encode(v.encode("utf-8")).decode("ascii")
        return f"CAST(unbase64('{b64}') AS STRING)"

    values = ", ".join(
        "(" + ", ".join(lit(v, f) for v, f in zip(r, fields)) + ")"
        for r in rows
    )
    cols = ", ".join(f"`{f.name}`" for f in fields)
    return spark.sql(f"VALUES {values} AS t({cols})")


def money(c: Column) -> Column:
    """Quantize money to cents, engine-invariantly — per-row computed
    money and money-valued aggregates alike.

    Spark's round(double, 2) rounds the shortest decimal representation
    (BigDecimal HALF_UP) while DuckDB rounds the binary double, and they
    disagree on half-way values: ~0.2 % of per-row amounts, and
    aggregate sums DO land on half-cent boundaries (q_tpch_q10 found
    one at sf0.01: 307843.595 -> .60 vs .59).  floor(x*100 + 0.5)/100
    uses only IEEE-754 ops that both engines execute identically, so
    the result is bit-identical.  Mirror with MONEY_SQL in the oracle.
    """
    return F.floor(c * 100 + F.lit(0.5)) / 100


MONEY_SQL = "floor(({expr}) * 100 + 0.5) / 100"


def quantize(c: Column, digits: int) -> Column:
    """Engine-invariant n-digit quantization: floor(x*10^n + 0.5)/10^n
    — pure IEEE ops, bit-identical in Spark and DuckDB (unlike round(),
    whose halfway handling differs between the engines)."""
    scale = 10**digits
    return F.floor(c * scale + F.lit(0.5)) / scale


def ratio(c: Column) -> Column:
    """Quantize an average/ratio to 6 decimals, engine-invariantly."""
    return quantize(c, 6)


def _hexval8(hex_expr: str, start: int = 1) -> str:
    """Portable SQL for the integer value of the 8 hex chars of
    `hex_expr` (an md5-hex string expression) starting at 1-based
    `start`.  Only substr/instr/CAST arithmetic — byte-identical in
    Spark SQL and DuckDB.  Result is a non-negative BIGINT < 2^32."""
    terms = " + ".join(
        f"(instr('0123456789abcdef', substr({hex_expr}, {start + i}, 1)) - 1)"
        f" * CAST({16 ** (7 - i)} AS BIGINT)"
        for i in range(8)
    )
    return f"({terms})"


def _hexval8_spark(hexcol: str, start: int = 1) -> str:
    """Spark-only fast path for _hexval8: conv() parses the hex window
    in one call (DuckDB has no conv, so oracles keep the arithmetic
    form — the VALUES are identical, verified by test; measured 1.6x
    faster per pass and far fewer per-row allocations)."""
    return f"CAST(conv(substr({hexcol}, {start}, 8), 16, 10) AS BIGINT)"
