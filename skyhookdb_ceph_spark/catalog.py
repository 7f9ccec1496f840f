"""Table catalog: name -> partitioned Parquet.

SkyhookDM names a table's partitions ``<table>.0 .. <table>.N-1`` as
RADOS objects and fans queries out over them
[U: src/progly/rados-store-glob.sh — object naming].  Here a table is a
Parquet dataset (one file or a directory of files); Spark's split
planning is the fan-out.  Schemas are explicit per-table (the reference
carries a schema string inside every object,
[U: cls_tabular_utils.h — schemaFromString]); we validate the Parquet
footer schema against the expected column set on load rather than
trusting inference.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# The ten driver fixture tables (TESTDATA.md / FIXTURES.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

class Catalog:
    """Resolves table names to DataFrames for one scale-factor directory."""

    # Semantics-critical SQL confs every query depends on.  The driver
    # harness builds ITS OWN SparkSession (not session.py's), so these
    # must be (re)applied on whatever session reaches us — they are
    # runtime-settable and idempotent.
    _REQUIRED_CONF = {
        # nanos events.parquet reads as raw long (see _fix_event_ts)
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        # timestamp<->date/string conversions must match the UTC oracle
        "spark.sql.session.timeZone": "UTC",
    }

    def __init__(self, spark: SparkSession, sf_dir: str):
        self.spark = spark
        self.sf_dir = sf_dir.rstrip("/")
        for k, v in self._REQUIRED_CONF.items():
            try:
                if spark.conf.get(k, None) != v:
                    spark.conf.set(k, v)
            except Exception:  # noqa: BLE001 — non-settable => keep going
                pass

    def path(self, name: str) -> str:
        return f"{self.sf_dir}/{name}.parquet"

    def table(self, name: str) -> DataFrame:
        if name not in TABLES:
            raise KeyError(f"unknown table {name!r}; known: {TABLES}")
        p = self.path(name)
        # Memoized per (session, sf_dir, table): every spark.read.parquet
        # is a py4j round-trip + a footer read + schema validation on the
        # DRIVER — measured 30-60 ms per table access, paid by every
        # query build.  DataFrames are immutable plan handles, so reuse
        # is safe; the cache dies with the session.  (The analog of the
        # reference keeping per-object schemas resident instead of
        # re-parsing the embedded schema string per request.)
        cache = getattr(self.spark, "_skyhook_graft_tables", None)
        if cache is None:
            cache = {}
            self.spark._skyhook_graft_tables = cache  # noqa: SLF001
        df = cache.get((self.sf_dir, name))
        if df is not None:
            return df
        if not os.path.exists(p):
            raise FileNotFoundError(p)
        df = self.spark.read.parquet(p)
        if name == "events":
            df = self._fix_event_ts(df)
        cache[(self.sf_dir, name)] = df
        return df

    @staticmethod
    def _fix_event_ts(df: DataFrame) -> DataFrame:
        """events.ts is INT64 TIMESTAMP(NANOS) in the fixture parquet.

        With spark.sql.legacy.parquet.nanosAsLong=true (session.py) it
        reads as a raw nanosecond LongType; rebuild a TimestampType by
        integer-truncating to microseconds — byte-identical to how the
        DuckDB oracle reads the same file (ns -> us truncation, verified
        against pyarrow raw values).
        """
        if isinstance(df.schema["ts"].dataType, T.LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return df

    def __getattr__(self, name: str) -> DataFrame:
        if name in TABLES:
            return self.table(name)
        raise AttributeError(name)

    def register_views(self, suffix: str = "") -> None:
        """Register every fixture table as a temp view (SQL entry point).

        Memoized per (session, sf_dir, suffix): registration costs ten
        parquet-footer reads through py4j (~0.4 s), and temp views are
        session-lived, so repeating it for every SQL-door query in one
        session is pure overhead.  Re-registers when sf_dir changes for
        the same suffix (views must track the active scale factor).
        """
        key = (self.sf_dir, suffix)
        cache = getattr(self.spark, "_skyhook_graft_views", None)
        if cache is None:
            cache = {}
            self.spark._skyhook_graft_views = cache  # noqa: SLF001
        if cache.get(suffix) == key:
            return
        for t in TABLES:
            self.table(t).createOrReplaceTempView(t + suffix)
        cache[suffix] = key
