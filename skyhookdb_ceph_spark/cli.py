"""run-query-compatible CLI (SURVEY.md §3.1).

The reference's entry point is `run-query` with preset queries and a
generic predicate/projection surface
[U: src/progly/run-query.cc — main, --query a|b|d|f|fastpath,
--select-preds "table,col,op,val;...", --project-cols].  This module
reproduces that surface over the Spark engine: presets map to the same
query shapes, --select-preds chains are conjunctions with the same op
names (SOT_* [U: cls_tabular_utils.h]), and the "pushdown" happens via
Catalyst instead of --use-cls.

    python -m skyhookdb_ceph_spark.cli --sf-dir /root/testdata/sf0.001 \
        --table lineitem --select-preds "l_extendedprice,gt,91400" \
        --project-cols l_orderkey,l_extendedprice --output count
"""

from __future__ import annotations

import argparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from skyhookdb_ceph_spark.catalog import Catalog

# SOT_* comparison ops [U: cls_tabular_utils.h — SOT enum] -> Column ops.
_OPS = {
    "lt": lambda c, v: c < v,
    "gt": lambda c, v: c > v,
    "eq": lambda c, v: c == v,
    "ne": lambda c, v: c != v,
    "leq": lambda c, v: c <= v,
    "geq": lambda c, v: c >= v,
    "like": lambda c, v: c.like(str(v)),
    "in": lambda c, v: c.isin(*str(v).split("|")),
    "between": lambda c, v: c.between(*[_coerce(x) for x in str(v).split("|")]),
}


def _coerce(raw: str):
    for cast in (int, float):
        try:
            return cast(raw)
        except ValueError:
            continue
    return raw


def apply_preds(df: DataFrame, select_preds: str) -> DataFrame:
    """';'-chained predicates are ANDed, mirroring the reference's
    --select-preds semantics [U: run-query.cc — select-preds parsing]."""
    for clause in filter(None, select_preds.split(";")):
        col, op, val = clause.split(",", 2)
        if op not in _OPS:
            raise ValueError(f"unknown predicate op {op!r}; known: {sorted(_OPS)}")
        df = df.filter(_OPS[op](F.col(col.strip()), _coerce(val)))
    return df


def preset_query(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The reference's preset corpus [U: run-query.cc — query a/b/d/f,
    fastpath] re-expressed."""
    c = Catalog(spark, sf_dir)
    li = c.lineitem
    if name == "a":  # min/max/sum/count over lineitem measures
        return li.agg(
            F.min("l_extendedprice").alias("min_price"),
            F.max("l_extendedprice").alias("max_price"),
            F.sum("l_extendedprice").alias("sum_price"),
            F.count(F.lit(1)).alias("cnt"),
        )
    if name == "b":  # selectivity-sweep predicate
        return li.filter(F.col("l_extendedprice") > 91400)
    if name == "d":  # point query on the composite key
        return li.filter((F.col("l_orderkey") == 42) & (F.col("l_linenumber") == 1))
    if name == "f":  # regex predicate
        return c.part.filter(F.col("p_name").rlike("red"))
    if name == "fastpath":  # select * (no per-row processing)
        return li
    raise ValueError(f"unknown preset {name!r} (known: a, b, d, f, fastpath)")


def build_query(
    spark: SparkSession,
    sf_dir: str,
    table: str | None = None,
    query: str | None = None,
    select_preds: str = "",
    project_cols: str = "",
    limit: int | None = None,
) -> DataFrame:
    if query:
        df = preset_query(spark, sf_dir, query)
    else:
        if not table:
            raise ValueError("either --query or --table is required")
        df = Catalog(spark, sf_dir).table(table)
    if select_preds:
        df = apply_preds(df, select_preds)
    if project_cols:
        df = df.select(*[col.strip() for col in project_cols.split(",")])
    if limit is not None:
        df = df.limit(limit)
    return df


def run_maintenance(spark: SparkSession, args) -> DataFrame | None:
    """The reference's maintenance entry points [U: run-query.cc —
    --build-index / --transform-db / --runstats; cls_tabular.cc —
    exec_build_sky_index_op, exec_transform_db_op, exec_runstats_op]."""
    cat = Catalog(spark, args.sf_dir)
    if args.build_index:
        from skyhookdb_ceph_spark.operators.text_index import build_text_index

        build_text_index(spark, cat.table(args.table or "documents"), args.out)
        return None
    if args.transform_db:
        from skyhookdb_ceph_spark.operators.layout import write_partitioned

        if not (args.table and args.partition_by):
            raise ValueError("--transform-db needs --table and --partition-by")
        write_partitioned(
            cat.table(args.table),
            args.out,
            partition_cols=args.partition_by.split(","),
            sort_cols=args.sort_by.split(",") if args.sort_by else None,
        )
        return None
    if args.runstats:
        from skyhookdb_ceph_spark.operators.stats import column_stats

        if not (args.table and args.cols):
            raise ValueError("--runstats needs --table and --cols")
        return column_stats(cat.table(args.table), args.cols.split(","))
    return None


def _emit(df: DataFrame, args) -> None:
    """Print the plan (--explain) or deliver the rows (--output)."""
    if args.explain:
        from skyhookdb_ceph_spark.plans.explain import explain_str

        print(explain_str(df))
    elif args.output == "show":
        df.show(args.num_rows, truncate=False)
    elif args.output == "count":
        print(df.count())
    elif args.output.startswith("parquet:"):
        df.write.mode("overwrite").parquet(args.output.split(":", 1)[1])
    else:
        raise ValueError(f"unknown --output {args.output!r}")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(
        prog="skyhookdb_ceph_spark.cli", description=__doc__
    )
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ap.add_argument("--query", help="preset: a | b | d | f | fastpath")
    ap.add_argument(
        "--query-id",
        help="run any registered SURVEY.md §2 QueryID (q_*); "
        "--list-queries prints them",
    )
    ap.add_argument(
        "--list-queries",
        action="store_true",
        help="list every registered QueryID and exit",
    )
    ap.add_argument(
        "--explain",
        action="store_true",
        help="print the formatted physical plan instead of executing",
    )
    ap.add_argument("--table", help="table name for generic queries")
    ap.add_argument(
        "--select-preds", default="", help='e.g. "l_extendedprice,gt,91400;l_quantity,lt,24"'
    )
    ap.add_argument("--project-cols", default="", help="comma-separated columns")
    ap.add_argument("--limit", type=int)
    ap.add_argument(
        "--output", default="show", help="show | count | parquet:<path>"
    )
    ap.add_argument("--num-rows", type=int, default=20)
    # maintenance ops (reference: exec_build_sky_index_op etc.)
    ap.add_argument("--build-index", action="store_true")
    ap.add_argument("--transform-db", action="store_true")
    ap.add_argument("--runstats", action="store_true")
    ap.add_argument("--out", help="output path for --build-index/--transform-db")
    ap.add_argument("--partition-by", default="", help="for --transform-db")
    ap.add_argument("--sort-by", default="", help="for --transform-db")
    ap.add_argument("--cols", default="", help="for --runstats")
    args = ap.parse_args(argv)

    if args.list_queries:
        from skyhookdb_ceph_spark.registry import load_all

        for name, spec in sorted(load_all().items()):
            print(f"{name}\t{','.join(spec.tags) or '-'}")
        return 0

    from skyhookdb_ceph_spark.session import get_spark

    spark = get_spark(app_name="skyhook_cli")
    if args.query_id:
        # The full registry as a user surface: every SURVEY.md §2
        # operator runnable from the shell, same (spark, sf_dir)
        # contract the driver uses.
        from skyhookdb_ceph_spark.registry import load_all

        specs = load_all()
        if args.query_id not in specs:
            raise SystemExit(
                f"unknown QueryID {args.query_id!r}; "
                "use --list-queries to enumerate"
            )
        _emit(specs[args.query_id].fn(spark, args.sf_dir), args)
        return 0
    if args.build_index or args.transform_db or args.runstats:
        result = run_maintenance(spark, args)
        if result is not None:
            result.show(args.num_rows, truncate=False)
        else:
            print("ok")
        return 0
    df = build_query(
        spark,
        args.sf_dir,
        table=args.table,
        query=args.query,
        select_preds=args.select_preds,
        project_cols=args.project_cols,
        limit=args.limit,
    )
    _emit(df, args)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
