"""skyhookdb_ceph_spark — a PySpark-native analytics engine with the
query and data-processing capabilities of SkyhookDM (uccross/skyhookdb-ceph).

SkyhookDM stores table partitions as storage objects and pushes
scan/filter/project/aggregate down into the storage layer; the client
fans out over objects and merges partial results (LeFevre & Maltzahn,
USENIX ;login; 2020; Chakraborty et al., CCGrid 2022).  This engine
re-expresses those semantics Spark-first:

- table partition (RADOS object)      -> Parquet split / Spark task
- storage-side predicate evaluation   -> Catalyst predicate pushdown into
                                         the vectorized Parquet reader
- per-object agg partials + merge     -> partial/final HashAggregate
- omap value/text indexes             -> partition pruning + row-group
                                         stats; inverted-index DataFrame
- cls plugin "UDFs"                   -> Arrow-backed pandas UDFs

Everything is declarative DataFrame/SQL so Catalyst + Tungsten pick the
physical strategy; Python-side loops only where semantics require
(Arrow-batched, never per-row).

NOTE ON CITATIONS: the local reference checkout at /root/reference/ was
empty at build time (see SURVEY.md §0); reference behavior is cited as
upstream paths/symbols `[U: ...]` from public knowledge of
github.com/uccross/skyhookdb-ceph and its published papers.
"""

from skyhookdb_ceph_spark import _pyworker

# Every engine data source and UDF a Python worker unpickles imports
# this package first; inert outside Spark Python workers.
_pyworker.install()

from skyhookdb_ceph_spark.session import get_spark  # noqa: E402
from skyhookdb_ceph_spark.catalog import Catalog, TABLES  # noqa: E402

__all__ = ["get_spark", "Catalog", "TABLES"]
__version__ = "0.1.0"
