"""Output checks: registry answers against the DuckDB oracle, compared
the way tools/verify_local.py compares them (canon_df)."""

from __future__ import annotations

import hashlib
import json
import os

import pandas as pd
import pyarrow as pa


def to_pandas(table: pa.Table, schema, spark) -> pd.DataFrame:
    """The pandas frame DataFrame.toPandas() would build from the same
    Arrow batches, so the canonical form matches verify_local's."""
    from pyspark.sql.pandas.types import _create_converter_to_pandas

    names = [f.name for f in schema.fields]
    if table.num_rows:
        pdf = table.rename_columns([f"col_{i}" for i in range(table.num_columns)]).to_pandas(
            date_as_object=True, coerce_temporal_nanoseconds=True
        )
        pdf.columns = names
    else:  # no batches collected: toPandas starts from an untyped frame
        pdf = pd.DataFrame(columns=names)
    if not names:
        return pdf
    tz = spark._jsparkSession.sessionState().conf().sessionLocalTimeZone()  # noqa: SLF001
    return pd.concat(
        [
            _create_converter_to_pandas(
                f.dataType, f.nullable, timezone=tz, struct_in_pandas="dict",
                error_on_duplicated_field_names=True,
            )(ser)
            for (_, ser), f in zip(pdf.items(), schema.fields)
        ],
        axis="columns",
    )


class Oracle:
    """DuckDB views over the fixture directory; answers are cached on
    disk, keyed by the SHA-256 of the oracle SQL and the fixture key."""

    def __init__(self, fixture_dir: str, fixture_key: str, cache_dir: str):
        self.fixture_dir = fixture_dir
        self.fixture_key = fixture_key
        self.cache_dir = cache_dir
        self._con = None

    def _connect(self):
        import duckdb

        from skyhookdb_ceph_spark.catalog import TABLES

        con = duckdb.connect()
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{self.fixture_dir}/{t}.parquet')"
            )
        return con

    def answer(self, sql: str):
        from tools.verify_local import canon_df

        key = hashlib.sha256(f"{self.fixture_key}\0{sql}".encode()).hexdigest()
        path = os.path.join(self.cache_dir, f"{key}.json")
        try:
            with open(path) as fh:
                cols, kinds, rows = json.load(fh)
            return cols, kinds, [tuple(r) for r in rows]
        except (OSError, ValueError):
            pass
        if self._con is None:
            self._con = self._connect()
        cols, kinds, rows = canon_df(self._con.execute(sql).fetchdf())
        os.makedirs(self.cache_dir, exist_ok=True)
        tmp = f"{path}.{os.getpid()}"
        with open(tmp, "w") as fh:
            json.dump([cols, kinds, rows], fh)
        os.replace(tmp, path)
        return cols, kinds, rows

    def check_table(self, sql: str, table: pa.Table, make_pdf) -> str | None:
        """Check an Arrow answer.  An answer whose exact digest matches
        one already verified against this oracle SQL is accepted without
        canonicalising it again (canon_df is row-by-row Python)."""
        from measure import digest

        key = hashlib.sha256(
            f"{self.fixture_key}\0{sql}\0{table.schema}\0{digest(table, None)}".encode()
        )
        marker = os.path.join(self.cache_dir, f"{key.hexdigest()}.verified")
        if os.path.exists(marker):
            return None
        why = self.check(sql, make_pdf())
        if why is None:
            os.makedirs(self.cache_dir, exist_ok=True)
            open(marker, "w").close()
        return why

    def check(self, sql: str, pdf: pd.DataFrame) -> str | None:
        """None when the Spark frame matches the oracle; else the reason."""
        from tools.verify_local import canon_df

        s_cols, s_kinds, s_rows = canon_df(pdf)
        o_cols, o_kinds, o_rows = self.answer(sql)
        if s_cols != o_cols:
            return f"cols spark={s_cols} oracle={o_cols}"
        if s_kinds != o_kinds:
            return f"dtype kinds spark={s_kinds} oracle={o_kinds}"
        if len(s_rows) != len(o_rows):
            return f"rowcount spark={len(s_rows)} oracle={len(o_rows)}"
        if s_rows != o_rows:
            i = next(i for i, (a, b) in enumerate(zip(s_rows, o_rows)) if a != b)
            return f"values differ at sorted row {i}"
        return None

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
            self._con = None
