"""DuckDB side of the checks: views over the generated files and the
strict result comparison.

``compare`` is a frozen copy of the strict comparison in
``tools/parity_check.py`` (columns sorted by name, rows sorted by all
columns, dtypes and exact values compared), kept here so that the
benchmark's notion of a correct answer cannot drift with the tools.
"""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pandas as pd

from gen import TABLES


def connect(sf_dir: str | None = None) -> duckdb.DuckDBPyConnection:
    """An in-memory DuckDB, spilling under the run's work directory,
    with a view per generated table of ``sf_dir``."""
    con = duckdb.connect()
    spill = os.path.join(os.environ.get("PERFBENCH_WORK", "."), "duckdb-tmp")
    con.execute(f"SET temp_directory = '{spill}'")
    for t in TABLES if sf_dir else ():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def to_pandas(table, schema, timezone: str) -> pd.DataFrame:
    """The pandas frame ``DataFrame.toPandas()`` would have returned for
    a result fetched with ``toArrow()`` (the same conversions, applied
    off the clock)."""
    from pyspark.sql.pandas.types import _create_converter_to_pandas

    names = [f.name for f in schema.fields]
    pdf = table.rename_columns([f"col_{i}" for i in range(table.num_columns)]).to_pandas(
        date_as_object=True, coerce_temporal_nanoseconds=True
    )
    pdf.columns = names
    if not names:
        return pdf
    return pd.concat(
        [
            _create_converter_to_pandas(
                f.dataType, f.nullable, timezone=timezone, struct_in_pandas="dict",
                error_on_duplicated_field_names=False,
            )(ser)
            for (_, ser), f in zip(pdf.items(), schema.fields)
        ],
        axis="columns",
    )


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns), ignore_index=True)


def _norm(col: pd.Series) -> pd.Series:
    if pd.api.types.is_integer_dtype(col.dtype):
        return col.astype("int64")
    if pd.api.types.is_datetime64_any_dtype(col.dtype):
        return col.astype("datetime64[ns]")
    return col


def compare(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when equal, else the first differences found."""
    if sorted(got.columns) != sorted(want.columns):
        return f"schema: got={sorted(got.columns)} want={sorted(want.columns)}"
    if len(got) != len(want):
        return f"rows: got={len(got)} want={len(want)}"
    s, o = _canon(got), _canon(want)
    errs = []
    for c in s.columns:
        sv, ov = _norm(s[c]).to_numpy(), _norm(o[c]).to_numpy()
        if sv.dtype != ov.dtype:
            errs.append(f"dtype[{c}]: got={sv.dtype} want={ov.dtype}")
            continue
        if sv.dtype == object:
            for i, (a, b) in enumerate(zip(sv, ov)):
                na = a is None or (isinstance(a, float) and pd.isna(a))
                nb = b is None or (isinstance(b, float) and pd.isna(b))
                if na and nb:
                    continue
                if na != nb or type(a) is not type(b) or a != b:
                    errs.append(f"value[{c}][{i}]: {a!r} != {b!r}")
                    break
        else:
            eq = (sv == ov) | (pd.isna(sv) & pd.isna(ov))
            if not eq.all():
                i = int(np.argmin(eq))
                errs.append(f"value[{c}][{i}]: {sv[i]!r} != {ov[i]!r}")
    return "; ".join(errs) if errs else None


def parquet_glob(path: str) -> str:
    return f"read_parquet('{path}/*.parquet', union_by_name=true)"


def multiset_diff(con, a_sql: str, b_sql: str, cols: list[str]) -> tuple[int, int]:
    """Rows of ``a`` missing from ``b`` and rows of ``b`` missing from
    ``a``, as multisets over ``cols``."""
    sel = ", ".join(f'"{c}"' for c in cols)
    a = f"SELECT {sel} FROM ({a_sql})"
    b = f"SELECT {sel} FROM ({b_sql})"
    only_a = con.execute(f"SELECT count(*) FROM ({a} EXCEPT ALL {b})").fetchone()[0]
    only_b = con.execute(f"SELECT count(*) FROM ({b} EXCEPT ALL {a})").fetchone()[0]
    return only_a, only_b
