"""Projection / column-maintenance operators (SURVEY §2.2 P1-P7)."""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DataType


def ensure_columns(df: DataFrame, expected: Mapping[str, DataType | str]) -> DataFrame:
    """P2 — add any absent expected column as typed NULLs (main.py:85-87)."""
    existing = {c.lower() for c in df.columns}
    to_add = {c: t for c, t in expected.items() if c.lower() not in existing}
    if not to_add:
        return df
    return df.withColumns({c: F.lit(None).cast(t) for c, t in to_add.items()})


def audit_column(df: DataFrame, name: str = "upload") -> DataFrame:
    """P6 — constant run-timestamp audit column (main.py:110-112).

    current_timestamp() is per-query constant (evaluated once at plan
    time), exactly the reference's single ``datetime.now`` per run.
    """
    return df.withColumn(name, F.date_trunc("second", F.current_timestamp()))


def fill_null_keys(
    df: DataFrame,
    key_col: str = "uuid",
    generator: Column | None = None,
    flag_col: str | None = None,
) -> DataFrame:
    """P7 — fill null/blank keys with a generated id (main.py:106-108).

    Default generator is uuid() like the reference; tests inject a
    deterministic generator so results stay oracle-comparable. Adds a
    ``{key}_was_null`` boolean so pipelines can audit the fill.
    """
    generator = generator if generator is not None else F.expr("uuid()")
    flag = flag_col or f"{key_col}_was_null"
    is_blank = F.col(key_col).isNull() | (F.trim(F.col(key_col)) == "")
    return df.withColumn(flag, is_blank).withColumn(
        key_col, F.when(is_blank, generator).otherwise(F.col(key_col))
    )
