"""Join operators (SURVEY §2.4 J1-J5).

The reference's joins are pandas merges (chat.py:119-132, main.py:91,
manutencao.py:12-62). Spark-first mappings:

- J1 full outer with pandas-style suffixes → deterministic pre-rename of
  the overlapping columns, then a single equi-join Catalyst can plan as
  sort-merge (or broadcast under AQE if one side is small).
- J2 left equi-join → plain ``df.join(..., "left")``.
- J3 anti-join dedup vs destination → ``left_anti`` with an explicitly
  broadcast key set: the probe side is the *distinct keys* of one batch,
  small by construction, so the big fact side never shuffles.
- J4 positional zip-join → intentionally absent: in Spark the kv columns
  are computed on the same row (operators.kv), so no join is needed.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def full_outer_with_suffixes(
    left: DataFrame,
    right: DataFrame,
    left_key: Column,
    right_key: Column,
    suffixes: tuple[str, str] = ("_chat", "_ticket"),
) -> DataFrame:
    """Full outer equi-join with pandas-style suffix disambiguation.

    Re-expresses reference chat.py:119-132: overlapping non-key column
    names get the respective suffix BEFORE the join (Spark forbids
    ambiguous duplicates), then a single full-outer equi-join. Key
    expressions are evaluated on pre-rename columns.
    """
    overlap = set(left.columns) & set(right.columns)
    lsuf, rsuf = suffixes

    lkey = left_key  # resolve against original frames before renaming
    rkey = right_key
    left2 = left.select(
        *[F.col(c).alias(c + lsuf if c in overlap else c) for c in left.columns],
        lkey.alias("__lkey"),
    )
    right2 = right.select(
        *[F.col(c).alias(c + rsuf if c in overlap else c) for c in right.columns],
        rkey.alias("__rkey"),
    )
    joined = left2.join(right2, left2["__lkey"] == right2["__rkey"], "full_outer")
    # Plain (null-rejecting) equality, NOT eqNullSafe. The reference's
    # astype(str) turns NaN keys into the literal "nan" before its merge
    # (main.py:96-98), so pandas accidentally matches all null-keyed rows
    # with each other — an artifact, and at scale a single giant skew key
    # that cross-joins every keyless row on both sides. We implement the
    # evident intent (SURVEY §0.1): null keys match nothing, unmatched
    # rows on both sides are still retained by the full outer.
    return joined.drop("__lkey", "__rkey")


def anti_dedup(
    batch: DataFrame,
    sink_keys: DataFrame,
    batch_key: str,
    sink_key: str | None = None,
) -> DataFrame:
    """J3 — drop batch rows whose key already exists in the destination.

    Mirrors reference manutencao.py:12-62 (``~df[col].isin(existing)``):
    null-keyed batch rows are KEPT (null matches nothing). The key set is
    broadcast — it is the distinct keys of one ingest batch, small by
    construction, so the fact side needs no shuffle at any scale.
    """
    sink_key = sink_key or batch_key
    probe = sink_keys.select(F.col(sink_key).alias(batch_key)).distinct()
    return batch.join(F.broadcast(probe), batch_key, "left_anti")
