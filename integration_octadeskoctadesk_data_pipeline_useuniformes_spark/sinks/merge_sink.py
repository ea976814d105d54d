"""Keyed MERGE/upsert sink (S13/T3).

Reference: a serial per-ticket SQL UPDATE loop (ticket.py:173-202,
main.py:155-156). Spark-first: ONE set-oriented merge —

    MERGE INTO sink USING updates ON sink.key = updates.key
    WHEN MATCHED THEN UPDATE SET <cols>

On Delta/Iceberg this is the native MERGE command; on plain parquet (this
environment) it is a read–anti-join–union–rewrite, isolated behind this
function so the backend can be swapped. The rewrite is atomic via
write-to-staging + directory swap.

Scale note: plain-parquet merge rewrites the whole table; the
file-pruned MERGE that rewrites only files holding matched keys is
``sinks/versioned.commit_merge`` (Delta MERGE's shape). The updates
side is broadcast: it is one batch's unresolved keys, small by
construction.
"""

from __future__ import annotations

import os
import shutil
import uuid as _uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .append_sink import read_sink


def _apply_updates(sink: DataFrame, updates: DataFrame, key: str) -> DataFrame:
    """WHEN MATCHED THEN UPDATE as a column substitution: row identity
    preserved, overlapping columns overwritten from the (broadcast)
    update row, update-only columns added as additive evolution. The
    kernel of both this sink's ``merge_upsert`` and the versioned
    sink's file-pruned ``commit_merge``."""
    set_cols = [c for c in updates.columns if c != key]
    u = updates.select(
        key,
        F.lit(True).alias("__matched"),
        *[F.col(c).alias(f"__u_{c}") for c in set_cols],
    )
    joined = sink.join(F.broadcast(u), key, "left")
    out_cols = [F.col(key)]
    for c in sink.columns:
        if c == key:
            continue
        if c in set_cols:
            out_cols.append(
                F.when(F.col("__matched"), F.col(f"__u_{c}")).otherwise(F.col(c)).alias(c)
            )
        else:
            out_cols.append(F.col(c))
    for c in set_cols:
        if c not in sink.columns:
            out_cols.append(F.when(F.col("__matched"), F.col(f"__u_{c}")).alias(c))
    return joined.select(*out_cols)


def merge_upsert(
    spark: SparkSession,
    sink_path: str,
    updates: DataFrame,
    key: str,
    insert_unmatched: bool = False,
) -> int:
    """Set-oriented upsert of ``updates`` into the parquet table at
    ``sink_path`` on ``key``. Returns the number of update rows applied.

    WHEN MATCHED: every sink row with that key gets its overlapping
    columns overwritten from the update row — exactly the reference's
    ``UPDATE ... WHERE n_ticket=@id`` (all matching rows, other columns
    untouched, row identity preserved). Update-only columns are added to
    the sink (additive schema evolution). WHEN NOT MATCHED: update rows
    are inserted only when ``insert_unmatched``.
    """
    sink = read_sink(spark, sink_path)
    updates = updates.dropDuplicates([key])
    n_updates = updates.count()
    merged = _apply_updates(sink, updates, key)

    if insert_unmatched:
        sink_keys = sink.select(key).distinct()
        inserts = updates.join(F.broadcast(sink_keys), key, "left_anti")
        merged = merged.unionByName(inserts, allowMissingColumns=True)

    staging = f"{sink_path}__staging_{_uuid.uuid4().hex[:8]}"
    merged.write.mode("overwrite").parquet(staging)
    old = f"{sink_path}__old_{_uuid.uuid4().hex[:8]}"
    os.rename(sink_path, old)
    os.rename(staging, sink_path)
    shutil.rmtree(old)
    # drop any cached file listing for the swapped directory
    spark.catalog.refreshByPath(sink_path)
    return n_updates
