"""Pipeline assemblies reproducing the reference's entry points (SURVEY §3).

Entry point 1 (main.py:32-156): extract → shape → integrate → enrich →
sanitize → dedup-vs-destination → append.
Entry point 2 (update_tickets.py): unresolved keys → fresh state →
set-oriented MERGE.

Everything before the sink is ONE lazy plan — Catalyst sees extract
through dedup as a single tree (the reference executes 13 eager steps).
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from ..operators.joins import anti_dedup
from ..operators.project import audit_column
from ..sinks import (
    append_with_schema_evolution,
    create_if_not_exists,
    merge_upsert,
    read_sink,
)
from ..tables import tickets_view
from .queries_cov import pipeline_integrate_full

#: seed schema of the destination (reference main.py:131-132)
SINK_SEED_SCHEMA = StructType(
    [
        StructField("chat_id", StringType()),
        StructField("n_ticket", StringType()),
    ]
)

# manutencao.py:22-57 dedups on number then n_ticket, sequentially. Rows
# null in BOTH business keys (tickets without a number) slip past the
# reference's anti-join and re-append every run; our uuid fill is
# deterministic (md5, not uuid4 — P7), so deduping on uuid as well makes
# the batch genuinely idempotent. Conscious deviation from the reference.
DEDUP_KEYS = ("number", "n_ticket", "uuid")


def run_batch(spark: SparkSession, sf_dir: str, sink_path: str) -> dict[str, int]:
    """Entry point 1. Returns counts for observability (reference prints
    removed-row counts, manutencao.py:59-60).

    The counts are ``Observation`` metrics (CollectMetrics plan nodes)
    collected DURING the sink write — eager ``.count()`` calls here would
    execute the whole extract→integrate plan three times (twice to count,
    once to write), which at 100 TB is two full wasted passes.
    """
    from pyspark.sql import Observation

    batch = audit_column(pipeline_integrate_full(spark, sf_dir))

    created = create_if_not_exists(spark, sink_path, SINK_SEED_SCHEMA)

    obs_before = Observation()
    batch = batch.observe(obs_before, F.count(F.lit(1)).alias("n"))
    # one read of the sink: each is a mergeSchema read that launches its
    # own schema-resolution job, and nothing writes the sink until the
    # append below
    sink_df = read_sink(spark, sink_path)
    for key in DEDUP_KEYS:
        # a key column exists in the sink only after the first evolved
        # append (seed schema is chat_id/n_ticket, main.py:131-132) —
        # nothing to dedup against until then
        if key not in sink_df.columns or key not in batch.columns:
            continue
        sink_keys = sink_df.select(key).na.drop().distinct()
        batch = anti_dedup(batch, sink_keys, batch_key=key)
    obs_after = Observation()
    batch = batch.observe(obs_after, F.count(F.lit(1)).alias("n"))

    append_with_schema_evolution(batch, sink_path)
    before = int(obs_before.get["n"])
    to_load = int(obs_after.get["n"])
    return {
        "created": int(created),
        "batch_rows": before,
        "appended_rows": to_load,
        "removed_rows": before - to_load,
    }


def run_update(spark: SparkSession, sf_dir: str, sink_path: str) -> int:
    """Entry point 2: one MERGE for all unresolved tickets (replaces the
    reference's serial per-ticket UPDATE loop, main.py:155-156)."""
    sink = read_sink(spark, sink_path)
    unresolved = (
        sink.filter(
            F.col("n_ticket").isNotNull() & (F.col("status_ticket") != "Resolvido")
        )
        .select("n_ticket")
        .distinct()
    )
    # CURRENT state of every ticket — a previously-unresolved ticket that
    # has since resolved must update the sink to 'Resolvido'
    # (ticket.py:151-212 re-fetches by key and writes whatever comes back)
    t = tickets_view(
        spark,
        sf_dir,
        cols=("number", "status_name", "last_status", "channel_name", "requester_email"),
    )
    fresh = t.filter(F.col("number").isNotNull()).select(
        F.col("number").cast("string").alias("n_ticket"),
        F.col("status_name").alias("status_ticket"),
        F.col("last_status").alias("status_ticket2"),
        F.col("channel_name").alias("channel_ticket"),
        F.col("requester_email").alias("email_ticket"),
    )
    updates = fresh.join(F.broadcast(unresolved), "n_ticket")
    return merge_upsert(spark, sink_path, updates, key="n_ticket")
