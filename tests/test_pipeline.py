"""Pipeline-level semantics tests (SURVEY §5.3-5.5): idempotency,
late-data correction (CDC/MERGE), additive schema drift."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from integration_octadeskoctadesk_data_pipeline_useuniformes_spark.plans.pipeline import (
    run_batch,
    run_update,
)
from integration_octadeskoctadesk_data_pipeline_useuniformes_spark.sinks import (
    append_with_schema_evolution,
    read_sink,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def sink_path(tmp_path):
    return str(tmp_path / "sink_octadesk")


def test_idempotent_append(spark, sink_path):
    """Running the same window twice must append nothing the second time
    (reference J3/T2: anti-join dedup vs destination)."""
    r1 = run_batch(spark, SF, sink_path)
    assert r1["created"] == 1
    assert r1["appended_rows"] > 0
    assert r1["removed_rows"] == 0

    r2 = run_batch(spark, SF, sink_path)
    assert r2["created"] == 0
    assert r2["appended_rows"] == 0
    assert r2["removed_rows"] == r2["batch_rows"]

    sink = read_sink(spark, sink_path)
    assert sink.count() == r1["appended_rows"]


def test_update_path_corrects_unresolved(spark, sink_path):
    """T3: stale unresolved rows get the fresh status after one MERGE."""
    run_batch(spark, SF, sink_path)

    # tamper: force every 'Aberto' row to a stale bogus status.
    # NOTE: rows with NULL n_ticket are unreachable by the CDC path in the
    # reference too (ticket.py:173-184 UPDATE ... WHERE n_ticket=@id), so
    # the assertions below scope to keyed rows.
    sink = read_sink(spark, sink_path)
    keyed = F.col("n_ticket").isNotNull()
    n_open_before = sink.filter((F.col("status_ticket") == "Aberto") & keyed).count()
    n_rows_before = sink.count()
    stale = sink.withColumn(
        "status_ticket",
        F.when(F.col("status_ticket") == "Aberto", F.lit("EmEspera")).otherwise(
            F.col("status_ticket")
        ),
    )
    import os, shutil, uuid

    staging = sink_path + "_tmp" + uuid.uuid4().hex[:6]
    stale.write.mode("overwrite").parquet(staging)
    shutil.rmtree(sink_path)
    os.rename(staging, sink_path)
    spark.catalog.refreshByPath(sink_path)

    applied = run_update(spark, SF, sink_path)
    assert applied > 0

    after = read_sink(spark, sink_path)
    assert after.filter((F.col("status_ticket") == "EmEspera") & keyed).count() == 0
    assert after.filter((F.col("status_ticket") == "Aberto") & keyed).count() == n_open_before
    # resolved rows were untouched (not in the unresolved key set)
    assert after.count() == n_rows_before


def test_schema_drift_additive(spark, sink_path):
    """S11/P2: a batch with a NEW column evolves the sink additively;
    old rows read back with nulls."""
    run_batch(spark, SF, sink_path)
    base_cols = set(read_sink(spark, sink_path).columns)
    n_before = read_sink(spark, sink_path).count()

    drifted = (
        read_sink(spark, sink_path)
        .limit(5)
        .withColumn("n_ticket", F.concat(F.lit("drift-"), F.col("n_ticket")))
        .withColumn("cf_chat_novo_campo", F.lit("x"))
    )
    append_with_schema_evolution(drifted, sink_path)

    after = read_sink(spark, sink_path)
    assert set(after.columns) == base_cols | {"cf_chat_novo_campo"}
    assert after.count() == n_before + 5
    # additive: old rows null in the new column
    assert after.filter(F.col("cf_chat_novo_campo").isNull()).count() == n_before


def test_merge_insert_unmatched(spark, tmp_path):
    """merge_upsert WHEN NOT MATCHED THEN INSERT path."""
    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark.sinks import merge_upsert

    path = str(tmp_path / "t")
    spark.createDataFrame(
        [("1", "a"), ("2", "b")], "k string, v string"
    ).write.parquet(path)
    updates = spark.createDataFrame([("2", "B"), ("3", "C")], "k string, v string")

    merge_upsert(spark, path, updates, key="k", insert_unmatched=True)
    rows = {r["k"]: r["v"] for r in spark.read.parquet(path).collect()}
    assert rows == {"1": "a", "2": "B", "3": "C"}


def test_versioned_sink_concurrent_writers_serialize(spark, tmp_path):
    """Regression for the read-modify-write race: when a competing
    writer claims version N+1 between our read of latest_version and
    our publish, the manifest link() fails with EEXIST and the commit
    retries at N+2 — no manifest (or appended file list) is lost."""
    import json as _json
    import os as _os

    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark.sinks import (
        versioned as V,
    )

    path = str(tmp_path / "vtab")
    v0 = V.commit_append(spark.range(3).selectExpr("id AS k"), path)
    assert v0 == 0

    # simulate a concurrent writer that wins the v1 slot mid-commit:
    # inject a pre-existing _v1.json the moment our writer tries to link
    interloper = {"version": 1, "files": V._files_of(path, 0)}
    with open(_os.path.join(path, "_v1.json"), "w") as fh:
        _json.dump(interloper, fh)

    v2 = V.commit_append(spark.range(3, 5).selectExpr("id AS k"), path)
    assert v2 == 2, "loser must retry into the next free slot"
    files_v2 = set(V._files_of(path, 2))
    assert set(interloper["files"]) <= files_v2, "winner's files survive"
    got = sorted(r.k for r in V.read_version(spark, path, 2).collect())
    assert got == [0, 1, 2, 3, 4]
