"""Self-tests of the benchmark: every workload runs briefly at sf0.01
and passes its checks, and each check fails on a planted error in the
program's output (a dropped row, a changed ticket status, a count or a
rollup measure off by one, a duplicated key).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import glob
import json
import os
from importlib import import_module

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

import daily_etl
import oracle
import query_mix
from harness import PKG, Ops, PassClock, pin_environment, start_session, stop_session
from offload import Helper
from procstat import TreeMeter
from tracing import Tracer

SF = 0.01


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("perfbench"))
    pin_environment(work, 2, "2g")
    session = start_session()
    yield session
    stop_session(session)


@pytest.fixture(scope="module")
def helper(spark):
    # started after the environment is pinned, and ended before the JVM
    h = Helper()
    yield h
    h.close()


def run(mod, spark, helper, work, passes: int, trace: bool = False):
    wl = mod.Workload(3, str(work), Tracer(trace), helper, sf=SF)
    wl.prepare()
    wl.bind(spark)
    ops = Ops()
    for i in range(passes):
        wl.run_pass(i, PassClock(TreeMeter()), ops)
        wl.end_pass()
        wl.tracer.end_pass()
    return wl, ops


def _change_first(df, key: str, column: str, value):
    """``df`` with ``column`` of the row with the smallest ``key`` set to ``value``."""
    first = df.agg(F.min(key)).first()[0]
    return df.withColumn(column, F.when(F.col(key) == first, value).otherwise(F.col(column)))


def test_query_mix_checks_and_catches_a_dropped_row(spark, helper, tmp_path):
    wl, ops = run(query_mix, spark, helper, tmp_path, passes=2)
    wl.finish(ops)
    assert (ops.attempted, ops.failed) == (2 * len(query_mix.QUERIES), 0), ops.errors
    # the two queries checked against their first pass in a run match
    # their oracles here, where the oracles are quick
    con = oracle.connect(wl.sf_dir)
    tz = spark.conf.get("spark.sql.session.timeZone")
    for name in query_mix.SLOW_ORACLES:
        schema = StructType.fromJson(json.loads(wl.schemas[name]))
        got = oracle.to_pandas(query_mix.load_arrow(wl._result(name)), schema, tz)
        assert oracle.compare(got, con.execute(wl.catalog.oracle_sql()[name]).df()) is None, name
    con.close()
    # one oracle-checked query and one checked against its first pass
    for name in ("j1_full_outer_integrate", "x_dedup_lsh_band_tuning"):
        kept = query_mix.load_arrow(wl._result(name))
        query_mix.save_arrow(kept.slice(1), wl._result(name))  # one row dropped
        planted = Ops(attempted=ops.attempted)
        wl.finish(planted)
        query_mix.save_arrow(kept, wl._result(name))
        assert planted.failed == 1 and planted.errors[0].startswith(name), planted.errors


@pytest.fixture(scope="module")
def etl(spark, helper, tmp_path_factory):
    """Two clean days of daily_etl, traced."""
    return run(daily_etl, spark, helper, tmp_path_factory.mktemp("etl"), passes=2, trace=True)


def test_daily_etl_passes_its_checks(etl):
    wl, ops = etl
    # two operations a day: the batch half and the micro-batch
    assert (ops.attempted, ops.failed) == (4, 0), ops.errors
    assert wl.tracer.passes[1]["plans.pipeline.removed_rows"] > 0
    assert wl.tracer.passes[1]["streaming.input_rows"] > 0


def _planted_day(wl, day: int, monkeypatch, owner, attr: str, make) -> str:
    """Run one batch half with ``owner.attr`` replaced by ``make(real)``
    and return its error; the patch is undone before returning."""
    real = getattr(owner, attr)
    monkeypatch.setattr(owner, attr, make(real))
    ops = Ops()
    try:
        wl.run_batch_half(day, PassClock(TreeMeter()), ops)
    finally:
        monkeypatch.setattr(owner, attr, real)
    assert (ops.attempted, ops.failed) == (1, 1), ops.errors
    return ops.errors[0]


def _planted_batch(wl, b: int, monkeypatch, owner, attr: str, make) -> str:
    real = getattr(owner, attr)
    monkeypatch.setattr(owner, attr, make(real))
    ops = Ops()
    try:
        wl.stream.run_pass(b, PassClock(TreeMeter()), ops)
    finally:
        monkeypatch.setattr(owner, attr, real)
    assert (ops.attempted, ops.failed) == (1, 1), ops.errors
    return ops.errors[0]


def test_daily_etl_catches_wrong_counts_and_statuses(etl, monkeypatch):
    wl, _ = etl

    def bump(key):
        def make(real):
            def run_batch(*args):
                counts = dict(real(*args))
                counts[key] += 1
                return counts

            return run_batch

        return make

    err = _planted_day(wl, 2, monkeypatch, wl.pipeline, "run_batch", bump("batch_rows"))
    assert "batch_rows" in err and "appended" not in err, err
    err = _planted_day(wl, 3, monkeypatch, wl.pipeline, "run_batch", bump("appended_rows"))
    assert "appended_rows" in err and "batch_rows" not in err, err
    err = _planted_day(
        wl, 4, monkeypatch, wl.pipeline, "run_update", lambda real: lambda *a: real(*a) + 1
    )
    assert "updated" in err and "sink after update" not in err, err

    # run_update's MERGE writes one ticket with a status the source lacks
    def wrong_status(real):
        def merge_upsert(spark_, sink_path, updates, key):
            return real(spark_, sink_path, _change_first(updates, key, "status_ticket", F.lit("Cancelado")), key=key)

        return merge_upsert

    err = _planted_day(wl, 5, monkeypatch, wl.pipeline, "merge_upsert", wrong_status)
    assert "sink after update" in err, err


def test_daily_etl_catches_stream_errors(etl, monkeypatch):
    """Planted in an order where no earlier error can raise a later
    check's message: the lookup is read anew every batch."""
    wl, _ = etl
    s = wl.stream

    # the pruned lookup loses one of its rows
    def drop_lookup_row(real):
        def read_version(spark_, path, version=None, prune=None):
            df = real(spark_, path, version, prune=prune)
            if prune is None:
                return df
            return df.filter(F.col("event_id") != min(prune["event_id"]["values"]))

        return read_version

    err = _planted_batch(wl, 2, monkeypatch, s.versioned, "read_version", drop_lookup_row)
    assert "lookup" in err and "rollup" not in err, err

    # the rollup's MERGE counts one group one event too many
    merge_sink = import_module(f"{PKG}.sinks.merge_sink")

    def miscount(real):
        def merge_upsert(spark_, path, updates, key, insert_unmatched=False):
            bumped = _change_first(updates, key, "n_events", F.col("n_events") + 1)
            return real(spark_, path, bumped, key, insert_unmatched=insert_unmatched)

        return merge_upsert

    err = _planted_batch(wl, 3, monkeypatch, merge_sink, "merge_upsert", miscount)
    assert "rollup:" in err and "advanced rollup" not in err, err

    # advance_rollup's count is one too high for one event type
    def advance_off_by_one(real):
        def advance_rollup(*args):
            return _change_first(real(*args), "event_type", "n", F.col("n") + 1)

        return advance_rollup

    err = _planted_batch(wl, 4, monkeypatch, s.inc, "advance_rollup", advance_off_by_one)
    assert "advanced rollup" in err and "ingest keys" not in err, err

    # the ingest appends one key twice
    def duplicate_key(real):
        return lambda df, path: real(df.union(df.limit(1)), path)

    err = _planted_batch(wl, 5, monkeypatch, s.inc, "append_with_schema_evolution", duplicate_key)
    assert "ingest keys" in err, err


def test_daily_etl_catches_a_dropped_row(spark, helper, tmp_path, monkeypatch):
    wl = daily_etl.Workload(3, str(tmp_path), Tracer(False), helper, sf=SF)
    wl.prepare()
    wl.bind(spark)

    def drop_row(real):
        def run_batch(spark_, day_dir, sink):
            counts = real(spark_, day_dir, sink)
            files = glob.glob(os.path.join(sink, "part-*.parquet"))
            for f in sorted(files, key=os.path.getmtime, reverse=True):
                t = pq.read_table(f)
                if t.num_rows:
                    pq.write_table(t.slice(1), f)
                    break
            return counts

        return run_batch

    err = _planted_day(wl, 0, monkeypatch, wl.pipeline, "run_batch", drop_row)
    assert "appended rows" in err, err
