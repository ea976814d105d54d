"""The streaming half of a day: event micro-batches landing as JSON lines.

Each call of ``run_pass`` is one micro-batch: the batch lands in the
landing directory,
then ``streaming.incremental.maintain_rollup`` and
``incremental_ingest`` run to completion (availableNow), the batch is
``commit_append``ed to a versioned table, the versioned rollup of that
table is advanced with ``advance_rollup`` and ``commit_replace``d, and
one pruned ``read_version`` looks up a few keys. Writes sit beside
reads, and fixed per-commit and per-trigger costs dominate.

A batch is the next slice of the event stream plus a replay of one in
twenty events of the slice before (at-least-once delivery), so the
ingest's dedup has work. The helper process writes every batch and
the keys each lookup asks for at set-up; every batch is checked off the
clock, in the helper, against DuckDB over the landed files.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow.compute as pc

import gen
import oracle
from harness import PKG, Ops, PassClock, file_set

EVENT_SCHEMA = "event_id bigint, ts string, user_id bigint, event_type string, value double"
ROLLUP_SCHEMA = "ts string, event_type string"
LOOKUP_KEYS = 5
REPLAY_SHARE = 20


def _measures():
    from pyspark.sql import functions as F

    # count and integer cents: sums that DuckDB reproduces exactly
    return {"n": F.lit(1), "cents": F.round(F.col("value") * 100).cast("long")}


class MicroBatches:
    def __init__(self, seed: int, work: str, tracer, helper, sf: float, batches: int) -> None:
        self.seed = seed
        self.tracer = tracer
        self.helper = helper
        self.sf = sf
        self.n_batches = batches
        self.staging = os.path.join(work, "staging")
        self.landing = os.path.join(work, "landing")
        self.paths = {
            name: os.path.join(work, name)
            for name in ("rollup", "ingest", "events_v", "rollup_v", "ckpt_rollup", "ckpt_ingest")
        }

    # -- inputs ------------------------------------------------------------
    def prepare(self) -> None:
        self.lookups = self.helper.call(write_batches, self.seed, self.sf, self.staging, self.n_batches)
        os.makedirs(self.landing)

    def land(self, b: int) -> str:
        """Batch ``b`` arrives in the landing directory (off the clock)."""
        name = f"batch-{b:04d}.json"
        path = os.path.join(self.landing, name)
        shutil.copyfile(os.path.join(self.staging, name), path)
        return path

    # -- program -----------------------------------------------------------
    def bind(self, spark) -> None:
        from importlib import import_module

        self.spark = spark
        self.inc = import_module(f"{PKG}.streaming.incremental")
        self.versioned = import_module(f"{PKG}.sinks.versioned")
        self.append_sink = import_module(f"{PKG}.sinks.append_sink")
        merge_sink = import_module(f"{PKG}.sinks.merge_sink")
        tr = self.tracer
        # maintain_rollup imports merge_upsert from merge_sink at call
        # time; incremental_ingest calls the names bound in incremental
        tr.patch(merge_sink, "merge_upsert", "sinks.merge_upsert.s")
        tr.patch(self.inc, "read_sink", "sinks.read_sink.s")
        tr.patch(self.inc, "append_with_schema_evolution", "sinks.append_with_schema_evolution.s")
        tr.patch(self.versioned, "commit_append", "sinks.versioned.commit_append.s")
        tr.patch(self.versioned, "commit_replace", "sinks.versioned.commit_replace.s")

    def _run(self, start, span: str) -> None:
        """Start a streaming job and wait until its availableNow run ends."""
        with self.tracer.span(span):
            query = start()
            query.awaitTermination()
        if self.tracer.enabled:
            for p in query.recentProgress:
                self.tracer.count("streaming.input_rows", p.numInputRows)
                for op in p.stateOperators:
                    self.tracer.count("streaming.state_rows", op.numRowsTotal)

    def run_pass(self, b: int, clock: PassClock, ops: Ops) -> None:
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType, StructField, StructType

        batch_file = self.land(b)
        p = self.paths
        before = file_set(*self.sink_roots())
        ids = self.lookups[b]
        errors = []
        try:
            if b == 0:
                # the tables a user creates once, off the clock: the
                # ingest sink's seed and an empty first version of the
                # event table, so every batch advances the rollup the
                # same way
                seed_schema = StructType([StructField("event_id", LongType())])
                self.append_sink.create_if_not_exists(self.spark, p["ingest"], seed_schema)
                empty = self.spark.createDataFrame([], EVENT_SCHEMA).withColumn(
                    "ts", F.col("ts").cast("timestamp")
                )
                self.versioned.commit_append(empty, p["events_v"])
            with clock:
                self._run(
                    lambda: self.inc.maintain_rollup(
                        self.spark, self.landing, p["rollup"], p["ckpt_rollup"], ROLLUP_SCHEMA
                    ),
                    "streaming.incremental.maintain_rollup.s",
                )
                self._run(
                    lambda: self.inc.incremental_ingest(
                        self.spark, self.landing, p["ingest"], p["ckpt_ingest"], EVENT_SCHEMA,
                        key="event_id", event_time="ts",
                    ),
                    "streaming.incremental.incremental_ingest.s",
                )
                batch = self.spark.read.schema(EVENT_SCHEMA).json(batch_file).withColumn(
                    "ts", F.col("ts").cast("timestamp")
                )
                version = self.versioned.commit_append(batch, p["events_v"])
                with self.tracer.span("streaming.incremental.advance_rollup.s"):
                    rollup = self.advance(version)
                self.versioned.commit_replace(rollup, p["rollup_v"])
                with self.tracer.span("sinks.versioned.read_version.s"):
                    probe = self.versioned.read_version(
                        self.spark, p["events_v"], version, prune={"event_id": {"values": ids}}
                    )
                    found = probe.filter(F.col("event_id").isin(ids)).collect()
            self.tracer.stage_read()
            found = [(r["event_id"], r["user_id"], r["event_type"], r["value"]) for r in found]
            rollup_v = [
                (r["event_type"], r["n"], r["cents"])
                for r in self.versioned.read_version(self.spark, p["rollup_v"]).collect()
            ]
            errors += self.helper.call(check_batch, self.landing, p, found, ids, rollup_v)
        except Exception as ex:  # noqa: BLE001 - counted as a failed operation
            errors.append(f"{type(ex).__name__}: {str(ex)[-300:]}")
        ops.done(not errors, f"batch {b}: " + "; ".join(errors))
        if self.tracer.enabled and not errors:
            new = {k: v for k, v in file_set(*self.sink_roots()).items() if k not in before}
            self.tracer.count("sinks.bytes_written_mb", sum(new.values()) / 1e6)
            self.tracer.count("sinks.files_written", len(new))
            full = self.versioned.read_version(self.spark, p["events_v"], version)
            self.tracer.count(
                "sources.versioned_source.files_read_ratio",
                len(probe.inputFiles()) / max(1, len(full.inputFiles())),
            )

    def advance(self, version: int):
        v = self.versioned
        p = self.paths
        if version == 1:
            prev = self.spark.createDataFrame([], "event_type string, n bigint, cents bigint")
        else:
            prev = v.read_version(self.spark, p["rollup_v"])
        return self.inc.advance_rollup(
            self.spark, p["events_v"], "event_id", ["event_type"], _measures(), prev,
            version - 1, version,
        )

    def sink_roots(self) -> list[str]:
        p = self.paths
        return [p["rollup"], p["ingest"], p["events_v"], p["rollup_v"]]


# -- in the helper ---------------------------------------------------------
def write_batches(seed: int, sf: float, staging: str, n_batches: int) -> list[list[int]]:
    """Write every micro-batch as JSON lines into ``staging``; returns
    the event ids each batch's lookup asks for."""
    n = gen.sizes(sf)
    rng = np.random.default_rng(seed)
    events = gen.make_events(rng, n["events"], n["users"])
    ts = pc.cast(events["ts"], "int64").to_numpy()
    lo, hi = ts.min(), ts.max() + 1
    slot = (ts - lo) * n_batches // (hi - lo)
    rows = {
        "event_id": events["event_id"].to_numpy(),
        "ts": np.datetime_as_string(ts.astype("datetime64[us]"), unit="us"),
        "user_id": events["user_id"].to_numpy(),
        "event_type": events["event_type"].to_numpy(zero_copy_only=False),
        "value": events["value"].to_numpy(),
    }
    os.makedirs(staging)
    batches = []
    prev = np.array([], dtype=np.int64)
    for b in range(n_batches):
        idx = np.flatnonzero(slot == b)
        replay = rng.choice(prev, size=len(prev) // REPLAY_SHARE, replace=False)
        batches.append(np.concatenate([idx, np.sort(replay)]))
        prev = idx
        with open(os.path.join(staging, f"batch-{b:04d}.json"), "w") as fh:
            for i in batches[b]:
                fh.write(
                    json.dumps({
                        "event_id": int(rows["event_id"][i]),
                        "ts": str(rows["ts"][i]),
                        "user_id": int(rows["user_id"][i]),
                        "event_type": str(rows["event_type"][i]),
                        "value": float(rows["value"][i]),
                    })
                    + "\n"
                )
    lookups = []
    for b in range(n_batches):
        # a few event ids from an earlier batch (or this one, first)
        src = batches[int(rng.integers(0, b))] if b else batches[0]
        lookups.append(sorted(int(rows["event_id"][i]) for i in rng.choice(src, LOOKUP_KEYS)))
    return lookups


def check_batch(landing: str, paths: dict, found: list, ids: list, rollup_v: list) -> list[str]:
    """The streaming sinks, the advanced versioned rollup and the
    looked-up rows against DuckDB over every landed event."""
    errs = []
    con = oracle.connect()
    con.execute(
        f"""CREATE TABLE landed AS SELECT * FROM read_json('{landing}/*.json',
            format='newline_delimited',
            columns={{event_id: 'BIGINT', ts: 'TIMESTAMP', user_id: 'BIGINT',
                      event_type: 'VARCHAR', value: 'DOUBLE'}})"""
    )
    want = """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') || '|' || event_type
                     AS group_key, count(*) AS n_events
              FROM landed GROUP BY ALL"""
    got = f"SELECT group_key, n_events FROM {oracle.parquet_glob(paths['rollup'])} WHERE group_key IS NOT NULL"
    missing, extra = oracle.multiset_diff(con, want, got, ["group_key", "n_events"])
    if missing or extra:
        errs.append(f"rollup: {missing} groups missing or wrong, {extra} unexpected")
    ingest = oracle.parquet_glob(paths["ingest"])
    missing, extra = oracle.multiset_diff(
        con,
        "SELECT DISTINCT event_id FROM landed",
        f"SELECT event_id FROM {ingest} WHERE event_id IS NOT NULL",
        ["event_id"],
    )
    if missing or extra:
        errs.append(f"ingest keys: {missing} missing, {extra} duplicated or unexpected")
    want_v = con.execute(
        "SELECT event_type, count(*), sum(round(value * 100)::BIGINT) FROM landed GROUP BY ALL"
    ).fetchall()
    if sorted(rollup_v) != sorted(want_v):
        errs.append(f"advanced rollup {sorted(rollup_v)} != {sorted(want_v)}")
    want_l = con.execute(
        f"SELECT event_id, user_id, event_type, value FROM landed WHERE event_id IN ({','.join(map(str, ids))})"
    ).fetchall()
    if sorted(found) != sorted(want_l):
        errs.append(f"lookup {sorted(found)} != {sorted(want_l)}")
    con.close()
    return errs
