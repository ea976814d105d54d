"""daily_etl: one day of the write path, against sinks that grow.

Each pass is one "day". Its batch half is the reference's once-a-day
run: ``plans.pipeline.run_batch`` over a five-slice
lookback window (``orders`` cut by ``o_orderdate``, ``events`` by
``ts``; the other tables as generated), then ``run_update``. Windows of
consecutive days share four slices, so about four fifths of each batch
is already in the sink: the anti-join dedup, the sink scans and the
append and MERGE rewrite do most of the work. Open tickets resolve as
the days pass (an order's status turns to ``F`` on a day drawn from the
seed), so ``run_update`` has real changes to apply.

Its streaming half is the day's event micro-batch through the
``streaming.incremental`` jobs and the versioned sink (see
``stream_rollup.py``).

Every day is checked off the clock, in the helper process, against
DuckDB over that day's files and the sinks' files: the batch half and
the micro-batch count as one operation each. The sink as it was before
``run_batch`` and before ``run_update`` is kept for the checks as hard
links to its files, which the program's rewrites leave intact.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import gen
import oracle
from harness import PKG, Ops, PassClock, file_set, settle, snapshot
from stream_rollup import MicroBatches

SF = 0.1
WINDOW = 5
#: the integrate output's columns: those an appended row is compared on
OUT_COLS = (
    "uuid", "chat_id", "number", "n_ticket", "titulo", "status_ticket",
    "status_ticket2", "channel_ticket", "autor_ticket", "email_ticket",
    "grupo_responsavel_ticket", "ticket_n_do_pedido", "ticket_produto",
    "ticket_cpf", "contact_email", "contact_cf_n_mero_do_ticket",
)
DEDUP_KEYS = ("number", "n_ticket", "uuid")


def import_program() -> None:
    from importlib import import_module

    import_module(f"{PKG}.plans.pipeline")
    import_module(f"{PKG}.streaming.incremental")
    import_module(f"{PKG}.sinks.versioned")


class Workload:
    #: none: every real day starts a new process, so the day measured is
    #: the first one, in a fresh session, as a scheduled daily run pays it
    WARMUP_PASSES = 0
    MAX_PASSES = 16

    def __init__(self, seed: int, work: str, tracer, helper, sf: float | None = None) -> None:
        self.seed = seed
        self.tracer = tracer
        self.helper = helper
        self.sf = sf or SF
        self.inputs = os.path.join(work, "inputs")
        self.sink = os.path.join(work, "sink")
        self.stream = MicroBatches(
            seed, os.path.join(work, "stream"), tracer, helper, self.sf, batches=self.MAX_PASSES
        )

    # -- inputs ------------------------------------------------------------
    def prepare(self) -> None:
        from importlib import import_module

        # the oracles' SQL, from the program's own catalog
        self.integrate = import_module(f"{PKG}.plans.queries").oracle_sql()["pipeline_integrate_full"]
        self.fresh = import_module(f"{PKG}.tables").with_ctes(
            "SELECT CAST(number AS VARCHAR) AS n_ticket, status_name, last_status, "
            "channel_name, requester_email FROM tickets WHERE number IS NOT NULL",
            "tickets",
        )
        self.helper.call(
            prepare_inputs, self.seed, self.sf, self.inputs, self.sink, self.MAX_PASSES, self.integrate
        )
        self.stream.prepare()

    def day_dir(self, day: int) -> str:
        """Land the day's extract (off the clock, in the helper)."""
        return self.helper.call(day_inputs, self.inputs, day)

    # -- program -----------------------------------------------------------
    def bind(self, spark) -> None:
        from importlib import import_module

        self.spark = spark
        self.pipeline = import_module(f"{PKG}.plans.pipeline")
        self.cov = import_module(f"{PKG}.plans.queries_cov")
        tr = self.tracer
        tr.patch(self.pipeline, "read_sink", "sinks.read_sink.s")
        tr.patch(self.pipeline, "append_with_schema_evolution", "sinks.append_with_schema_evolution.s")
        tr.patch(self.pipeline, "merge_upsert", "sinks.merge_upsert.s")
        self.stream.bind(spark)

    def run_pass(self, i: int, clock: PassClock, ops: Ops) -> None:
        settle(self.spark)
        self.run_batch_half(i, clock, ops)
        settle(self.spark)
        self.stream.run_pass(i, clock, ops)

    def run_batch_half(self, i: int, clock: PassClock, ops: Ops) -> None:
        errors = []
        pre_batch = os.path.join(self.inputs, f"day{i}-pre-batch")
        pre_update = os.path.join(self.inputs, f"day{i}-pre-update")
        try:
            day_dir = self.day_dir(i)
            before = set(file_set(self.sink))
            snapshot(self.sink, pre_batch)
            with clock, self.tracer.span("plans.pipeline.run_batch.s"):
                counts = self.pipeline.run_batch(self.spark, day_dir, self.sink)
            self.tracer.stage_read()
            written = [p for p, _ in set(file_set(self.sink)) - before]
            errors += self.helper.call(check_batch, day_dir, pre_batch, counts, written, self.integrate)
            snapshot(self.sink, pre_update)
            with clock, self.tracer.span("plans.pipeline.run_update.s"):
                updated = self.pipeline.run_update(self.spark, day_dir, self.sink)
            self.tracer.stage_read()
            errors += self.helper.call(check_update, day_dir, pre_update, self.sink, updated, self.fresh)
        except Exception as ex:  # noqa: BLE001 - counted as a failed operation
            errors.append(f"{type(ex).__name__}: {str(ex)[-300:]}")
        for d in (pre_batch, pre_update):
            shutil.rmtree(d, ignore_errors=True)
        ops.done(not errors, f"day {i}: " + "; ".join(errors))
        if self.tracer.enabled and not errors:
            self.trace_extras(day_dir, counts, updated, before)

    def trace_extras(self, day_dir, counts, updated, before) -> None:
        tr = self.tracer
        tr.count("plans.pipeline.batch_rows", counts["batch_rows"])
        tr.count("plans.pipeline.appended_rows", counts["appended_rows"])
        tr.count("plans.pipeline.removed_rows", counts["removed_rows"])
        tr.count("plans.pipeline.updated_rows", updated)
        tr.count("plans.pipeline.kept_ratio", counts["appended_rows"] / max(1, counts["batch_rows"]))
        new = {k: v for k, v in file_set(self.sink).items() if k not in before}
        tr.count("sinks.bytes_written_mb", sum(new.values()) / 1e6)
        tr.count("sinks.files_written", len(new))
        # the integrate plan alone, to a noop sink: extract and join cost
        # apart from dedup and write
        with tr.span("plans.queries_cov.pipeline_integrate_full.s"):
            self.cov.pipeline_integrate_full(self.spark, day_dir).write.format("noop").mode(
                "overwrite"
            ).save()
        tr.stage_read()

    def end_pass(self) -> None:
        pass

    def finish(self, ops: Ops) -> None:
        pass

    def sink_roots(self) -> list[str]:
        return [self.sink, *self.stream.sink_roots()]

    def layer_metrics(self, med) -> dict:
        return {}


# -- in the helper ---------------------------------------------------------
def prepare_inputs(seed: int, sf: float, inputs: str, sink: str, days: int, integrate: str) -> None:
    """The tables every day shares, the full ``orders`` and ``events``
    with the slice each row falls in, and the seeded sink."""
    t = gen.make_tables(seed, sf)
    rng = np.random.default_rng(seed + 7)
    slices = days + WINDOW - 1
    orders, events = t.pop("orders"), t.pop("events")
    gen.write_tables(t, os.path.join(inputs, "base"))
    day = pc.divide(pc.cast(orders["o_orderdate"], pa.int64()), 86_400_000_000).to_numpy()
    lo, hi = day.min(), day.max() + 1
    orders = orders.append_column("slice", pa.array(((day - lo) * slices // (hi - lo)).astype(np.int32)))
    # an open order resolves on a day drawn from the seed; about half of
    # them resolve within the run
    orders = orders.append_column("resolve_day", pa.array(rng.integers(0, 2 * days, len(orders))))
    ts = pc.cast(events["ts"], pa.int64()).to_numpy()
    lo, hi = ts.min(), ts.max() + 1
    events = events.append_column("slice", pa.array(((ts - lo) * slices // (hi - lo)).astype(np.int32)))
    gen.write_tables({"orders": orders, "events": events}, os.path.join(inputs, "all"))
    seed_sink(inputs, sink, integrate)


def seed_sink(inputs: str, sink: str, integrate: str) -> None:
    """The destination as yesterday's run left it: the integrate output
    over the first four slices, written by DuckDB. Day 0 then finds a
    sink with every column, as each later day does."""
    con = oracle.connect(day_inputs(inputs, -1))
    os.makedirs(sink)
    target = os.path.join(sink, "part-00000-history.snappy.parquet")
    con.execute(
        f"COPY (SELECT *, TIMESTAMPTZ '2024-01-01 00:00:00+00' AS upload FROM ({integrate})) "
        f"TO '{target}' (FORMAT parquet, COMPRESSION snappy)"
    )
    con.close()


def day_inputs(inputs: str, day: int) -> str:
    """Write the day's extract and return its directory. Day -1 is the
    history the sink is seeded from: the slices of day 0 but its last."""
    out = os.path.join(inputs, f"day{day}")
    lo, hi = max(day, 0), day + WINDOW
    src = os.path.join(inputs, "all")
    orders = pq.read_table(os.path.join(src, "orders.parquet"))
    status = orders["o_orderstatus"].to_numpy(zero_copy_only=False).astype(object)
    resolved = (status != "F") & (orders["resolve_day"].to_numpy() <= day)
    orders = orders.set_column(
        orders.schema.get_field_index("o_orderstatus"),
        "o_orderstatus",
        pa.array(np.where(resolved, "F", status), pa.string()),
    )
    events = pq.read_table(os.path.join(src, "events.parquet"))
    days = {}
    for name, table in (("orders", orders), ("events", events)):
        s = table["slice"].to_numpy()
        keep = pa.array((s >= lo) & (s < hi))
        days[name] = table.filter(keep).drop_columns([c for c in ("slice", "resolve_day") if c in table.column_names])
    gen.write_tables(days, out)
    base = os.path.join(inputs, "base")
    gen.link_tables(base, out, [n for n in gen.TABLES if n not in ("orders", "events")])
    return out


def check_batch(
    day_dir: str, pre_batch: str, counts: dict, new_files: list[str], integrate: str
) -> list[str]:
    """``run_batch``'s counts and appended rows against the integrate
    oracle over the day's files, deduplicated against the sink as it
    was before the batch."""
    con = oracle.connect(day_dir)
    errs = []
    con.execute(f"CREATE TABLE batch AS {integrate}")
    con.execute(f"CREATE VIEW pre_batch AS SELECT * FROM {oracle.parquet_glob(pre_batch)}")
    n = con.execute("SELECT count(*) FROM batch").fetchone()[0]
    if counts["batch_rows"] != n:
        errs.append(f"batch_rows {counts['batch_rows']} != oracle {n}")
    keep = " AND ".join(
        f'("{k}" IS NULL OR "{k}" NOT IN (SELECT "{k}" FROM pre_batch WHERE "{k}" IS NOT NULL))'
        for k in DEDUP_KEYS
    )
    want = f"SELECT * FROM batch WHERE {keep}"
    n_want = con.execute(f"SELECT count(*) FROM ({want})").fetchone()[0]
    if counts["appended_rows"] != n_want:
        errs.append(f"appended_rows {counts['appended_rows']} != oracle {n_want}")
    parquet = [f for f in new_files if f.endswith(".parquet")]
    got = (
        f"SELECT * FROM read_parquet({parquet!r}, union_by_name=true)"
        if parquet
        else "SELECT * FROM batch WHERE FALSE"
    )
    missing, extra = oracle.multiset_diff(con, want, got, list(OUT_COLS))
    if missing or extra:
        errs.append(f"appended rows: {missing} missing, {extra} unexpected")
    con.close()
    return errs


def check_update(day_dir: str, pre_update: str, sink: str, updated: int, fresh: str) -> list[str]:
    """After ``run_update``, every sink row whose ticket was open carries
    what the oracle's ``tickets`` view (``fresh``) gives it, and nothing
    else changed."""
    con = oracle.connect(day_dir)
    con.execute(f"CREATE VIEW pre_update AS SELECT * FROM {oracle.parquet_glob(pre_update)}")
    con.execute(
        f"""CREATE TABLE upd AS
        SELECT f.* FROM ({fresh}) f
        WHERE f.n_ticket IN (SELECT n_ticket FROM pre_update
                             WHERE n_ticket IS NOT NULL AND status_ticket <> 'Resolvido')"""
    )
    errs = []
    n_upd = con.execute("SELECT count(*) FROM upd").fetchone()[0]
    if updated != n_upd:
        errs.append(f"updated {updated} != oracle {n_upd}")
    cols = [r[0] for r in con.execute("DESCRIBE pre_update").fetchall()]
    post_cols = {r[0] for r in con.execute(f"DESCRIBE SELECT * FROM {oracle.parquet_glob(sink)}").fetchall()}
    if set(cols) != post_cols:
        con.close()
        return errs + [f"columns after update {sorted(post_cols)} != {sorted(cols)}"]
    new = {
        "status_ticket": "status_name",
        "status_ticket2": "last_status",
        "channel_ticket": "channel_name",
        "email_ticket": "requester_email",
    }
    sets = ", ".join(
        f"CASE WHEN u.n_ticket IS NULL THEN p.{c} ELSE u.{v} END AS {c}" for c, v in new.items()
    )
    want = f"SELECT p.* REPLACE ({sets}) FROM pre_update p LEFT JOIN upd u ON p.n_ticket = u.n_ticket"
    got = f"SELECT * FROM {oracle.parquet_glob(sink)}"
    missing, extra = oracle.multiset_diff(con, want, got, cols)
    if missing or extra:
        errs.append(f"sink after update: {missing} rows missing, {extra} unexpected")
    con.close()
    return errs
