"""Benchmark entry point.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 1 --trace 0

Run from the root of a checkout of the repository. Builds its inputs
from the seed under a temporary directory in the working directory,
drives the program through its public entry points, checks every
output against DuckDB, and prints one JSON object as the last line of
standard output: ``correct``, ``attempted``, ``failed`` and
``metrics`` (end-to-end metrics untraced, per-layer metrics with
``--trace 1``). The line before it carries host annotations.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
if HERE not in sys.path:
    sys.path.insert(0, HERE)

from harness import PKG  # noqa: E402

WORKLOADS = ("query_mix", "daily_etl")
#: local[k]: k is at most the host's cores
CPUS = 4
DRIVER_MEMORY = "4g"
#: past this many seconds a run starts no further pass once it has
#: measured one, so it ends well inside its time limit on a slow host
HARD_STOP_S = 130.0


def med(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def parse(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def per_layer_names() -> list[tuple[str, str]]:
    """Every per-layer metric a traced run prints, with its unit."""
    import query_mix

    names = [
        ("session.get_spark.s", "s"),
        ("inputs.prepare.s", "s"),
        ("trace.first_pass_s", "s"),
        ("trace.pass_s", "s"),
    ]
    for q in query_mix.QUERIES:
        names += [(f"plans.queries.{q}.s", "s"), (f"plans.queries.{q}.first_s", "s")]
    names += [
        ("plans.queries.build_s", "s"),
        ("plans.pipeline.run_batch.s", "s"),
        ("plans.pipeline.run_update.s", "s"),
        ("plans.queries_cov.pipeline_integrate_full.s", "s"),
        ("sinks.read_sink.s", "s"),
        ("sinks.append_with_schema_evolution.s", "s"),
        ("sinks.merge_upsert.s", "s"),
        ("plans.pipeline.batch_rows", "count"),
        ("plans.pipeline.appended_rows", "count"),
        ("plans.pipeline.removed_rows", "count"),
        ("plans.pipeline.updated_rows", "count"),
        ("plans.pipeline.kept_ratio", "ratio"),
        ("sinks.bytes_written_mb", "MB"),
        ("sinks.files_written", "count"),
        ("streaming.incremental.maintain_rollup.s", "s"),
        ("streaming.incremental.incremental_ingest.s", "s"),
        ("streaming.incremental.advance_rollup.s", "s"),
        ("streaming.input_rows", "count"),
        ("streaming.state_rows", "count"),
        ("sinks.versioned.commit_append.s", "s"),
        ("sinks.versioned.commit_replace.s", "s"),
        ("sinks.versioned.read_version.s", "s"),
        ("sources.versioned_source.files_read_ratio", "ratio"),
        ("spark.exec_cpu_s", "s"),
        ("spark.shuffle_mb", "MB"),
        ("spark.spill_mb", "MB"),
        ("spark.gc_s", "s"),
        ("spark.codegen_compile_s", "s"),
        ("spark.first_codegen_compile_s", "s"),
    ]
    return names


def run(args, work: str) -> tuple[dict, dict]:
    from harness import pin_environment

    pin_environment(work, min(CPUS, len(os.sched_getaffinity(0))), DRIVER_MEMORY)
    from offload import Helper

    helper = Helper()
    try:
        return measure(args, work, helper)
    finally:
        helper.close()


def measure(args, work: str, helper) -> tuple[dict, dict]:
    from harness import Ops, PassClock, dir_bytes, start_session, stop_session
    from procstat import TreeMeter, cpu_seconds, host_annotations
    from tracing import Tracer

    notes = {"before": host_annotations()}
    mod = importlib.import_module(args.workload)
    # the program's modules and their dependencies, imported once per
    # process: part of every set-up a user pays
    t = time.perf_counter()
    importlib.import_module(f"{PKG}.session")
    mod.import_program()
    import_s = time.perf_counter() - t

    # the helper (input generation and checks) is not the program
    meter = TreeMeter(exclude={helper.pid})
    tracer = Tracer(bool(args.trace))
    wl = mod.Workload(args.seed, os.path.join(work, "w0"), tracer, helper)
    t = time.perf_counter()
    wl.prepare()
    prepare_s = time.perf_counter() - t
    t = time.perf_counter()
    spark = start_session()
    session_s = time.perf_counter() - t
    setup_wall_s = time.perf_counter() - T_START
    # CPU seconds of the whole tree since process start, the helper's
    # input preparation included: unlike wall time, it does not grow
    # while other load on the host keeps the JVM waiting for a core
    setup_s = meter.sample() + cpu_seconds(helper.pid)
    wl.bind(spark)
    tracer.attach(spark)

    ops = Ops()
    # the passes after the workload's warm-up; a run always measures one
    walls, cpus = [], []
    offclock = 0.0
    i = 0
    while True:
        clock = PassClock(meter)
        t = time.perf_counter()
        if i == wl.WARMUP_PASSES:
            t_measured = t
        wl.run_pass(i, clock, ops)
        wl.end_pass()
        offclock += time.perf_counter() - t - clock.wall
        tracer.stage_read()
        tracer.record("trace.pass_s", clock.wall)
        tracer.end_pass()
        if i == 0:
            first_s = clock.wall
        if i >= wl.WARMUP_PASSES:
            walls.append(clock.wall)
            cpus.append(clock.cpu)
        i += 1
        if not walls:
            continue
        now = time.perf_counter()
        if i >= wl.MAX_PASSES or now - t_measured >= args.seconds or now - T_START > HARD_STOP_S:
            break
    sink_bytes = dir_bytes(*wl.sink_roots())
    t = time.perf_counter()
    wl.finish(ops)
    offclock += time.perf_counter() - t
    meter.sample()
    peak_rss = meter.peak_rss_mb()
    layer = layer_metrics(wl, tracer, prepare_s, session_s) if args.trace else None
    tracer.unpatch()
    # the helper ends before the JVM, which waits for every process
    # this one started
    helper.close()
    stop_session(spark)

    notes.update(
        after=host_annotations(),
        workload=args.workload,
        seed=args.seed,
        passes=i,
        setup_wall_s=round(setup_wall_s, 3),
        import_s=round(import_s, 3),
        prepare_s=round(prepare_s, 3),
        session_s=round(session_s, 3),
        first_pass_s=round(first_s, 3),
        pass_walls_s=[round(x, 3) for x in walls],
        checks_s=round(offclock, 3),
        driver_peak_rss_mb=round(meter.driver_peak_rss_mb(), 1),
        errors=ops.errors,
    )
    if args.trace:
        metrics = layer
    else:
        # wall-clock pass times move with other load on a shared host
        # far beyond any usable bound; they are in the annotations and,
        # per layer, in the traced run
        metrics = {
            "setup_s": (setup_s, "s"),
            "cpu_s": (med(cpus), "s"),
            "peak_rss_mb": (peak_rss, "MB"),
            "sink_mb": (sink_bytes / 1e6, "MB"),
        }
    # every operation is either checked or counted as failed, so the
    # operations that did not fail are correct
    result = {
        "correct": True,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return result, notes


def layer_metrics(wl, tracer, prepare_s: float, session_s: float) -> dict:
    measured = tracer.passes[wl.WARMUP_PASSES:]
    values: dict[str, tuple[float, str]] = {}
    for name, unit in per_layer_names():
        values[name] = (med(p.get(name, 0.0) for p in measured), unit)
    values["session.get_spark.s"] = (session_s, "s")
    values["inputs.prepare.s"] = (prepare_s, "s")
    values["trace.first_pass_s"] = (tracer.passes[0].get("trace.pass_s", 0.0), "s")
    values["spark.first_codegen_compile_s"] = (
        tracer.passes[0].get("spark.codegen_compile_s", 0.0),
        "s",
    )
    values.update(wl.layer_metrics(med))
    return values


def main(argv=None) -> int:
    args = parse(argv)
    if not os.path.isdir(os.path.join(ROOT, PKG)):
        sys.stderr.write(f"perfbench: {PKG} not found in {ROOT}\n")
        return 2
    if ROOT not in sys.path:
        sys.path.insert(1, ROOT)
    # a terminated run still removes its temporary directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = tempfile.mkdtemp(prefix=".perfbench-", dir=os.getcwd())
    try:
        result, notes = run(args, work)
    finally:
        # a signal can cut a call into the JVM short, and stopping the
        # session may then raise: the work directory goes all the same
        try:
            if "pyspark" in sys.modules:
                from harness import stop_all

                stop_all()
        finally:
            shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"annotations": notes}))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
