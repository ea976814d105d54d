"""SparkSession factory and configuration.

The reference pipeline runs pandas in a single process with timezone
America/Sao_Paulo (reference config.py:31, main.py:36). Our engine runs
the same logic as lazy Spark plans; this module centralizes the session
settings that matter at 100 TB scale:

- AQE on (runtime re-planning, skew-join splitting, shuffle coalescing)
- sensible shuffle partitioning for local mode (overridable for clusters)
- Arrow transfers on for any residual pandas interchange
- nanosecond-parquet tolerance (the synthetic fixtures store TIMESTAMP(NANOS),
  which vanilla Spark rejects; we read them as longs and convert — see
  ``tables.load_table``)
- a driver JVM sized for short sessions (``DRIVER_JAVA_OPTIONS``)

The reference is a daily batch that starts a new process every day, and
its sessions live for seconds to minutes. In such a session most of the
JVM's CPU goes to warming up, not to Spark work: a per-thread probe of
the driver JVM (``/proc/<pid>/task/*/stat``) through a whole benchmark
run (``perfbench/run.py --workload daily_etl``, 4 cores, two seeds)
found the HotSpot C2 compiler threads at 37-39 s of 77 s of JVM CPU,
against 11 s in executor tasks, 7 s in C1 and 2-3 s in GC. The policy
raises the tier-4 (C2) thresholds to ten times their defaults, so C2
still compiles what is really hot (the whole-stage codegen loops) and C1
code serves the lukewarm rest; the same probe then reads C2 at
13-14 s of 47-51 s, with executor-task CPU unchanged. The back-edge threshold,
which starts C2's on-stack replacement of loops, is raised with the
others: left at its default, a four-seed screen kept about half of the
CPU saving and no wall time.
Stopping at C1 altogether (``-XX:TieredStopAtLevel=1``) cut CPU further
but made warm query passes 8-30% slower, because C1 code then runs the
hot loops. The policy leaves the collector to the JVM and the
deployment: it was measured only with a 4 GiB heap on 4 cores, and a
second collector flag next to a deployment's own stops HotSpot from
starting.

The policy goes in ``spark.driver.defaultJavaOptions``: Spark prepends
it to the deployment's ``spark.driver.extraJavaOptions`` (from
``spark-defaults.conf`` or ``--conf``), so both apply, where setting
``extraJavaOptions`` here would replace the deployment's. A deployment
that sets ``spark.driver.defaultJavaOptions`` itself loses it: a builder
conf reaches ``spark-submit`` as ``--conf``, which overrides
``spark-defaults.conf``. Like every launch option the policy only acts
when ``get_spark`` starts the JVM; where the JVM already exists
(``configure()`` on a session the caller built, ``spark-submit``) it is
inert.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

SESSION_TZ = "America/Sao_Paulo"  # reference config.py:31

#: Confs safe to (re)apply to an externally-created session at runtime.
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Python DataSource filter pushdown (RestReader.pushFilters): Spark 4.1
    # refuses to plan a reader that implements pushFilters() unless this is on
    "spark.sql.python.filterPushdown.enabled": "true",
    # nested-struct column pruning down to the parquet scan
    "spark.sql.optimizer.nestedSchemaPruning.enabled": "true",
}

#: Driver JVM launch options for short sessions (see the module docstring).
#: The four Tier4 thresholds are HotSpot's defaults times ten.
DRIVER_JAVA_OPTIONS = " ".join(
    (
        "-XX:Tier4InvocationThreshold=50000",
        "-XX:Tier4MinInvocationThreshold=6000",
        "-XX:Tier4CompileThreshold=150000",
        "-XX:Tier4BackEdgeThreshold=400000",
    )
)


def configure(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine confs to an existing session.

    Used when the driver (not us) creates the SparkSession: every conf in
    RUNTIME_CONFS is runtime-mutable, so this is safe on a live session.
    """
    for key, value in RUNTIME_CONFS.items():
        try:
            spark.conf.set(key, value)
        except Exception:
            pass  # non-mutable in this deployment: keep going, not fatal
    return spark


def get_spark(
    app_name: str = "octadesk-spark-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    session_tz: str = SESSION_TZ,
) -> SparkSession:
    """Create (or get) a SparkSession tuned for this engine.

    Local-mode parallelism follows $SPARK_GRAFT_CPUS (harness contract);
    on a real cluster the master/partitioning comes from spark-submit and
    the defaults here are simply overridden.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or f"local[{cpus}]"
    shuffle = shuffle_partitions if shuffle_partitions is not None else max(cpus, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.session.timeZone", session_tz)
        # local-mode executors share the driver JVM: with local[32] an 8g
        # heap is ~250 MB/task slot and GC-bound once shuffles grow; the
        # bench host has 128 GiB, so default higher and let the env
        # override downward on smaller machines
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.defaultJavaOptions", DRIVER_JAVA_OPTIONS)
    )
    for key, value in RUNTIME_CONFS.items():
        builder = builder.config(key, value)
    return configure(builder.getOrCreate())
