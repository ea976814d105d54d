"""What every workload shares: the pinned environment, the Spark session
lifecycle, the pass clock, and the bookkeeping of operations."""

from __future__ import annotations

import os
import subprocess
import time
from dataclasses import dataclass, field

from procstat import TreeMeter, tree

PKG = "integration_octadeskoctadesk_data_pipeline_useuniformes_spark"


def pin_environment(work: str, cpus: int, driver_memory: str) -> None:
    """Settings the numbers depend on, fixed before the JVM exists:
    ``local[cpus]``, a driver heap that fits the host, and every
    scratch path (Spark local dirs, JVM and Python temp files, the
    catalog's temporary tables) under ``work``."""
    tmp = os.path.join(work, "tmp")
    jtmp = os.path.join(work, "jvm-tmp")
    conf = os.path.join(work, "conf")
    local = os.path.join(work, "spark-local")
    for d in (tmp, jtmp, conf, local):
        os.makedirs(d, exist_ok=True)
    with open(os.path.join(conf, "spark-defaults.conf"), "w") as fh:
        fh.write(f"spark.driver.extraJavaOptions -Djava.io.tmpdir={jtmp} -XX:-UsePerfData\n")
        fh.write(f"spark.sql.warehouse.dir {os.path.join(work, 'warehouse')}\n")
    os.environ.update(
        PERFBENCH_WORK=work,
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_DRIVER_MEMORY=driver_memory,
        SPARK_LOCAL_DIRS=local,
        SPARK_CONF_DIR=conf,
        TMPDIR=tmp,
    )
    import tempfile

    tempfile.tempdir = tmp


def start_session():
    from importlib import import_module

    session = import_module(f"{PKG}.session")
    spark = session.get_spark(app_name="perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the session and its JVM, so the next start is a cold one,
    and wait for every process the JVM started to end."""
    from pyspark import SparkContext

    started = [p for p in tree() if p != os.getpid()]
    try:
        if spark is not None:
            spark.stop()
    finally:
        gw = SparkContext._gateway
        SparkContext._gateway = None
        SparkContext._jvm = None
        if gw is not None:
            proc = getattr(gw, "proc", None)
            try:
                gw.shutdown()
            except Exception:  # noqa: BLE001 - the JVM may already be gone
                pass
            if proc is not None:
                # the gateway server exits when its stdin reaches EOF
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        wait_gone(started)


def stop_all() -> None:
    """Stop whatever JVM is still up (a run cut short by an error or a
    signal) and wait for every process this one started."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is not None or SparkContext._gateway is not None:
        stop_session(spark)
    wait_gone([p for p in tree() if p != os.getpid()])


def wait_gone(pids: list[int], timeout: float = 30.0) -> None:
    """Wait until every pid in ``pids`` has ended (Python workers leave
    shortly after their JVM); kill what is left after ``timeout``."""
    deadline = time.monotonic() + timeout
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass
        alive = [p for p in pids if _alive(p)]
        if not alive:
            return
        if time.monotonic() > deadline:
            for pid in alive:
                try:
                    os.kill(pid, 9)
                except OSError:
                    pass
            deadline = time.monotonic() + timeout
        time.sleep(0.05)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def settle(spark) -> None:
    """Run a driver GC off the clock, so the cleanup of earlier
    shuffles and broadcasts it triggers does not stall a timed job."""
    spark.sparkContext._jvm.System.gc()


def dir_bytes(*roots: str) -> int:
    return sum(file_set(*roots).values())


def file_set(*roots: str) -> dict[tuple[str, int], int]:
    """(path, inode) -> size for every file under ``roots``."""
    out = {}
    for root in roots:
        for base, _, files in os.walk(root):
            for f in files:
                p = os.path.join(base, f)
                try:
                    st = os.stat(p)
                except OSError:
                    continue
                out[(p, st.st_ino)] = st.st_size
    return out


def snapshot(src: str, dest: str) -> None:
    """Hard-link every parquet file of ``src`` into ``dest``: the table
    as it is now, whatever the program deletes or rewrites later."""
    os.makedirs(dest)
    for name in os.listdir(src):
        if name.endswith(".parquet"):
            os.link(os.path.join(src, name), os.path.join(dest, name))


@dataclass
class PassClock:
    """Wall and process-tree CPU time of a pass, accumulated over the
    segments that belong to the program's work (checks run between
    segments, off the clock)."""

    meter: TreeMeter
    wall: float = 0.0
    cpu: float = 0.0

    def __enter__(self):
        self._c0 = self.meter.sample()
        self._t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.wall += time.perf_counter() - self._t0
        self.cpu += self.meter.sample() - self._c0
        return False


@dataclass
class Ops:
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)

    def done(self, ok: bool, what: str = "") -> None:
        self.attempted += 1
        if not ok:
            self._fail(what)

    def fail_last(self, what: str) -> None:
        """An operation already counted as attempted failed its check."""
        self._fail(what)

    def _fail(self, what: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(what)
