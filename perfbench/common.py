"""Run context shared by the workloads: work directory, Spark session
set-up, peak memory and host load readings."""

from __future__ import annotations

import os
import shutil
import sys
import time
from dataclasses import dataclass, field

from perfbench.trace import Tracer

#: where every file the benchmark writes lives, relative to the checkout
WORK_DIR = ".bench_work"
#: pause between the two collections of ``heap_live_mb``
HEAP_CLEANER_WAIT_S = 0.5


def checkout_root() -> str:
    return os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def prepare_environment(root: str) -> str:
    """Point every temp/scratch location at the work dir (before the
    JVM or any temp file exists) and make the engine importable."""
    work = os.path.join(root, WORK_DIR)
    if os.path.isdir(work):
        shutil.rmtree(work)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    # every JVM started from here (the launcher too): temp files under the
    # work dir, and no hsperfdata file in the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    import tempfile

    tempfile.tempdir = tmp
    if root not in sys.path:
        sys.path.insert(0, root)
    return work


@dataclass
class Ctx:
    """One benchmark process: seed, work dir, live session, tracer."""

    seed: int
    work: str
    tracer: Tracer
    spark: object = None
    attempted: int = 0
    failed: int = 0
    notes: dict = field(default_factory=dict)

    @property
    def sc(self):
        return self.spark.sparkContext

    def path(self, *parts: str) -> str:
        p = os.path.join(self.work, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        """Record one output check; a failure is reported loudly and
        counted, never skipped."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"CHECK FAILED {name}: {detail}", file=sys.stderr, flush=True)


def stop_jvm() -> None:
    """Stop the session and its JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    if SparkSession._instantiatedSession is not None:
        SparkSession._instantiatedSession.stop()
    elif SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def start_session(ctx: Ctx) -> dict:
    """Start the engine session, which boots the JVM, and ship the
    package to workers.  Returns the wall time of each step."""
    from datalakehouse_spark import io as dio
    from datalakehouse_spark.session import get_spark

    t0 = time.perf_counter()
    ctx.spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(ctx.work, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Dderby.system.home={os.path.join(ctx.work, 'derby')}"
            ),
            # keep every job's status for per-layer attribution
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100",
            "spark.ui.showConsoleProgress": "false",
            # every trigger's progress stays readable for the drain wait
            "spark.sql.streaming.numRecentProgressUpdates": "100000",
        },
    )
    ctx.spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    dio._ensure_session_contract(ctx.spark)
    t2 = time.perf_counter()
    return {"get_spark_s": t1 - t0, "ship_package_s": t2 - t1}


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def jvm_pid(spark) -> int | None:
    gw = getattr(spark.sparkContext, "_gateway", None)
    proc = getattr(gw, "proc", None)
    return getattr(proc, "pid", None)


def rss_peak_mb(spark) -> float:
    """Peak RSS of this Python process plus its JVM child."""
    kb = _vm_hwm_kb(os.getpid())
    pid = jvm_pid(spark) if spark is not None else None
    if pid:
        kb += _vm_hwm_kb(pid)
    return kb / 1024.0


def heap_live_mb(spark) -> float:
    """JVM heap in use after a full collection: what the engine still
    holds once the work is done.  Unlike RSS it does not depend on how far
    the collector chose to grow the heap.  Python's collector runs first,
    so py4j proxies the driver no longer uses stop pinning JVM objects;
    the second JVM collection frees the cached blocks and broadcasts
    that Spark's ContextCleaner released after the first."""
    import gc

    gc.collect()
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    time.sleep(HEAP_CLEANER_WAIT_S)
    jvm.java.lang.System.gc()
    usage = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
    return usage.getUsed() / 2**20


def load_1m() -> float:
    return os.getloadavg()[0]


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the host's aggregate CPU line; steal is
    time the hypervisor gave this machine's CPUs to someone else."""
    try:
        with open("/proc/stat", encoding="ascii") as fh:
            vals = [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return 0, 0
    return (vals[7] if len(vals) > 7 else 0), sum(vals)
