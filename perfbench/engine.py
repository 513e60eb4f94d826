"""Session set-up shared by every workload, and the run context."""

from __future__ import annotations

import os
import signal
import subprocess
import time
from dataclasses import dataclass, field

from measure import Tracer, descendants, median

# The JVM heap is capped at 2g (the engine ships 8g) and pre-touched.
# With the engine's own heap, G1 sizes the heap from its pause times, and
# peak RSS ranged over 2.4-4.0 GB in six runs (an IQR of 45 % of the
# median).  The fixed heap makes peak_rss_mb steady, at a price: on-heap
# changes (cached blocks, state store) cannot move it; it moves with
# off-heap, metaspace and Python-worker memory.
DRIVER_MEMORY = "2g"
SETUP_CYCLES = 3
# how long the shutdown waits for the JVM and its children before killing them
STOP_TIMEOUT_S = 30.0


@dataclass
class RunContext:
    workload: str
    seed: int
    seconds: float
    trace: bool
    nproc: int
    work: str  # scratch directory inside the checkout, removed after the run
    tracer: Tracer = field(init=False)
    details: dict = field(default_factory=dict)

    def __post_init__(self) -> None:
        self.tracer = Tracer(self.trace)

    def path(self, *parts: str) -> str:
        p = os.path.join(self.work, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p


def start_session(ctx: RunContext):
    from spark_lever_spark.session import get_session

    tmp = ctx.path("tmp", "")
    spark = get_session(
        app_name=f"perfbench-{ctx.workload}",
        master=f"local[{ctx.nproc}]",
        shuffle_partitions=ctx.nproc,
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch",
            "spark.local.dir": ctx.path("spark-local", ""),
            "spark.sql.warehouse.dir": ctx.path("warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.streaming.numRecentProgressUpdates": "1000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def become_subreaper() -> None:
    """Make this process the child subreaper of everything started under
    it: a process whose parent exits (a Python worker after its daemon,
    a helper the JVM forked just before it exited) is re-parented here,
    not to init, so ``stop_engine`` can still find it and wait for it."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _reap_descendants() -> list[int]:
    """Collect exited children, then return the descendants still alive."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            break
        if pid == 0:
            break
    return descendants(os.getpid())


def stop_engine() -> None:
    """Stop the Spark context, shut the JVM down and wait until it and
    every process started under this one have ended, killing what is
    left after ``STOP_TIMEOUT_S``.  Without this the JVM outlives the
    benchmark by its shutdown hooks."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is not None:
        try:
            sc.stop()
        except Exception:
            pass
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        try:
            gateway.shutdown()
        except Exception:
            pass
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            try:
                proc.stdin.close()  # the JVM exits at the end of its stdin
            except OSError:
                pass
            try:
                proc.wait(STOP_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + STOP_TIMEOUT_S
    while left := _reap_descendants():
        if time.monotonic() >= deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass
        time.sleep(0.05)


def timed_setups(ctx: RunContext, warm_up) -> tuple[object, dict]:
    """Set the engine up ``SETUP_CYCLES`` times: each cycle stops the
    previous session, builds a new one with ``get_session`` and runs
    ``warm_up(spark)``.  Only the first cycle launches the JVM, so
    ``setup_s`` (the median) is a set-up in a warm JVM; the first cycle is
    reported on its own as ``session.cold_setup_s``.  Returns the last
    session and the per-cycle timings."""
    spark = None
    get_s, warm_s, total_s = [], [], []
    for cycle in range(SETUP_CYCLES):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        with ctx.tracer.span("session.get_session", request=f"setup{cycle}"):
            spark = start_session(ctx)
        t1 = time.perf_counter()
        with ctx.tracer.span("session.warmup", request=f"setup{cycle}"):
            warm_up(spark, cycle)
        t2 = time.perf_counter()
        get_s.append(t1 - t0)
        warm_s.append(t2 - t1)
        total_s.append(t2 - t0)
    timings = {
        "setup_s": median(total_s),
        "session.get_session_s": median(get_s),
        "session.warmup_s": median(warm_s),
        "session.cold_setup_s": total_s[0],
        "setup_cycles_s": [round(x, 4) for x in total_s],
    }
    return spark, timings


def host_facts(ctx: RunContext, spark, data: str) -> dict:
    import duckdb
    import pyspark

    try:
        java = spark._jvm.java.lang.System.getProperty("java.version")
    except Exception:
        java = "unknown"
    return {
        "nproc": ctx.nproc,
        "pyspark": pyspark.__version__,
        "java": java,
        "duckdb": duckdb.__version__,
        "data": data,
        "seed": ctx.seed,
        "traced": ctx.trace,
        "workload": ctx.workload,
        "seconds": ctx.seconds,
    }

