"""Session lifetime, scratch directory and memory readings for one run."""

from __future__ import annotations

import gc
import os
import resource
import shutil
import subprocess
import time
from dataclasses import dataclass
from typing import Callable

from keycloak_event_stream_spark.session import get_spark
from perfbench.stats import median


class Run:
    """One benchmark run: a private directory under the checkout that
    holds the store, checkpoints, Spark scratch space and the event
    log, and the SparkSession that uses it. Closing the run stops the
    session, waits for the JVM to exit and removes the directory."""

    def __init__(self, root: str, name: str, trace: bool) -> None:
        self.dir = os.path.join(root, ".perfbench_runs", f"{name}-{os.getpid()}")
        shutil.rmtree(self.dir, ignore_errors=True)
        self.trace = trace
        self.event_log_dir = os.path.join(self.dir, "eventlog")
        self.spark = None
        self.start_s = 0.0
        self._jvm_pid = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.dir, *parts)

    def start(self):
        """Start the session on every core and time it."""
        tmp = self.path("tmp")
        os.makedirs(tmp, exist_ok=True)
        # Spark scratch space, the JVM's temp files and Python workers'
        # temp files all stay inside the run directory.
        os.environ["SPARK_LOCAL_DIRS"] = self.path("local")
        os.environ["TMPDIR"] = tmp
        conf = {
            "spark.driver.memory": "2g",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": self.path("warehouse"),
        }
        if self.trace:
            os.makedirs(self.event_log_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.event_log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", cpus=os.cpu_count(), extra_conf=conf)
        self.start_s = time.perf_counter() - t0
        self._jvm_pid = self.spark._jvm.ProcessHandle.current().pid()
        return self.spark

    def peak_rss_mb(self) -> float:
        """Peak resident memory of the JVM plus the Python driver."""
        jvm_kb = 0
        with open(f"/proc/{self._jvm_pid}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
        own_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        return (jvm_kb + own_kb) / 1024.0

    def cpu_s(self) -> float:
        """CPU seconds used so far by this process, the JVM and the
        JVM's children (Python workers). Unlike wall time, this does not
        grow when the machine gives the run less CPU."""
        children: dict[int, list[int]] = {}
        ticks: dict[int, int] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat", encoding="ascii") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
            except OSError:  # the process ended while we listed /proc
                continue
            pid = int(entry)
            children.setdefault(int(fields[1]), []).append(pid)
            ticks[pid] = int(fields[11]) + int(fields[12])  # utime + stime
        total, todo = 0, [self._jvm_pid]
        while todo:
            pid = todo.pop()
            total += ticks.get(pid, 0)
            todo += children.get(pid, [])
        own = os.times()
        return total / os.sysconf("SC_CLK_TCK") + own.user + own.system

    def timed(self, fn, *args):
        """``fn(*args)`` as (result, wall_s, cpu_s). A full GC first keeps
        the collection of earlier garbage out of the measurement."""
        self.spark._jvm.System.gc()
        c0, t0 = self.cpu_s(), time.perf_counter()
        out = fn(*args)
        return out, time.perf_counter() - t0, self.cpu_s() - c0

    def memory(self) -> tuple[float, float]:
        return self.retained_mb(), self.peak_rss_mb()

    def retained_mb(self) -> float:
        """Memory still held once the work is done: the JVM heap in use
        after a full collection plus the Python driver's resident set.
        Unlike the peak, this does not depend on when the collector ran.
        Cached tables and persisted RDDs are dropped first: whether the
        ContextCleaner has freed a dead query's pins by now is a race,
        so they are counted by ``analytics.leftover_cache_entries``
        instead."""
        jvm = self.spark._jvm
        self.spark.catalog.clearCache()
        for rdd in list(self.spark.sparkContext._jsc.getPersistentRDDs().values()):
            rdd.unpersist(True)
        # Python first, so py4j releases the JVM objects it still holds;
        # the pause lets the ContextCleaner drop blocks of dead RDDs and
        # broadcasts the first collection queued.
        gc.collect()
        jvm.System.gc()
        time.sleep(1.0)
        jvm.System.gc()
        rt = jvm.Runtime.getRuntime()
        heap = rt.totalMemory() - rt.freeMemory()
        with open("/proc/self/status", encoding="ascii") as fh:
            rss_kb = next(int(ln.split()[1]) for ln in fh if ln.startswith("VmRSS:"))
        return (heap / 1024.0 + rss_kb) / 1024.0

    def event_log(self) -> str:
        """Path of the finished event log (valid after :meth:`stop`)."""
        (name,) = os.listdir(self.event_log_dir)
        return os.path.join(self.event_log_dir, name)

    def stop(self) -> None:
        """Stop the session and wait for the JVM process to end."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None

    def close(self) -> None:
        try:
            self.stop()
        finally:
            shutil.rmtree(self.dir, ignore_errors=True)
            parent = os.path.dirname(self.dir)
            if os.path.isdir(parent) and not os.listdir(parent):
                os.rmdir(parent)


def plan_time_s(spark, df) -> float:
    """Optimization plus physical planning of ``df``'s own execution,
    from its QueryExecution's phase tracker (``collect()`` runs on that
    QueryExecution; a write would build a new one)."""
    phases = spark._jvm.scala.jdk.javaapi.CollectionConverters.asJava(
        df._jdf.queryExecution().tracker().phases()
    )
    return sum(
        (phases[k].endTimeMs() - phases[k].startTimeMs()) / 1e3
        for k in ("optimization", "planning") if k in phases
    )


def units(seconds: float, per_10s: int) -> int:
    """How many units of work to time: ``per_10s`` for every 10 s of
    ``seconds``, at least one. The count depends only on the arguments,
    so two commits do the same work."""
    return max(1, round(seconds / 10 * per_10s))


@dataclass
class Result:
    """What a workload hands back: ``attempted`` timed operations
    (micro-batches or queries) of which ``failed`` gave wrong output,
    the wall and CPU seconds of each pass over the workload's unit of
    work, ``memory`` as (retained_mb, peak_rss_mb) read right after the
    timed loop, and ``layers``, which turns the parsed event log (``None``
    when tracing is off) into the workload's per-layer metrics."""

    setup_s: float
    attempted: int
    failed: int
    pass_s: list[float]
    pass_cpu_s: list[float]
    memory: tuple[float, float]
    layers: Callable[[dict | None], dict]

    def end_to_end(self) -> dict:
        return {
            "setup_s": self.setup_s,
            "retained_mb": self.memory[0],
            "pass_cpu_s": median(self.pass_cpu_s),
        }

    def per_layer(self, run: Run, counters: dict | None) -> dict:
        out = {
            "session.start_s": run.start_s,
            "peak_rss_mb": self.memory[1],
            "trace.pass_s": median(self.pass_s),
            "trace.pass_cpu_s": median(self.pass_cpu_s),
        }
        out.update(self.layers(counters))
        return out
