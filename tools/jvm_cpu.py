"""Where a Spark driver JVM's CPU goes between two readings.

    from tools.jvm_cpu import reading, split
    r0 = reading(spark)
    ...                        # the work to attribute
    parts = split(r0, reading(spark))

``split`` returns CPU seconds per part:

- ``tasks``, ``gc``, ``py4j``, ``dag_scheduler``: live JVM threads
  grouped by ``/proc/<jvm>/task/<tid>/comm`` (``Executor task launch
  worker``, ``GC Thread``/``G1 *``, py4j's ``Thread-N`` connection
  threads, ``dag-scheduler-event-loop``);
- ``compile``: HotSpot compile time from ``CompilationMXBean``. Not
  from the compiler threads: JDK 17 retires idle compiler threads
  (``UseDynamicNumberOfCompilerThreads``), and a retired thread's CPU
  vanishes from any per-thread sum;
- ``rest``: the JVM's own total (``/proc/<jvm>/stat``, which keeps the
  CPU of exited threads) minus the parts above: other threads, threads
  that exited, and the compiler threads' work the MXBean does not time.
  The MXBean times compiles by the clock, so on a machine busy with
  other work ``compile`` over-reads and ``rest`` can go below zero;
- ``jvm``: that total; ``reaped_children``: CPU of processes that
  exited and were reaped by the JVM or one of its live descendants
  (``cutime``/``cstime``: Hadoop's ``chmod``/``readlink`` spawns, Python
  workers the PySpark daemon reaped); ``workers``: the live descendants
  of the JVM (the PySpark daemon and its workers); ``driver_py``: this
  Python process.

A descendant that exits without being reaped by a live process leaves
both sums, so ``workers`` can read low.

As a script it splits one cold pass over registered queries, after an
untimed warm-up pass, and prints the parts as JSON:

    python tools/jvm_cpu.py SF_DIR q_graph_pagerank q_ts_similarity
"""

from __future__ import annotations

import gc
import json
import os
import sys
from dataclasses import dataclass

_TICK = os.sysconf("SC_CLK_TCK")

# comm prefixes (the kernel keeps 15 bytes of a thread name)
FAMILIES = {
    "tasks": ("Executor task l",),
    "gc": ("GC Thread", "G1 "),
    "py4j": ("Thread-",),
    "dag_scheduler": ("dag-scheduler",),
}


@dataclass
class Reading:
    threads: dict[int, tuple[str, int]]  # tid -> (comm, ticks)
    jvm: int  # utime + stime of the whole JVM, in ticks
    reaped: int  # cutime + cstime of the JVM and its live descendants
    workers: int  # utime + stime of the live descendants of the JVM
    compile_ms: int
    driver_py: float  # seconds


def _stat(path: str) -> list[str]:
    with open(path, encoding="ascii") as fh:
        return fh.read().rsplit(")", 1)[1].split()


def _descendants(root: int) -> tuple[int, int]:
    """(own, reaped) ticks summed over the live descendants of ``root``."""
    children: dict[int, list[int]] = {}
    ticks: dict[int, tuple[int, int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            f = _stat(f"/proc/{entry}/stat")
        except OSError:  # the process ended while we listed /proc
            continue
        children.setdefault(int(f[1]), []).append(int(entry))
        ticks[int(entry)] = (int(f[11]) + int(f[12]), int(f[13]) + int(f[14]))
    own = reaped = 0
    todo = list(children.get(root, []))
    while todo:
        pid = todo.pop()
        t = ticks.get(pid, (0, 0))
        own, reaped = own + t[0], reaped + t[1]
        todo += children.get(pid, [])
    return own, reaped


def compile_ms(spark) -> int:
    """HotSpot's total compile time so far in the driver JVM."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    return mf.getCompilationMXBean().getTotalCompilationTime()


def reading(spark) -> Reading:
    pid = spark._jvm.ProcessHandle.current().pid()
    ms = compile_ms(spark)
    threads = {}
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/comm", encoding="utf-8") as fh:
                comm = fh.read().strip()
            f = _stat(f"/proc/{pid}/task/{tid}/stat")
        except OSError:  # the thread exited while we listed it
            continue
        threads[int(tid)] = (comm, int(f[11]) + int(f[12]))
    f = _stat(f"/proc/{pid}/stat")
    workers, reaped = _descendants(pid)
    own = os.times()
    return Reading(
        threads=threads,
        jvm=int(f[11]) + int(f[12]),
        reaped=int(f[13]) + int(f[14]) + reaped,
        workers=workers,
        compile_ms=ms,
        driver_py=own.user + own.system,
    )


def split(a: Reading, b: Reading) -> dict[str, float]:
    """CPU seconds per part between readings ``a`` and ``b``."""
    parts = dict.fromkeys(FAMILIES, 0.0)
    for tid, (comm, ticks) in b.threads.items():
        before = a.threads.get(tid)
        # a tid the kernel reused for a new thread counts from zero
        delta = ticks - (before[1] if before and before[0] == comm else 0)
        for family, prefixes in FAMILIES.items():
            if comm.startswith(prefixes):
                parts[family] += delta / _TICK
                break
    parts["compile"] = (b.compile_ms - a.compile_ms) / 1000.0
    jvm = (b.jvm - a.jvm) / _TICK
    parts["rest"] = jvm - sum(parts.values())
    parts["jvm"] = jvm
    parts["reaped_children"] = (b.reaped - a.reaped) / _TICK
    parts["workers"] = (b.workers - a.workers) / _TICK
    parts["driver_py"] = b.driver_py - a.driver_py
    return {k: round(v, 2) for k, v in parts.items()}


def main(argv: list[str]) -> int:
    if len(argv) < 2:
        print(__doc__, file=sys.stderr)
        return 2
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from keycloak_event_stream_spark.registry import collect
    from keycloak_event_stream_spark.session import get_spark

    sf_dir, names = argv[0], argv[1:]
    queries, _ = collect()
    spark = get_spark("jvm_cpu", cpus=os.cpu_count())

    def one_pass():
        for name in names:
            spark.catalog.clearCache()
            queries[name](spark, sf_dir).collect()
        gc.collect()

    one_pass()  # warm-up: first-run class loading stays out of the split
    r0 = reading(spark)
    one_pass()
    print(json.dumps(split(r0, reading(spark))))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
