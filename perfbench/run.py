"""Event-store benchmark: one command, three workloads.

    python3 perfbench/run.py --workload {ingest_burst,console_reads,analytics_headline}
        --seed N --seconds S --trace {0,1}

Run from the repository root. Every workload runs on ``local[nproc]``
from this one driver process, in a private directory under
``.perfbench_runs/`` that is removed on exit. With ``--trace 0`` the last
line of standard output is a JSON object holding the end-to-end
metrics; with ``--trace 1`` the Spark event log is on and the object
holds the per-layer metrics instead. Metric definitions and the
metric -> layer -> workload map are in ``perfbench/README.md``.
"""

from __future__ import annotations

import time

SETUP_T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import metrics  # noqa: E402


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(metrics.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    from perfbench import eventlog
    from perfbench.harness import Run

    workload = metrics.workload_fn(args.workload)
    run = Run(ROOT, args.workload, bool(args.trace))
    try:
        result = workload(run, args.seed, args.seconds, SETUP_T0)
        run.stop()
        counters = eventlog.parse(run.event_log()) if args.trace else None
        values = result.per_layer(run, counters) if args.trace else result.end_to_end()
    finally:
        run.close()
    wanted = metrics.PER_LAYER if args.trace else metrics.END_TO_END
    unknown = set(values) - {name for name, _, _ in wanted}
    if unknown:
        raise KeyError(f"metrics missing from perfbench/metrics.py: {sorted(unknown)}")
    # a layer the workload does not exercise did no work: it reads 0
    out = {
        "correct": result.failed == 0,
        "attempted": result.attempted,
        "failed": result.failed,
        "metrics": {
            name: {"value": values.get(name, 0), "unit": unit}
            for name, unit, _better in wanted
        },
    }
    print(f"[perfbench] {args.workload} wall {time.perf_counter() - SETUP_T0:.1f}s",
          file=sys.stderr)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
