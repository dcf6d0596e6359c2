"""Run one benchmark workload and print its metrics.

Usage, from the root of a checkout of this repository:

    python3 perfbench/run.py --workload crawl_dupheavy --seed 1 --seconds 5 --trace 0

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer metrics of a traced run
(spans are also written to ``.perfbench_work/traces/``). Every input is
generated from ``--seed`` under ``.perfbench_work/`` and removed afterwards.
Exits 1 when a correctness check fails, 2 when the engine is not found.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import time

T_START = time.perf_counter()
ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    needed = ["dedupe_archived_files_spark/__init__.py", "bench.py", "__spark_entry__.py",
              "scripts/check_oracles.py"]
    missing = [p for p in needed if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: run from the repository root; missing {missing}", file=sys.stderr)
        return 2

    # the engine, the frozen bench module and the oracle helpers come from the
    # checkout; Python workers forked by Spark inherit PYTHONPATH
    for p in (os.path.join(ROOT, "scripts"), ROOT, HERE):
        sys.path.insert(0, p)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"one of {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-s{args.seed}-p{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, sub))
    # keep Spark's shuffle/spill files, Python and JVM temp files inside the
    # checkout; without perf data the JVM writes nothing to /tmp either
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, [
        os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData",
        "-Djava.io.tmpdir=" + os.path.join(work, "tmp")]))
    trace_file = os.path.join(base, "traces", f"{args.workload}-s{args.seed}.json")
    try:
        b = workloads.Bench(work, args.seed, args.seconds, bool(args.trace), T_START, trace_file)
        try:
            out = workloads.WORKLOADS[args.workload](b)
        finally:
            b.close()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for note in out.notes:
        print(f"perfbench: FAILED {note}", file=sys.stderr)
    print(json.dumps({
        "correct": out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        # a metric an operation that raised left without a value prints null
        "metrics": {k: {"value": v if math.isfinite(v) else None, "unit": u}
                    for k, (v, u) in out.metrics.items()},
    }))
    return 0 if out.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
