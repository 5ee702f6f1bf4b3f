"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload feature_pipeline --seed 1 --seconds 10 --trace 0

Run from the repository root. The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). The line before it is the run's provenance. The full
record, provenance included, is also written to ``.perfbench/results/``.
Exit status 0 means every operation returned its checked result.

Everything the run writes goes under ``.perfbench/`` in the working
directory: the generated tables, Spark's local and temporary directories,
the event log and the results.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF = 0.01
METHODOLOGY = (
    "perfbench v2: one closed-loop client on local[nproc]; seeded float jitter on a fixed "
    "synthetic sf copy; timed action = row count + sum(xxhash64(all columns)); first "
    "execution checked exactly against the DuckDB oracle, later ones by digest; "
    "set-up = session start + untimed first execution of every op; "
    "window = max(1, seconds // pass budget) passes; "
    "pass cost = mean CPU seconds per pass of the JVM (JIT compiler threads excluded), "
    "its Python workers and the client, over the window's median CPU seconds of a "
    "reference 1M-long sort in the JVM; check and sampling time excluded"
)


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _environment(work: str) -> int:
    """Point every temporary and local directory of Python, Spark and the
    JVM into ``work``; returns the core count the session will use."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # no /tmp/hsperfdata files
    import tempfile

    tempfile.tempdir = None
    return cpus


def main(argv=None) -> int:
    args = _args(argv)
    sys.path.insert(0, ROOT)
    base = os.path.join(os.getcwd(), ".perfbench")
    work = os.path.join(base, f"run-{os.getpid()}")
    cpus = _environment(work)
    try:
        from perfbench import runner
        from perfbench.workloads import WORKLOADS

        if args.workload not in WORKLOADS:
            print(f"unknown workload {args.workload!r}; choose from {WORKLOADS}", file=sys.stderr)
            return 2
        results = os.path.join(base, "results")
        os.makedirs(results, exist_ok=True)
        stem = os.path.join(
            results, f"{args.workload}-seed{args.seed}-trace{args.trace}-{time.strftime('%Y%m%dT%H%M%S')}")
        record = runner.run_workload(args.workload, args.seed, args.seconds, bool(args.trace),
                                      base, work, SF, stem)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    record["provenance"].update(cpus=cpus, sf=SF, seed=args.seed, methodology=METHODOLOGY,
                                workload=args.workload, seconds=args.seconds, trace=args.trace)
    with open(f"{stem}.json", "w") as f:
        json.dump(record, f, indent=1)
    for e in record["errors"]:
        print(f"FAILED {e}", file=sys.stderr)
    print(json.dumps({"provenance": record["provenance"]}))
    print(json.dumps({k: record[k] for k in ("correct", "attempted", "failed", "metrics")}))
    return 0 if record["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
