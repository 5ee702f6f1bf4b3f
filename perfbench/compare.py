"""Compare benchmark results of two sides, metric by metric.

    python3 perfbench/compare.py BASE.json [BASE2.json ...] -- NEW.json [NEW2.json ...]

Each argument is a result record written by ``perfbench/run.py`` to
``.perfbench/results/``. Records are grouped by workload; for every metric
the medians of the two sides and their ratio are printed. The comparison
refuses to run (exit status 2) when the records differ in core count,
scale factor, methodology or traced-ness: numbers taken on a different
basis are not comparable.
"""

from __future__ import annotations

import json
import statistics
import sys

BASIS = ("cpus", "sf", "methodology", "trace")


def load(paths: list[str]) -> list[dict]:
    out = []
    for p in paths:
        with open(p) as f:
            out.append(json.load(f))
    return out


def basis_mismatch(records: list[dict]) -> str | None:
    for key in BASIS:
        values = {json.dumps(r["provenance"].get(key)) for r in records}
        if len(values) > 1:
            return f"records differ in {key}: {sorted(values)}"
    return None


def compare(base: list[dict], new: list[dict]) -> list[tuple]:
    rows = []
    workloads = sorted({r["provenance"]["workload"] for r in base + new})
    for w in workloads:
        b = [r for r in base if r["provenance"]["workload"] == w]
        n = [r for r in new if r["provenance"]["workload"] == w]
        if not b or not n:
            continue
        for metric, m in b[0]["metrics"].items():
            bv = statistics.median(r["metrics"][metric]["value"] for r in b)
            nv = statistics.median(r["metrics"][metric]["value"] for r in n if metric in r["metrics"])
            rows.append((w, metric, m["unit"], bv, nv, nv / bv if bv else float("nan")))
    return rows


def main(argv: list[str]) -> int:
    if "--" not in argv:
        print(__doc__, file=sys.stderr)
        return 2
    i = argv.index("--")
    base, new = load(argv[:i]), load(argv[i + 1:])
    if not base or not new:
        print("need at least one record on each side", file=sys.stderr)
        return 2
    why = basis_mismatch(base + new)
    if why:
        print(f"refusing to compare: {why}", file=sys.stderr)
        return 2
    for w, metric, unit, bv, nv, ratio in compare(base, new):
        print(f"{w:18s} {metric:45s} {bv:12.4g} {nv:12.4g} {unit:6s} x{ratio:.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
