"""Compare two sets of benchmark result files.

    python3 perfbench/compare.py A_FILES... -- B_FILES...

Each file is one run's results (``.bench_work/results/*.json``). For
every workload and end-to-end metric present in both sets, prints each
side's median and quartile spread (as a share of the median), B's
change against A, and whether it exceeds the metric's bound from
``BENCHMARK.json``.

Runs stamped with different core counts (``nproc`` or
``SPARK_GRAFT_CPUS``) are refused: their timings are not comparable.
So are traced runs mixed with untraced ones; a traced run prints its
own tracing overhead.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(paths: list[str]) -> list[dict]:
    out = []
    for p in paths:
        with open(p, encoding="utf-8") as fh:
            out.append(json.load(fh))
    return out


def cores(runs: list[dict]) -> set[tuple]:
    return {(r["stamp"]["nproc"], str(r["stamp"]["SPARK_GRAFT_CPUS"])) for r in runs}


def traced(runs: list[dict]) -> set[bool]:
    return {r["stamp"]["traced"] for r in runs}


def spread(values: list[float]) -> tuple[float, float]:
    """Median and interquartile range as a share of the median."""
    med = statistics.median(values)
    if len(values) < 2 or med == 0:
        return med, 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med


def by_workload(runs: list[dict]) -> dict[str, list[dict]]:
    out = defaultdict(list)
    for r in runs:
        out[r["stamp"]["workload"]].append(r)
    return out


def compare(a: list[dict], b: list[dict], bounds: dict[str, float]) -> list[str]:
    if len(cores(a) | cores(b)) != 1:
        raise SystemExit(f"refusing to compare runs with different core counts: "
                         f"A={sorted(cores(a))} B={sorted(cores(b))}")
    if len(traced(a) | traced(b)) != 1:
        raise SystemExit(f"refusing to compare traced with untraced runs: "
                         f"A={sorted(traced(a))} B={sorted(traced(b))}")
    lines = []
    wa, wb = by_workload(a), by_workload(b)
    for wl in sorted(set(wa) & set(wb)):
        lines.append(f"{wl}: A {len(wa[wl])} runs, B {len(wb[wl])} runs")
        for metric in sorted(set(wa[wl][0]["end_to_end"]) & set(wb[wl][0]["end_to_end"])):
            ma, sa = spread([r["end_to_end"][metric] for r in wa[wl]])
            mb, sb = spread([r["end_to_end"][metric] for r in wb[wl]])
            change = (mb - ma) / ma if ma else 0.0
            bound = bounds.get(metric)
            flag = "" if bound is None or change <= bound else "  WORSE THAN BOUND"
            lines.append(f"  {metric:<14} A {ma:12.4f} (IQR {sa:6.1%})  B {mb:12.4f} "
                         f"(IQR {sb:6.1%})  change {change:+7.1%}"
                         f"{'' if bound is None else f'  bound {bound:.0%}'}{flag}")
    return lines


def main(argv: list[str]) -> int:
    if "--" not in argv:
        print(__doc__, file=sys.stderr)
        return 2
    i = argv.index("--")
    a, b = load(argv[:i]), load(argv[i + 1:])
    if not a or not b:
        print("compare: each side needs at least one results file", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        bounds = {m["name"]: m["bound"] for m in json.load(fh)["end_to_end"]}
    print("\n".join(compare(a, b, bounds)))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
