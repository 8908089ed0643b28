"""Spread of a set of benchmark runs, the way the acceptance rule takes it.

    python3 perfbench/spread.py <bound-file BENCHMARK.json> <run output>...

Each run output is the standard output of one ``perfbench/run.py`` run; its
last line is the result object.  For every end-to-end metric this prints
the median over the runs and the distance between the first and third
quartile (``statistics.quantiles(values, n=4)``) as a share of the median,
next to the metric's bound.
"""

from __future__ import annotations

import json
import statistics
import sys


def spreads(results: list[dict], bounds: dict[str, float]) -> dict[str, dict]:
    out = {}
    for name, bound in bounds.items():
        values = [r["metrics"][name]["value"] for r in results]
        q1, _q2, q3 = statistics.quantiles(values, n=4)
        med = statistics.median(values)
        out[name] = {"median": med, "iqr_share": (q3 - q1) / med, "bound": bound,
                     "runs": len(values), "values": values}
    return out


def main(argv: list[str]) -> int:
    with open(argv[0]) as f:
        bounds = {m["name"]: m["bound"] for m in json.load(f)["end_to_end"]}
    results = []
    for path in argv[1:]:
        with open(path) as f:
            results.append(json.loads(f.read().strip().splitlines()[-1]))
    bad = [r for r in results if not r["correct"]]
    print(json.dumps({"failed_runs": len(bad), "spreads": spreads(results, bounds)}, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
