"""Summarise run records: per workload and metric, the median, the
quartiles and the spread (distance between quartiles / median).

    python3 benchmark/report.py [records ...]

Without arguments it reads every record under benchmark/.work/records/.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys


def summarise(paths: list[str]) -> dict:
    values: dict[tuple[str, int], dict[str, list[float]]] = {}
    probes: dict[tuple[str, int], list[float]] = {}
    for p in paths:
        with open(p) as f:
            r = json.load(f)
        key = (r["workload"], r["trace"])
        for name, m in r["metrics"].items():
            values.setdefault(key, {}).setdefault(name, []).append(m["value"])
        probes.setdefault(key, []).append(r["machine_probe_s"]["before"])
    out = {}
    for key, metrics in sorted(values.items()):
        rows = {}
        for name, xs in metrics.items():
            med = statistics.median(xs)
            q1, _, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (med, med, med)
            rows[name] = {
                "runs": len(xs),
                "median": med,
                "q1": q1,
                "q3": q3,
                "spread": (q3 - q1) / med if med else 0.0,
            }
        out[f"{key[0]} trace={key[1]}"] = {"metrics": rows, "probe_s": probes[key]}
    return out


def main() -> None:
    here = os.path.dirname(os.path.abspath(__file__))
    paths = sys.argv[1:] or sorted(glob.glob(os.path.join(here, ".work", "records", "*.json")))
    for group, s in summarise(paths).items():
        print(group)
        for name, m in s["metrics"].items():
            print(
                f"  {name:40s} n={m['runs']:2d} median {m['median']:10.4g} "
                f"q1 {m['q1']:10.4g} q3 {m['q3']:10.4g} spread {m['spread']:.3f}"
            )


if __name__ == "__main__":
    main()
