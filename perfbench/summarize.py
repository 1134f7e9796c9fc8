"""Summarize benchmark runs: per workload and metric, the median, the
quartiles and the spread (interquartile distance over the median, as
``statistics.quantiles(values, n=4)`` gives the quartiles).

    python3 perfbench/summarize.py RUNS.jsonl [...]

Each input line is one JSON object ``{"workload", "seed", "result"}``
where ``result`` is the last stdout line of one ``run.py`` run.
"""

from __future__ import annotations

import json
import statistics
import sys
from collections import defaultdict


def summarize(lines: list[dict]) -> dict:
    by_wl: dict[str, dict[str, list[float]]] = defaultdict(lambda: defaultdict(list))
    units: dict[str, str] = {}
    runs: dict[str, dict[str, int]] = defaultdict(lambda: defaultdict(int))
    for line in lines:
        wl, res = line["workload"], line["result"]
        runs[wl]["runs"] += 1
        runs[wl]["attempted"] += res["attempted"]
        runs[wl]["failed"] += res["failed"]
        for name, m in res["metrics"].items():
            by_wl[wl][name].append(m["value"])
            units[name] = m["unit"]
    out = {}
    for wl, metrics in by_wl.items():
        out[wl] = {"runs": runs[wl]["runs"],
                   "error_rate": runs[wl]["failed"] / runs[wl]["attempted"],
                   "metrics": {}}
        for name, vals in metrics.items():
            med = statistics.median(vals)
            q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
            out[wl]["metrics"][name] = {
                "unit": units[name], "median": med, "q1": q1, "q3": q3,
                "spread": (q3 - q1) / med if med else 0.0,
            }
    return out


def main() -> None:
    lines = [json.loads(x) for path in sys.argv[1:] for x in open(path) if x.strip()]
    summary = summarize(lines)
    for wl, s in summary.items():
        print(f"{wl}: {s['runs']} runs, error_rate {s['error_rate']:.4f}")
        for name, m in s["metrics"].items():
            print(f"  {name:26s} {m['median']:12.5g} {m['unit']:8s} "
                  f"q1 {m['q1']:.5g} q3 {m['q3']:.5g} spread {m['spread']:.3f}")
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
