"""The benchmark's own consistency check. Run from the repository root:

    python3 perfbench/selfcheck.py

Checks that
- the two registry row lists are disjoint and together cover exactly
  the registry's ``bench=True`` rows, and the timed subset lies in the
  analytics list;
- every workload, row and metric name matches ``[A-Za-z0-9_.-]+``;
- the seed changes the row order of a pass but never the row set;
- ``BENCHMARK.json`` lists exactly the metrics ``run.py`` prints, and
  ``digests.json`` covers every registry row.
Exits non-zero with one line per failed check.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import common  # noqa: E402
import workloads as w  # noqa: E402


def problems() -> list[str]:
    sys.path.insert(0, common.ROOT)
    import run

    from mapreduceframework_spark.plans.registry import all_queries

    out = []
    sql, corpus = set(w.SQL_ANALYTICS), set(w.CORPUS_CURATION)
    bench_rows = {n for n, s in all_queries().items() if s.bench}
    if sql & corpus:
        out.append(f"row lists overlap: {sorted(sql & corpus)}")
    if len(sql) != len(w.SQL_ANALYTICS) or len(corpus) != len(w.CORPUS_CURATION):
        out.append("a row list repeats a row")
    if sql | corpus != bench_rows:
        out.append(f"lists != bench rows: missing {sorted(bench_rows - sql - corpus)}, "
                   f"extra {sorted((sql | corpus) - bench_rows)}")
    extra = set(w.SQL_TIMED) - sql
    if extra:
        out.append(f"timed rows outside the analytics list: {sorted(extra)}")

    with open(os.path.join(common.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [*w.WORKLOADS, *sql, *corpus,
             *(m["name"] for m in spec["end_to_end"] + spec["per_layer"])]
    out += [f"bad name {n!r}" for n in names if not w.NAME_RE.fullmatch(n)]
    unknown = {x["name"] for x in spec["workloads"]} - set(w.WORKLOADS)
    if unknown:
        out.append(f"BENCHMARK.json names unknown workloads {sorted(unknown)}")
    if [m["name"] for m in spec["end_to_end"]] != list(run.GATED):
        out.append("BENCHMARK.json end_to_end differs from run.GATED")
    if [m["name"] for m in spec["per_layer"]] != list(run.PER_LAYER):
        out.append("BENCHMARK.json per_layer differs from run.PER_LAYER")

    for rows in (*w.ROW_LISTS, w.SQL_TIMED):
        orders = {tuple(w.pass_order(rows, seed, p)) for seed in range(20) for p in range(3)}
        if any(sorted(o) != sorted(rows) for o in orders):
            out.append("a seeded pass order changed the row set")
        if len(rows) > 2 and len(orders) < 2:
            out.append("the seed does not change the row order")
        if w.pass_order(rows, 7, 1) != w.pass_order(rows, 7, 1):
            out.append("pass order is not a function of (seed, pass)")

    with open(common.DIGESTS) as f:
        stored = json.load(f)["rows"]
    missing = (sql | corpus) - set(stored)
    if missing:
        out.append(f"digests.json lacks {sorted(missing)}")
    return out


def main() -> int:
    common.check_checkout()
    found = problems()
    for p in found:
        print(f"selfcheck: {p}")
    print("selfcheck: ok" if not found else f"selfcheck: {len(found)} problem(s)")
    return 1 if found else 0


if __name__ == "__main__":
    sys.exit(main())
