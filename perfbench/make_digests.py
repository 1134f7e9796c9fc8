"""Establish the stored output digest of every registry row the
benchmark runs.

For each row of both registry workloads, on the benchmark's generated
data (``common.SF``, ``common.DATA_SEED``), this runs the row three
times in one session and records its ``sum(hash(*))`` digest when

- the first execution's collected output passes the row's DuckDB
  oracle compare (``tests/conftest.assert_parity_frames``), and
- all three executions give the same digest.

A row that fails either test is stored with ``"digest": null`` and the
reason; the benchmark then checks that row against its oracle on every
execution instead. Run from the repository root:

    python3 perfbench/make_digests.py
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import common  # noqa: E402
import datagen  # noqa: E402
import workloads  # noqa: E402

PASSES = 3


def main() -> int:
    common.check_checkout()
    work = os.path.join(common.ROOT, ".perfbench_work", f"digests-{os.getpid()}")
    common.prepare_env(work)
    try:
        return run(work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(work: str) -> int:
    import duckdb

    from mapreduceframework_spark.plans.registry import all_queries
    from mapreduceframework_spark.session import get_session
    from tests.conftest import assert_parity_frames

    data = os.path.join(work, "data")
    datagen.write_tables(data, common.SF, common.DATA_SEED)
    con = duckdb.connect()
    for name in sorted(os.listdir(data)):
        table = name.removesuffix(".parquet")
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{data}/{name}')")

    specs = all_queries()
    rows = [r for w in workloads.ROW_LISTS for r in w]
    stored = {}

    spark = get_session(app_name="perfbench-digests", cpus=common.cpus())
    for name in rows:
        spec = specs[name]
        digests, times, oracle = [], [], "match"
        for i in range(PASSES):
            t0 = time.perf_counter()
            df = spec.fn(spark, data)
            digests.append(common.hash_action(df).collect()[0][0])
            times.append(round(time.perf_counter() - t0, 3))
            if i == 0:
                try:
                    assert_parity_frames(df.toPandas(), con.execute(spec.oracle).fetchdf())
                except AssertionError as e:
                    oracle = f"mismatch: {str(e).splitlines()[0][:160]}"
        stable = len(set(digests)) == 1
        entry = {"digest": digests[0] if stable and oracle == "match" else None,
                 "oracle": oracle, "stable": stable, "seconds": times}
        stored[name] = entry
        print(json.dumps({name: entry}), flush=True)
    spark.stop()

    out = {"sf": common.SF, "data_seed": common.DATA_SEED, "passes": PASSES,
           "rows": dict(sorted(stored.items()))}
    with open(common.DIGESTS, "w") as f:
        json.dump(out, f, indent=1)
        f.write("\n")
    bad = [n for n, e in stored.items() if e["digest"] is None]
    print(f"{len(stored) - len(bad)} rows with a stored digest; oracle-checked: {bad}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
