"""The engine's benchmark: one workload, one seed, one fresh process.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Workloads (closed loop from this one
process; at most ``nproc`` operations in flight):

- ``sql_analytics``: registry rows executed one at a time, each as
  ``spec.fn(spark, data)`` plus its ``sum(hash(*))`` action. Pass 0 is
  the cold pass of a fresh session; a fixed number of warm passes
  follows, sized from ``--seconds`` with the nominal pass times in
  ``workloads.py``. The seed shuffles each pass.
- ``mapreduce_jobs``: batches of concurrent ``start_map_reduce_job``
  jobs polled with ``Job.get_state`` from the main thread, over seeded
  random integers and the ``documents`` table.

Every run generates its inputs under ``.perfbench_work/`` in the
checkout, pins ``local[nproc]``, checks every output outside the timed
region, and prints as its last stdout line one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the gated end-to-end
metrics with ``--trace 0``, per-layer metrics with ``--trace 1``. Lines
before it, prefixed ``#``, print every metric of the run and hold the
run record (host, versions, controls, samples). Exit status is non-zero
when the checkout has no engine.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
from collections import Counter, defaultdict  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import common  # noqa: E402
import datagen  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402

RUN_CAP = 3.5       # no new pass after this many budgets since process start
POLL_S = 0.01       # sleep between get_state sweeps of a job batch
RSS_PERIOD_S = 0.2  # resident-memory sampling period
CLK_TCK = os.sysconf("SC_CLK_TCK")

# End-to-end metrics of an untraced run. Only GATED go into the result
# line and BENCHMARK.json: the wall times of passes and operations move
# with the host's steal (a loaded host doubled them between runs of the
# same code), the CPU time of the same work much less.
END_TO_END_UNITS = {
    "setup_s": "s", "cold_pass_s": "s", "warm_pass_s": "s",
    "latency_p50_s": "s", "latency_p90_s": "s",
    "cold_cpu_s": "s", "warm_cpu_s": "s",
}
GATED = ("setup_s", "cold_cpu_s", "warm_cpu_s")

PER_LAYER = (
    "session.start_s", "session.warmup_s",
    "plans.build_s", "plans.build_self_s", "plans.build_executions",
    "plans.build_jobs_s",
    "catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
    "codegen.compiles", "codegen.compile_ms",
    "codegen.cold_compiles", "codegen.cold_compile_ms",
    "sources.load_calls", "sources.load_s", "sources.input_bytes",
    "sources.input_rows",
    "executor.jobs", "executor.stages", "executor.tasks", "executor.run_s",
    "executor.cpu_s", "executor.gc_s", "executor.busy_frac",
    "shuffle.write_bytes", "shuffle.read_bytes", "shuffle.records",
    "shuffle.fetch_wait_s", "shuffle.spill_bytes",
    "python.total_s", "python.boot_s", "python.bytes_sent",
    "python.bytes_received",
    "core.start_s", "core.get_state_ms", "core.get_state_calls",
    "core.map_s", "core.shuffle_s", "core.reduce_s", "core.result_s",
    "streaming.query_s", "streaming.executions",
    "memory.peak_rss_mb",
    "trace.warm_pass_s", "trace.latency_p50_s", "trace.uncovered_s",
    "trace.collect_s",
)


def layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_bytes") or name.endswith("bytes_sent") or name.endswith("bytes_received"):
        return "bytes"
    if name.endswith("_frac"):
        return "fraction"
    if name.endswith("_mb"):
        return "MB"
    return "count"


def log(msg: str) -> None:
    print(f"# {msg}", flush=True)


# -- host record ------------------------------------------------------------

def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def cpu_ticks() -> list[int]:
    """Host-wide CPU ticks: user, nice, system, idle, iowait, irq,
    softirq, steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def busy_and_steal(t0: list[int], t1: list[int]) -> tuple[float, float]:
    """Shares of host CPU time between two ``cpu_ticks`` readings that
    were busy (any non-idle state) and stolen by the hypervisor."""
    d = [b - a for a, b in zip(t0, t1)]
    total = sum(d) or 1
    return (total - d[3] - d[4]) / total, d[7] / total


def source_digest() -> str:
    """SHA-256 over the engine's Python sources: identifies the code
    measured when the checkout carries no git metadata."""
    h = hashlib.sha256()
    pkg = os.path.join(common.ROOT, common.PACKAGE)
    for d, _, files in sorted(os.walk(pkg)):
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, common.ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def git_commit() -> str | None:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=common.ROOT,
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


def exe_name(pid: int) -> str:
    try:
        return os.path.basename(os.readlink(f"/proc/{pid}/exe"))
    except OSError:
        return ""


def process_tree() -> set[int]:
    """This process and its descendants: the driver JVM, the Python
    worker daemon and its workers. The JVM starts the worker daemon from
    one of its threads, so children are read from every thread. A JVM
    child that still runs ``java`` has not yet exec'd the command the
    JVM spawns and shares the JVM's memory, so it is left out."""
    out, todo = set(), [os.getpid()]
    while todo:
        p = todo.pop()
        if p in out:
            continue
        out.add(p)
        try:
            threads = os.listdir(f"/proc/{p}/task")
        except OSError:
            continue
        spawner = exe_name(p) == "java"
        for t in threads:
            try:
                with open(f"/proc/{p}/task/{t}/children") as f:
                    kids = [int(c) for c in f.read().split()]
            except OSError:
                continue
            todo.extend(c for c in kids if not (spawner and exe_name(c) == "java"))
    return out


def tree_cpu_s() -> float:
    """User plus system CPU seconds used so far by ``process_tree``,
    counting reaped children (exited Python workers). Time the
    hypervisor steals from the host is not charged to a process, so a
    loaded host slows passes but hardly moves their CPU time."""
    ticks = 0
    for p in process_tree():
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / CLK_TCK


class RssSampler(threading.Thread):
    """Peak summed resident memory of ``process_tree``."""

    def __init__(self) -> None:
        super().__init__(daemon=True)
        self.peak_bytes = 0
        self._stop_evt = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def sample(self) -> None:
        total = 0
        for p in process_tree():
            try:
                with open(f"/proc/{p}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except OSError:
                pass
        self.peak_bytes = max(self.peak_bytes, total)

    def run(self) -> None:
        while not self._stop_evt.wait(RSS_PERIOD_S):
            self.sample()

    def stop(self) -> None:
        self._stop_evt.set()
        self.join()
        self.sample()


def span(tracer, name: str, op: str | None = None):
    """A span of ``tracer``, or nothing when the run is untraced."""
    return tracer.span(name, op) if tracer is not None else contextlib.nullcontext()


# -- session ------------------------------------------------------------------

def warm_up(spark) -> None:
    """Make the session ready: one job through the scheduler and the
    codegen path. Python worker start and first reads are left to the
    cold pass, which is what a one-shot user pays."""
    spark.range(1_000_000).selectExpr("sum(id)").collect()


def set_up(tracer, cores: int, t0: float):
    """The session set-up: imports, ``get_session`` (which launches the
    JVM) and the warm-up, counted from ``t0``. Returns (session, start
    seconds, warm-up seconds)."""
    with tracer.span("session.start"):
        from mapreduceframework_spark.session import get_session

        spark = get_session(app_name="perfbench", cpus=cores)
    t1 = time.perf_counter()
    with tracer.span("session.warmup"):
        warm_up(spark)
    return spark, t1 - t0, time.perf_counter() - t1


def stop_session(spark) -> None:
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


# -- registry workloads -------------------------------------------------------

class RegistryRunner:
    def __init__(self, spark, tracer: tracing.Tracer | None, data_dir: str,
                 rows: tuple[str, ...], digests: dict) -> None:
        from mapreduceframework_spark.plans.registry import all_queries

        self.spark = spark
        self.tracer = tracer
        self.data = data_dir
        specs = all_queries()
        self.specs = {r: specs[r] for r in rows}
        self.digests = digests
        self.oracle = None  # DuckDB connection, opened on first use
        self.seen: dict[str, int] = {}
        self.failures: list[str] = []
        self.ops: list[dict] = []

    def op(self, name: str, pass_index: int) -> dict:
        """Run one row; returns its record, output and digest. The output
        is checked later, by ``check``, outside the timed pass."""
        spec = self.specs[name]
        tr = self.tracer
        op_id = f"p{pass_index}:{name}"
        rec: dict = {"op": op_id, "row": name, "pass": pass_index}
        df = agg = digest = error = None
        if tr is not None:
            cg0 = tr.codegen()
        t0 = time.perf_counter()
        try:
            with span(tr, "op", op_id):
                with span(tr, "plans.build", op_id):
                    df = spec.fn(self.spark, self.data)
                agg = common.hash_action(df)
                with span(tr, "execute", op_id):
                    digest = agg.collect()[0][0]
        except Exception as e:  # noqa: BLE001 - counted, reported by name
            error = e
        wall = time.perf_counter() - t0
        if tr is not None:
            cg1 = tr.codegen()
            rec.update(tr.collect(*[d for d in (agg,) if d is not None]))
            rec["codegen.compiles"] = cg1[0] - cg0[0]
            rec["codegen.compile_ms"] = cg1[1] - cg0[1]
            self._attribute_spans(rec, op_id, name)
        rec["wall_s"] = wall
        if error is not None:
            self.failures.append(f"{op_id}: {type(error).__name__}: {str(error)[:200]}")
        rec["ok"] = error is None
        self.ops.append(rec)
        return {"rec": rec, "df": df, "digest": digest}

    def check(self, done: dict) -> None:
        rec = done["rec"]
        if rec["ok"]:
            rec["ok"] = self._check(rec["row"], done["df"], done["digest"])

    def _attribute_spans(self, rec: dict, op_id: str, name: str) -> None:
        tr = self.tracer
        op_idx = tr.last("op", op_id)
        op_span = tr.spans[op_idx]
        build_idx = tr.last("plans.build", op_id)
        build = tr.spans[build_idx]
        build_s = build["end"] - build["start"]
        loads = [s for s in tr.children_of(build_idx) if s["name"] == "sources.load"]
        jobs = rec.pop("_job_intervals")
        execs = rec.pop("_exec_times")
        load_iv = [(s["start"], s["end"]) for s in loads]
        job_iv = tracing.job_intervals(jobs, op_span["end"])
        rec["plans.build_s"] = build_s
        rec["plans.build_jobs_s"] = tracing.union_length(job_iv, build["start"], build["end"])
        rec["plans.build_self_s"] = build_s - tracing.union_length(
            load_iv + job_iv, build["start"], build["end"])
        rec["plans.build_executions"] = sum(
            build["start"] <= t <= build["end"] for t in execs)
        rec["sources.load_calls"] = len(loads)
        rec["sources.load_s"] = sum(b - a for a, b in load_iv)
        if name.startswith("streaming_"):
            rec["streaming.query_s"] = build_s
            rec["streaming.executions"] = rec["plans.build_executions"]
        covered = tracing.union_length(
            [(s["start"], s["end"]) for s in tr.children_of(op_idx)],
            op_span["start"], op_span["end"])
        rec["trace.uncovered_s"] = (op_span["end"] - op_span["start"]) - covered

    def _check(self, name: str, df, digest) -> bool:
        first = self.seen.setdefault(name, digest)
        if digest != first:
            self.failures.append(f"{name}: digest changed between passes ({first} -> {digest})")
            return False
        want = self.digests.get(name)
        if want is not None:
            if digest != want:
                self.failures.append(f"{name}: digest {digest} != stored {want}")
                return False
            return True
        # No stored digest: compare the collected output with the row's
        # DuckDB oracle instead.
        import duckdb

        from tests.conftest import assert_parity_frames

        if self.oracle is None:
            self.oracle = duckdb.connect()
            for f in sorted(os.listdir(self.data)):
                self.oracle.execute(f"CREATE VIEW {f.removesuffix('.parquet')} AS "
                                    f"SELECT * FROM read_parquet('{self.data}/{f}')")
        try:
            assert_parity_frames(df.toPandas(),
                                 self.oracle.execute(self.specs[name].oracle).fetchdf())
        except AssertionError as e:
            self.failures.append(f"{name}: oracle mismatch: {str(e).splitlines()[0][:200]}")
            return False
        return True


def run_registry(spark, tracer, args, data_dir: str) -> dict:
    with open(common.DIGESTS) as f:
        stored = json.load(f)
    if stored["sf"] != common.SF or stored["data_seed"] != common.DATA_SEED:
        raise SystemExit("perfbench: digests.json was made for other data")
    digests = {n: e["digest"] for n, e in stored["rows"].items()}
    rows = workloads.SQL_TIMED
    runner = RegistryRunner(spark, tracer, data_dir, rows, digests)
    planned = workloads.warm_passes(args.workload, args.seconds)
    pass_walls: list[float] = []
    pass_cpu: list[float] = []
    latencies: list[list[float]] = []
    p = 0
    while True:
        cpu0 = tree_cpu_s()
        tp = time.perf_counter()
        done = [runner.op(name, p) for name in workloads.pass_order(rows, args.seed, p)]
        pass_walls.append(time.perf_counter() - tp)
        pass_cpu.append(tree_cpu_s() - cpu0)
        latencies.append([d["rec"]["wall_s"] for d in done])
        for d in done:
            runner.check(d)
        p += 1
        if not more_passes(p, planned, args.seconds):
            break
    return {"pass_walls": pass_walls, "pass_cpu": pass_cpu, "latencies": latencies,
            "ops": runner.ops,
            "failures": runner.failures, "attempted": len(runner.ops),
            "failed": sum(not o["ok"] for o in runner.ops),
            "per_row": per_row(runner.ops)}


def per_row(ops: list[dict]) -> dict[str, list[float]]:
    out: dict[str, list[float]] = defaultdict(list)
    for o in ops:
        out[o["row"]].append(round(o["wall_s"], 4))
    return dict(out)


def more_passes(done: int, planned_warm: int, seconds: float) -> bool:
    """Whether to start another pass after ``done`` passes (the first is
    the cold one): until the planned warm passes have run, unless the
    process has been running for ``RUN_CAP`` times the budget, which
    only a heavily loaded host reaches. One warm pass always runs."""
    if done < 2:
        return True
    return done <= planned_warm and time.perf_counter() - T_PROCESS < RUN_CAP * seconds


# -- mapreduce_jobs -------------------------------------------------------------

def run_mapreduce(spark, tracer, args, data_dir: str, ints_path: str,
                  expected: dict, cores: int) -> dict:
    from mapreduceframework_spark.core import (
        CharCountClient,
        FilterEvensClient,
        ModuloHistogramClient,
        Stage,
        start_map_reduce_job,
    )
    from mapreduceframework_spark.sources import load_table

    ints = spark.read.parquet(ints_path)
    docs = load_table(spark, data_dir, "documents").select("doc_id", "text")
    batch = [
        ("histogram", ModuloHistogramClient(), ints.select("n_id", "hist")),
        ("filter_evens", FilterEvensClient(), ints.select("n_id", "evens")),
        ("char_counts", CharCountClient(), docs),
        ("histogram2", ModuloHistogramClient(), ints.select("n_id", "hist2")),
    ][:max(1, cores)]

    planned = workloads.warm_passes(args.workload, args.seconds)
    batch_walls: list[float] = []
    batch_cpu: list[float] = []
    latencies: list[list[float]] = []
    ops: list[dict] = []
    failures: list[str] = []
    b = 0
    while True:
        if tracer is not None:
            cg0 = tracer.codegen()
        cpu0 = tree_cpu_s()
        tb = time.perf_counter()
        running = {}
        executed = []
        outputs = []
        for name, client, df in batch:
            op_id = f"b{b}:{name}"
            rec = {"op": op_id, "row": name, "pass": b, "core.get_state_calls": 0,
                   "core.get_state_ms": 0.0, "core.map_s": 0.0,
                   "core.shuffle_s": 0.0, "core.reduce_s": 0.0}
            t0 = time.perf_counter()
            with span(tracer, "core.start", op_id):
                job = start_map_reduce_job(spark, client, df)
            rec["core.start_s"] = time.perf_counter() - t0
            running[op_id] = (name, job, t0, rec, [t0, None])
            executed.append(job.result_df)
        while running:
            for op_id in list(running):
                name, job, t0, rec, last = running[op_id]
                ts = time.perf_counter()
                with span(tracer, "core.poll", op_id):
                    state = job.get_state()
                te = time.perf_counter()
                rec["core.get_state_calls"] += 1
                rec["core.get_state_ms"] += (te - ts) * 1e3
                if last[1] is not None:
                    rec[f"core.{last[1]}_s"] += te - last[0]
                phase = {Stage.MAP: "map", Stage.SHUFFLE: "shuffle",
                         Stage.REDUCE: "reduce"}.get(state.stage)
                last[0], last[1] = te, phase
                if state.stage == Stage.REDUCE and state.percentage >= 100.0:
                    error = None
                    tr0 = time.perf_counter()
                    try:
                        with span(tracer, "core.result", op_id):
                            out = job.result()
                    except Exception as e:  # noqa: BLE001 - counted, reported
                        error, out = e, None
                    t1 = time.perf_counter()
                    rec["core.result_s"] = t1 - tr0
                    rec["wall_s"] = t1 - t0
                    if error is not None:
                        failures.append(f"{op_id}: {type(error).__name__}: {str(error)[:200]}")
                    rec["ok"] = error is None
                    ops.append(rec)
                    outputs.append((name, out, rec))
                    del running[op_id]
            if running:
                time.sleep(POLL_S)
        batch_walls.append(time.perf_counter() - tb)
        batch_cpu.append(tree_cpu_s() - cpu0)
        # Outputs are checked once the whole batch is timed.
        for name, out, rec in outputs:
            if rec["ok"]:
                rec["ok"] = check_job(name, out, expected, failures, rec["op"])
        batch_ops = [o for o in ops if o["pass"] == b]
        latencies.append([o["wall_s"] for o in batch_ops])
        if tracer is not None:
            cg1 = tracer.codegen()
            counters = tracer.collect(*executed)
            counters.pop("_job_intervals")
            counters.pop("_exec_times")
            counters["codegen.compiles"] = cg1[0] - cg0[0]
            counters["codegen.compile_ms"] = cg1[1] - cg0[1]
            covered = mapreduce_coverage(tracer, batch_ops)
            batch_ops[0].update(counters)
            for o in batch_ops:
                o["trace.uncovered_s"] = o["wall_s"] - covered[o["op"]]
        b += 1
        if not more_passes(b, planned, args.seconds):
            break
    return {"pass_walls": batch_walls, "pass_cpu": batch_cpu, "latencies": latencies,
            "ops": ops,
            "failures": failures, "attempted": len(ops),
            "failed": sum(not o["ok"] for o in ops), "per_row": per_row(ops)}


def mapreduce_coverage(tracer, batch_ops) -> dict[str, float]:
    out = {}
    for o in batch_ops:
        spans = [(s["start"], s["end"]) for s in tracer.spans if s["op"] == o["op"]]
        lo = min(a for a, _ in spans)
        out[o["op"]] = tracing.union_length(spans, lo, lo + o["wall_s"])
    return out


def check_job(name: str, rows, expected: dict, failures: list[str], op_id: str) -> bool:
    """Compare one job's output with the pure-Python count. Counts are
    accumulated, so a key that comes out twice is a mismatch."""
    got: Counter = Counter()
    if name == "filter_evens":
        bad = [r for r in rows if r[0] != r[1]]
        if bad:
            failures.append(f"{op_id}: key != value in {len(bad)} rows")
            return False
        got.update(int(r[0]) for r in rows)
    else:
        key = int if name.startswith("histogram") else str
        for r in rows:
            got[key(r[0])] += int(r[1])
        if len(rows) != len(got):
            failures.append(f"{op_id}: {len(rows) - len(got)} keys came out more than once")
            return False
    if got != expected[name]:
        diff = len(set(got.items()) ^ set(expected[name].items()))
        failures.append(f"{op_id}: output differs from the pure-Python count in {diff} entries")
        return False
    return True


def mapreduce_inputs(work: str, data_dir: str, seed: int):
    import pyarrow.parquet as pq

    path = os.path.join(work, "ints.parquet")
    cols = workloads.write_int_inputs(path, seed)
    texts = pq.read_table(os.path.join(data_dir, "documents.parquet"),
                          columns=["text"]).column("text").to_pylist()
    expected = {
        "histogram": workloads.expected_histogram(cols["hist"]),
        "histogram2": workloads.expected_histogram(cols["hist2"]),
        "filter_evens": workloads.expected_odd_values(cols["evens"]),
        "char_counts": workloads.expected_char_counts(texts),
    }
    return path, expected


# -- metrics ----------------------------------------------------------------------

def quantile(values: list[float], q: float) -> float:
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[round(q * 100) - 1]


def end_to_end(res: dict, setup_s: float) -> dict:
    warm = [x for lat in res["latencies"][1:] for x in lat]
    return {
        "setup_s": setup_s,
        "cold_pass_s": res["pass_walls"][0],
        "warm_pass_s": statistics.median(res["pass_walls"][1:]),
        "latency_p50_s": statistics.median(warm),
        "latency_p90_s": quantile(warm, 0.9),
        "cold_cpu_s": res["pass_cpu"][0],
        "warm_cpu_s": statistics.median(res["pass_cpu"][1:]),
    }


def per_layer(res: dict, session_parts: tuple[float, float], tracer, cores: int) -> dict:
    sums: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for o in res["ops"]:
        for k, v in o.items():
            if k in PER_LAYER and isinstance(v, (int, float)):
                sums[o["pass"]][k] += v
    for p, wall in enumerate(res["pass_walls"]):
        sums[p]["executor.busy_frac"] = sums[p]["executor.run_s"] / (wall * cores)
        n_polls = sums[p]["core.get_state_calls"]
        if n_polls:
            sums[p]["core.get_state_ms"] /= n_polls
    warm = range(1, len(res["pass_walls"]))
    out = {k: statistics.median(sums[p][k] for p in warm) for k in PER_LAYER}
    out["session.start_s"], out["session.warmup_s"] = session_parts
    out["codegen.cold_compiles"] = sums[0]["codegen.compiles"]
    out["codegen.cold_compile_ms"] = sums[0]["codegen.compile_ms"]
    warm_lat = [x for lat in res["latencies"][1:] for x in lat]
    out["trace.warm_pass_s"] = statistics.median(res["pass_walls"][1:])
    out["trace.latency_p50_s"] = statistics.median(warm_lat)
    out["trace.collect_s"] = tracer.collect_s / len(res["pass_walls"])
    return out


# -- main -------------------------------------------------------------------------

def parse_args(argv=None):
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="measuring budget, turned into a fixed number of warm passes")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main() -> int:
    args = parse_args()
    common.check_checkout()
    # A terminated run still stops its JVM and removes its run directory.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    base = os.path.join(common.ROOT, ".perfbench_work")
    work = os.path.join(base, f"run-{os.getpid()}")
    common.prepare_env(work)
    try:
        result, record = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if args.trace:
        os.makedirs(os.path.join(base, "traces"), exist_ok=True)
        path = os.path.join(base, "traces", f"{args.workload}-seed{args.seed}-{os.getpid()}.json")
        with open(path, "w") as f:
            json.dump(record.pop("trace"), f)
        log(f"spans and per-operation counters: {path}")
    log("run " + json.dumps(record))
    print(json.dumps(result), flush=True)
    return 0


def run(args, work: str):
    cores = common.cpus()
    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "nproc": cores, "master": f"local[{cores}]",
              "sf": common.SF, "load_start": loadavg(),
              "python": platform.python_version(), "commit": git_commit(),
              "engine_sources": source_digest()}
    t_gen = time.perf_counter()
    data_dir = datagen.cached_tables(os.path.dirname(work), common.SF, common.DATA_SEED)
    if args.workload == workloads.MAPREDUCE:
        ints_path, expected = mapreduce_inputs(work, data_dir, args.seed)
    gen_s = time.perf_counter() - t_gen
    record["inputs_s"] = gen_s

    ticks0 = cpu_ticks()
    rss = RssSampler()
    rss.start()
    tracer = tracing.Tracer()
    if args.trace:
        wrap_load_table(tracer)
    # Set-up counts from process start, minus input generation.
    spark, start_s, warmup_s = set_up(tracer, cores, T_PROCESS + gen_s)
    setup_s = start_s + warmup_s
    record["setup_s"] = setup_s
    record["versions"] = {"spark": spark.version,
                          "java": spark.sparkContext._jvm.System.getProperty("java.version")}
    if args.trace:
        tracer.attach(spark)
    try:
        if args.workload == workloads.MAPREDUCE:
            res = run_mapreduce(spark, tracer if args.trace else None, args, data_dir,
                                ints_path, expected, cores)
        else:
            res = run_registry(spark, tracer if args.trace else None, args, data_dir)
        if args.trace:
            record["controls_s"] = run_controls(spark)
    finally:
        rss.stop()
        stop_session(spark)
    record["load_end"] = loadavg()
    record["host_busy_frac"], record["host_steal_frac"] = busy_and_steal(ticks0, cpu_ticks())
    # Peak resident memory is printed on every run but gated on none:
    # JVM heap growth makes it swing by a third between identical runs.
    peak_rss_mb = rss.peak_bytes / 2**20
    record["peak_rss_mb"] = peak_rss_mb
    record["failures"] = res["failures"]
    record["pass_walls_s"] = [round(x, 4) for x in res["pass_walls"]]
    record["pass_cpu_s"] = [round(x, 2) for x in res["pass_cpu"]]
    record["per_row_s"] = res["per_row"]
    warm_samples = sum(len(x) for x in res["latencies"][1:])
    record["warm_latency_samples"] = warm_samples
    attempted, failed = res["attempted"], res["failed"]
    record["error_rate"] = failed / attempted
    for f in res["failures"]:
        print(f"perfbench: FAILED {f}", file=sys.stderr)
    log(f"error_rate {record['error_rate']:.4f} ({failed}/{attempted} operations); "
        f"warm latency samples {warm_samples}; warm passes {len(res['pass_walls']) - 1}")
    log(f"peak_rss_mb = {peak_rss_mb:.6g} MB (driver JVM + Python driver + workers)")
    if args.trace:
        values = per_layer(res, (start_s, warmup_s), tracer, cores)
        values["memory.peak_rss_mb"] = peak_rss_mb
        units = {k: layer_unit(k) for k in values}
        record["trace"] = {"spans": tracer.with_self_times(), "ops": res["ops"]}
        for k, v in values.items():
            log(f"{k} = {v:.6g} {units[k]}")
    else:
        units = END_TO_END_UNITS
        measured = end_to_end(res, setup_s)
        for k, v in measured.items():
            note = "" if k in GATED else " (not gated)"
            log(f"{k} = {v:.6g} {units[k]}{note}")
        record["end_to_end"] = measured
        values = {k: measured[k] for k in GATED}
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }
    return result, record


def run_controls(spark) -> dict:
    """bench.py's host-calibration controls, one sample each."""
    sys.path.insert(0, common.ROOT)
    import bench

    out = {}
    for name, fn in bench.control_workloads(spark).items():
        t0 = time.perf_counter()
        fn()
        out[name] = round(time.perf_counter() - t0, 4)
    return out


def wrap_load_table(tracer) -> None:
    """Time every ``load_table`` call: rebinds the public function before
    the plans modules import it."""
    import mapreduceframework_spark.sources as sources
    import mapreduceframework_spark.sources.registry as registry

    inner = registry.load_table

    def load_table(spark, sf_dir, name):
        with tracer.span("sources.load"):
            return inner(spark, sf_dir, name)

    registry.load_table = load_table
    sources.load_table = load_table


if __name__ == "__main__":
    sys.exit(main())
