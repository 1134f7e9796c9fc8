"""Process environment and the registry operation shared by the
benchmark and the digest tool.

Importing this module changes nothing; ``prepare_env`` must run before
pyspark or the engine is imported, because the engine reads its temp
and warehouse locations at import time.
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH_DIR = os.path.join(ROOT, "perfbench")
PACKAGE = "mapreduceframework_spark"
DIGESTS = os.path.join(BENCH_DIR, "digests.json")

# The registry workloads' fixed data: scale factor and generator seed.
# Stored digests are valid for exactly this pair.
SF = 0.1
DATA_SEED = 42


def cpus() -> int:
    """Cores this process may use (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def check_checkout() -> None:
    """Exit non-zero unless the engine sources sit beside the benchmark."""
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        sys.exit(f"perfbench: no {PACKAGE}/ package under {ROOT}; "
                 "run from a checkout of the repository")


def prepare_env(work_dir: str) -> None:
    """Keep every file Spark, the JVM and Python workers write under
    ``work_dir``, and put the checkout on the workers' import path (the
    package is not installed)."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    os.environ["JDK_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    paths = [ROOT, *filter(None, os.environ.get("PYTHONPATH", "").split(":"))]
    os.environ["PYTHONPATH"] = ":".join(dict.fromkeys(paths))
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def hash_action(df):
    """The order-insensitive action every registry operation ends with:
    it forces every operator and returns one integer digest."""
    return df.selectExpr("sum(hash(*)) AS h")
