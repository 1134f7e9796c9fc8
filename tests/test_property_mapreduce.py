"""Property-based equivalence for the generic MapReduceClient API.

The reference's entire correctness story is two golden client programs
(SURVEY.md §5); this upgrades it: for RANDOM inputs and a client whose
map emits 0..2 pairs per record, the Spark pipeline (core/job.py, in
both of its plan shapes: one mapInPandas pass for a one-partition
input, mapInPandas -> hash shuffle + sort -> key-run mapInPandas
otherwise) and the literal RDD path (core/rdd.py) must all equal a
naive in-Python mapreduce executed from the same client object. That
pins the contract itself — emit2 0..n times, reduce sees all values of
exactly one key, output is an unordered bag — not just two fixed
examples.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from mapreduceframework_spark.core.client import MapReduceClient
from mapreduceframework_spark.core.job import run_job
from mapreduceframework_spark.core.rdd import run_job_rdd


def make_sum_stats_client(modulus: int) -> MapReduceClient:
    """Map: route each value to bucket v % m; even values ALSO emit a
    negated copy into a shifted bucket (exercises 1-to-many emit2 and
    0-emit asymmetry). Reduce: order-insensitive group stats.

    Defined inside a function so cloudpickle serializes the class BY
    VALUE — executors cannot import pytest test modules (same reason
    module-level pandas_udf breaks, see project memory)."""

    class SumStatsClient(MapReduceClient):
        intermediate_schema = "k2 long, v2 long"
        output_schema = "k2 long, total long, n long, vmin long"

        def __init__(self, m: int) -> None:
            self.m = m

        def map(self, key: Any, value: Any) -> Iterator[tuple[int, int]]:
            v = int(value)
            yield v % self.m, v
            if v % 2 == 0:
                yield (v % self.m) + 1000, -v

        def reduce(
            self, key: Any, values: list[Any]
        ) -> Iterator[tuple[int, ...]]:
            vals = [int(x) for x in values]
            yield int(key), sum(vals), len(vals), min(vals)

    return SumStatsClient(modulus)


def naive_mapreduce(
    client: MapReduceClient, pairs: list[tuple[Any, Any]]
) -> list[tuple[Any, ...]]:
    """The reference's dataflow in ~10 lines of Python: map all, group
    by key equality, reduce each group once with its full value list."""
    inter: list[tuple[Any, Any]] = []
    for k, v in pairs:
        inter.extend(client.map(k, v))
    groups: dict[Any, list[Any]] = {}
    for k2, v2 in inter:
        groups.setdefault(k2, []).append(v2)
    out: list[tuple[Any, ...]] = []
    for k2, vals in groups.items():
        out.extend(client.reduce(k2, vals))
    return sorted(out)


def python_passes(df) -> int:
    """Number of mapInPandas nodes in a job's plan: 1 for the one-pass
    shape, 2 for map stage + reduce stage."""
    return df._jdf.queryExecution().analyzed().toString().count("MapInPandas")


@pytest.mark.parametrize("shape", ["one_partition", "default"])
@pytest.mark.parametrize("runner", [run_job, run_job_rdd], ids=["df", "rdd"])
@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[
        HealthCheck.function_scoped_fixture,
        HealthCheck.too_slow,
    ],
)
@given(
    values=st.lists(st.integers(min_value=0, max_value=100_000), max_size=80),
    modulus=st.integers(min_value=1, max_value=7),
)
def test_generic_client_matches_naive(spark, runner, shape, values, modulus):
    """``one_partition`` is a ``coalesce(1)`` input, which core/job.py
    runs as one Python pass; ``default`` is the session's multi-partition
    local frame, which must keep the two-stage plan."""
    client = make_sum_stats_client(modulus)
    pairs = [(i, v) for i, v in enumerate(values)]
    want = naive_mapreduce(client, pairs)
    df = spark.createDataFrame(pairs or [], "key long, value long")
    if shape == "one_partition":
        df = df.coalesce(1)
    if runner is run_job:
        got_df = runner(spark, client, df)
        assert python_passes(got_df) == (1 if shape == "one_partition" else 2)
    else:
        got_df = runner(client, df)
    got = sorted(tuple(r) for r in got_df.collect())
    assert got == want


def test_banded_rep_pairs_invariants(spark):
    """Property sweep over deterministic pseudo-random fingerprints:
    the banded candidate generator must (a) never pair a rep with
    itself, (b) always order pairs doc_a < doc_b, (c) emit a pair at
    most once even when it collides in BOTH bands, and (d) find every
    pair of identical fingerprints (they collide in all bands)."""
    from pyspark.sql import functions as F

    from mapreduceframework_spark.operators.dedup import banded_rep_pairs

    rows = []
    for i in range(60):
        fp = (i * 2654435761 + 40503) % (1 << 32)
        if i % 7 == 0:
            fp = 12345678  # planted identical-fingerprint cluster
        rows.append((i, fp))
    # distinct reps only (mirror the production flow)
    seen, reps = set(), []
    for i, fp in rows:
        if fp not in seen:
            seen.add(fp)
            reps.append((i, fp, sum(1 for _, f in rows if f == fp)))
    df = spark.createDataFrame(reps, "rep long, fp long, cnt long")
    band_keys = F.array(
        F.struct(F.lit(0).alias("band_id"), (F.col("fp") % 65536).alias("key")),
        F.struct(
            F.lit(1).alias("band_id"), F.expr("fp DIV 65536").alias("key")
        ),
    )
    out = banded_rep_pairs(df, band_keys, ["fp"]).collect()
    pairs = [(r["doc_a"], r["doc_b"]) for r in out]
    assert all(a < b for a, b in pairs)
    assert len(pairs) == len(set(pairs))  # distinct even on 2-band hits
    # identical fingerprints merged into ONE rep upstream, so the only
    # pairs here are genuine cross-rep band collisions; none may share
    # a rep id with itself
    assert all(a != b for a, b in pairs)


def test_sample_frames_stride_parameter(spark):
    """stride=None keeps the registered FRAME_STRIDE behavior;
    stride=1 yields every frame."""
    from pyspark.sql import functions as F

    from mapreduceframework_spark.operators import multimodal as M

    docs = spark.createDataFrame(
        [(1, "x" * 50, 50)], "doc_id long, text string, n_chars long"
    )
    with_payload = M.attach_payload(docs)
    default = M.sample_frames(with_payload).count()
    dense = M.sample_frames(with_payload, stride=1).count()
    n_frames = (50 + M.FRAME_BYTES - 1) // M.FRAME_BYTES
    assert dense == n_frames
    assert default == len(range(0, n_frames, M.FRAME_STRIDE))
