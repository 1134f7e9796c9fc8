"""Workload definitions: registry row lists, seeded pass order, and the
MapReduce job batch with its seeded inputs and pure-Python expectations.

The 55 ``bench=True`` rows of the query registry split into two
disjoint lists, classic analytics and LLM-corpus curation. The
benchmark's ``sql_analytics`` workload runs a fixed subset of the first
list (``SQL_TIMED``); both lists stay here for the self-check and the
digest tool, which cover every bench row.
"""

from __future__ import annotations

import random
import re
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Classic analytics: shallow plans over small shuffles, per-query
# overhead (build, Catalyst, codegen, scheduling) dominates. Includes
# writes (sink, CDC, lakehouse) and the streaming rows.
SQL_ANALYTICS = (
    "tpch_q1_pricing", "tpch_q2_min_cost_supplier", "tpch_q3_shipping",
    "tpch_q5_local_volume", "tpch_q6_forecast_revenue",
    "tpch_q9_product_profit", "tpch_q18_large_orders", "join_range_binned",
    "join_bloom_pruned", "window_range_frame", "window_topk_per_group",
    "window_rolling_distinct_users", "events_rfm_segments",
    "events_top_paths", "events_attribution_time_decay",
    "events_tumbling_counts", "events_session_windows",
    "events_sessionize_gaps", "stats_ks_two_sample", "cdc_merge_orders",
    "lakehouse_incremental_join", "lakehouse_incremental_agg",
    "hierarchy_rollup_recursive", "graph_pagerank_trade",
    "sink_bucketed_join", "streaming_tumbling_counts", "char_counts",
    "word_counts",
)

# LLM-corpus curation: candidate-pair shuffles (dedup, similarity joins,
# ANN), eager jobs at build time (k-means, semantic dedup, pipeline),
# text, multimodal, sampling and sketches; most Python-worker rows.
CORPUS_CURATION = (
    "ann_cosine_bruteforce", "ann_cosine_ivf", "ann_cosine_pq",
    "dedup_clusters", "dedup_minhash_lsh", "dedup_ngram_jaccard",
    "dedup_semantic_clusters", "dedup_simhash", "dedup_substring_chunks",
    "embedding_quantize_int8", "feature_hashing_trick",
    "kmeans_quantized_clusters", "multimodal_decode_features",
    "multimodal_phash_dedup", "pipeline_curate_corpus",
    "sample_importance_dsir", "similarity_join_minhash",
    "similarity_join_prefix_filter", "sketch_quantile_kll",
    "sketch_quantile_kll_twolevel", "text_bigram_lm_score",
    "text_bm25_topk", "text_bpe_tokenize", "text_bpe_vocab_counts",
    "text_chunk_sliding", "text_tfidf_top_terms", "udf_pandas_grouped_agg",
)

ROW_LISTS = (SQL_ANALYTICS, CORPUS_CURATION)

SQL = "sql_analytics"
MAPREDUCE = "mapreduce_jobs"
WORKLOADS = (SQL, MAPREDUCE)
NAME_RE = re.compile(r"[A-Za-z0-9_.-]+")

# The rows ``sql_analytics`` runs: a fresh process pays ~13 s of set-up
# before its cold pass, and a run has to fit several warm passes after
# it, so one cheap row per main mechanism of its list. The count is odd
# on purpose: every row gives one sample per pass, so the median of the
# warm samples lies among the middle row's latencies, not in the gap
# between two rows'.
SQL_TIMED = (
    "tpch_q3_shipping",           # star join + aggregate
    "tpch_q6_forecast_revenue",   # scan, filter, aggregate
    "streaming_tumbling_counts",  # micro-batches
)

# Nominal (cold, warm) pass seconds of each workload on a 4-core host.
# A run turns its seconds budget into a fixed number of warm passes with
# them, so every run does the same work and a slow host shows as slower
# passes rather than as fewer of them.
NOMINAL_PASS_S = {
    SQL: (10.0, 3.2),
    MAPREDUCE: (8.0, 2.2),
}


def warm_passes(workload: str, seconds: float) -> int:
    """Warm passes a run makes: as many nominal warm passes as fit the
    budget after the cold one, at least one."""
    cold, warm = NOMINAL_PASS_S[workload]
    return max(1, int((seconds - cold) // warm))


def pass_order(rows: tuple[str, ...], seed: int, pass_index: int) -> list[str]:
    """The row order of one pass: a shuffle seeded by (seed, pass)."""
    order = list(rows)
    random.Random(f"{seed}:{pass_index}").shuffle(order)
    return order


# -- mapreduce_jobs ------------------------------------------------------

# Random integers per job input, the reference's test1 size.
N_INTS = 100_000


def write_int_inputs(path: str, seed: int) -> dict[str, np.ndarray]:
    """Three seeded integer columns in [0, 2^31) as one parquet file.

    ``hist`` feeds the 100-hot-key histogram job, ``evens`` the
    one-key-per-record filter job, ``hist2`` the second histogram job.
    """
    rng = np.random.default_rng(seed)
    cols = {c: rng.integers(0, 2**31, N_INTS) for c in ("hist", "evens", "hist2")}
    table = pa.table({"n_id": np.arange(N_INTS, dtype=np.int64), **cols})
    pq.write_table(table, path)
    return cols


def expected_histogram(values: np.ndarray) -> Counter:
    return Counter(int(v) % 100 for v in values)


def expected_odd_values(values: np.ndarray) -> Counter:
    return Counter(int(v) for v in values if int(v) % 2 == 1)


def expected_char_counts(texts: list[str]) -> Counter:
    out: Counter = Counter()
    for t in texts:
        out.update(t or "")
    return out
