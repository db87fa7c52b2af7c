"""Metric names, units and the arithmetic that turns samples into them.

``END_TO_END`` and ``PER_LAYER`` are the names ``BENCHMARK.json`` lists, in
its order; the tests hold the two in step. Every workload reports every
metric, so each one is defined for all three workloads (see NOTES.md).
"""

from __future__ import annotations

import statistics
from dataclasses import dataclass, field

import numpy as np

END_TO_END = {
    "setup_s": "s",
    "query_p50_ms": "ms",
    "query_tail_ms": "ms",
    "qps": "1/s",
    "index_bytes_per_text_byte": "B/B",
}

PER_LAYER = {
    "session.start_s": "s",
    "session.jvm_peak_rss_mb": "MB",
    "analyzer.tokenize_us": "us",
    "analyzer.tokenize_col_s": "s",
    "index.build.docstore_lineage_s": "s",
    "index.build.postings_lineage_s": "s",
    "index.build.pack_s": "s",
    "index.build.docstore_write_s": "s",
    "index.build.blocks_write_s": "s",
    "index.build.metrics_scan_s": "s",
    "index.build.finalize_s": "s",
    "index.build.docs_per_s": "docs/s",
    "index.build.spark_jobs": "count",
    "index.build.tasks": "count",
    "index.build.postings": "count",
    "index.build.blocks": "count",
    "index.bm25.reader_open_ms": "ms",
    "index.bm25.fresh_query_ms": "ms",
    "index.bm25.term_stats_ms": "ms",
    "index.bm25.fetch_blocks_ms": "ms",
    "index.bm25.walk_self_ms": "ms",
    "index.bm25.result_frame_ms": "ms",
    "index.codec.unpack_ms": "ms",
    "index.qparse.parse_us": "us",
    "index.sqlsurface.bm25_search_ms": "ms",
    "index.bm25.search_many_ms_per_query": "ms",
    "index.bm25.search_many_fixed_ms_per_query": "ms",
    "index.bm25.spark_jobs_per_query": "count",
    "index.bm25.tasks_per_query": "count",
    "index.bm25.route_driver_share": "share",
    "index.bm25.bytes_fetched_per_query": "B",
    "index.bm25.blocks_fetched_per_query": "count",
    "index.bm25.postings_per_result": "count",
    "index.maintain.append_docs_per_s": "docs/s",
    "index.maintain.append_s": "s",
    "index.maintain.delete_ms": "ms",
    "index.maintain.spark_jobs_per_append": "count",
    "index.maintain.bytes_written_per_appended_text_byte": "B/B",
    "bench.residual_ms": "ms",
    "trace.overhead_ms_per_query": "ms",
}

# span name → per-query self-time metric and its scale from seconds
SELF_TIME_METRICS = {
    "analyzer.tokenize": ("analyzer.tokenize_us", 1e6),
    "index.qparse.parse": ("index.qparse.parse_us", 1e6),
    "index.bm25.term_stats": ("index.bm25.term_stats_ms", 1e3),
    "index.bm25.fetch_blocks": ("index.bm25.fetch_blocks_ms", 1e3),
    "index.bm25.walk": ("index.bm25.walk_self_ms", 1e3),
    "index.bm25.result_frame": ("index.bm25.result_frame_ms", 1e3),
    "index.codec.unpack": ("index.codec.unpack_ms", 1e3),
    "index.sqlsurface.bm25_search": ("index.sqlsurface.bm25_search_ms", 1e3),
    "index.bm25.search_many": ("index.bm25.search_many_ms_per_query", 1e3),
    "query": ("bench.residual_ms", 1e3),
}


# query_tail_ms percentile per workload. It is fixed, so the metric means
# the same on every commit however many samples a faster or slower engine
# fits into a run. Each is the highest of p75/p90/p95/p99 with at least ten
# samples beyond it on this engine: point_zipf completes 40-60 queries per
# run of 12 s, ingest_mixed records 3 rounds × (2 + PROBES) = 42 probes.
# batch_replay has one sample per search_many call, about ten per run,
# too few for any tail, so its query_tail_ms is its median (marked in the
# output).
TAIL_P = {"point_zipf": 75.0, "batch_replay": 50.0, "ingest_mixed": 75.0}


def tail(samples: list[float], p: float) -> tuple[float, int]:
    """(value, samples above it) of the ``p``-th percentile."""
    v = float(np.percentile(samples, p))
    return v, sum(x > v for x in samples)


@dataclass
class Samples:
    """What one run measured; seconds unless named otherwise."""

    session_s: float = 0.0
    setup_rep_s: list[float] = field(default_factory=list)
    warm_s: float = 0.0
    build_s: list[float] = field(default_factory=list)
    append_s: list[float] = field(default_factory=list)
    fresh_s: list[float] = field(default_factory=list)
    query_s: list[float] = field(default_factory=list)  # one per query
    queries: int = 0
    steps: int = 0  # timed loop steps: queries, batches or ingest rounds
    timed_s: float = 0.0
    index_bytes: int = 0
    text_bytes: int = 0
    jvm_peak_rss_kb: int = 0


def end_to_end(s: Samples, tail_p: float) -> tuple[dict[str, float], str]:
    """Metric values and a one-line note on the tail percentile."""
    tail_s, beyond = tail(s.query_s, tail_p)
    vals = {
        "setup_s": s.session_s + s.warm_s + statistics.median(s.setup_rep_s),
        "query_p50_ms": statistics.median(s.query_s) * 1e3,
        "query_tail_ms": tail_s * 1e3,
        "qps": s.queries / s.timed_s,
        "index_bytes_per_text_byte": s.index_bytes / s.text_bytes,
    }
    note = (f"query_tail_ms is p{tail_p:g} of {len(s.query_s)} samples, "
            f"{beyond} above it; query_p50_ms of the same samples")
    if tail_p == 50.0:
        note += ("; TAIL IS P50: too few samples for a tail, "
                 "query_tail_ms equals query_p50_ms")
    elif beyond < 10:
        note += f"; THIN TAIL: fewer than 10 samples above p{tail_p:g}"
    return vals, note


def result(correct: bool, attempted: int, failed: int,
           values: dict[str, float], units: dict[str, str]) -> dict:
    """The benchmark's last output line; ``values`` must name exactly the
    metrics in ``units``."""
    if set(values) != set(units):
        raise ValueError(f"metric set mismatch: {sorted(set(values) ^ set(units))}")
    return {
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": float(values[n]), "unit": u}
                    for n, u in units.items()},
    }
