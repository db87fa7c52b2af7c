"""Every metric the benchmark prints is declared in BENCHMARK.json, and the
other way round, and every name uses only ``[A-Za-z0-9_.-]``."""

import json
import os
import re
import threading

import pytest

import report
import run
import workloads
from spans import Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="module")
def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_declared_names_and_units(spec):
    for key, names in (("end_to_end", report.END_TO_END),
                       ("per_layer", report.PER_LAYER)):
        assert [(m["name"], m["unit"]) for m in spec[key]] == list(names.items())
    names = [m["name"] for k in ("end_to_end", "per_layer") for m in spec[k]]
    names += [w["name"] for w in spec["workloads"]]
    assert len(names) == len(set(names))
    for n in names:
        assert re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", n)
    assert {w["name"] for w in spec["workloads"]} == set(run.WORKLOADS)


def _samples():
    return report.Samples(
        session_s=2.0, setup_rep_s=[9.0, 5.0, 5.5], warm_s=1.0,
        build_s=[7.0, 2.5, 2.4], append_s=[2.0, 1.8], fresh_s=[0.5, 0.4, 0.45],
        query_s=[0.2 + i / 1000 for i in range(40)], queries=40, timed_s=10.0,
        index_bytes=3_000, text_bytes=2_000,
        jvm_peak_rss_kb=1_600_000)


def test_end_to_end_output_matches_spec(spec):
    values, note = report.end_to_end(_samples(), 75.0)
    out = report.result(True, 40, 0, values, report.END_TO_END)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert list(out["metrics"]) == [m["name"] for m in spec["end_to_end"]]
    assert all(v["value"] > 0 for v in out["metrics"].values())
    assert out["metrics"]["setup_s"]["value"] == 2.0 + 1.0 + 5.5
    assert "p75 of 40 samples, 10 above it" in note
    assert "THIN" not in note and "TAIL IS P50" not in note
    json.dumps(out)


def test_tail_percentile_is_fixed_per_workload():
    """The percentile does not move with the sample count; a thin tail and
    a median stand-in are marked."""
    assert set(report.TAIL_P) == set(run.WORKLOADS)
    xs = [float(i) for i in range(100)]
    assert report.tail(xs, 75.0) == (74.25, 25)
    assert report.tail(xs[:40], 75.0) == (29.25, 10)
    s = _samples()
    s.query_s = s.query_s[:20]
    assert "THIN TAIL" in report.end_to_end(s, 75.0)[1]
    values, note = report.end_to_end(s, 50.0)
    assert "TAIL IS P50" in note
    assert values["query_tail_ms"] == values["query_p50_ms"]


def test_per_layer_output_matches_spec(spec):
    """Drive ``Run.layers`` with hand-made spans: it must produce exactly
    the declared per-layer names, and layer self times plus the residual
    must add up to the query's wall time."""
    tr = Tracer.__new__(Tracer)
    tr.spans, tr._jobs = [], []
    tr._stack = threading.local()
    tr._t0 = 0.0
    bench = workloads.Run.__new__(workloads.Run)
    bench.tracer = tr
    with tr.span("index.bm25.reader_open"):
        pass
    with tr.span("query", kind="plain", n_queries=1) as root:
        with tr.span("index.bm25.result_frame"):
            with tr.span("index.bm25.term_stats"):
                pass
            with tr.span("index.bm25.walk"):
                with tr.span("index.bm25.fetch_blocks") as f:
                    f.update(bytes=100, blocks=2)
                with tr.span("index.codec.unpack") as u:
                    u["postings"] = 30
    root.update(jobs={"spark_jobs": 3, "tasks": 9}, n_hits=10, route="driver")
    bench.roots = [root]
    bench.maint = [
        {"name": "index.maintain.append", "t0": 0, "t1": 2.0, "spark_jobs": 27,
         "bytes_written": 4000, "text_bytes": 1000},
        {"name": "index.maintain.delete", "t0": 0, "t1": 0.3, "spark_jobs": 4},
    ]
    bench.build_profile = {k: 1.0 for k in (
        "docstore_lineage_noop", "postings_lineage_noop", "blocks_lineage_noop",
        "docstore_write", "blocks_write", "metrics_scan", "finalize")}
    bench.build_counts = [{"spark_jobs": 16, "tasks": 48, "postings": 5, "blocks": 2}]
    bench.s = report.Samples(session_s=2.0, jvm_peak_rss_kb=2048, build_s=[2.0, 2.5, 3.0],
                             append_s=[1.0, 2.0], fresh_s=[0.4])
    bench.tokenize_col_s = 0.2
    bench.overhead_ms = 1.5
    bench.search_many_fixed_ms_per_query = 0.6
    values, note = bench.layers()
    out = report.result(True, 1, 0, values, report.PER_LAYER)
    assert list(out["metrics"]) == [m["name"] for m in spec["per_layer"]]
    wall_ms = (root["t1"] - root["t0"]) * 1e3
    parts = sum(values[m] * (1e3 / scale)
                for m, scale in report.SELF_TIME_METRICS.values())
    assert abs(parts - wall_ms) < 1e-9
    assert values["index.bm25.postings_per_result"] == 3.0
    assert values["index.maintain.bytes_written_per_appended_text_byte"] == 4.0
    assert values["index.build.docs_per_s"] == workloads.N_DOCS / 2.5
    assert values["index.maintain.append_docs_per_s"] == workloads.N_APPEND / 1.5
