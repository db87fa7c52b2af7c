"""Set-up, the three timed loops, the oracle check and the trace summary.

Every workload starts from the same set-up, repeated ``SETUP_REPS`` times
so set-up time is a median: build the base corpus from scratch, open a
reader and answer one probe. All loops are closed, one client.

* ``point_zipf``   — one query at a time through the four serving surfaces
  (``search``, ``search`` with fq, ``search_lucene``, SQL ``bm25_search``).
* ``batch_replay`` — the query log through ``search_many`` in batches.
* ``ingest_mixed`` — rounds of append → fresh reader + probe → delete →
  fresh reader + probe → more probes. The round count follows from
  ``--seconds`` alone, so every commit ingests the same data.

Results are recorded with the index state they ran against and checked
against the oracle after the timed section, never inside it.
"""

from __future__ import annotations

import contextlib
import math
import os
import shutil
import statistics
import time
import traceback
from collections import defaultdict

import numpy as np
from pyspark.sql import functions as F

import gen
import report
from oracle import Oracle, mismatch
from rdf_indexer_spark.analyzer import tokenize_col
from rdf_indexer_spark.index.bm25 import IndexReader
from rdf_indexer_spark.index.build import build_index
from rdf_indexer_spark.index.maintain import append_documents, delete_docs
from rdf_indexer_spark.index.sqlsurface import register_sql_surface

N_DOCS = 20_000        # base corpus
N_APPEND = 1_000       # docs per appended generation
N_DELETE = 100         # ids tombstoned per delete
SETUP_REPS = 3
K = 10
# queries per search_many call: at 500 the batch's own work is about three
# quarters of a call on the base index, Spark job overhead the rest (the
# traced run reports the split, see NOTES.md)
BATCH = 500
WARM_BATCH = 50        # set-up warm-up batch: only warms the UDF path
# ingest rounds per run = ceil(seconds / ROUND_S), whatever the engine's
# speed, so every commit ingests the same data; a round takes about 6 s on
# a 4-vCPU host, so the timed section runs past ``seconds``
ROUND_S = 4.0
PROBES = 12            # ingest probes per round after the two fresh ones
OVERHEAD_PAIRS = 6     # traced run: same op untraced and traced, alternating

# query streams, one per use
_POINT, _BATCH, _PROBE, _WARM = range(4)

# point_zipf kinds in a fixed cycle of 20 (65/15/10/10), so every run
# sends the same mix however many queries it completes
POINT_CYCLE = ("plain", "fq", "plain", "plain", "lucene", "plain", "sql",
               "plain", "fq", "plain", "plain", "plain", "lucene", "plain",
               "fq", "plain", "sql", "plain", "plain", "plain")


class Run:
    def __init__(self, spark, seed: int, work: str, tracer=None):
        self.spark = spark
        self.seed = seed
        self.work = work
        self.tracer = tracer
        self.vocab = gen.vocabulary(seed)
        self.s = report.Samples()
        self.log: list[tuple[str, object]] = []  # mutations, in order
        self.ops: list[dict] = []    # recorded results, checked at the end
        self.roots: list[dict] = []  # traced query spans
        self.maint: list[dict] = []  # traced maintenance spans
        self.build_counts: list[dict] = []
        self.attempted = 0
        self.failed = 0
        self.rounds = 0

    # -- helpers -------------------------------------------------------------

    @property
    def traced(self) -> bool:
        return self.tracer is not None and self.tracer.installed

    def span(self, name: str, **attrs):
        if not self.traced:
            return contextlib.nullcontext({})
        return self.tracer.span(name, **attrs)

    def jobs(self, out: dict, desc: str):
        if not self.traced:
            return contextlib.nullcontext()
        return self.tracer.jobs(out, desc)

    def _n_docs(self) -> int:
        return sum(d.n for k, d in self.log if k == "append")

    def _deleted(self) -> np.ndarray:
        dels = [ids for k, ids in self.log if k == "delete"]
        return np.unique(np.concatenate(dels)) if dels else np.empty(0, np.int64)

    def _parquet(self, docs: gen.Docs) -> str:
        path = os.path.join(self.work, f"docs-{docs.first_id}-{docs.n}.parquet")
        self.s.text_bytes += docs.write_parquet(self.vocab, path)
        return path

    # -- mutations -----------------------------------------------------------

    def _build(self, idx: str) -> None:
        base = gen.docs(self.seed, N_DOCS)
        src = self._parquet(base)
        shutil.rmtree(idx, ignore_errors=True)
        info: dict = {}
        t0 = time.perf_counter()
        with self.jobs(info, "index.build"):
            summary = build_index(
                self.spark, self.spark.read.parquet(src), idx,
                meta_cols=("archive",), resume=False, write_postings=False,
                n_docs=N_DOCS)
        self.s.build_s.append(time.perf_counter() - t0)
        self.log.append(("append", base))
        if self.traced:
            info.update(postings=summary["postings"],
                        blocks=_parquet_rows(os.path.join(idx, "blocks")))
            self.build_counts.append(info)

    def _append(self, idx: str) -> None:
        docs = gen.docs(self.seed, N_APPEND, first_id=self._n_docs(),
                        batch=self.rounds)
        text_before = self.s.text_bytes
        src = self._parquet(docs)
        before = _files(idx) if self.traced else {}
        with self.span("index.maintain.append") as sp:
            t0 = time.perf_counter()
            with self.jobs(sp, "index.maintain.append"):
                append_documents(self.spark, self.spark.read.parquet(src),
                                 idx, meta_cols=("archive",))
            self.s.append_s.append(time.perf_counter() - t0)
        self.log.append(("append", docs))
        if self.traced:
            sp["bytes_written"] = sum(size for f, size in _files(idx).items()
                                      if before.get(f) != size)
            sp["text_bytes"] = self.s.text_bytes - text_before
            self.maint.append(sp)

    def _delete(self, idx: str) -> None:
        live = np.setdiff1d(np.arange(self._n_docs(), dtype=np.int64),
                            self._deleted())
        ids = gen.delete_sample(self.seed, live, N_DELETE, self.rounds)
        with self.span("index.maintain.delete") as sp:
            with self.jobs(sp, "index.maintain.delete"):
                delete_docs(self.spark, idx, ids.tolist())
        self.log.append(("delete", ids))
        if self.traced:
            self.maint.append(sp)

    def _fresh(self, idx: str) -> float:
        """Open a reader on the just-mutated index and answer one probe;
        returns the probe's own latency."""
        t0 = time.perf_counter()
        self.reader = IndexReader(self.spark, idx)
        lat = self.point(next(self.probes))
        self.s.fresh_s.append(time.perf_counter() - t0)
        return lat

    # -- set-up --------------------------------------------------------------

    def setup(self) -> None:
        prev = None
        for r in range(SETUP_REPS):
            t0 = time.perf_counter()
            # each rep rebuilds the same index from scratch: rewind the
            # mutation log and the probe stream with it
            self.log, self.s.text_bytes = [], 0
            self.probes = gen.query_stream(self.seed, self.vocab, _PROBE)
            idx = os.path.join(self.work, f"idx{r}")
            self._build(idx)
            self._fresh(idx)
            self.s.setup_rep_s.append(time.perf_counter() - t0)
            if prev is not None:
                shutil.rmtree(prev, ignore_errors=True)
            prev = idx
        self.idx = prev
        t0 = time.perf_counter()
        register_sql_surface(self.spark, self.idx)
        warm = gen.query_stream(self.seed, self.vocab, _WARM,
                                kinds=("plain", "fq", "lucene", "sql"))
        for _ in range(4):
            self.point(next(warm), record=False)
        self.batch([next(warm) for _ in range(WARM_BATCH)], record=False)
        self.s.warm_s = time.perf_counter() - t0
        self.roots = []  # per-query layer metrics cover the timed ops only

    def profile_layers(self) -> None:
        """Traced run only: one build with the engine's per-substage profile,
        the analyzer's tokenizer over the corpus into a no-op sink, and the
        fixed cost of a ``search_many`` call of ``BATCH`` queries."""
        self._search_many_fixed()
        src = os.path.join(self.work, f"docs-0-{N_DOCS}.parquet")
        self.build_profile: dict = {}
        idx = os.path.join(self.work, "idx-profile")
        build_index(self.spark, self.spark.read.parquet(src), idx,
                    meta_cols=("archive",), resume=False, write_postings=False,
                    n_docs=N_DOCS, profile=self.build_profile)
        shutil.rmtree(idx, ignore_errors=True)
        tok = []
        for _ in range(3):
            t0 = time.perf_counter()
            (self.spark.read.parquet(src)
             .select(F.size(tokenize_col(F.col("text"))))
             .write.format("noop").mode("overwrite").save())
            tok.append(time.perf_counter() - t0)
        self.tokenize_col_s = statistics.median(tok)

    def _search_many_fixed(self) -> None:
        """Untraced ``search_many`` calls of ``BATCH`` copies of the rarest
        base-corpus term: the jobs, the per-query loop and the merge of a
        real call, with next to no blocks to decode or score."""
        cnt = np.bincount(gen.docs(self.seed, N_DOCS).codes, minlength=gen.VOCAB)
        rare = self.vocab[int(np.argmin(np.where(cnt > 0, cnt, cnt.max() + 1)))]
        self.tracer.uninstall()
        lat = [self.batch([gen.Query("plain", (rare,))] * BATCH, record=False)
               for _ in range(3)]
        self.tracer.install()
        self.search_many_fixed_ms_per_query = statistics.median(lat) * 1e3

    # -- operations ----------------------------------------------------------

    def _run_op(self, fn, queries: list, kind: str, record: bool) -> float:
        """Run one op over ``queries`` and record its results; a traced run
        wraps it in a root span under its own Spark job group. An op that
        raises fails every query it carried."""
        root, info = None, {}
        t0 = time.perf_counter()
        try:
            if not self.traced:
                hits = fn(queries)
            else:
                with self.tracer.jobs(info, kind):
                    with self.tracer.span("query", kind=kind,
                                          n_queries=len(queries)) as root:
                        hits = fn(queries, root)
        except Exception:  # keep the loop running; counted as failed below
            print(f"FAILED {kind}: {[q.text for q in queries][:3]}")
            traceback.print_exc()
            hits = None
        lat = time.perf_counter() - t0
        if record:
            self.attempted += len(queries)
            if hits is None:
                self.failed += len(queries)
            else:
                state = len(self.log)
                self.ops += [{"q": q, "hits": h, "state": state}
                             for q, h in zip(queries, hits)]
                if root is not None:
                    # ``info`` gets its task count only after the timed run
                    root.update(jobs=info, n_hits=sum(len(h) for h in hits))
                    self.roots.append(root)
        return lat

    def _search(self, qs: list, root=None) -> list:
        (q,) = qs
        r = self.reader
        if q.kind in ("plain", "fq"):
            df = r.search(q.text, K, where=q.where)
            if root is not None:
                root["route"] = r.last_path
            with self.span("index.bm25.result_frame"):
                rows = df.collect()
        elif q.kind == "lucene":
            return [r.search_lucene(q.text, K)]
        else:
            with self.span("index.sqlsurface.bm25_search"):
                rows = self.spark.sql(
                    f"SELECT doc_id, score, rank "
                    f"FROM bm25_search('{q.text}', {K})").collect()
        return [[(x["doc_id"], x["score"])
                 for x in sorted(rows, key=lambda x: x["rank"])]]

    def _search_many(self, qs: list, root=None) -> list:
        with self.span("index.bm25.search_many"):
            rows = self.reader.search_many(
                {str(i): q.text for i, q in enumerate(qs)}, K).collect()
        out = [[] for _ in qs]
        for x in sorted(rows, key=lambda x: x["rank"]):
            out[int(x["query_id"])].append((x["doc_id"], x["score"]))
        return out

    def point(self, q, record: bool = True) -> float:
        return self._run_op(self._search, [q], q.kind, record)

    def batch(self, qs: list, record: bool = True) -> float:
        """Returns the batch's latency per query."""
        return self._run_op(self._search_many, qs, "batch", record) / len(qs)

    # -- timed loops ---------------------------------------------------------

    def _overhead_pairs(self, op, args) -> None:
        """Traced run only: each op runs untraced and traced back to back,
        alternating which goes first; the mean per-query difference is the
        tracing overhead."""
        diffs = []
        for i, a in enumerate(args):
            lat = {}
            for traced in ((False, True) if i % 2 == 0 else (True, False)):
                if not traced:
                    self.tracer.uninstall()
                lat[traced] = op(a)
                if not traced:
                    self.tracer.install()
            diffs.append(lat[True] - lat[False])
        self.overhead_ms = statistics.mean(diffs) * 1e3

    def run_point(self, seconds: float) -> None:
        qs = gen.query_stream(self.seed, self.vocab, _POINT, kinds=POINT_CYCLE)
        if self.tracer is not None:
            self._overhead_pairs(self.point,
                                 [next(qs) for _ in range(OVERHEAD_PAIRS)])
        self._loop(seconds, lambda: [self.point(next(qs))])

    def run_batch(self, seconds: float) -> None:
        qs = gen.query_stream(self.seed, self.vocab, _BATCH)
        if self.tracer is not None:
            self._overhead_pairs(
                self.batch, [[next(qs) for _ in range(BATCH)]
                             for _ in range(OVERHEAD_PAIRS // 3)])
        self._loop(seconds,
                   lambda: [self.batch([next(qs) for _ in range(BATCH)])],
                   per_sample=BATCH)

    def run_ingest(self, seconds: float) -> None:
        if self.tracer is not None:
            self._overhead_pairs(self.point, [next(self.probes)
                                              for _ in range(OVERHEAD_PAIRS)])

        def round_():
            self.rounds += 1
            self._append(self.idx)
            lats = [self._fresh(self.idx)]
            self._delete(self.idx)
            lats.append(self._fresh(self.idx))
            return lats + [self.point(next(self.probes)) for _ in range(PROBES)]

        self._loop(seconds, round_, rounds=max(1, math.ceil(seconds / ROUND_S)))

    def _loop(self, seconds: float, step, per_sample: int = 1,
              rounds: int | None = None) -> None:
        """Run ``step`` exactly ``rounds`` times, or else until ``seconds``
        have passed; at least one step runs."""
        t0 = time.perf_counter()
        steps = 0
        while steps == 0 or (steps < rounds if rounds is not None
                             else time.perf_counter() - t0 < seconds):
            lats = step()
            steps += 1
            self.s.query_s += lats
            self.s.queries += len(lats) * per_sample
        self.s.timed_s = time.perf_counter() - t0
        self.s.steps = steps

    # -- end of run ----------------------------------------------------------

    def finish(self) -> None:
        self.s.index_bytes = sum(_files(self.idx).values())
        pid = self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    self.s.jvm_peak_rss_kb = int(line.split()[1])

    def check(self) -> None:
        """Replay the mutation log into the oracle and check every recorded
        result against the state it ran on. The set-up reps each rebuilt
        the same index, so their results share the final rep's states."""
        oracle = Oracle(self.vocab)
        by_state = defaultdict(list)
        for op in self.ops:
            by_state[op["state"]].append(op)
        for state in range(len(self.log) + 1):
            if state:
                kind, payload = self.log[state - 1]
                if kind == "append":
                    oracle.append(payload)
                else:
                    oracle.delete(payload)
            for op in by_state.get(state, ()):
                why = mismatch(op["hits"], oracle.search(op["q"], K))
                if why is not None:
                    print(f"WRONG {op['q'].kind} {op['q'].text!r}: {why}")
                    self.failed += 1

    # -- traced summary ------------------------------------------------------

    def layers(self) -> tuple[dict[str, float], str]:
        """Per-layer metrics from the traced run, and a line stating that
        layer self times plus the residual sum to the measured wall time."""
        tr = self.tracer
        tr.count_tasks()
        acc: dict[str, float] = defaultdict(float)
        n_q = hits = jobs = tasks = byts = blocks = postings = 0
        routes = []
        worst = 0.0
        for root in self.roots:
            st = tr.self_times(root)
            worst = max(worst, abs(sum(st.values()) - (root["t1"] - root["t0"])))
            for name, v in st.items():
                acc[name] += v
            for sp in tr.subtree(root):
                byts += sp.get("bytes", 0)
                blocks += sp.get("blocks", 0)
                postings += sp.get("postings", 0)
            n_q += root["n_queries"]
            hits += root["n_hits"]
            jobs += root["jobs"]["spark_jobs"]
            tasks += root["jobs"]["tasks"]
            if "route" in root:
                routes.append(root["route"] == "driver")
        unknown = set(acc) - set(report.SELF_TIME_METRICS)
        if unknown:
            raise ValueError(f"spans without a layer metric: {sorted(unknown)}")
        vals = {m: acc[name] * scale / n_q
                for name, (m, scale) in report.SELF_TIME_METRICS.items()}
        opens = [sp["t1"] - sp["t0"] for sp in tr.spans
                 if sp["name"] == "index.bm25.reader_open"]
        appends = [sp for sp in self.maint if sp["name"] == "index.maintain.append"]
        deletes = [sp for sp in self.maint if sp["name"] == "index.maintain.delete"]
        prof = self.build_profile
        vals.update({
            "session.start_s": self.s.session_s,
            "session.jvm_peak_rss_mb": self.s.jvm_peak_rss_kb / 1024.0,
            "analyzer.tokenize_col_s": self.tokenize_col_s,
            "index.build.docstore_lineage_s": prof["docstore_lineage_noop"],
            "index.build.postings_lineage_s": prof["postings_lineage_noop"],
            "index.build.pack_s": (prof["blocks_lineage_noop"]
                                   - prof["postings_lineage_noop"]),
            "index.build.docstore_write_s": prof["docstore_write"],
            "index.build.blocks_write_s": prof["blocks_write"],
            "index.build.metrics_scan_s": prof["metrics_scan"],
            "index.build.finalize_s": prof["finalize"],
            "index.build.docs_per_s": _rate(N_DOCS, self.s.build_s),
            "index.build.spark_jobs": statistics.median(
                c["spark_jobs"] for c in self.build_counts),
            "index.build.tasks": statistics.median(
                c["tasks"] for c in self.build_counts),
            "index.build.postings": self.build_counts[-1]["postings"],
            "index.build.blocks": self.build_counts[-1]["blocks"],
            "index.bm25.reader_open_ms": statistics.median(opens) * 1e3,
            "index.bm25.fresh_query_ms": statistics.median(self.s.fresh_s) * 1e3,
            "index.bm25.spark_jobs_per_query": jobs / n_q,
            "index.bm25.tasks_per_query": tasks / n_q,
            "index.bm25.route_driver_share": (sum(routes) / len(routes)
                                              if routes else 0.0),
            "index.bm25.bytes_fetched_per_query": byts / n_q,
            "index.bm25.blocks_fetched_per_query": blocks / n_q,
            "index.bm25.postings_per_result": postings / hits if hits else 0.0,
            "index.maintain.append_docs_per_s": _rate(N_APPEND, self.s.append_s),
            "index.maintain.append_s": _median(sp["t1"] - sp["t0"] for sp in appends),
            "index.maintain.delete_ms": _median(
                sp["t1"] - sp["t0"] for sp in deletes) * 1e3,
            "index.maintain.spark_jobs_per_append": _median(
                sp["spark_jobs"] for sp in appends),
            "index.maintain.bytes_written_per_appended_text_byte": (
                sum(sp["bytes_written"] for sp in appends)
                / sum(sp["text_bytes"] for sp in appends) if appends else 0.0),
            "index.bm25.search_many_fixed_ms_per_query": (
                self.search_many_fixed_ms_per_query),
            "trace.overhead_ms_per_query": self.overhead_ms,
        })
        wall_ms = sum(r["t1"] - r["t0"] for r in self.roots) * 1e3 / n_q
        layer_ms = sum(acc.values()) * 1e3 / n_q
        note = (f"traced {len(self.roots)} ops / {n_q} queries: layer self "
                f"times + residual = {layer_ms:.3f} ms/query, wall "
                f"{wall_ms:.3f} ms/query, worst per-op gap {worst * 1e3:.6f} ms")
        return vals, note


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _rate(n: int, seconds: list[float]) -> float:
    """``n`` items per median second, 0 when nothing was timed."""
    return n / statistics.median(seconds) if seconds else 0.0


def _files(root: str) -> dict[str, int]:
    out = {}
    for dp, _, fs in os.walk(root):
        for f in fs:
            p = os.path.join(dp, f)
            out[p] = os.path.getsize(p)
    return out


def _parquet_rows(root: str) -> int:
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(p).metadata.num_rows
               for p in _files(root) if p.endswith(".parquet"))
