"""Spans, counters and per-call Spark job accounting for ``--trace 1``.

Nothing here runs in the untraced run: wrappers are installed on the
engine's public layer functions only by :meth:`Tracer.install` and removed
by :meth:`Tracer.uninstall`. Spans are kept in memory and written out once,
when the benchmark ends.

A span's self time is its duration minus the part of it its child spans
cover; the self times of one query's span tree therefore sum to the
query's wall time, with the root's self time as the residual no layer
claims (the benchmark's own bookkeeping).
"""

from __future__ import annotations

import functools
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

import rdf_indexer_spark.index.bm25 as bm25
import rdf_indexer_spark.index.qparse as qparse

# (module or class, attribute, span name). Names are layer = module; every
# span with one name adds its self time to that layer. No closure that the
# benchmarked query paths ship to executors refers to these names, so the
# wrappers never leave the driver.
LAYER_FUNCTIONS = (
    (bm25, "tokenize", "analyzer.tokenize"),
    (qparse, "tokenize", "analyzer.tokenize"),
    (qparse, "parse_query", "index.qparse.parse"),
    (bm25.IndexReader, "__init__", "index.bm25.reader_open"),
    (bm25.IndexReader, "term_stats", "index.bm25.term_stats"),
    (bm25.IndexReader, "fetch_blocks", "index.bm25.fetch_blocks"),
    (bm25.IndexReader, "search_wand", "index.bm25.walk"),
    (bm25.IndexReader, "search_wand_distributed", "index.bm25.walk"),
    (bm25.IndexReader, "search_boolean", "index.bm25.walk"),
    (bm25.IndexReader, "search_lucene", "index.bm25.walk"),
    (bm25.IndexReader, "search", "index.bm25.result_frame"),
    (bm25, "unpack_block", "index.codec.unpack"),
    (bm25, "varbyte_decode", "index.codec.unpack"),
)


def _fetch_counts(span: dict, out) -> None:
    span["blocks"] = sum(len(v) for v in out.values())
    span["bytes"] = sum(len(r["ids_bin"]) + len(r["tfs_bin"]) + len(r["dls_bin"])
                        for v in out.values() for r in v)


def _unpack_counts(span: dict, out) -> None:
    span["postings"] = len(out[0])


COUNTERS = {"fetch_blocks": _fetch_counts, "unpack_block": _unpack_counts}


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack = threading.local()
        self._undo: list[tuple] = []
        self._t0 = time.perf_counter()
        self._jobs: list[tuple[dict, set]] = []

    # -- spans ---------------------------------------------------------------

    @contextmanager
    def span(self, name: str, **attrs):
        stack = getattr(self._stack, "s", None)
        if stack is None:
            stack = self._stack.s = []
        sp = {"id": len(self.spans), "parent": stack[-1]["id"] if stack else None,
              "name": name, **attrs}
        self.spans.append(sp)
        stack.append(sp)
        sp["t0"] = time.perf_counter() - self._t0
        try:
            yield sp
        finally:
            sp["t1"] = time.perf_counter() - self._t0
            sp["end_id"] = len(self.spans)
            stack.pop()

    def install(self) -> None:
        for owner, attr, name in LAYER_FUNCTIONS:
            fn = owner.__dict__[attr]
            count = COUNTERS.get(attr)
            setattr(owner, attr, self._timed(fn, name, count))
            self._undo.append((owner, attr, fn))

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, fn = self._undo.pop()
            setattr(owner, attr, fn)

    def _timed(self, fn, name, count):
        tracer = self

        @functools.wraps(fn)
        def timed(*args, **kwargs):
            with tracer.span(name) as sp:
                out = fn(*args, **kwargs)
                if count is not None:
                    count(sp, out)
                return out

        return timed

    # -- Spark jobs ----------------------------------------------------------

    @property
    def installed(self) -> bool:
        return bool(self._undo)

    @contextmanager
    def jobs(self, out: dict, desc: str):
        """Run the body under its own Spark job group and record in ``out``
        how many jobs it launched; :meth:`count_tasks` adds their tasks
        later, outside any timed op. Jobs submitted from the engine's own
        helper threads carry no group, so new group-less jobs count too
        (the benchmark is the only client)."""
        st = self.sc.statusTracker()
        before = set(st.getJobIdsForGroup(None))
        gid = f"perfbench-{len(self._jobs)}"
        self.sc.setJobGroup(gid, desc)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            ids = set(st.getJobIdsForGroup(gid)) | (
                set(st.getJobIdsForGroup(None)) - before)
            out["spark_jobs"] = len(ids)
            self._jobs.append((out, ids))

    def count_tasks(self) -> None:
        """Set ``tasks`` (tasks completed by the recorded jobs) on every
        dict :meth:`jobs` filled."""
        st = self.sc.statusTracker() if self._jobs else None
        for out, ids in self._jobs:
            tasks = 0
            for j in ids:
                info = st.getJobInfo(j)
                for s in (info.stageIds if info else ()):
                    si = st.getStageInfo(s)
                    tasks += si.numCompletedTasks if si else 0
            out["tasks"] = tasks

    # -- analysis ------------------------------------------------------------

    def subtree(self, root: dict) -> list[dict]:
        """``root`` and its descendants (spans opened on its thread while
        it was open)."""
        ids = {root["id"]}
        out = [root]
        for sp in self.spans[root["id"] + 1:root["end_id"]]:
            if sp["parent"] in ids:
                ids.add(sp["id"])
                out.append(sp)
        return out

    def self_times(self, root: dict) -> dict[str, float]:
        """Self seconds per span name over ``root``'s tree (root included)."""
        tree = self.subtree(root)
        covered: dict[int, float] = defaultdict(float)
        for sp in tree[1:]:
            covered[sp["parent"]] += sp["t1"] - sp["t0"]
        out: dict[str, float] = defaultdict(float)
        for sp in tree:
            out[sp["name"]] += sp["t1"] - sp["t0"] - covered[sp["id"]]
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps(sp, default=str) + "\n")
