"""Tracing for the per-layer run: an in-memory span recorder and the
wrappers it installs around the engine's public calls.

Each span sets the Spark job group ``kgb-<span id>`` on the calling thread
for its duration (job groups are thread-local in PySpark's pinned-thread
mode), so the event log can be folded back onto spans. Spans opened on a
thread with no open span (the pipeline's commit pool) take the active root
span as parent; jobs such a thread submits outside any span carry no group
and `spans.owner` charges them to the root span by time.

The wrappers replace module and class attributes for the rest of the
process; while the tracer is paused they open no spans.
"""

from __future__ import annotations

import functools
import itertools
import os
import threading
import time
from contextlib import contextmanager

from kgbench.spans import Span, group_id

TABLE_READS = ("read", "read_keys", "diff_filesets")


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self.counters: dict[str, float] = {}
        self._ids = itertools.count(1)
        self._tls = threading.local()
        self._lock = threading.Lock()
        self._root: int | None = None
        self.paused = False

    # -- spans ------------------------------------------------------------

    def _stack(self) -> list[int]:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    def _set_group(self, sid: int | None) -> None:
        self.sc.setLocalProperty(
            "spark.jobGroup.id", group_id(sid) if sid is not None else None
        )

    def begin(self, name: str, layer: str, **attrs) -> Span | None:
        """Open a span on this thread; pair with `end` on the same thread."""
        if self.paused:
            return None
        stack = self._stack()
        parent = stack[-1] if stack else self._root
        sp = Span(next(self._ids), name, layer, parent, time.time(), attrs=attrs)
        with self._lock:
            self.spans.append(sp)
        stack.append(sp.id)
        self._set_group(sp.id)
        return sp

    def end(self, sp: Span | None) -> None:
        if sp is None:
            return
        sp.end = time.time()
        stack = self._stack()
        stack.remove(sp.id)
        self._set_group(stack[-1] if stack else self._root)

    @contextmanager
    def span(self, name: str, layer: str, root: bool = False, **attrs):
        sp = self.begin(name, layer, **attrs)
        prev_root = self._root
        if root and sp is not None:
            self._root = sp.id
            sp.attrs["root"] = True
        try:
            yield sp
        finally:
            self._root = prev_root
            self.end(sp)

    def count(self, key: str, n: float = 1) -> None:
        with self._lock:
            self.counters[key] = self.counters.get(key, 0) + n

    @contextmanager
    def pause(self):
        self.paused, was = True, self.paused
        try:
            yield
        finally:
            self.paused = was

    # -- wrappers ---------------------------------------------------------

    def _patch(self, owner, attr, make):
        orig = getattr(owner, attr)
        setattr(owner, attr, functools.wraps(orig)(make(orig)))

    def wrap(self, owner, attr, name, layer, root=False):
        def make(orig):
            def w(*a, **kw):
                with self.span(name, layer, root=root):
                    return orig(*a, **kw)
            return w
        self._patch(owner, attr, make)

    def install(self) -> None:
        """Wrap the engine's public calls named by the per-layer metrics."""
        from cie_spark.operators import canon, dedup, link, simsearch
        from cie_spark.operators.graph_queries import GraphQueries
        from cie_spark.cli import SERVE_TOOLS
        from cie_spark.plans.pipeline import KGPipeline
        from cie_spark.sources.io_snapshots import SnapshotTable

        self.wrap(KGPipeline, "run", "pipeline.run", "pipeline", root=True)
        self.wrap(
            KGPipeline, "run_from_table", "pipeline.run_from_table", "pipeline",
            root=True,
        )
        self.wrap(KGPipeline, "delta_convs", "pipeline.delta_convs", "pipeline")
        self.wrap(link, "link_surfaces_rows", "link.link_surfaces_rows", "link")
        self.wrap(
            canon, "canonicalize_rows_local", "canon.canonicalize_rows_local",
            "canon",
        )
        for fn in ("exact_groups", "ngram_jaccard_pairs", "simhash_pairs",
                   "minhash_candidates"):
            self.wrap(dedup, fn, f"dedup.{fn}", "dedup")
        for fn in ("cosine_near_dup_pairs", "topk_bruteforce", "topk_lsh"):
            self.wrap(simsearch, fn, f"simsearch.{fn}", "simsearch")
        # a tool returns a lazy DataFrame that serve_loop collects after the
        # call, so this span covers the call only; the workloads open one
        # span per request around it
        for tool in SERVE_TOOLS:
            self.wrap(GraphQueries, tool, f"graph_queries.{tool}.call",
                      "graph_queries")
        for fn in TABLE_READS:
            self.wrap(SnapshotTable, fn, f"io_snapshots.{fn}", "io_snapshots")
        self._install_merge(SnapshotTable)

    def _install_merge(self, SnapshotTable) -> None:
        """Merge spans are named after the table and record the files and
        buckets the commit wrote; attempts beyond one per commit are the
        commit retries."""
        tracer = self

        def make_merge(orig):
            def w(self_, *a, **kw):
                name = os.path.basename(self_.root.rstrip("/"))
                before = self_.current_snapshot()
                with tracer.span(f"io_snapshots.merge.{name}", "io_snapshots") as sp:
                    out = orig(self_, *a, **kw)
                if sp is not None:
                    files, buckets = _written(self_, before, self_.current_snapshot())
                    sp.attrs.update(table=name, files=files, buckets=buckets)
                return out
            return w

        def make_retrying(orig):
            def w(self_, attempt):
                def counted():
                    tracer.count("commit_attempts")
                    return attempt()
                tracer.count("commits")
                return orig(self_, counted)
            return w

        self._patch(SnapshotTable, "merge", make_merge)
        self._patch(SnapshotTable, "_retrying", make_retrying)


def _bucket_paths(snap: dict | None) -> dict[str, list[str]]:
    return dict((snap or {}).get("buckets", {}))


def _written(table, before: dict | None, after: dict | None) -> tuple[int, int]:
    """(data files written, buckets rewritten) by the commit between two
    manifests of a bucketed table."""
    b0, b1 = _bucket_paths(before), _bucket_paths(after)
    changed = [k for k, v in b1.items() if b0.get(k) != v]
    old = {p for ps in b0.values() for p in ps}
    files = 0
    for k in changed:
        for p in b1[k]:
            if p not in old:
                files += count_files(table.root, [p])
    return files, len(changed)


def count_files(root: str, rel_paths) -> int:
    n = 0
    for p in rel_paths:
        for _, _, fs in os.walk(os.path.join(root, "data", p)):
            n += sum(1 for f in fs if f.endswith(".parquet"))
    return n


def live_files(table) -> int:
    snap = table.current_snapshot() or {}
    return count_files(table.root, [p for ps in snap.get("buckets", {}).values() for p in ps])
