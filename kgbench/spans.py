"""Pure arithmetic of the traced run: spans, self time, the event-log fold,
and the summary statistics. Nothing here imports Spark, so the unit tests
run without a JVM.

A span is one timed call (``name``) that belongs to a ``layer``. Spans nest
through ``parent``; children may overlap each other (the pipeline commits
edges and vertices from two threads), so a parent's self time subtracts the
*union* of its children's intervals, never their sum.

Every span owns one Spark job group, ``kgb-<id>``. Folding the event log by
job group gives each span its jobs, executor run time, shuffle, spill and
Python-worker metrics. A job without a group (one submitted from a thread
that entered no span, such as the pipeline's commit pool) folds under its
own key ``free-<job id>`` and is charged to the innermost root span that was
open when it was submitted.
"""

from __future__ import annotations

import json
import statistics
from dataclasses import dataclass, field

# Spark 4.1 SQL metric names of the Python runners (task accumulables)
PY_RUN_MS = "time to run Python workers"
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"


@dataclass
class Span:
    id: int
    name: str
    layer: str
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span: Span, children: list[Span]) -> float:
    """Span duration minus the part covered by its children (clipped to the
    span, overlaps counted once)."""
    clipped = [
        (max(c.start, span.start), min(c.end, span.end)) for c in children
    ]
    return span.dur - union_length(clipped)


def children_of(spans: list[Span]) -> dict[int, list[Span]]:
    out: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            out.setdefault(s.parent, []).append(s)
    return out


def descendants(spans: list[Span], root: int) -> set[int]:
    kids = children_of(spans)
    out, todo = set(), [root]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.add(c.id)
            todo.append(c.id)
    return out


def group_id(span_id: int) -> str:
    return f"kgb-{span_id}"


def span_of_group(group: str) -> int | None:
    if group.startswith("kgb-"):
        return int(group[4:])
    return None


@dataclass
class GroupStats:
    jobs: int = 0
    executor_s: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    python_s: float = 0.0
    python_bytes: int = 0
    job_intervals: list = field(default_factory=list)  # (submit_s, end_s)

    def add(self, o: "GroupStats") -> None:
        self.job_intervals += o.job_intervals
        self.jobs += o.jobs
        self.executor_s += o.executor_s
        self.shuffle_bytes += o.shuffle_bytes
        self.spill_bytes += o.spill_bytes
        self.python_s += o.python_s
        self.python_bytes += o.python_bytes


def fold_event_log(events) -> dict[str, GroupStats]:
    """Fold Spark listener events (parsed JSON dicts) into per-job-group
    totals. A stage belongs to the first job that lists it; tasks of a
    stage count toward that job's group."""
    stage_group: dict[int, str] = {}
    job_start: dict[int, tuple[str, float]] = {}
    out: dict[str, GroupStats] = {}
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            g = ((e.get("Properties") or {}).get("spark.jobGroup.id")
                 or f"free-{e['Job ID']}")
            out.setdefault(g, GroupStats()).jobs += 1
            job_start[e["Job ID"]] = (g, e.get("Submission Time", 0) / 1000.0)
            for sid in e.get("Stage IDs", []):
                stage_group.setdefault(sid, g)
        elif kind == "SparkListenerJobEnd" and e.get("Job ID") in job_start:
            g, t0 = job_start[e["Job ID"]]
            out[g].job_intervals.append((t0, e.get("Completion Time", 0) / 1000.0))
        elif kind == "SparkListenerTaskEnd":
            g = stage_group.get(e.get("Stage ID"))
            st = out.setdefault(g, GroupStats())
            tm = e.get("Task Metrics") or {}
            st.executor_s += tm.get("Executor Run Time", 0) / 1000.0
            st.shuffle_bytes += (tm.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            st.spill_bytes += tm.get("Memory Bytes Spilled", 0) + tm.get(
                "Disk Bytes Spilled", 0
            )
            for a in (e.get("Task Info") or {}).get("Accumulables", []):
                name, upd = a.get("Name"), a.get("Update")
                if upd is None:
                    continue
                if name == PY_RUN_MS:
                    st.python_s += int(upd) / 1000.0
                elif name in (PY_SENT, PY_RECV):
                    st.python_bytes += int(upd)
    return out


def read_event_log(path: str):
    with open(path) as f:
        for line in f:
            line = line.strip()
            if line:
                yield json.loads(line)


def owner(spans: list[Span], group: str, st: GroupStats) -> Span | None:
    """The span a group's work is charged to: the group's own span, or for
    a free job the innermost root span open at its submission (None when
    it ran outside every traced root, e.g. while tracing was paused)."""
    sid = span_of_group(group)
    if sid is not None:
        return next((s for s in spans if s.id == sid), None)
    t0 = st.job_intervals[0][0] if st.job_intervals else None
    roots = [s for s in spans if s.attrs.get("root") and t0 is not None
             and s.start <= t0 <= s.end]
    return max(roots, key=lambda s: s.start, default=None)


def layer_stats(spans: list[Span], groups: dict[str, GroupStats]) -> dict[str, GroupStats]:
    """Sum group stats per layer of the span each group is charged to."""
    out: dict[str, GroupStats] = {}
    for g, st in groups.items():
        sp = owner(spans, g, st)
        if sp is not None:
            out.setdefault(sp.layer, GroupStats()).add(st)
    return out


def subtree_stats(spans: list[Span], groups: dict, span_ids) -> GroupStats:
    """Summed group stats of the given spans and all their descendants,
    plus the free jobs charged to any of them."""
    ids: set[int] = set()
    for i in span_ids:
        ids |= descendants(spans, i) | {i}
    st = GroupStats()
    for g, gs in groups.items():
        sp = owner(spans, g, gs)
        if sp is not None and sp.id in ids:
            st.add(gs)
    return st


ENGINE_LAYERS = ("extract", "link", "canon", "triples", "io_snapshots",
                 "pipeline", "graph_queries", "dedup", "simsearch")


ENGINE_STATS = ("executor_s", "shuffle_bytes", "spill_bytes")


def engine_metric_names() -> set[str]:
    return {f"{layer}.{k}" for layer in ENGINE_LAYERS for k in ENGINE_STATS}


def engine_metrics(spans: list[Span], groups: dict) -> dict[str, float]:
    """<layer>.executor_s / .shuffle_bytes / .spill_bytes for every layer;
    a layer no span belongs to reports 0."""
    per = layer_stats(spans, groups)
    out: dict[str, float] = {}
    for layer in ENGINE_LAYERS:
        st = per.get(layer, GroupStats())
        for k in ENGINE_STATS:
            out[f"{layer}.{k}"] = getattr(st, k)
    return out


def jobs_under(spans: list[Span], groups: dict, root: Span) -> int:
    """Jobs a span issued: those of its subtree's job groups, plus free jobs
    submitted inside its window (the pipeline's pool threads)."""
    ids = descendants(spans, root.id) | {root.id}
    n = 0
    for g, st in groups.items():
        sid = span_of_group(g)
        free_inside = sid is None and any(
            root.start <= t0 <= root.end for t0, _ in st.job_intervals)
        if sid in ids or free_inside:
            n += st.jobs
    return n


# -- summary statistics -----------------------------------------------------

def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, q in [0, 100]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


TAIL_CANDIDATES = (99.9, 99.0, 95.0, 90.0, 75.0)


def reportable_tail(n: int, min_beyond: int = 10) -> float | None:
    """Highest candidate percentile with at least `min_beyond` of the `n`
    samples strictly beyond it, or None when even p75 is not supported."""
    for q in TAIL_CANDIDATES:
        if round(n * (100.0 - q) / 100.0, 9) >= min_beyond:
            return q
    return None


def summarize(values: list[float]) -> dict:
    """Median, plus the highest percentile the sample count supports."""
    out = {"median": statistics.median(values), "n": len(values)}
    q = reportable_tail(len(values))
    if q is not None:
        out["tail_q"] = q
        out["tail"] = percentile(values, q)
    return out
