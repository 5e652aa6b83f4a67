"""Unit tests of the benchmark's own arithmetic (no Spark needed):

    python3 -m pytest kgbench -q
"""

from __future__ import annotations

import argparse

import pytest

from kgbench import spans as S


def _span(i, start, end, parent=None, layer="x", name=None):
    return S.Span(i, name or f"s{i}", layer, parent, start, end)


def test_union_length_merges_overlaps_once():
    assert S.union_length([]) == 0.0
    assert S.union_length([(0, 1), (2, 3)]) == 2.0
    assert S.union_length([(0, 2), (1, 3)]) == 3.0
    assert S.union_length([(0, 10), (2, 3), (4, 5)]) == 10.0
    assert S.union_length([(1, 1), (3, 2)]) == 0.0  # empty and inverted


def test_self_time_with_overlapping_children():
    # the pipeline commits edges and vertices from two threads: children
    # [2, 6] and [4, 8] overlap on [4, 6] and must count once
    run = _span(1, 0.0, 10.0)
    kids = [_span(2, 2.0, 6.0, 1), _span(3, 4.0, 8.0, 1)]
    assert S.self_time(run, kids) == pytest.approx(4.0)


def test_self_time_clips_children_to_the_parent():
    run = _span(1, 0.0, 10.0)
    kids = [_span(2, -5.0, 1.0, 1), _span(3, 9.0, 20.0, 1)]
    assert S.self_time(run, kids) == pytest.approx(8.0)


def test_descendants_and_children():
    sp = [_span(1, 0, 9), _span(2, 1, 2, 1), _span(3, 1, 2, 2), _span(4, 3, 4)]
    assert S.descendants(sp, 1) == {2, 3}
    assert [c.id for c in S.children_of(sp)[1]] == [2]


def _job(job, group, stages, submit_ms):
    props = {"spark.jobGroup.id": group} if group else {}
    return {"Event": "SparkListenerJobStart", "Job ID": job,
            "Stage IDs": stages, "Properties": props, "Submission Time": submit_ms}


def _job_end(job, end_ms):
    return {"Event": "SparkListenerJobEnd", "Job ID": job, "Completion Time": end_ms}


def _task(stage, run_ms, shuffle=0, spill=(0, 0), py_ms=None, sent=0, recv=0):
    acc = []
    if py_ms is not None:
        acc = [{"Name": S.PY_RUN_MS, "Update": str(py_ms)},
               {"Name": S.PY_SENT, "Update": str(sent)},
               {"Name": S.PY_RECV, "Update": str(recv)},
               {"Name": "number of output rows", "Update": "99"}]
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Info": {"Accumulables": acc},
            "Task Metrics": {"Executor Run Time": run_ms,
                             "Memory Bytes Spilled": spill[0],
                             "Disk Bytes Spilled": spill[1],
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle}}}


EVENTS = [
    _job(0, "kgb-1", [0, 1], 1_000),
    _task(0, 1_500, shuffle=100, py_ms=1_200, sent=10, recv=20),
    _task(0, 500, shuffle=50, py_ms=300, sent=1, recv=2),
    _task(1, 250, spill=(7, 3)),
    _job_end(0, 3_000),
    # job 1 lists stage 1 again (skipped, reused exchange) plus a new stage
    _job(1, "kgb-2", [1, 2], 3_500),
    _task(2, 1_000),
    _job_end(1, 4_000),
    # a pool thread that entered no span: no group
    _job(2, None, [3], 5_000),
    _task(3, 2_000, shuffle=5),
    _job_end(2, 5_500),
]


def test_fold_event_log_by_job_group():
    g = S.fold_event_log(EVENTS)
    a, b, free = g["kgb-1"], g["kgb-2"], g["free-2"]
    assert (a.jobs, b.jobs, free.jobs) == (1, 1, 1)
    # stage 1 belongs to the first job that listed it
    assert a.executor_s == pytest.approx(2.25)
    assert b.executor_s == pytest.approx(1.0)
    assert (a.shuffle_bytes, a.spill_bytes) == (150, 10)
    assert a.python_s == pytest.approx(1.5)
    assert a.python_bytes == 33
    assert a.job_intervals == [(1.0, 3.0)]
    assert free.job_intervals == [(5.0, 5.5)] and free.shuffle_bytes == 5


def test_free_jobs_outside_every_root_are_not_charged():
    g = S.fold_event_log(EVENTS)
    run = _span(1, 0.0, 4.5, layer="pipeline")  # closes before the free job
    run.attrs["root"] = True
    assert S.owner([run], "free-2", g["free-2"]) is None
    assert "pipeline" in S.layer_stats([run], g)
    assert S.layer_stats([run], g)["pipeline"].jobs == 1


def test_layer_stats_and_jobs_under_fold_spans_and_free_jobs():
    g = S.fold_event_log(EVENTS)
    run = _span(1, 0.0, 6.0, layer="pipeline", name="pipeline.run")
    run.attrs["root"] = True
    sp = [run, _span(2, 3.4, 4.1, parent=1, layer="link")]
    per = S.layer_stats(sp, g)
    assert per["pipeline"].executor_s == pytest.approx(2.25 + 2.0)
    assert per["link"].executor_s == pytest.approx(1.0)
    # own group, the child's group, and the ungrouped job inside the window
    assert S.jobs_under(sp, g, run) == 3
    assert S.subtree_stats(sp, g, [1]).jobs == 3
    assert S.subtree_stats(sp, g, [2]).jobs == 1
    out = S.engine_metrics(sp, g)
    assert out["link.executor_s"] == pytest.approx(1.0)
    assert out["dedup.executor_s"] == 0.0


def test_engine_metrics_name_every_layer():
    assert set(S.engine_metrics([], {})) == S.engine_metric_names()


def test_percentile_interpolates():
    xs = [float(i) for i in range(1, 101)]
    assert S.percentile(xs, 50) == pytest.approx(50.5)
    assert S.percentile(xs, 90) == pytest.approx(90.1)
    assert S.percentile([3.0], 95) == 3.0
    with pytest.raises(ValueError):
        S.percentile([], 50)


@pytest.mark.parametrize("n, q", [
    (9, None), (39, None), (40, 75.0), (99, 75.0), (100, 90.0),
    (200, 95.0), (1_000, 99.0), (10_000, 99.9),
])
def test_tail_needs_ten_samples_beyond_it(n, q):
    assert S.reportable_tail(n) == q


def test_summarize_reports_a_tail_only_when_supported():
    few = S.summarize([1.0, 2.0, 3.0])
    assert few == {"median": 2.0, "n": 3}
    many = S.summarize([float(i) for i in range(100)])
    assert many["tail_q"] == 90.0
    assert sum(1 for i in range(100) if i > many["tail"]) >= 10


def test_another_iteration_only_when_it_ends_within_the_budget(monkeypatch):
    from kgbench import run as R

    r = R.Run(argparse.Namespace(seed=1, seconds=15, trace=0), "unused")
    now = [100.0]
    monkeypatch.setattr(R.time, "monotonic", lambda: now[0])
    assert r.another(100.0, [], 1)  # the minimum always runs
    now[0] = 110.0
    assert not r.another(100.0, [10.0], 1)  # 10 s done + 10 s more > 15 s
    assert r.another(100.0, [10.0], 2)
    now[0] = 104.0
    assert r.another(100.0, [4.0], 1)  # 4 s done + 4 s more <= 15 s
