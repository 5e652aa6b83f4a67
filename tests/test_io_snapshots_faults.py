"""Fault injection over every SnapshotTable mutation, bucketed and not.

A commit that raises leaves HEAD, the handle's bucket spec and the data
directory as they were: the fileset the attempt wrote is removed, so every
dir under data/ stays referenced by some manifest. A lost CAS race
(CommitConflict) on a retried operation recomputes against the fresh HEAD
and lands the same table an undisturbed run lands.
"""

from __future__ import annotations

import os
import shutil

import pytest

from cie_spark.sources.io_snapshots import CommitConflict, SnapshotTable


def _df(spark, rows):
    return spark.createDataFrame(rows, "k string, v int")


def _table(spark, root, bucketed):
    """Two appends of 8 keys each: on 4 buckets every bucket holds a path
    of each append, so compact_buckets has work."""
    kw = {"bucket_key": "k", "n_buckets": 4} if bucketed else {}
    t = SnapshotTable(spark, root, **kw)
    t.append(_df(spark, [(f"k{i}", i) for i in range(8)]))
    t.append(_df(spark, [(f"k{i}", i) for i in range(8, 16)]))
    return t


OPS = {
    "append": lambda spark, t: t.append(_df(spark, [("new", 99)])),
    "overwrite": lambda spark, t: t.overwrite(_df(spark, [("k1", 100), ("new", 99)])),
    "merge": lambda spark, t: t.merge(
        _df(spark, [("k1", 100), ("new", 99)]), keys=["k"]
    ),
    "delete_matching": lambda spark, t: t.delete_matching(
        spark.createDataFrame([("k1",), ("k9",)], "k string"), ["k"]
    ),
    "delete_where": lambda spark, t: t.delete_where("v >= 12"),
    "compact_buckets": lambda spark, t: t.compact_buckets(),
    "rebucket": lambda spark, t: t.rebucket(8, bucket_key="k"),
}

# compact_buckets does nothing on an unbucketed table
CASES = [
    (op, bucketed)
    for op in OPS
    for bucketed in (True, False)
    if bucketed or op != "compact_buckets"
]


def _rows(t):
    return sorted((r.k, r.v) for r in t.read().collect())


def _unreferenced(t):
    refs: set[str] = set()
    for s in t.snapshots():
        refs |= t._live_filesets(s)
    return set(os.listdir(os.path.join(t.root, "data"))) - refs


@pytest.mark.parametrize("op,bucketed", CASES)
def test_failed_commit_moves_nothing(spark, tmp_path, monkeypatch, op, bucketed):
    t = _table(spark, str(tmp_path / "t"), bucketed)
    head, spec, rows = t.current_snapshot_id(), (t.bucket_key, t.n_buckets), _rows(t)
    orig = SnapshotTable._commit_locked

    def fail_once(self, *a, **kw):
        monkeypatch.setattr(SnapshotTable, "_commit_locked", orig)
        raise RuntimeError("injected commit failure")

    monkeypatch.setattr(SnapshotTable, "_commit_locked", fail_once)
    with pytest.raises(RuntimeError, match="injected"):
        OPS[op](spark, t)
    assert t.current_snapshot_id() == head
    assert (t.bucket_key, t.n_buckets) == spec
    assert not _unreferenced(t)
    assert _rows(t) == rows


@pytest.mark.parametrize("op,bucketed", [c for c in CASES if c[0] != "overwrite"])
def test_lost_race_retries_to_the_undisturbed_result(
    spark, tmp_path, monkeypatch, op, bucketed
):
    t = _table(spark, str(tmp_path / "t"), bucketed)
    shutil.copytree(t.root, tmp_path / "ref")
    ref = SnapshotTable(spark, str(tmp_path / "ref"))
    assert OPS[op](spark, ref) is not None
    orig = SnapshotTable._commit_locked
    attempts = []

    def lose_once(self, *a, **kw):
        attempts.append(1)
        if len(attempts) == 1:
            raise CommitConflict("injected lost race")
        return orig(self, *a, **kw)

    monkeypatch.setattr(SnapshotTable, "_commit_locked", lose_once)
    OPS[op](spark, t)
    assert len(attempts) == 2
    got, want = t.current_snapshot(), ref.current_snapshot()
    assert (got["seq"], got["operation"]) == (want["seq"], want["operation"])
    assert sorted(t._bucket_map(got)) == sorted(ref._bucket_map(want))
    assert _rows(t) == _rows(ref)
    assert not _unreferenced(t)


def test_emptied_bucketed_table_stays_usable(spark, tmp_path):
    """A bucketed write of zero rows produces no bucket. Such a write is
    neither referenced by the manifest nor left on disk, so every
    operation keeps working on a table that a delete or an empty merge
    emptied, and a rebucket of it commits its new spec."""
    t = SnapshotTable(spark, str(tmp_path / "t"), bucket_key="k", n_buckets=4)
    s0 = t.append(_df(spark, [(f"k{i}", i) for i in range(8)]))
    # an empty merge into a non-empty table rewrites nothing
    t.merge(spark.createDataFrame([], "k string, v int"), keys=["k"])
    assert t.diff_filesets(s0) is None
    assert len(_rows(t)) == 8

    t.delete_where("true")
    assert t.read() is None
    assert t.current_snapshot()["filesets"] == []
    t.delete_matching(spark.createDataFrame([("k1",)], "k string"), ["k"])
    assert t.diff_filesets(s0) is None
    s1 = t.current_snapshot_id()
    t.merge(spark.createDataFrame([], "k string, v int"), keys=["k"])
    assert t.diff_filesets(s1) is None
    assert t.rebucket(8) is not None

    t.merge(_df(spark, [("a", 1)]), keys=["k"])
    assert _rows(t) == [("a", 1)]
    assert t.n_buckets == 8
    assert [r.k for r in t.diff_filesets(s0).collect()] == ["a"]
    in_buckets = {
        p.split("/", 1)[0]
        for s in t.snapshots()
        for ps in s.get("buckets", {}).values()
        for p in ps
    }
    assert set(os.listdir(tmp_path / "t" / "data")) == in_buckets
