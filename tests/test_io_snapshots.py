"""SnapshotTable: atomic commits, merge/upsert, time travel, snapshot diff."""

from __future__ import annotations

from cie_spark.sources.io_snapshots import SnapshotTable


def _df(spark, rows):
    return spark.createDataFrame(rows, "k string, v int")


def test_append_and_time_travel(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    assert t.read() is None
    s1 = t.append(_df(spark, [("a", 1)]))
    s2 = t.append(_df(spark, [("b", 2)]))
    assert sorted((r.k, r.v) for r in t.read().collect()) == [("a", 1), ("b", 2)]
    assert [(r.k, r.v) for r in t.read(snapshot_id=s1).collect()] == [("a", 1)]
    assert [s["snapshot_id"] for s in t.snapshots()] == [s1, s2]


def test_merge_upsert_idempotent(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.merge(_df(spark, [("a", 1), ("b", 2)]), keys=["k"])
    t.merge(_df(spark, [("b", 20), ("c", 3)]), keys=["k"])
    got = sorted((r.k, r.v) for r in t.read().collect())
    assert got == [("a", 1), ("b", 20), ("c", 3)]
    # idempotency: merging the same batch again changes nothing
    t.merge(_df(spark, [("b", 20), ("c", 3)]), keys=["k"])
    assert sorted((r.k, r.v) for r in t.read().collect()) == got


def test_delete_where(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, [("a", 1), ("b", 2), ("c", 3)]))
    t.delete_where("k = 'b'")
    assert sorted(r.k for r in t.read().collect()) == ["a", "c"]


def test_snapshot_diff(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    s1 = t.append(_df(spark, [("a", 1)]))
    t.append(_df(spark, [("b", 2)]))
    t.append(_df(spark, [("c", 3)]))
    diff = t.diff_filesets(from_snapshot_id=s1)
    assert sorted(r.k for r in diff.collect()) == ["b", "c"]
    assert t.diff_filesets(from_snapshot_id=t.current_snapshot_id()) is None


def test_diff_survives_bucketed_merges(spark, tmp_path):
    """ADVICE r2: a bucketed merge commit lists only the fileset it wrote,
    while carried buckets still reference older filesets. A fileset appended
    between the diff base and a later merge must still appear in the diff
    (liveness from the bucket map), or its conversations are silently never
    indexed."""
    t = SnapshotTable(spark, str(tmp_path / "t"), bucket_key="k", n_buckets=8)
    s0 = t.append(_df(spark, [("a", 1)]))
    # new fileset between the base and the merge
    t.append(_df(spark, [("b", 2)]))
    # merge touching only 'a' — 'b' bucket is carried by reference
    t.merge(_df(spark, [("a", 10)]), keys=["k"])
    diff = t.diff_filesets(from_snapshot_id=s0)
    got = sorted(r.k for r in diff.collect())
    # 'b' (appended) and 'a' (rewritten by the merge) must both surface;
    # over-approximation is fine, dropping 'b' is the bug
    assert "b" in got and "a" in got
    # two merges back-to-back: still nothing lost
    s1 = t.current_snapshot_id()
    t.append(_df(spark, [("c", 3)]))
    t.merge(_df(spark, [("a", 11)]), keys=["k"])
    t.merge(_df(spark, [("a", 12)]), keys=["k"])
    got2 = sorted(set(r.k for r in t.diff_filesets(from_snapshot_id=s1).collect()))
    assert "c" in got2
    # table state itself stayed correct throughout
    assert sorted((r.k, r.v) for r in t.read().collect()) == [
        ("a", 12), ("b", 2), ("c", 3)
    ]


def test_concurrent_merges_both_survive(spark, tmp_path):
    """Commit CAS (embedded.go:36-41,393-410 analog): two threads merging
    disjoint keys into ONE table must both land — previously the second
    HEAD rename silently dropped the first commit."""
    import threading
    from concurrent.futures import ThreadPoolExecutor

    t = SnapshotTable(spark, str(tmp_path / "t"), bucket_key="k", n_buckets=8)
    t.overwrite(_df(spark, [("seed", 0)]))
    barrier = threading.Barrier(2)

    def writer(rows):
        barrier.wait()
        t.merge(_df(spark, rows), keys=["k"])

    with ThreadPoolExecutor(2) as ex:
        f1 = ex.submit(writer, [("a", 1)])
        f2 = ex.submit(writer, [("b", 2)])
        f1.result(timeout=300)
        f2.result(timeout=300)
    got = sorted((r.k, r.v) for r in t.read().collect())
    assert got == [("a", 1), ("b", 2), ("seed", 0)]
    # the loser retried: history shows three commits, linear parent chain
    snaps = t.snapshots()
    assert len(snaps) == 3
    parents = {s["snapshot_id"]: s["parent"] for s in snaps}
    ids = [s["snapshot_id"] for s in snaps]
    assert parents[ids[1]] == ids[0] and parents[ids[2]] == ids[1]


def test_commit_conflict_surfaces_without_retry_budget(spark, tmp_path):
    """A stale expected_parent raises CommitConflict at the _commit layer."""
    import pytest

    from cie_spark.sources.io_snapshots import CommitConflict

    t = SnapshotTable(spark, str(tmp_path / "t"))
    s1 = t.append(_df(spark, [("a", 1)]))
    t.append(_df(spark, [("b", 2)]))
    with pytest.raises(CommitConflict):
        t._commit([], "merge", {}, expected_parent=s1)


def test_diff_and_expiry_are_chain_local(spark, tmp_path, monkeypatch):
    """Manifest hygiene: diff_filesets walks the HEAD parent chain — a
    many-commit table resolves a recent diff in O(commits-since) manifest
    reads; expire_snapshots prunes old manifests + dead filesets while the
    retained window keeps working."""
    import pytest

    from cie_spark.sources.io_snapshots import SnapshotTable as ST

    t = SnapshotTable(spark, str(tmp_path / "t"))
    sids = [t.append(_df(spark, [(f"k{i}", i)])) for i in range(12)]

    reads = {"n": 0}
    orig = ST._read_snapshot

    def counting(self, sid):
        reads["n"] += 1
        return orig(self, sid)

    monkeypatch.setattr(ST, "_read_snapshot", counting)
    diff = t.diff_filesets(from_snapshot_id=sids[-4])
    assert sorted(r.k for r in diff.collect()) == ["k10", "k11", "k9"]
    # chain walk: 3 post-base + 1 base manifest, not all 12
    assert reads["n"] <= 5
    monkeypatch.setattr(ST, "_read_snapshot", orig)

    out = t.expire_snapshots(keep_last=5)
    assert out["removed_snapshots"] == 7
    # full table still reads (append chains carry all filesets forward)
    assert sorted(r.v for r in t.read().collect()) == list(range(12))
    # diff within the retained window still works
    d2 = t.diff_filesets(from_snapshot_id=sids[-3])
    assert sorted(r.k for r in d2.collect()) == ["k10", "k11"]
    # diff from an expired snapshot raises instead of silently under-reading
    with pytest.raises(ValueError, match="expired"):
        t.diff_filesets(from_snapshot_id=sids[0])


def test_expiry_removes_dead_merge_filesets(spark, tmp_path):
    """A bucketed merge strands the pre-merge fileset once the merge commit
    leaves the retained window — expire_snapshots must reclaim it."""
    import os

    t = SnapshotTable(spark, str(tmp_path / "t"), bucket_key="k", n_buckets=4)
    t.overwrite(_df(spark, [("a", 1), ("b", 2)]))
    for i in range(4):
        t.merge(_df(spark, [("a", 10 + i), ("b", 20 + i)]), keys=["k"])
    n_before = len(os.listdir(tmp_path / "t" / "data"))
    out = t.expire_snapshots(keep_last=1)
    n_after = len(os.listdir(tmp_path / "t" / "data"))
    assert out["removed_filesets"] > 0 and n_after < n_before
    assert sorted((r.k, r.v) for r in t.read().collect()) == [("a", 13), ("b", 23)]


def test_schema_evolution_additive(spark, tmp_path):
    """Additive schema evolution (Iceberg add-column analog): a write with
    new columns widens the table schema; old files read back as NULL —
    including bucket-pruned reads touching only pre-evolution files; type
    changes are rejected."""
    import pytest

    t = SnapshotTable(spark, str(tmp_path / "t"), bucket_key="k", n_buckets=4)
    t.append(_df(spark, [("a", 1), ("b", 2)]))
    t.append(spark.createDataFrame([("c", 3, "x")], "k string, v int, w string"))
    got = {r.k: (r.v, r.w) for r in t.read().collect()}
    assert got == {"a": (1, None), "b": (2, None), "c": (3, "x")}

    t.merge(
        spark.createDataFrame(
            [("a", 10, "y"), ("d", 4, "z")], "k string, v int, w string"
        ),
        keys=["k"],
    )
    got = {r.k: (r.v, r.w) for r in t.read().collect()}
    assert got == {"a": (10, "y"), "b": (2, None), "c": (3, "x"), "d": (4, "z")}

    # an old-writer frame (no w) still merges; its rows carry w = NULL
    t.merge(_df(spark, [("b", 20)]), keys=["k"])
    assert {r.k: (r.v, r.w) for r in t.read().collect()}["b"] == (20, None)

    # bucket-pruned point lookup of rows written before evolution still
    # surfaces the new column
    one = spark.createDataFrame([("c",)], "k string")
    sub = t.read_matching(one, ["k"])
    assert sub.columns == ["k", "v", "w"]
    assert [(r.k, r.w) for r in sub.collect()] == [("c", "x")]

    with pytest.raises(ValueError, match="not supported"):
        t.append(spark.createDataFrame([("e", "oops")], "k string, v string"))

    # unbucketed table takes the same path
    u = SnapshotTable(spark, str(tmp_path / "u"))
    u.append(_df(spark, [("a", 1)]))
    u.merge(
        spark.createDataFrame([("a", 2, 9.5)], "k string, v int, s double"),
        keys=["k"],
    )
    row = u.read().collect()[0]
    assert (row.k, row.v, row.s) == ("a", 2, 9.5)


def test_compact_buckets(spark, tmp_path):
    """Append-heavy tables: K appends leave K files per bucket forever
    (VERDICT r3 missing #3). compact_buckets rewrites fat buckets into one
    file each, contents unchanged, and the superseded filesets become
    reclaimable by expire_snapshots."""
    import os

    t = SnapshotTable(spark, str(tmp_path / "t"), bucket_key="k", n_buckets=4)
    rows = []
    for i in range(10):
        t.append(_df(spark, [(f"k{i}", i)]))
        rows.append((f"k{i}", i))
    bmap = t._bucket_map(t.current_snapshot())
    assert max(len(ps) for ps in bmap.values()) > 1  # fat buckets exist
    sid = t.compact_buckets(max_paths_per_bucket=1)
    assert sid is not None
    bmap2 = t._bucket_map(t.current_snapshot())
    assert all(len(ps) == 1 for ps in bmap2.values())
    assert sorted((r.k, r.v) for r in t.read().collect()) == sorted(rows)
    # second call is a no-op (nothing fat anymore)
    assert t.compact_buckets(max_paths_per_bucket=1) is None
    # the 10 append filesets are dead once history is expired
    n_before = len(os.listdir(tmp_path / "t" / "data"))
    out = t.expire_snapshots(keep_last=1)
    n_after = len(os.listdir(tmp_path / "t" / "data"))
    assert out["removed_filesets"] > 0 and n_after < n_before
    assert sorted((r.k, r.v) for r in t.read().collect()) == sorted(rows)


def test_delete_where_cas_concurrent_append_survives(spark, tmp_path):
    """delete_where is CAS-committed (ADVICE r3 medium): racing it against
    an append of an unrelated key must preserve the appended row — the old
    unchecked commit silently dropped whichever landed first."""
    import threading
    from concurrent.futures import ThreadPoolExecutor

    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, [("dead", 1), ("keep", 2)]))
    barrier = threading.Barrier(2)

    def do_delete():
        barrier.wait()
        t.delete_where("k = 'dead'")

    def do_append():
        barrier.wait()
        t.append(_df(spark, [("new", 3)]))

    with ThreadPoolExecutor(2) as ex:
        f1, f2 = ex.submit(do_delete), ex.submit(do_append)
        f1.result(timeout=300)
        f2.result(timeout=300)
    got = sorted(r.k for r in t.read().collect())
    # 'new' must never be lost; 'dead' is gone unless the delete ran first
    # and the append re-raced it — both orders keep 'keep' and 'new'
    assert "new" in got and "keep" in got and "dead" not in got


def test_commit_conflict_cleans_up_losing_fileset(spark, tmp_path):
    """A losing CAS attempt removes the fileset it wrote before retrying
    (ADVICE r3 low): after any commit race, every data dir on disk is
    referenced by some manifest — no orphan filesets leak."""
    import os
    import threading
    from concurrent.futures import ThreadPoolExecutor

    t = SnapshotTable(spark, str(tmp_path / "t"), bucket_key="k", n_buckets=4)
    t.overwrite(_df(spark, [("seed", 0)]))
    barrier = threading.Barrier(2)

    def writer(rows):
        barrier.wait()
        t.merge(_df(spark, rows), keys=["k"])

    with ThreadPoolExecutor(2) as ex:
        f1 = ex.submit(writer, [("a", 1)])
        f2 = ex.submit(writer, [("b", 2)])
        f1.result(timeout=300)
        f2.result(timeout=300)
    referenced: set[str] = set()
    for s in t.snapshots():
        referenced |= set(s["filesets"])
        referenced |= t._live_filesets(s)
    on_disk = set(os.listdir(tmp_path / "t" / "data"))
    assert on_disk <= referenced, f"orphan filesets leaked: {on_disk - referenced}"
    assert sorted((r.k, r.v) for r in t.read().collect()) == [
        ("a", 1), ("b", 2), ("seed", 0)
    ]


def test_expire_concurrent_with_commits_never_loses_head(spark, tmp_path):
    """ADVICE r3 high: the expire keep-chain walk runs under the commit lock,
    so a commit landing mid-expire can never have its manifest deleted and
    its fileset reclaimed. Race appends against aggressive expiry and assert
    the table stays fully readable after every round."""
    import threading
    from concurrent.futures import ThreadPoolExecutor

    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, [("base", 0)]))
    for i in range(3):
        barrier = threading.Barrier(2)

        def do_append(i=i):
            barrier.wait()
            t.append(_df(spark, [(f"r{i}", i + 1)]))

        def do_expire():
            barrier.wait()
            t.expire_snapshots(keep_last=1)

        with ThreadPoolExecutor(2) as ex:
            f1, f2 = ex.submit(do_append), ex.submit(do_expire)
            f1.result(timeout=300)
            f2.result(timeout=300)
        # HEAD must resolve and the committed row must be present
        snap = t.current_snapshot()
        assert snap is not None, "HEAD points at a deleted manifest"
        got = {r.k for r in t.read().collect()}
        assert f"r{i}" in got and "base" in got


def test_legacy_manifest_without_table_schema_widens(spark, tmp_path):
    """ADVICE r3 low: appending a wider frame onto a warehouse whose
    manifests predate schema tracking must record schema_merge=true so old
    files resolve via footer merging, not an arbitrary single footer."""
    import json as _json
    import os

    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, [("a", 1)]))
    # simulate a legacy manifest: strip the schema keys from HEAD
    snap_dir = tmp_path / "t" / "snapshots"
    for name in os.listdir(snap_dir):
        with open(snap_dir / name) as f:
            m = _json.load(f)
        m.pop("table_schema", None)
        m.pop("schema_merge", None)
        with open(snap_dir / name, "w") as f:
            _json.dump(m, f)
    t.append(spark.createDataFrame([("b", 2, "x")], "k string, v int, w string"))
    assert t.current_snapshot()["schema_merge"] is True
    got = {r.k: (r.v, r.w) for r in t.read().collect()}
    assert got == {"a": (1, None), "b": (2, "x")}


def test_manifest_stats_pruning(spark, tmp_path):
    """Manifest-level column bounds (Iceberg min/max manifest stats analog):
    commits on a stats_cols table record per-path [min, max] from the
    parquet footers; read(prune=...) skips whole paths that cannot
    intersect, and the surviving rows are unchanged by the row filter."""
    t = SnapshotTable(
        spark, str(tmp_path / "t"), bucket_key="k", n_buckets=2,
        stats_cols=["v"],
    )
    # three appends with disjoint v-ranges -> three path generations
    t.append(_df(spark, [(f"a{i}", i) for i in range(0, 10)]))
    t.append(_df(spark, [(f"b{i}", i) for i in range(100, 110)]))
    t.append(_df(spark, [(f"c{i}", i) for i in range(200, 210)]))
    snap = t.current_snapshot()
    stats = snap.get("stats", {})
    all_paths = [p for ps in t._bucket_map(snap).values() for p in ps]
    assert stats and set(stats) == set(all_paths)
    # pruning to the middle range keeps only the middle generation's paths
    kept = t._prune_paths(all_paths, stats, {"v": (100, 109)})
    assert 0 < len(kept) < len(all_paths)
    got = sorted(
        r.v for r in t.read(prune={"v": (100, 109)})
        .filter("v BETWEEN 100 AND 109").collect()
    )
    assert got == list(range(100, 110))
    # open-ended bound; paths without stats are kept (safe default)
    hi = t.read(prune={"v": (200, None)}).filter("v >= 200")
    assert sorted(r.v for r in hi.collect()) == list(range(200, 210))
    # a merge carries forward untouched paths' stats and harvests new ones
    t.merge(_df(spark, [("a1", 5000)]), keys=["k"])
    snap2 = t.current_snapshot()
    paths2 = [p for ps in t._bucket_map(snap2).values() for p in ps]
    assert set(snap2["stats"]) == set(paths2)
    full = sorted(r.v for r in t.read().collect())
    assert 5000 in full and len(full) == 30

    # timestamp normalization: naive datetimes are treated as UTC epochs
    import datetime

    n = SnapshotTable._stat_norm(datetime.datetime(2026, 1, 1))
    assert abs(n - 1767225600.0) < 1


def test_manifest_stats_pruning_timestamp_col(spark, tmp_path):
    """Timestamp stats_cols must actually harvest: with Spark's default
    INT96 parquet rendering the footers carry NO min/max (has_min_max is
    False) and ts-range pruning silently never engaged (ADVICE r4 medium).
    session.py pins outputTimestampType=TIMESTAMP_MICROS; this test fails
    if that regresses, because the stats dict comes back empty."""
    import datetime

    t = SnapshotTable(
        spark, str(tmp_path / "ts_t"), bucket_key="k", n_buckets=2,
        stats_cols=["ts"],
    )

    def day(d):
        return datetime.datetime(2026, 1, d, tzinfo=datetime.timezone.utc)

    def tdf(lo_day, n):
        return spark.createDataFrame(
            [(f"k{lo_day}_{i}", day(lo_day + i)) for i in range(n)],
            "k string, ts timestamp",
        )

    t.append(tdf(1, 3))    # Jan 1-3
    t.append(tdf(20, 3))   # Jan 20-22
    snap = t.current_snapshot()
    stats = snap.get("stats", {})
    all_paths = [p for ps in t._bucket_map(snap).values() for p in ps]
    # the regression mode is exactly "no ts bounds recorded anywhere"
    assert stats and any("ts" in s for s in stats.values()), (
        "no ts footer stats harvested — INT96 output type regression?"
    )
    kept = t._prune_paths(all_paths, stats, {"ts": (day(19), day(23))})
    assert 0 < len(kept) < len(all_paths)
    got = t.read(prune={"ts": (day(19), day(23))}).filter(
        "ts >= timestamp'2026-01-19 00:00:00+00:00'"
    )
    assert got.count() == 3


def test_rebucket_evolves_spec_contents_unchanged(spark, tmp_path):
    """rebucket 4→16 (partition-spec evolution): contents identical, the new
    snapshot's bucket map routes on the new spec, and point reads prune to
    the new buckets."""
    t = SnapshotTable(
        spark, str(tmp_path / "rb"), bucket_key="k", n_buckets=4
    )
    rows = [(f"k{i}", i) for i in range(200)]
    t.overwrite(_df(spark, rows))
    before = sorted((r.k, r.v) for r in t.read().collect())

    sid = t.rebucket(16)
    assert sid is not None
    assert t.n_buckets == 16
    snap = t.current_snapshot()
    assert snap["snapshot_id"] == sid
    assert snap["operation"] == "rebucket"
    assert snap["summary"]["from_n_buckets"] == 4
    bmap = t._bucket_map(snap)
    assert len(bmap) > 4  # data actually spread over the new bucket count
    after = sorted((r.k, r.v) for r in t.read().collect())
    assert after == before

    # reads prune on the NEW map: a point lookup touches exactly the paths
    # of the key's new bucket
    probe = spark.createDataFrame([("k7",)], "k string")
    m = t.read_matching(probe, ["k"])
    assert sorted(r.v for r in m.collect() if r.k == "k7") == [7]

    # a fresh handle constructed with the evolved spec reads the same table
    t2 = SnapshotTable(spark, str(tmp_path / "rb"), bucket_key="k", n_buckets=16)
    assert sorted((r.k, r.v) for r in t2.read().collect()) == before

    # merges after the rebucket land on the new routing
    t.merge(_df(spark, [("k7", 7000)]), keys=["k"])
    got = {r.k: r.v for r in t.read().collect()}
    assert got["k7"] == 7000 and len(got) == 200


def test_python_bucket_matches_spark(spark, tmp_path):
    """Contract for the driver-side bucket hash (functions.xxh64_bytes_array):
    buckets_for_keys must agree bit-for-bit with the JVM bucket expression
    pmod(xxhash64(key), n_buckets) for every UTF-8 shape (all xxh64 branch
    lengths: <4, 4-7, 8-31, >=32 bytes; multi-byte unicode; empty). A
    divergence would make the small-delta fast path prune the WRONG bucket
    and silently miss matched rows."""
    import random

    import numpy as np
    from pyspark.sql import functions as F

    from cie_spark.functions import xxh64_bytes_array

    rng = random.Random(7)
    keys = [
        "", "a", "ab", "abc", "abcd", "abcdefg", "abcdefgh",
        "conv-000042", "x" * 31, "x" * 32, "x" * 33, "x" * 100,
        "héllo", "中文键名", "emoji-🙂-key", "mixé-中-🙂" * 5,
    ] + [
        "".join(rng.choice("abcdefghij-0123456789é中🙂") for _ in range(rng.randint(1, 64)))
        for _ in range(50)
    ]
    n = 16
    t = SnapshotTable(spark, str(tmp_path / "bk"), bucket_key="k", n_buckets=n)

    jvm = {
        r.k: (r.h, r.b)
        for r in spark.createDataFrame([(k,) for k in keys], "k string")
        .select(
            "k",
            F.xxhash64("k").alias("h"),
            F.pmod(F.xxhash64("k"), F.lit(n)).alias("b"),
        )
        .collect()
    }
    for k in keys:
        h = xxh64_bytes_array([k.encode("utf-8")]).view(np.int64)[0]
        assert int(h) == jvm[k][0], k
        assert t.buckets_for_keys([k]) == {jvm[k][1]}, k
    # set semantics over a batch
    assert t.buckets_for_keys(keys) == {jvm[k][1] for k in keys}

    # non-string keys hash differently on the JVM (bytes of the long, not
    # its decimal rendering) — a silent str() coercion would mis-prune, so
    # the contract is an explicit refusal
    import pytest

    with pytest.raises(TypeError, match="keys only"):
        t.buckets_for_keys([42])

    # a None key mirrors xxhash64(NULL) = seed pass-through: the hint built
    # from a null-bearing key list must still cover the null rows' bucket
    null_b = (
        spark.createDataFrame([(None,)], "k string")
        .select(F.pmod(F.xxhash64("k"), F.lit(n)).alias("b"))
        .first()[0]
    )
    assert t.buckets_for_keys([None]) == {null_b}


def test_bucket_spec_persisted_and_adopted(spark, tmp_path):
    """The bucket spec lives with the TABLE, not the client (Iceberg
    partition-spec semantics): a handle constructed with a different
    n_buckets than the warehouse was created with must adopt the committed
    spec instead of computing pmod against the wrong modulus — which would
    miss the bucket holding an existing row and silently duplicate it on
    merge (the job.py --buckets 32 vs cli/watch default-128 hazard)."""
    root = str(tmp_path / "spec")
    t1 = SnapshotTable(spark, root, bucket_key="k", n_buckets=8)
    t1.overwrite(_df(spark, [(f"k{i}", i) for i in range(40)]))

    # mismatched handle: constructor says 128, table says 8
    t2 = SnapshotTable(spark, root, bucket_key="k", n_buckets=128)
    assert t2.n_buckets == 8  # adopted at construction
    t2.merge(_df(spark, [("k3", 3000), ("knew", 1)]), keys=["k"])
    got = {r.k: r.v for r in t2.read().collect()}
    assert got["k3"] == 3000 and got["knew"] == 1 and len(got) == 41

    # a handle created BEFORE a rebucket adopts the new spec at its next
    # mutation (spec re-read at the head of every merge/delete/append)
    t3 = SnapshotTable(spark, root, bucket_key="k", n_buckets=8)
    t1.rebucket(16)
    t3.merge(_df(spark, [("k5", 5000)]), keys=["k"])
    assert t3.n_buckets == 16
    got = {r.k: r.v for r in t3.read().collect()}
    assert got["k5"] == 5000 and len(got) == 41


def test_read_keys_matches_read_matching(spark, tmp_path):
    """read_keys (bucket-pruned literal lookup, the no-join rendering used
    by the pipeline small-delta path and streaming watch) must return the
    same rows as the read_matching left-semi join, including the null-key
    convention: null keys match nothing, and a key list with None in it
    neither crashes nor over-matches."""
    t = SnapshotTable(spark, str(tmp_path / "rk"), bucket_key="k", n_buckets=8)
    t.overwrite(
        spark.createDataFrame(
            [(f"k{i}", i) for i in range(50)] + [(None, 999)],
            "k string, v int",
        )
    )
    keys = ["k3", "k17", "k42", "missing", None]
    got = sorted((r.k, r.v) for r in t.read_keys(keys).collect())
    match_df = spark.createDataFrame([(k,) for k in keys], "k string")
    want = sorted(
        (r.k, r.v) for r in t.read_matching(match_df, ["k"]).collect()
    )
    assert got == want == [("k17", 17), ("k3", 3), ("k42", 42)]
    # only-null / empty key lists: nothing can match
    assert t.read_keys([None]) is None
    assert t.read_keys([]) is None


def test_stale_prebucketed_frame_is_rebucketed(spark, tmp_path):
    """A frame pre-bucketed under one spec must not be trusted after the
    table's spec changed: here another handle rebuckets 4 -> 8 between
    building the frame and merging it. The merge recomputes `_bucket`, so
    every row sits in the bucket read_keys prunes to, and `_bucket` never
    enters the table schema."""
    root = str(tmp_path / "stale")
    t = SnapshotTable(spark, root, bucket_key="k", n_buckets=4)
    t.overwrite(_df(spark, [(f"k{i}", i) for i in range(40)]))
    pre = (
        _df(spark, [(f"k{i}", 1000 + i) for i in range(30, 60)])
        .select("*", t._bucket_col())
        .repartition(4, "_bucket")
    )
    SnapshotTable(spark, root, bucket_key="k", n_buckets=4).rebucket(8)
    t.merge(pre, keys=["k"])
    assert t.n_buckets == 8
    keys = [f"k{i}" for i in range(60)]
    want = {k: (1000 + i if i >= 30 else i) for i, k in enumerate(keys)}
    assert {r.k: r.v for r in t.read().collect()} == want
    for b in range(8):
        in_b = [k for k in keys if t.buckets_for_keys([k]) == {b}]
        if in_b:  # read_keys reads bucket b alone
            got = {r.k: r.v for r in t.read_keys(in_b).collect()}
            assert got == {k: want[k] for k in in_b}, b
    snap = t.current_snapshot()
    assert [f["name"] for f in snap["table_schema"]["fields"]] == ["k", "v"]
    assert t.read().columns == ["k", "v"]


def test_benchmark_tracer_counts_merge_commits(spark, tmp_path, monkeypatch):
    """kgbench's Tracer wraps SnapshotTable.merge, _retrying and the table
    reads by name. Two merges, one of which loses a forced CAS race, count
    two commits in three attempts, and each leaves one merge span carrying
    the files and buckets its commit wrote. The wrappers replace class and
    module attributes, so each one is restored at teardown."""
    from kgbench.hooks import Tracer

    from cie_spark.sources.io_snapshots import CommitConflict

    patch = Tracer._patch

    def restored_at_teardown(self, owner, attr, make):
        monkeypatch.setattr(owner, attr, getattr(owner, attr))
        patch(self, owner, attr, make)

    monkeypatch.setattr(Tracer, "_patch", restored_at_teardown)
    t = SnapshotTable(spark, str(tmp_path / "tbl"), bucket_key="k", n_buckets=4)
    t.overwrite(_df(spark, [(f"k{i}", i) for i in range(8)]))
    tracer = Tracer(spark.sparkContext)
    tracer.install()

    t.merge(_df(spark, [("k1", 10)]), keys=["k"])
    commit = SnapshotTable._commit_locked

    def lose_once(self, *a, **kw):
        monkeypatch.setattr(SnapshotTable, "_commit_locked", commit)
        raise CommitConflict("injected lost race")

    monkeypatch.setattr(SnapshotTable, "_commit_locked", lose_once)
    t.merge(_df(spark, [("k2", 20)]), keys=["k"])

    assert tracer.counters["commits"] == 2
    assert tracer.counters["commit_attempts"] == 3
    spans = [s for s in tracer.spans if s.name == "io_snapshots.merge.tbl"]
    assert [(s.attrs["files"], s.attrs["buckets"]) for s in spans] == [(1, 1)] * 2
    got = {r.k: r.v for r in t.read().collect()}
    assert (got["k1"], got["k2"], len(got)) == (10, 20, 8)
