"""Round-2 pipeline semantics: DQ fail-on-violation, resume policies
(fail_fast / force_reprocess / trust_checkpoint), changed-files-only
incremental (run_from_table), and entity-surface accumulation."""

from __future__ import annotations

from pathlib import Path

import pytest
from pyspark.sql import functions as F

import cie_spark.plans.pipeline as pl
from cie_spark.plans.pipeline import KGPipeline
from cie_spark.sources.gen import generate_transcripts
from cie_spark.sources.io_snapshots import SnapshotTable


def _triple_set(p):
    return {
        (r.subj, r.pred, r.obj, r.conv_id, r.turn_idx)
        for r in p.triples.read().select(
            "subj", "pred", "obj", "conv_id", "turn_idx"
        ).collect()
    }


COMMITTED = ("triples", "entities", "processed_convs", "surface_links")


def _tables(p):
    return {
        "triples": p.triples, "entities": p.entities,
        "processed_convs": p.processed, "surface_links": p.links,
    }


def _filesets(p) -> dict:
    """fs-* data directories per committed table."""
    return {
        name: sorted(d.name for d in (Path(t.root) / "data").glob("fs-*"))
        for name, t in _tables(p).items()
    }


def _heads(p) -> dict:
    return {name: t.current_snapshot_id() for name, t in _tables(p).items()}


def _inject_bad_triple(monkeypatch):
    orig = pl.triples.all_triples

    def bad(linked, transcripts=None):
        df = orig(linked, transcripts)
        bad_row = df.sparkSession.createDataFrame(
            [("", "bogus", "x", "conv-bad", -1, None, 1)],
            "subj string, pred string, obj string, conv_id string, "
            "turn_idx int, ts timestamp, weight long",
        )
        if "_bucket" in df.columns:  # pre-bucketed pipeline input
            bad_row = bad_row.withColumn("_bucket", F.lit(0))
        return df.unionByName(bad_row)

    monkeypatch.setattr(pl.triples, "all_triples", bad)


def test_dq_violation_fails_the_run(spark, tmp_path, monkeypatch):
    """Injected bad triple rows (empty subj, unknown pred, negative turn)
    must abort the run before any commit — datalog.go:62-175 semantics —
    and leave no staged fileset behind in any table the write wave wrote."""
    _inject_bad_triple(monkeypatch)
    p = KGPipeline(spark, str(tmp_path / "wh"))
    t = generate_transcripts(spark, n_convs=4, avg_turns=5, seed=3)
    with pytest.raises(ValueError, match="data-quality violations"):
        p.run(t)
    # nothing was materialized, and nothing leaked
    assert p.triples.read() is None
    assert _heads(p) == dict.fromkeys(COMMITTED)
    assert _filesets(p) == {name: [] for name in COMMITTED}
    # the violation counts were recorded in lineage before the abort
    lin = {r.stage: r for r in p.lineage.read().collect()}
    assert lin["triples"].errors >= 3


def test_dq_violation_on_incremental_run_keeps_every_head(
    spark, tmp_path, monkeypatch
):
    """A violation arriving on an incremental run into a non-empty
    warehouse (one edited conv, one new surface) moves no table's HEAD and
    leaves only the filesets the healthy run committed."""
    p = KGPipeline(spark, str(tmp_path / "wh"), n_buckets=8)
    base = generate_transcripts(spark, n_convs=5, avg_turns=5, seed=8).cache()
    p.run(base)
    heads, filesets = _heads(p), _filesets(p)
    assert all(heads.values())
    edited = base.withColumn(
        "text",
        F.when(
            (F.col("conv_id") == "conv-000002") & (F.col("turn_idx") == 0),
            F.lit("now about [[Grafana]] and [[Zanzibar-DB]]"),
        ).otherwise(F.col("text")),
    )
    _inject_bad_triple(monkeypatch)
    with pytest.raises(ValueError, match="data-quality violations"):
        p.run(edited)
    assert _heads(p) == heads
    assert _filesets(p) == filesets
    base.unpersist()


def test_failed_triples_commit_blocks_later_commits(spark, tmp_path, monkeypatch):
    """Commit order: when the triples commit raises, processed_convs and
    surface_links (which commit after it) get no snapshot and their staged
    filesets are removed; the next run converges to the healthy triples."""
    t = generate_transcripts(spark, n_convs=6, avg_turns=6, seed=21).cache()
    healthy = KGPipeline(spark, str(tmp_path / "ref"))
    healthy.run(t)

    p = KGPipeline(spark, str(tmp_path / "wh"))

    def boom(*a, **kw):
        raise RuntimeError("injected triples commit failure")

    monkeypatch.setattr(p.triples, "_commit", boom)
    with pytest.raises(RuntimeError, match="injected triples commit failure"):
        p.run(t)
    for name in ("processed_convs", "surface_links"):
        assert _tables(p)[name].current_snapshot() is None
        assert _filesets(p)[name] == []
    assert p.triples.current_snapshot() is None

    monkeypatch.undo()
    r = p.run(t)
    assert not r.get("skipped")
    assert _triple_set(p) == _triple_set(healthy)
    assert p.run(t).get("skipped") is True
    t.unpersist()


def test_fail_fast_detects_checkpoint_drift(spark, tmp_path):
    wh = str(tmp_path / "wh")
    p = KGPipeline(spark, wh)
    t = generate_transcripts(spark, n_convs=5, avg_turns=5, seed=4).cache()
    p.run(t)
    # simulate a crash artifact: a conv indexed in triples but evicted from
    # the processed checkpoint
    one = spark.createDataFrame([("conv-000002",)], "conv_id string")
    p.processed.delete_matching(one, keys=["conv_id"])
    with pytest.raises(RuntimeError, match="fail_fast"):
        p.run(t, resume="fail_fast")
    # trust_checkpoint converges silently on the same state
    r = p.run(t, resume="trust_checkpoint")
    assert not r.get("skipped")  # conv-000002 reprocessed
    t.unpersist()


def test_force_reprocess_reemits_everything(spark, tmp_path):
    wh = str(tmp_path / "wh")
    p = KGPipeline(spark, wh)
    t = generate_transcripts(spark, n_convs=5, avg_turns=5, seed=5).cache()
    p.run(t)
    base = _triple_set(p)
    r1 = p.run(t)  # trust_checkpoint: no-op
    assert r1.get("skipped") is True
    r2 = p.run(t, resume="force_reprocess")
    assert not r2.get("skipped")
    assert r2["rows_in"] > 0
    assert _triple_set(p) == base  # idempotent replay
    t.unpersist()

    with pytest.raises(ValueError, match="resume"):
        p.run(t, resume="bogus_policy")


def test_run_from_table_reads_only_changed_files(spark, tmp_path):
    """Snapshot-diff incremental: edit one conversation via an upsert into
    the source table; run_from_table must converge to the same warehouse
    state as a full rebuild, and a further run must be a no-op."""
    src = SnapshotTable(
        spark, str(tmp_path / "src"), bucket_key="conv_id", n_buckets=16
    )
    t = generate_transcripts(spark, n_convs=10, avg_turns=6, seed=9).cache()
    src.overwrite(t)

    p = KGPipeline(spark, str(tmp_path / "wh"))
    full = p.run_from_table(src)
    assert full["triples"] > 0

    edited = (
        src.read()
        .filter((F.col("conv_id") == "conv-000004") & (F.col("turn_idx") == 1))
        .withColumn("text", F.lit("now about [[Grafana]] and [[Terraform]]"))
    )
    src.merge(edited, keys=["conv_id", "turn_idx"])
    incr = p.run_from_table(src)
    assert not incr.get("skipped")
    got = _triple_set(p)

    # oracle: full rebuild of the edited corpus in a fresh warehouse
    p2 = KGPipeline(spark, str(tmp_path / "wh2"))
    p2.run(src.read(), incremental=False)
    assert got == _triple_set(p2)

    # no further changes -> no-op (snapshot diff finds nothing)
    again = p.run_from_table(src)
    assert again.get("skipped") is True
    t.unpersist()


def test_incremental_run_from_table_job_count(spark, tmp_path):
    """A 10-conversation edit re-indexed by run_from_table is scheduling-
    bound, so its cost is its job count. The run decides the small-delta
    path from ONE bounded fetch of its exact delta; with the scoping fetch
    that is two fetches, not three (three took 26 jobs here). Counted under
    a job group, as the write wave's pool threads inherit it."""
    sc = spark.sparkContext
    st = sc.statusTracker()
    bus = sc._jsc.sc().listenerBus()
    src = SnapshotTable(
        spark, str(tmp_path / "src"), bucket_key="conv_id", n_buckets=4
    )
    src.overwrite(generate_transcripts(spark, n_convs=40, avg_turns=5, seed=6))
    p = KGPipeline(spark, str(tmp_path / "wh"), n_buckets=4)
    p.run_from_table(src)
    ids = [f"conv-{i:06d}" for i in range(0, 40, 4)]
    edited = src.read_keys(ids).filter(F.col("turn_idx") == 1).withColumn(
        "text", F.lit("edited: now about [[Grafana]]")
    )
    src.merge(edited, keys=["conv_id", "turn_idx"])
    bus.waitUntilEmpty()
    sc.setJobGroup("cie-incr", "10-conversation incremental reindex")
    try:
        out = p.run_from_table(src)
    finally:
        sc._jsc.clearJobGroup()
    bus.waitUntilEmpty()
    assert not out.get("skipped")
    assert len(st.getJobIdsForGroup("cie-incr")) <= 25


def test_incremental_touch_preserves_entity_surfaces(spark, tmp_path):
    """An incremental run that sees only ONE surface form of an entity must
    not shrink the entity's accumulated surface set (MERGE WHEN MATCHED
    unions, not replaces)."""
    wh = str(tmp_path / "wh")
    p = KGPipeline(spark, wh)
    rows = [
        ("c1", 0, "user", "about [[PostgreSQL]]", None, None),
        ("c1", 1, "user", "also [[Postgres]] and [[pg]]", None, None),
        ("c2", 0, "user", "only [[pg]] here", None, None),
    ]
    t = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    p.run(t, prose=False)
    before = {
        r.entity_id: set(r.surfaces) for r in p.entities.read().collect()
    }
    assert {"PostgreSQL", "Postgres", "pg"} <= before["ent:postgresql"]

    # touch only c2 (the pg-only conversation)
    t2 = t.withColumn(
        "text",
        F.when(
            (F.col("conv_id") == "c2") & (F.col("turn_idx") == 0),
            F.lit("edited, still [[pg]] only"),
        ).otherwise(F.col("text")),
    )
    p.run(t2, prose=False)
    after = {
        r.entity_id: set(r.surfaces) for r in p.entities.read().collect()
    }
    assert {"PostgreSQL", "Postgres", "pg"} <= after["ent:postgresql"]


def test_incremental_new_tool_writes_vertex(spark, tmp_path):
    """ADVICE r2: an incremental run that introduces a NEW tool but zero new
    entity surfaces must still write the 'tool:' vertex to the entities
    table (tool ids never ride the surface-link dictionary, so the
    no-new-surfaces merge skip must check them separately)."""
    wh = str(tmp_path / "wh")
    p = KGPipeline(spark, wh)
    rows = [
        ("c1", 0, "user", "about [[PostgreSQL]]", None, None),
        ("c1", 1, "tool", "calling tool <bash> ok", "bash", None),
    ]
    schema = (
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp"
    )
    p.run(spark.createDataFrame(rows, schema), prose=False)
    ids0 = {r.entity_id for r in p.entities.read().collect()}
    assert "tool:bash" in ids0

    # second run: a brand-new conversation with a NEW tool and an already-
    # known entity surface -> the surface dictionary does not advance
    rows2 = rows + [
        ("c2", 0, "user", "more [[PostgreSQL]]", None, None),
        ("c2", 1, "tool", "calling tool <notify> done", "notify", None),
    ]
    p.run(spark.createDataFrame(rows2, schema), prose=False)
    ids1 = {r.entity_id for r in p.entities.read().collect()}
    assert "tool:notify" in ids1, "new tool vertex must be merged"
    # and the calls edge agrees with the vertex table
    objs = {
        r.obj for r in p.triples.read().filter("pred = 'calls'").collect()
    }
    assert objs <= ids1


def test_conv_hash_order_independent(spark, tmp_path):
    """The conversation content hash must not depend on row order or
    partitioning (commutative constant-space lanes), and must be sensitive
    to any single-turn edit."""
    p = KGPipeline(spark, str(tmp_path / "wh"))
    t = generate_transcripts(spark, n_convs=6, avg_turns=8, seed=11).cache()
    a = {r.conv_id: (r.conv_hash, r.n_turns) for r in p._conv_hashes(t).collect()}
    shuffled = t.orderBy(F.rand(3)).repartition(7)
    b = {
        r.conv_id: (r.conv_hash, r.n_turns)
        for r in p._conv_hashes(shuffled).collect()
    }
    assert a == b
    t2 = t.withColumn(
        "text",
        F.when(
            (F.col("conv_id") == "conv-000001") & (F.col("turn_idx") == 0),
            F.lit("edited"),
        ).otherwise(F.col("text")),
    )
    c = {r.conv_id: r.conv_hash for r in p._conv_hashes(t2).collect()}
    assert c["conv-000001"] != a["conv-000001"][0]
    assert all(c[k] == a[k][0] for k in c if k != "conv-000001")
    t.unpersist()


def test_appended_turn_over_the_row_cap_extracts_with_session_confs(
    spark, tmp_path, monkeypatch
):
    """An append of one turn to a long conversation: the source diff holds
    only the new turn, but the run re-indexes the whole conversation. With
    SMALL_DELTA_ROWS below that conversation's turn count the exact delta
    fails the row gate, so extraction must run under the session's own
    AQE setting, not the small-run guard's."""
    src = SnapshotTable(
        spark, str(tmp_path / "src"), bucket_key="conv_id", n_buckets=16
    )
    base = generate_transcripts(spark, n_convs=8, avg_turns=6, seed=5).cache()
    src.overwrite(base)
    p = KGPipeline(spark, str(tmp_path / "wh"))
    p.run_from_table(src)

    longest = (
        base.groupBy("conv_id")
        .agg(F.count("*").alias("n"), F.max("turn_idx").alias("last"))
        .orderBy(F.desc("n"), "conv_id")
        .first()
    )
    src.append(
        base.filter(
            (F.col("conv_id") == longest.conv_id)
            & (F.col("turn_idx") == longest.last)
        )
        .withColumn("turn_idx", F.col("turn_idx") + 1)
        .withColumn("text", F.lit("now about [[Grafana]]"))
    )
    monkeypatch.setattr(pl, "SMALL_DELTA_ROWS", longest.n - 1)

    seen = []
    orig = pl.extract.extract_mentions

    def spy(*a, **kw):
        seen.append(spark.conf.get("spark.sql.adaptive.enabled"))
        return orig(*a, **kw)

    monkeypatch.setattr(pl.extract, "extract_mentions", spy)
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    out = p.run_from_table(src)
    assert not out.get("skipped")
    assert out["rows_in"] == longest.n + 1
    assert seen == [aqe]
    base.unpersist()


def test_small_delta_path_agrees_with_big(spark, tmp_path, monkeypatch):
    """The small-delta fast path (driver-collected delta, literal isin
    scoping, in-process bucket hints, AQE-off conf guard) must produce a
    bit-identical warehouse to the distributed path on the same edit set
    (one changed conv + two brand-new convs), and must restore the session
    confs it touches."""
    src = SnapshotTable(
        spark, str(tmp_path / "src"), bucket_key="conv_id", n_buckets=16
    )
    base = generate_transcripts(spark, n_convs=12, avg_turns=6, seed=21).cache()
    src.overwrite(base)

    p_small = KGPipeline(spark, str(tmp_path / "whs"))
    p_big = KGPipeline(spark, str(tmp_path / "whb"))
    p_over = KGPipeline(spark, str(tmp_path / "who"))
    p_small.run_from_table(src)
    p_big.run_from_table(src)
    p_over.run_from_table(src)

    # two new convs (generator is hash-per-id: ids 0..11 regenerate
    # identically, so the slice >11 is genuinely new rows)...
    extra = generate_transcripts(spark, n_convs=14, avg_turns=6, seed=21).filter(
        F.col("conv_id") > "conv-000011"
    )
    src.merge(extra, keys=["conv_id", "turn_idx"])
    # ...and one edited conv
    edited = (
        src.read()
        .filter((F.col("conv_id") == "conv-000003") & (F.col("turn_idx") == 0))
        .withColumn("text", F.lit("now about [[Grafana]] and [[Vault]]"))
    )
    src.merge(edited, keys=["conv_id", "turn_idx"])

    aqe_before = spark.conf.get("spark.sql.adaptive.enabled")
    shuf_before = spark.conf.get("spark.sql.shuffle.partitions")

    # prove the fast path actually engaged (and the big run stayed off it)
    engaged = []
    orig_guard = KGPipeline._small_run_confs

    def spy(self):
        engaged.append(True)
        return orig_guard(self)

    monkeypatch.setattr(KGPipeline, "_small_run_confs", spy)
    r_small = p_small.run_from_table(src)
    assert engaged, "small-delta fast path did not engage"
    assert not r_small.get("skipped")

    engaged.clear()
    # row-volume cap alone must force the distributed path even when the
    # conv-count cap passes (mega-conversation guard: 10k convs × 10k turns
    # is 10^8 rows — must not run with AQE off on 8 shuffle partitions)
    monkeypatch.setattr(pl, "SMALL_DELTA_ROWS", 0)
    r_big = p_big.run_from_table(src)
    assert not engaged, "row cap=0 must force the distributed path"
    assert not r_big.get("skipped")
    # conv cap 0: the scoping read and the run take their over-cap branches
    monkeypatch.setattr(pl, "SMALL_DELTA_CONVS", 0)
    r_over = p_over.run_from_table(src)
    assert not engaged, "conv cap=0 must force the distributed path"
    assert not r_over.get("skipped")

    # confs the guard touches are restored
    assert spark.conf.get("spark.sql.adaptive.enabled") == aqe_before
    assert spark.conf.get("spark.sql.shuffle.partitions") == shuf_before

    # identical warehouse state on every table the run commits
    assert r_small["triples"] == r_big["triples"] == r_over["triples"]
    assert _triple_set(p_small) == _triple_set(p_big) == _triple_set(p_over)
    ents = lambda p: sorted(  # noqa: E731
        (r.entity_id, tuple(sorted(r.surfaces)))
        for r in p.entities.read().select("entity_id", "surfaces").collect()
    )
    assert ents(p_small) == ents(p_big) == ents(p_over)
    proc = lambda p: sorted(  # noqa: E731
        (r.conv_id, r.conv_hash, r.n_turns)
        for r in p.processed.read().collect()
    )
    assert proc(p_small) == proc(p_big) == proc(p_over)

    # and both no-op on an unchanged source
    assert p_small.run_from_table(src).get("skipped") is True
    base.unpersist()
