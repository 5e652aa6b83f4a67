"""End-to-end pipeline: full run, no-op incremental, targeted reprocess,
idempotent resume (the analog of incremental_integration_test.go)."""

from __future__ import annotations

from pyspark.sql import functions as F

from cie_spark.plans.pipeline import KGPipeline
from cie_spark.sources.gen import generate_transcripts


def _triple_set(p):
    return {
        (r.subj, r.pred, r.obj, r.conv_id, r.turn_idx, r.weight)
        for r in p.triples.read().collect()
    }


def test_full_then_noop_then_changed(spark, tmp_path):
    wh = str(tmp_path / "wh")
    p = KGPipeline(spark, wh)
    t = generate_transcripts(spark, n_convs=12, avg_turns=8, seed=42).cache()

    r1 = p.run(t)
    assert r1["triples"] > 0
    base = _triple_set(p)

    # no change -> incremental run processes nothing
    r2 = p.run(t)
    assert r2.get("skipped") is True
    assert _triple_set(p) == base

    # mutate one conversation -> only it is reprocessed
    changed = t.withColumn(
        "text",
        F.when(
            (F.col("conv_id") == "conv-000003") & (F.col("turn_idx") == 1),
            F.lit("totally new [[Terraform]] content"),
        ).otherwise(F.col("text")),
    )
    r3 = p.run(changed)
    assert not r3.get("skipped")
    after = _triple_set(p)
    # every triple for untouched conversations is preserved
    untouched = {x for x in base if x[3] != "conv-000003"}
    assert untouched <= after
    assert any(x[3] == "conv-000003" and "terraform" in x[2] for x in after)

    # lineage recorded one row per stage per run
    stages = [
        (r.run_id, r.stage) for r in p.lineage.read().collect()
    ]
    assert len({rid for rid, _ in stages}) == 3
    assert ("%s" % r3["run_id"], "materialize") in stages
    t.unpersist()


def test_resume_is_idempotent(spark, tmp_path):
    """Re-running the same input after a 'crash' (simulated: full rerun with
    force) converges to the same table state — keyed MERGE makes replays
    safe."""
    wh = str(tmp_path / "wh")
    p = KGPipeline(spark, wh)
    t = generate_transcripts(spark, n_convs=8, avg_turns=6, seed=11).cache()
    p.run(t, incremental=False)
    s1 = _triple_set(p)
    p.run(t, incremental=False)  # replay everything
    s2 = _triple_set(p)
    assert s1 == s2
    t.unpersist()


def test_fused_turn_hash_equals_jvm_hash_pass(spark, tmp_path):
    """The full path derives conv hashes from the _turn lanes fused into the
    extraction scan; an incremental run recomputes them with the separate
    JVM pass — both must store bit-equal hashes or every re-run would
    reprocess everything."""
    from cie_spark.plans.pipeline import KGPipeline
    from cie_spark.sources.gen import generate_transcripts

    t = generate_transcripts(spark, n_convs=8, avg_turns=6, seed=11)
    p = KGPipeline(spark, str(tmp_path / "wh"), n_buckets=8)
    p.run(t, incremental=False)
    stored = {r.conv_id: r.conv_hash for r in p.processed.read().collect()}
    direct = {r.conv_id: r.conv_hash for r in p._conv_hashes(t).collect()}
    assert stored == direct and len(stored) == 8


def test_full_run_over_empty_source_skips(spark, tmp_path):
    """A force_reprocess run over an EMPTY source must short-circuit with
    the same {skipped} result the incremental path returns — not commit
    fresh empty triples/entities/processed snapshots (ADVICE r4 low: the
    fused path dropped the rows_in==0 early exit)."""
    p = KGPipeline(spark, str(tmp_path / "wh"), n_buckets=8)
    empty = generate_transcripts(spark, n_convs=2, avg_turns=2, seed=7).limit(0)
    r = p.run(empty, incremental=False)
    assert r.get("skipped") is True and r["rows_in"] == 0 and r["triples"] == 0
    # no table snapshots were committed
    assert p.triples.current_snapshot() is None
    assert p.entities.current_snapshot() is None
    assert p.processed.current_snapshot() is None
    # and a later real run on the same warehouse works normally
    t = generate_transcripts(spark, n_convs=4, avg_turns=4, seed=7)
    r2 = p.run(t, incremental=False)
    assert not r2.get("skipped") and r2["triples"] > 0


def test_full_run_writes_one_file_per_bucket(spark, tmp_path):
    """The full index pre-buckets its mentions: every bucket of triples and
    processed_convs is written by exactly one task, so it holds exactly one
    parquet file, and no manifest's table schema lists `_bucket`."""
    import json
    import os

    p = KGPipeline(spark, str(tmp_path / "wh"), n_buckets=8)
    t = generate_transcripts(spark, n_convs=16, avg_turns=6, seed=13)
    p.run(t, incremental=False)
    for tbl in (p.triples, p.processed):
        bmap = tbl._bucket_map(tbl.current_snapshot())
        assert len(bmap) > 1
        for b, (path,) in bmap.items():
            files = os.listdir(os.path.join(tbl.root, "data", path))
            assert len([f for f in files if f.endswith(".parquet")]) == 1, (b, files)
        assert "_bucket" not in tbl.read().columns
    for tbl in (p.triples, p.entities, p.lineage, p.processed, p.links):
        for snap in tbl.snapshots():
            assert "_bucket" not in json.dumps(snap.get("table_schema")), tbl.root


def test_full_run_jobs_keep_the_callers_job_group(spark, tmp_path):
    """Jobs the write wave submits from its pool threads carry the caller's
    Spark local properties: under a job group, a full index submits no job
    outside that group."""
    sc = spark.sparkContext
    st = sc.statusTracker()
    bus = sc._jsc.sc().listenerBus()
    t = generate_transcripts(spark, n_convs=6, avg_turns=5, seed=4)
    bus.waitUntilEmpty()
    ungrouped = set(st.getJobIdsForGroup(None))
    sc.setJobGroup("cie-full-index", "full index under a caller's group")
    try:
        KGPipeline(spark, str(tmp_path / "wh"), n_buckets=4).run(
            t, incremental=False
        )
    finally:
        sc._jsc.clearJobGroup()
    bus.waitUntilEmpty()
    assert st.getJobIdsForGroup("cie-full-index")
    assert set(st.getJobIdsForGroup(None)) - ungrouped == set()


def test_incremental_new_surfaces_commit_like_a_full_index(
    spark, tmp_path, add_new_surfaces_turn
):
    """An incremental run whose edit adds a new fuzzy, stub and dict
    surface commits the same surface_links and entities rows as a fresh
    full index of the edited input: linking the new surfaces against the
    stored dictionary is the full index's linking, restricted."""
    from cie_spark.sources.io_snapshots import SnapshotTable

    src = SnapshotTable(
        spark, str(tmp_path / "src"), bucket_key="conv_id", n_buckets=8
    )
    src.overwrite(generate_transcripts(spark, n_convs=6, avg_turns=4, seed=5))
    p = KGPipeline(spark, str(tmp_path / "wh"), n_buckets=8)
    p.run_from_table(src)
    new = add_new_surfaces_turn(src)
    assert not p.run_from_table(src).get("skipped")
    full = KGPipeline(spark, str(tmp_path / "full"), n_buckets=8)
    full.run(src.read(), incremental=False)

    def links(q):
        return sorted(
            tuple(r) for r in q.links.read()
            .select("surface", "surface_norm", "entity_id", "link_tier").collect()
        )

    def entities(q):
        return sorted(
            (r.entity_id, r.kind, r.canonical_name, tuple(r.surfaces),
             tuple(r.embedding))
            for r in q.entities.read().collect()
        )

    got = links(p)
    assert {r[0]: r[3] for r in got if r[0] in new} == new
    assert got == links(full)
    assert entities(p) == entities(full)


def test_full_index_links_like_link_mentions(spark, tmp_path):
    """The triples a full index commits are all_triples over link_mentions:
    the pipeline and the operator link through the same path."""
    from cie_spark.operators.extract import extract_mentions
    from cie_spark.operators.link import link_mentions
    from cie_spark.operators.triples import all_triples

    t = generate_transcripts(spark, n_convs=10, avg_turns=6, seed=23)
    p = KGPipeline(spark, str(tmp_path / "wh"), n_buckets=8)
    p.run(t, incremental=False)
    want = {
        (r.subj, r.pred, r.obj, r.conv_id, r.turn_idx, r.weight)
        for r in all_triples(link_mentions(spark, extract_mentions(t))).collect()
    }
    assert want and _triple_set(p) == want
