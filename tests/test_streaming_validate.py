"""Watch-mode streaming (availableNow incremental) + DQ validation."""

from __future__ import annotations

import pyspark.sql.functions as F

from cie_spark.operators import validate
from cie_spark.plans import pipeline
from cie_spark.plans.pipeline import KGPipeline
from cie_spark.sources.gen import generate_transcripts
from cie_spark.streaming.watch import watch


def test_watch_available_now(spark, tmp_path):
    tdir = str(tmp_path / "transcripts")
    wh = str(tmp_path / "wh")
    ckpt = str(tmp_path / "ckpt")
    t = generate_transcripts(spark, n_convs=6, avg_turns=6, seed=3)
    t.write.mode("overwrite").parquet(tdir)

    q = watch(spark, tdir, wh, checkpoint_dir=ckpt, available_now=True)
    q.awaitTermination(120)

    p = KGPipeline(spark, wh)
    trips = p.triples.read()
    assert trips is not None and trips.count() > 0

    # new files landing -> second availableNow drain picks up only the delta
    t2 = generate_transcripts(spark, n_convs=12, avg_turns=6, seed=3).filter(
        F.col("conv_id") > "conv-000005"
    )
    t2.write.mode("append").parquet(tdir)
    q2 = watch(spark, tdir, wh, checkpoint_dir=ckpt, available_now=True)
    q2.awaitTermination(120)
    after = p.triples.read()
    assert after.select("conv_id").distinct().count() > trips.select("conv_id").distinct().count()


def test_watch_cross_batch_conversation(spark, tmp_path):
    """A conversation whose turns arrive in DIFFERENT micro-batches must be
    indexed from its full accumulated turn set: the second batch must not
    erase the first batch's edges (the partial-conversation hazard — the
    bronze turns table + read-back makes this converge to the all-at-once
    result)."""
    import datetime as dt

    tdir = str(tmp_path / "transcripts")
    wh = str(tmp_path / "wh")
    ckpt = str(tmp_path / "ckpt")
    ddl = (
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp"
    )
    ts = dt.datetime(2026, 1, 1)
    part1 = spark.createDataFrame(
        [("cx", 0, "user", "about [[Kafka]]", None, ts)], ddl
    )
    part2 = spark.createDataFrame(
        [("cx", 1, "user", "also [[Redis]]", None, ts)], ddl
    )

    part1.write.mode("overwrite").parquet(tdir)
    watch(spark, tdir, wh, checkpoint_dir=ckpt, available_now=True).awaitTermination(120)
    part2.write.mode("append").parquet(tdir)
    watch(spark, tdir, wh, checkpoint_dir=ckpt, available_now=True).awaitTermination(120)

    p = KGPipeline(spark, wh)
    got = {
        (r.subj, r.pred, r.obj)
        for r in p.triples.read().select("subj", "pred", "obj").collect()
    }

    # oracle: the same turns indexed all at once
    p2 = KGPipeline(spark, str(tmp_path / "wh2"))
    p2.run(part1.unionByName(part2), incremental=False)
    want = {
        (r.subj, r.pred, r.obj)
        for r in p2.triples.read().select("subj", "pred", "obj").collect()
    }
    assert got == want
    # both entities' contains-edges survive the second batch
    assert ("conv:cx", "contains", "ent:apache-kafka") in got
    assert ("conv:cx", "contains", "ent:redis") in got


def test_watch_over_cap_batch_converges(spark, tmp_path, monkeypatch):
    """The same cross-batch oracle with every micro-batch over the
    small-delta conv cap: the bronze merge takes no bucket hint, the
    affected conversations are re-read by read_matching, and the run
    counts its cached delta instead of fetching it."""
    from cie_spark.sources.io_snapshots import SnapshotTable

    matched = []
    orig = SnapshotTable.read_matching

    def spy(self, *a, **kw):
        matched.append(self.root)
        return orig(self, *a, **kw)

    monkeypatch.setattr(SnapshotTable, "read_matching", spy)
    monkeypatch.setattr(pipeline, "SMALL_DELTA_CONVS", 0)
    test_watch_cross_batch_conversation(spark, tmp_path)
    assert len(matched) == 2  # one over-cap read back per micro-batch


def test_validate_triples_clean_and_dirty(spark):
    t = generate_transcripts(spark, n_convs=4, avg_turns=6, seed=5)
    from cie_spark.operators.extract import extract_mentions
    from cie_spark.operators.link import link_mentions
    from cie_spark.operators.triples import all_triples

    trips = all_triples(link_mentions(spark, extract_mentions(t)))
    checked, obs = validate.validate_triples(trips)
    checked.count()
    vals = obs.get
    assert vals["rows"] > 0
    validate.assert_clean(vals)  # no violations on clean data

    dirty = trips.withColumn(
        "pred", F.when(F.col("turn_idx") % 7 == 0, F.lit("bogus")).otherwise(F.col("pred"))
    )
    checked2, obs2 = validate.validate_triples(dirty)
    checked2.count()
    import pytest

    if obs2.get["bad_pred"] > 0:
        with pytest.raises(ValueError):
            validate.assert_clean(obs2.get)


def test_validate_embeddings(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    checked, obs = validate.validate_embeddings(emb, dim=64)
    checked.count()
    vals = obs.get
    assert vals["rows"] == emb.count()
    validate.assert_clean(vals)
