"""Triple emission on a hand-built conversation."""

from __future__ import annotations

import datetime as dt

from cie_spark.operators.extract import extract_mentions
from cie_spark.operators.link import link_mentions
from cie_spark.operators.triples import all_triples, mentioned_with_windowed

TS = dt.datetime(2026, 1, 1)


def _fixture(spark):
    rows = [
        ("c1", 0, "user", "we discussed [[Postgres]] and [[Iceberg]]", None, TS),
        ("c1", 1, "tool", "calling tool <bash> with arg 1", "bash", TS),
        ("c1", 2, "user", "again [[PostgreSQL]] and [[DuckDB]]", None, TS),
        ("c1", 3, "tool", "calling tool <bash> with arg 2", "bash", TS),
        ("c2", 0, "user", "only [[Kafka]] here", None, TS),
    ]
    return spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )


def test_all_triples(spark):
    t = _fixture(spark)
    linked = link_mentions(spark, extract_mentions(t))
    got = {
        (r.subj, r.pred, r.obj, r.conv_id, r.turn_idx, r.weight)
        for r in all_triples(linked, t).collect()
    }
    assert ("agent:c1", "calls", "tool:bash", "c1", 1, 1) in got
    assert ("agent:c1", "calls", "tool:bash", "c1", 3, 1) in got
    # contains: postgres mentioned at turns 0 and 2 -> weight 2, first turn 0
    assert ("conv:c1", "contains", "ent:postgresql", "c1", 0, 2) in got
    assert ("conv:c1", "contains", "ent:apache-iceberg", "c1", 0, 1) in got
    assert ("conv:c1", "contains", "ent:duckdb", "c1", 2, 1) in got
    assert ("conv:c2", "contains", "ent:apache-kafka", "c2", 0, 1) in got
    # within-turn co-occurrence, subj < obj lexicographically
    assert ("ent:apache-iceberg", "mentioned_with", "ent:postgresql", "c1", 0, 1) in got
    assert ("ent:duckdb", "mentioned_with", "ent:postgresql", "c1", 2, 1) in got
    # nothing pairs across conversations
    assert not any(r[1] == "mentioned_with" and r[3] == "c2" for r in got)


def test_windowed_cooccurrence(spark):
    t = _fixture(spark)
    linked = link_mentions(spark, extract_mentions(t))
    got = {
        (r.subj, r.obj, r.weight)
        for r in mentioned_with_windowed(linked, t, window_turns=2).collect()
    }
    # iceberg(turn 0) with duckdb(turn 2): distance 2 <= 2 -> paired
    assert ("ent:apache-iceberg", "ent:duckdb", 1) in got
    # postgres appears at 0 and 2 -> pairs with iceberg(0)? same-turn excluded
    # here (j > i strictly), but postgres(2) pairs with iceberg(0)
    assert ("ent:apache-iceberg", "ent:postgresql", 1) in got


def test_windowed_bounds(spark):
    rows = [
        ("c1", 0, "user", "[[Postgres]]", None, TS),
        ("c1", 9, "user", "[[Iceberg]]", None, TS),
    ]
    t = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    linked = link_mentions(spark, extract_mentions(t))
    got = mentioned_with_windowed(linked, t, window_turns=4).collect()
    assert got == []  # distance 9 > window 4


def test_bucket_column_changes_no_triple(spark):
    """A `_bucket`-carrying input (the pipeline's pre-bucketed mentions)
    yields the same rows as the same input without it, plus the column,
    still equal to the bucket of each row's conv_id."""
    from pyspark.sql import functions as F

    t = _fixture(spark)
    linked = link_mentions(spark, extract_mentions(t)).cache()
    bucket = F.pmod(F.xxhash64("conv_id"), F.lit(3)).cast("int")
    pre = linked.select("*", bucket.alias("_bucket")).repartition(3, "_bucket")
    for build in (all_triples, lambda df: mentioned_with_windowed(df, window_turns=2)):
        plain = build(linked)
        with_b = build(pre)
        assert with_b.columns == plain.columns + ["_bucket"]
        assert with_b.filter(F.col("_bucket") != bucket).isEmpty()
        assert sorted(with_b.drop("_bucket").collect()) == sorted(plain.collect())
    linked.unpersist()
