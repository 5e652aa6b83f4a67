"""Driver-built frames: every one goes through session.local_frame, so it
is an Arrow-shipped LocalRelation with exactly its declared schema — not a
pickled `parallelize` RDD that runs Python-worker tasks on each use."""

from __future__ import annotations

import ast
import datetime
import json
import pathlib

import numpy as np
from pyspark.sql import functions as F
from pyspark.sql import types as T

import cie_spark
import cie_spark.plans.pipeline as pl
from cie_spark.operators import dedup, link, simsearch
from cie_spark.plans.pipeline import KGPipeline
from cie_spark.session import local_frame
from cie_spark.sources.gen import generate_transcripts
from cie_spark.sources.io_snapshots import SnapshotTable

PKG = pathlib.Path(cie_spark.__file__).parent


def _jvm_schema(df) -> T.StructType:
    """The schema the JVM holds (createDataFrame caches the Python one)."""
    return T.StructType.fromJson(json.loads(df._jdf.schema().json()))


def _assert_local(df, schema) -> None:
    """A LocalRelation once the optimizer has folded any projection on top
    (the F.round of the dedup/near-dup tiers), scanned by a LocalTableScan,
    with `schema` — nullable flags included — on both sides of Py4J."""
    if isinstance(schema, str):
        schema = T._parse_datatype_string(schema)
    qe = df._jdf.queryExecution()
    assert qe.optimizedPlan().getClass().getSimpleName() == "LocalRelation"
    assert qe.executedPlan().toString().lstrip().startswith("LocalTableScan")
    assert df.schema == schema
    assert _jvm_schema(df) == schema


def test_no_create_dataframe_outside_local_frame():
    """Source guard: `createDataFrame` appears in cie_spark/ only inside
    session.local_frame; a list handed to it is a pickled RDD, which is
    what local_frame replaces."""
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        allowed = set()
        if path == PKG / "session.py":
            for node in ast.walk(tree):
                if isinstance(node, ast.FunctionDef) and node.name == "local_frame":
                    allowed = {id(n) for n in ast.walk(node)}
        for node in ast.walk(tree):
            named = (
                isinstance(node, ast.Attribute) and node.attr == "createDataFrame"
            ) or (isinstance(node, ast.Name) and node.id == "createDataFrame")
            if named and id(node) not in allowed:
                offenders.append(f"{path.relative_to(PKG)}:{node.lineno}")
    assert not offenders, f"createDataFrame outside local_frame: {offenders}"


def test_local_frame_matches_list_built(spark):
    """Same rows, schema and nullable flags as the list-built frame, for
    the types the engine ships (non-nullable strings, longs, UTC
    timestamps, arrays, NULLs) and for zero rows."""
    schema = T.StructType([
        T.StructField("a", T.StringType(), False),
        T.StructField("n", T.LongType(), True),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("xs", T.ArrayType(T.StringType()), True),
        T.StructField("f", T.DoubleType(), True),
    ])
    ts = datetime.datetime(2024, 1, 2, 3, 4, 5, 6, tzinfo=datetime.timezone.utc)
    rows = [("x", 1, ts, ["p", "q"], 0.5), ("y", None, None, None, None)]
    got = local_frame(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.isLocal() and not want.isLocal()
    assert got.schema == want.schema == _jvm_schema(got) == schema
    assert sorted(got.collect()) == sorted(want.collect())
    empty = local_frame(spark, [], "node string, depth int")
    assert empty.isLocal() and empty.count() == 0
    assert _jvm_schema(empty) == T._parse_datatype_string("node string, depth int")


def test_local_link_map_is_local(spark):
    surfaces = local_frame(
        spark, [(s,) for s in ["Postgres", "K8S", "PostgreSQL 14", "zzqx"]],
        "surface string",
    )
    m, _ = link.link_map(spark, surfaces)
    assert m.isLocal()
    _assert_local(m, link.LINKMAP_SCHEMA)


def test_first_run_dictionary_link_map_is_local(spark, tmp_path):
    p = KGPipeline(spark, str(tmp_path / "wh"))
    surfaces = local_frame(spark, [("Postgres",), ("Kafka",)], "surface string")
    m, new = link.link_map(spark, surfaces, p.links.read())
    assert m.isLocal()
    _assert_local(m, link.LINKMAP_SCHEMA)
    assert new is m


def test_incremental_link_map_is_local(
    spark, tmp_path, monkeypatch, add_new_surfaces_turn
):
    """An incremental run that links new surfaces (a fuzzy, a stub and a
    dict one) canonicalizes them with the stored dictionary in-process:
    the map it applies, which is also the dictionary it commits, is one
    LocalRelation."""
    src = SnapshotTable(
        spark, str(tmp_path / "src"), bucket_key="conv_id", n_buckets=8
    )
    src.overwrite(generate_transcripts(spark, n_convs=6, avg_turns=4, seed=5))
    p = KGPipeline(spark, str(tmp_path / "wh"), n_buckets=8)
    p.run_from_table(src)
    new = add_new_surfaces_turn(src)

    maps = []
    apply_links = link.apply_links

    def spy(mentions, linkmap):
        maps.append(linkmap)
        return apply_links(mentions, linkmap)

    monkeypatch.setattr(link, "apply_links", spy)
    r = p.run_from_table(src)
    assert not r.get("skipped")
    assert len(maps) == 1
    _assert_local(maps[0], link.LINKMAP_SCHEMA)
    tiers = {row.surface: row.link_tier for row in maps[0].collect()}
    assert {s: tiers[s] for s in new} == new


def test_jaccard_local_verify_is_local(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    docs = local_frame(
        spark,
        [(1, base), (2, base.replace("today", "tomorrow")), (3, "other words")],
        "doc_id long, text string",
    )
    out = dedup.ngram_jaccard_pairs(docs, threshold=0.5)
    _assert_local(out, "doc_a long, doc_b long, jaccard double")
    assert [(r.doc_a, r.doc_b) for r in out.collect()] == [(1, 2)]
    none = dedup.ngram_jaccard_pairs(docs.filter("doc_id = 3"), threshold=0.5)
    _assert_local(none, "doc_a long, doc_b long, jaccard double")


def test_near_dup_driver_tier_is_local(spark):
    rng = np.random.default_rng(3)
    base = rng.standard_normal(16)
    rows = [(i, [float(x) for x in base + 0.01 * rng.standard_normal(16)])
            for i in range(3)]
    rows += [(10 + i, [float(x) for x in rng.standard_normal(16)]) for i in range(20)]
    vecs = local_frame(spark, rows, "vec_id int, embedding array<float>")
    out = simsearch.cosine_near_dup_pairs(vecs, threshold=0.9)
    _assert_local(out, "id_a int, id_b int, sim double")
    assert {(0, 1), (0, 2), (1, 2)} <= {(r.id_a, r.id_b) for r in out.collect()}


def test_small_delta_frame_is_local(spark, tmp_path, monkeypatch):
    src = SnapshotTable(
        spark, str(tmp_path / "src"), bucket_key="conv_id", n_buckets=8
    )
    src.overwrite(generate_transcripts(spark, n_convs=4, avg_turns=4, seed=5))
    p = KGPipeline(spark, str(tmp_path / "wh"), n_buckets=8)
    p.run_from_table(src)
    edited = (
        src.read().filter((F.col("conv_id") == "conv-000001") & (F.col("turn_idx") == 0))
        .withColumn("text", F.lit("now about [[Grafana]]"))
    )
    src.merge(edited, keys=["conv_id", "turn_idx"])

    built = []

    def spy(spark_, rows, schema):
        df = local_frame(spark_, rows, schema)
        built.append((schema, df))
        return df

    monkeypatch.setattr(pl, "local_frame", spy)
    r = p.run_from_table(src)
    assert not r.get("skipped")
    ddl = "conv_id string, conv_hash string, n_turns long"
    deltas = [df for schema, df in built if schema == ddl]
    assert len(deltas) == 1
    assert deltas[0].isLocal()
    _assert_local(deltas[0], ddl)
    assert [row.conv_id for row in deltas[0].collect()] == ["conv-000001"]
