"""The three renderings of the spec (Python / Spark Column / SQL) agree."""

from __future__ import annotations

from cie_spark import spec
from cie_spark import functions as CF

CASES = [
    "PostgreSQL",
    "Apache Spark",
    "postgres-db",
    "ES cluster",
    "  weird__Name!! ",
    "k8s",
    "",
    "---",
    "PostgreSQL 14",
]


def test_norm_python_vs_column(spark):
    df = spark.createDataFrame([(s,) for s in CASES], "s string")
    got = [r[0] for r in df.select(CF.norm_col("s")).collect()]
    assert got == [spec.norm(s) for s in CASES]


def test_norm_python_vs_sql(spark):
    df = spark.createDataFrame([(s,) for s in CASES], "s string")
    df.createOrReplaceTempView("norm_cases")
    got = [
        r[0]
        for r in spark.sql(f"SELECT {spec.norm_sql('s')} FROM norm_cases").collect()
    ]
    assert got == [spec.norm(s) for s in CASES]


def test_norm_sql_duckdb_agrees():
    import duckdb

    rel = duckdb.sql(
        "SELECT "
        + spec.norm_sql("s", dialect="duckdb")
        + " FROM (SELECT unnest(?) AS s)",
        params=[CASES],
    )
    got = [r[0] for r in rel.fetchall()]
    assert got == [spec.norm(s) for s in CASES]


def test_canonical_case_sql_matches_dict():
    import duckdb

    keys = sorted(spec.SURFACE_TO_CANONICAL)
    rel = duckdb.sql(
        "SELECT k, " + spec.canonical_case_sql("k") + " FROM (SELECT unnest(?) AS k)",
        params=[keys],
    )
    got = dict(rel.fetchall())
    assert got == spec.SURFACE_TO_CANONICAL


def test_jaccard_examples():
    assert spec.jaccard(spec.shingles("postgresql-14"), spec.shingles("postgresql")) > 0.7
    assert spec.jaccard(spec.shingles("abc"), spec.shingles("xyz")) == 0.0


def test_canonical_ids_are_ascii():
    """The DuckDB FNV oracle hashes codepoints while Spark hashes UTF-8
    bytes — they agree only on ASCII. Canonical ids are ASCII by
    construction (norm collapses non-[a-z0-9] to '-'); pin it."""
    for k, v in spec.SURFACE_TO_CANONICAL.items():
        k.encode("ascii"); v.encode("ascii")
    for t in spec.TOOL_VOCAB:
        spec.norm(t).encode("ascii")
    # norm of arbitrary unicode is still ASCII
    assert spec.norm("café Ünïcode 日本語") .encode("ascii")
    assert spec.stub_entity_id(spec.norm("日本語")).encode("ascii")
