"""Extraction vs hand-computed expectations (tier-1 analog of the
reference's golden parser fixtures, pkg/ingestion/testdata/go/*.go), plus
parity with the pure-pandas oracle on a seeded adversarial fixture."""

from __future__ import annotations

import datetime as dt
import random

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cie_spark import oracle, schema, spec
from cie_spark.functions import row_lane_cols
from cie_spark.operators.extract import extract_mentions

TS = dt.datetime(2026, 1, 1)

# characters whose case folding differs between Python's IGNORECASE and a
# plain ASCII fold: KELVIN SIGN, LONG S, dotted/dotless I, sharp s (both
# cases), the ff ligature, MICRO SIGN and a supplementary-plane letter
FOLD_CHARS = ["\u212a", "\u017f", "\u0130", "\u0131", "\u00df", "\u1e9e",
              "\ufb00", "\u00b5", "\U0001d400"]
_FOLD_SUBS = {"k": "\u212a", "K": "\u212a", "s": "\u017f", "S": "\u017f",
              "i": "\u0131", "I": "\u0130"}


def _df(spark, rows):
    return spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )


def _collect(df):
    return sorted(
        (r.conv_id, r.turn_idx, r.kind, r.surface, r.tier, r.pos)
        for r in df.collect()
    )


def test_markers_and_duplicates(spark):
    t = _df(spark, [("c1", 0, "user", "see [[Postgres]] and [[Postgres]] plus [[Iceberg]]", None, TS)])
    got = _collect(extract_mentions(t))
    assert got == [
        ("c1", 0, "entity", "Iceberg", "marker", 2),
        ("c1", 0, "entity", "Postgres", "marker", 0),
        ("c1", 0, "entity", "Postgres", "marker", 1),
    ]


def test_tool_column_and_marker_dedup(spark):
    # tool row whose text repeats the same tool -> one mention (column tier)
    t = _df(spark, [("c1", 1, "tool", "calling tool <bash> with arg 7", "bash", TS)])
    got = _collect(extract_mentions(t))
    assert got == [("c1", 1, "tool", "bash", "column", 0)]


def test_tool_marker_in_assistant(spark):
    t = _df(spark, [("c1", 2, "assistant", "let me run: calling tool <search> now", None, TS)])
    got = _collect(extract_mentions(t))
    assert got == [("c1", 2, "tool", "search", "marker", 0)]


def test_malformed_marker_and_empty(spark):
    t = _df(
        spark,
        [
            ("c1", 3, "user", "broken [[Postgres left open", None, TS),
            ("c1", 4, "user", "", None, TS),
            ("c1", 5, "user", None, None, TS),
        ],
    )
    # malformed marker contributes nothing from the marker tier, but
    # "Postgres" is still a prose-tier dictionary hit
    got = _collect(extract_mentions(t))
    assert got == [("c1", 3, "entity", "Postgres", "prose", 0)]
    got_no_prose = _collect(extract_mentions(t, prose=False))
    assert got_no_prose == []


def test_prose_word_boundaries(spark):
    t = _df(
        spark,
        [
            ("c1", 6, "user", "we use Spark daily", None, TS),
            ("c1", 7, "user", "sparkling water", None, TS),  # no match
            ("c1", 8, "user", "[[Spark]] plus prose Kafka", None, TS),
        ],
    )
    got = _collect(extract_mentions(t))
    assert got == [
        ("c1", 6, "entity", "Spark", "prose", 0),
        ("c1", 8, "entity", "Kafka", "prose", 1),
        ("c1", 8, "entity", "Spark", "marker", 0),
    ]


def test_prose_inside_marker_not_double_counted(spark):
    t = _df(spark, [("c1", 9, "user", "[[Apache Spark]] rocks", None, TS)])
    got = _collect(extract_mentions(t))
    assert got == [("c1", 9, "entity", "Apache Spark", "marker", 0)]


def _adversarial_piece(rng: random.Random) -> str:
    r = rng.random()
    if r < 0.35:  # a dictionary surface, re-cased or with fold look-alikes
        s = rng.choice(spec.PROSE_SURFACES)
        s = rng.choice([s, s.upper(), s.lower(), s.swapcase()])
        if rng.random() < 0.4:
            s = "".join(
                _FOLD_SUBS.get(c, c) if rng.random() < 0.5 else c for c in s
            )
        return s
    if r < 0.55:  # a marker, sometimes left open
        body = rng.choice(spec.PROSE_SURFACES + ["x y", "Spark Kafka", "\u212a8s"])
        return f"[[{body}]]" if rng.random() < 0.85 else f"[[{body}"
    if r < 0.75:  # a tool call, often repeating the tool column's value
        name = rng.choice(["bash", "search", "sql_query", "git_diff", "9bad"])
        return f"calling tool <{name}>"
    if r < 0.85:
        return rng.choice(FOLD_CHARS)
    return rng.choice(["foo", "sparkling", "pgx", "prom.", "]]", "[["])


def adversarial_turns(seed: int = 0, n: int = 400) -> list[tuple]:
    """Seeded transcript rows: Unicode fold characters next to dictionary
    surfaces, markers glued to prose words, NULL and empty text, and
    role='tool' rows whose text repeats or adds tool calls."""
    rng = random.Random(seed)
    glue = ["", " ", " ", "-", "_", ".", "\n", *FOLD_CHARS]
    rows = []
    for i in range(n):
        r = rng.random()
        if r < 0.05:
            text = None
        elif r < 0.1:
            text = ""
        else:
            text = ""
            for _ in range(rng.randint(1, 8)):
                text += rng.choice(glue) + _adversarial_piece(rng)
        role = rng.choice(["user", "assistant", "tool", "tool", "system", None])
        tool = rng.choice([None, "", "bash", "search", "sql_query"])
        rows.append((f"c{i % 37}", i, role, text, tool, TS + dt.timedelta(seconds=i)))
    return rows


# prose word-boundary and casing cases, one turn each
PROSE_SAMPLES = [
    "we like PostgreSQL and pg", "APACHE SPARK!", "postgres-db vs DuckDB",
    "noPostgreSQLword should not match", "ES cluster here",
    "k8s, redis-cache; Apache Airflow.", "prom prometheus PROM",
    "spark sparkly pyspark", "[[Postgres]]Kafka[[k8s]]pg",
]


def test_parity_with_oracle_on_adversarial_turns(spark):
    rows = adversarial_turns(seed=11) + [
        ("p", i, "user", s, None, TS) for i, s in enumerate(PROSE_SAMPLES)
    ]
    t = _df(spark, rows)
    pdf = t.toPandas()
    for prose in (True, False):
        want = sorted(
            (r.conv_id, int(r.turn_idx), r.kind, r.surface, r.tier, int(r.pos))
            for r in oracle.extract_mentions(pdf, prose=prose).itertuples(index=False)
        )
        assert want  # non-trivial fixture
        assert _collect(extract_mentions(t, prose=prose)) == want

    # turn_rows=True: the same mentions with NULL lanes, plus one _turn row
    # per input row carrying exactly the row_lane_cols() lanes
    m = extract_mentions(t, turn_rows=True).cache()
    mentions = m.filter(F.col("kind") != "_turn")
    assert mentions.filter(F.col("h1").isNotNull() | F.col("h2").isNotNull()).count() == 0
    assert _collect(mentions) == _collect(extract_mentions(t))
    turns = m.filter(F.col("kind") == "_turn")
    assert {(r.surface, r.tier, r.pos) for r in turns.collect()} == {("", "", 0)}
    got = turns.select(
        "conv_id", "turn_idx", F.col("h1").alias("_h1"), F.col("h2").alias("_h2")
    )
    want = t.select("conv_id", "turn_idx", *row_lane_cols())
    assert got.count() == len(rows)
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0
    m.unpersist()


def test_output_schema_on_ntz_parquet_source(spark, tmp_path):
    """A pyarrow timestamp[us] column reads back as TimestampNTZType; the
    mentions still carry MENTIONS' `ts` (and `turn_idx`) types, so written
    tables keep their schema whatever the source's timestamp flavour."""
    path = str(tmp_path / "t.parquet")
    pq.write_table(
        pa.table({
            "conv_id": ["c1", "c1"],
            "turn_idx": pa.array([0, 1], type=pa.int64()),
            "role": ["tool", "user"],
            "text": ["calling tool <bash>", "see [[Spark]]"],
            "tool": ["bash", None],
            "ts": pa.array([TS, TS], type=pa.timestamp("us")),
        }),
        path,
    )
    t = spark.read.parquet(path)
    assert t.schema["ts"].dataType == T.TimestampNTZType()

    def fields(st):
        return [(f.name, f.dataType) for f in st.fields]

    assert fields(extract_mentions(t).schema) == fields(schema.MENTIONS)
    assert fields(extract_mentions(t, turn_rows=True).schema) == fields(
        schema.MENTIONS_WITH_HASH
    )
