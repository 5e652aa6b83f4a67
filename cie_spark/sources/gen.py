"""Deterministic, distributed synthetic transcript generator.

Analog of the reference's golden parser fixtures
(pkg/ingestion/testdata/{go,python,...}) and its synthetic benchmark corpus
(pkg/tools/benchmark_test.go): seeded data with *known* extractable content,
covering each extraction/linking feature plus the edge cases FIXTURES.md
lists (empty text, malformed markers, duplicate mentions, OOV stubs,
ambiguous aliases, mega-conversation skew).

Design: all randomness is ``xxhash64(seed, conv, turn, salt)`` — pure Column
expressions, so generation is distributed, partition-order independent, and
bit-stable across runs and cluster sizes (no Python RNG, no
monotonically_increasing_id). `spark.range(n_convs)` fans out to turns via
an exploded `sequence`, so a 10^9-conversation corpus generates in parallel
with no driver involvement.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cie_spark import spec

# OOV surfaces that are NOT in the dictionary -> exercise stub synthesis
OOV_SURFACES = ["FrobnicatorX", "quantum-widget", "zz-internal-svc"]

# near-miss variants of dictionary surfaces -> exercise the fuzzy tier
# (3-gram Jaccard vs the dictionary >= threshold)
FUZZY_SURFACES = ["PostgreSQL 14", "clickhouse cluster", "kubernetes!", "apache_kafka_broker"]

_ENTS = [s for forms in spec.ENTITY_VOCAB.values() for s in forms]


def _pick(arr: list[str], h) -> F.Column:
    """element_at over a literal array by hash mod len (1-based)."""
    return F.element_at(
        F.array(*[F.lit(x) for x in arr]), (F.pmod(h, F.lit(len(arr))) + 1).cast("int")
    )


def generate_transcripts(
    spark: SparkSession,
    n_convs: int = 50,
    avg_turns: int = 20,
    seed: int = 42,
    mega_every: int = 25,
    mega_factor: int = 40,
) -> DataFrame:
    """Return a transcripts DataFrame (schema.TRANSCRIPTS shape).

    Every `mega_every`-th conversation has `mega_factor`× the turns — the
    skew fixture for salted-repartition testing.
    """
    h = lambda *cols: F.xxhash64(F.lit(seed), *cols)  # noqa: E731

    convs = spark.range(n_convs).select(
        F.concat(F.lit("conv-"), F.lpad(F.col("id").cast("string"), 6, "0")).alias(
            "conv_id"
        ),
        F.col("id").alias("cid"),
        F.when(
            F.col("id") % mega_every == 0, F.lit(avg_turns * mega_factor)
        )
        .otherwise(
            (F.pmod(F.xxhash64(F.lit(seed), F.col("id")), F.lit(avg_turns)) + avg_turns // 2 + 1).cast("int")
        )
        .alias("n_turns"),
    )

    turns = convs.select(
        "conv_id",
        "cid",
        F.explode(F.sequence(F.lit(0), F.col("n_turns") - 1)).alias("turn_idx"),
    ).withColumn("turn_idx", F.col("turn_idx").cast("int"))

    r = F.pmod(h(F.col("cid"), F.col("turn_idx"), F.lit(1)), F.lit(10))
    role = (
        F.when(F.col("turn_idx") == 0, F.lit("system"))
        .when(r < 3, F.lit("user"))
        .when(r < 7, F.lit("assistant"))
        .otherwise(F.lit("tool"))
    )

    ent1 = _pick(_ENTS, h(F.col("cid"), F.col("turn_idx"), F.lit(2)))
    ent2 = _pick(_ENTS, h(F.col("cid"), F.col("turn_idx"), F.lit(3)))
    oov = _pick(OOV_SURFACES, h(F.col("cid"), F.col("turn_idx"), F.lit(4)))
    tool_name = _pick(spec.TOOL_VOCAB, h(F.col("cid"), F.col("turn_idx"), F.lit(5)))
    flavor = F.pmod(h(F.col("cid"), F.col("turn_idx"), F.lit(6)), F.lit(12))

    # text templates; flavors cover: markers, duplicate mention, prose tier,
    # OOV, malformed marker, empty text, mixed tool-call-in-assistant
    text = (
        F.when(F.col("turn_idx") == 0, F.concat(F.lit("session start for agent "), F.col("conv_id")))
        .when(
            role == "tool",
            F.concat(
                F.lit("calling tool <"), tool_name, F.lit("> with arg "),
                F.pmod(h(F.col("cid"), F.col("turn_idx"), F.lit(7)), F.lit(97)).cast("string"),
            ),
        )
        .when(flavor == 0, F.concat(F.lit("we discussed [["), ent1, F.lit("]] and [["), ent2, F.lit("]]")))
        .when(flavor == 1, F.concat(F.lit("note [["), ent1, F.lit("]] again [["), ent1, F.lit("]] twice")))
        .when(flavor == 2, F.concat(F.lit("in prose we rely on "), ent1, F.lit(" for storage")))
        .when(flavor == 3, F.concat(F.lit("unknown system [["), oov, F.lit("]] appeared")))
        .when(flavor == 4, F.concat(F.lit("malformed marker [["), ent1, F.lit(" left open")))
        .when(flavor == 5, F.lit(""))
        .when(flavor == 6, F.concat(F.lit("let me run that: calling tool <"), tool_name, F.lit("> now")))
        .when(flavor == 7, F.concat(F.lit("compare [["), ent1, F.lit("]] with prose "), ent2))
        .when(flavor == 8, F.concat(F.lit("deep dive on [["), ent1, F.lit("]]")))
        .when(
            flavor == 9,
            F.concat(
                F.lit("upgraded [["),
                _pick(FUZZY_SURFACES, h(F.col("cid"), F.col("turn_idx"), F.lit(8))),
                F.lit("]] today"),
            ),
        )
        .otherwise(F.concat(F.lit("plain chatter turn "), F.col("turn_idx").cast("string")))
    )

    tool_col = F.when(role == "tool", tool_name).otherwise(F.lit(None).cast("string"))

    # conv start offsets wrap at 10^6 so timestamps stay inside the pandas
    # ns-precision range (year <= 2262) at any corpus size; overlapping
    # conversation time ranges are fine (ts is only ordered within a conv)
    ts = F.to_timestamp(F.lit("2026-01-01 00:00:00")) + F.make_interval(
        secs=(F.pmod(F.col("cid"), F.lit(1_000_000)) * 7200
              + F.col("turn_idx") * 13).cast("double")
    )

    return turns.select(
        "conv_id",
        "turn_idx",
        role.alias("role"),
        text.alias("text"),
        tool_col.alias("tool"),
        ts.alias("ts"),
    )


def transcripts_from_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derive transcripts from the driver's events table via the shared SQL
    spec (valid in both Spark SQL and DuckDB — see spec.py)."""
    spark.read.parquet(f"{sf_dir}/events.parquet").createOrReplaceTempView("events")
    return spark.sql(spec.TRANSCRIPTS_FROM_EVENTS_SQL)
