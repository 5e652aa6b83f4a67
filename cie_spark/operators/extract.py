"""Mention extraction: per-turn span detection as one Catalyst projection.

The analog of the reference's per-file parsers (parser_go.go:72-137,
parser_protobuf.go:56-213 is the closest shape — regex span extraction).
Each tier of SPEC v1 (cie_spark/spec.py) is one built-in array expression
over the turn's `text`; the tiers are concatenated in spec order and
exploded, so extraction runs inside the scan stage with no Python worker:

- tool tier: the tool column, then `array_except(<tool-call matches>,
  <tool column>)`, which keeps first occurrences in text order — the
  spec's per-turn `seen_tools` rule;
- marker tier: every `[[Surface]]` match;
- prose tier: dictionary whole-word matches in the text with each marker
  replaced by one space. `pos` is an ordinal, not an offset, so the mask
  need not keep lengths: a prose match overlapping a marker lies inside it
  (surfaces cannot contain '[' or ']'), and a space keeps the word
  boundaries outside markers. `(?iu)` makes Java fold case over Unicode as
  Python's IGNORECASE does (plain `(?i)` folds ASCII only).

The pure-pandas oracle (cie_spark/oracle.py) deliberately keeps the naive
per-row formulation — two implementations of the one frozen spec, tested
for agreement (the reference's tree-sitter vs simplified parser
discipline, parser_go.go:770-777).

Scale notes: no shuffle, and the input partitioning is preserved; the
`text` column never leaves this stage (downstream stages see only the
mention columns), so the 100-TB text payload is read once and dropped
early; NULL text yields zero mentions, never an exception (analog of
parse-error tolerance, parser_go.go:80-88).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cie_spark import spec
from cie_spark.functions import row_lane_cols


def _matches(text: Column, pattern: str) -> Column:
    """Every group-1 match of `pattern` in `text`, in text order. Patterns
    go in as literals, so no SQL escape processing touches them."""
    return F.regexp_extract_all(text, F.lit(pattern), F.lit(1))


def _tier(surfaces: Column, kind: str, tier: str) -> Column:
    """array<string> -> array<struct<kind, surface, tier>>."""
    return F.transform(
        surfaces,
        lambda s: F.struct(
            F.lit(kind).alias("kind"), s.alias("surface"), F.lit(tier).alias("tier")
        ),
    )


def extract_mentions(
    transcripts: DataFrame, *, prose: bool = True, turn_rows: bool = False
) -> DataFrame:
    """transcripts -> mentions DataFrame (schema.MENTIONS).

    `prose=False` restricts to the SQL-expressible tiers (column + marker),
    used when comparing against ANSI-SQL oracles. The `ts` provenance column
    rides along so no downstream stage re-joins the transcript table.

    `turn_rows=True` (schema.MENTIONS_WITH_HASH): additionally emits one
    `kind='_turn'` row per input row (pos 0) carrying the two xxhash64
    content lanes of `row_lane_cols()` — the full pipeline aggregates them
    into the conversation hash delta, so on full runs the source is scanned
    EXACTLY once (hash pass fused into extraction). Mention rows carry NULL
    lanes; downstream stages filter on kind and never see the _turn rows.
    """
    text = F.coalesce(F.col("text"), F.lit(""))
    column = F.when(
        (F.col("role") == "tool") & (F.col("tool") != ""), F.array("tool")
    ).otherwise(F.array().cast("array<string>"))
    calls = _matches(text, spec.TOOL_CALL_RE.pattern)
    tiers = [
        _tier(column, "tool", "column"),
        _tier(F.array_except(calls, column), "tool", "marker"),
        _tier(_matches(text, spec.MARKER_RE.pattern), "entity", "marker"),
    ]
    if prose:
        masked = F.regexp_replace(text, F.lit(spec.MARKER_RE.pattern), F.lit(" "))
        tiers.append(
            _tier(_matches(masked, "(?iu)" + spec.prose_regex().pattern),
                  "entity", "prose")
        )
    rows = F.transform(F.concat(*tiers), lambda m, i: m.withField("pos", i))
    out = [
        F.col("conv_id"),
        F.col("turn_idx").cast("int").alias("turn_idx"),
        F.col("m.kind").alias("kind"),
        F.col("m.surface").alias("surface"),
        F.col("m.tier").alias("tier"),
        F.col("m.pos").alias("pos"),
        F.col("ts").cast("timestamp").alias("ts"),
    ]
    if turn_rows:
        h1, h2 = row_lane_cols()
        no_lane = F.lit(None).cast("long")
        turn = F.struct(
            F.lit("_turn").alias("kind"), F.lit("").alias("surface"),
            F.lit("").alias("tier"), F.lit(0).alias("pos"),
            h1.alias("h1"), h2.alias("h2"),
        )
        rows = F.concat(
            F.array(turn),
            F.transform(
                rows, lambda m: m.withField("h1", no_lane).withField("h2", no_lane)
            ),
        )
        out += [F.col("m.h1").alias("h1"), F.col("m.h2").alias("h2")]
    return transcripts.select(
        "conv_id", "turn_idx", "ts", F.explode(rows).alias("m")
    ).select(*out)
