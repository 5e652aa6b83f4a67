"""Triple emission: linked mentions -> (subj, pred, obj) edge rows.

Analog of the reference's edge materialization (datalog.go:190-343 builds
cie_calls/cie_defines rows with synthesized stable IDs). Three predicates
per BASELINE.json north_star:

- (agent:<conv>, calls, tool:<name>)        — per tool-call mention
- (conv:<conv>, contains, <entity>)         — distinct per conversation
- (<entity_a>, mentioned_with, <entity_b>)  — within-turn co-occurrence,
  plus a windowed variant bounded by spec.WINDOW_TURNS

Scale design
------------
- Provenance (`ts`) rides on the mention rows from extraction, so NO stage
  here joins back to the transcript table — the 100-TB scan happens exactly
  once. First-mention timestamps come from `min_by(ts, turn_idx)` inside the
  same aggregation that computes the weight.
- Co-occurrence is the quadratic hazard (a mega-conversation with 10^5
  mentions must NOT self-join freely). Within-turn pairs are bounded by
  mentions-per-turn (small constant). The cross-turn variant joins on
  (conv_id, turn_block) where turn_block = turn_idx // WINDOW_TURNS and the
  adjacent block — turn-range blocking makes it O(turns × W), linear in
  conversation length. This *is* the salting of the skew key: the hot
  conv_id is split across blocks, so no single reducer sees a whole
  mega-conversation.
- Bucket alignment: when `linked` carries the triples table's `_bucket`
  (a function of conv_id, see SnapshotTable._bucket_col), every builder adds
  it to its grouping and join keys and passes it through. The groups do not
  change, but an input hash-partitioned on `_bucket` then satisfies every
  aggregation here, and the write's own `_bucket` repartition, with no
  further exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cie_spark import spec

TRIPLE_COLS = ["subj", "pred", "obj", "conv_id", "turn_idx", "ts", "weight"]


def bucket_keys(df: DataFrame) -> list[str]:
    """["_bucket"] when `df` carries the bucket column, else []."""
    return ["_bucket"] if "_bucket" in df.columns else []


def calls_triples(linked: DataFrame, _transcripts: DataFrame | None = None) -> DataFrame:
    """(agent:<conv>, calls, tool:<name>) one row per tool mention."""
    return linked.filter(F.col("kind") == "tool").select(
        F.concat(F.lit("agent:"), F.col("conv_id")).alias("subj"),
        F.lit("calls").alias("pred"),
        F.col("entity_id").alias("obj"),
        "conv_id",
        "turn_idx",
        "ts",
        F.lit(1).cast("long").alias("weight"),
        *bucket_keys(linked),
    )


def contains_triples(linked: DataFrame, _transcripts: DataFrame | None = None) -> DataFrame:
    """(conv:<conv>, contains, entity) distinct per conversation; provenance
    = first mention (min turn_idx) — deterministic."""
    ents = linked.filter(F.col("kind") == "entity")
    b = bucket_keys(linked)
    firsts = ents.groupBy("conv_id", "entity_id", *b).agg(
        F.min("turn_idx").alias("turn_idx"),
        F.min_by("ts", "turn_idx").alias("ts"),
        F.count("*").alias("weight"),
    )
    return firsts.select(
        F.concat(F.lit("conv:"), F.col("conv_id")).alias("subj"),
        F.lit("contains").alias("pred"),
        F.col("entity_id").alias("obj"),
        "conv_id",
        "turn_idx",
        "ts",
        "weight",
        *b,
    )


def mentioned_with_triples(linked: DataFrame, _transcripts: DataFrame | None = None) -> DataFrame:
    """Within-turn co-occurrence pairs of distinct canonical entities.

    Pair orientation subj < obj; weight = number of co-occurring turns for
    that (conv, pair); provenance = first such turn.
    """
    # one shuffle: per-turn entity sets (mentions/turn is a small constant,
    # so collect_set cannot skew), then in-row pair expansion — replaces the
    # dedup + self-join formulation (3 shuffles) with groupBy + explode (1)
    b = bucket_keys(linked)
    per_turn = (
        linked.filter(F.col("kind") == "entity")
        .groupBy("conv_id", "turn_idx", *b)
        .agg(
            F.sort_array(F.collect_set("entity_id")).alias("es"),
            F.min("ts").alias("ts"),
        )
    )
    combos = F.flatten(
        F.expr(
            "transform(es, (x, i) -> "
            "transform(slice(es, i + 2, size(es)), y -> struct(x AS s, y AS o)))"
        )
    )
    pairs = per_turn.select(
        "conv_id", "turn_idx", "ts", *b, F.explode(combos).alias("p")
    ).select(
        F.col("p.s").alias("subj"),
        F.col("p.o").alias("obj"),
        "conv_id",
        "turn_idx",
        "ts",
        *b,
    )
    agg = pairs.groupBy("subj", "obj", "conv_id", *b).agg(
        F.min("turn_idx").alias("turn_idx"),
        F.min_by("ts", "turn_idx").alias("ts"),
        F.count("*").alias("weight"),
    )
    return agg.select(
        "subj", F.lit("mentioned_with").alias("pred"), "obj",
        "conv_id", "turn_idx", "ts", "weight", *b,
    )


def mentioned_with_windowed(
    linked: DataFrame,
    _transcripts: DataFrame | None = None,
    window_turns: int = spec.WINDOW_TURNS,
) -> DataFrame:
    """Cross-turn co-occurrence within `window_turns`, turn-block salted.

    Entities a (at turn i) and b (at turn j) pair when 0 < j - i <=
    window_turns. Join key = (conv_id, block) with block(j) in
    {block(i), block(i)+1} — bounded fan-out, no conv-level self-join.
    """
    w = window_turns
    # Round-6 shape: aggregate per-turn entity SETS first (map-side partial
    # aggregation shrinks the shuffle to ~one row per turn instead of one
    # per entity mention), join TURN rows on (conv, block), and expand +
    # dedup the pairs IN-ROW. This removes the 5-column dropDuplicates
    # shuffle of the full pair stream (1.28M rows at sf1.0) outright: a
    # duplicate (subj, obj, ti, tj) can only arise from the two
    # orientations (x@ti, y@tj) / (y@ti, x@tj), which land in the SAME
    # joined row, where array_distinct removes it. Per-turn ts is min(ts)
    # — identical to the old per-entity ts, which is constant within a
    # turn. The turn-block salting (skew story) is unchanged.
    b = bucket_keys(linked)
    per_turn = (
        linked.filter(F.col("kind") == "entity")
        .groupBy("conv_id", "turn_idx", *b)
        .agg(
            F.sort_array(F.collect_set("entity_id")).alias("es"),
            F.min("ts").alias("ts"),
        )
    )
    blk = (F.col("turn_idx") / w).cast("long")
    left = per_turn.select(
        "conv_id",
        *b,
        F.col("turn_idx").alias("ti"),
        F.col("es").alias("es_i"),
        F.col("ts").alias("ts_i"),
        # the two blocks are always distinct (b, b+1) -> no dedup needed
        F.explode(F.array(blk, blk + 1)).alias("block"),
    )
    right = per_turn.select(
        "conv_id",
        *b,
        F.col("turn_idx").alias("tj"),
        F.col("es").alias("es_j"),
        blk.alias("block"),
    )
    combos = F.array_distinct(
        F.flatten(
            F.transform(
                "es_i",
                lambda a: F.transform(
                    F.filter("es_j", lambda b: b != a),
                    lambda b: F.struct(
                        F.least(a, b).alias("s"), F.greatest(a, b).alias("o")
                    ),
                ),
            )
        )
    )
    pairs = (
        left.join(right, on=["conv_id", "block", *b])
        .filter((F.col("tj") > F.col("ti")) & (F.col("tj") - F.col("ti") <= w))
        .select(
            "conv_id",
            F.col("ti").alias("turn_idx"),
            F.col("ts_i").alias("ts"),
            *b,
            F.explode(combos).alias("p"),
        )
        .select(
            F.col("p.s").alias("subj"), F.col("p.o").alias("obj"),
            "conv_id", "turn_idx", "ts", *b,
        )
    )
    agg = pairs.groupBy("subj", "obj", "conv_id", *b).agg(
        F.min("turn_idx").alias("turn_idx"),
        F.min_by("ts", "turn_idx").alias("ts"),
        F.count("*").alias("weight"),
    )
    return agg.select(
        "subj", F.lit("mentioned_with_w").alias("pred"), "obj",
        "conv_id", "turn_idx", "ts", "weight", *b,
    )


def all_triples(linked: DataFrame, _transcripts: DataFrame | None = None) -> DataFrame:
    """Union of the three core predicates in schema.TRIPLES column order,
    plus `_bucket` when `linked` carries it."""
    cols = TRIPLE_COLS + bucket_keys(linked)
    return (
        calls_triples(linked).select(cols)
        .unionByName(contains_triples(linked).select(cols))
        .unionByName(mentioned_with_triples(linked).select(cols))
    )
