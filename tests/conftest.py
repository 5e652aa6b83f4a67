from __future__ import annotations

import pytest

from cie_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app="cie_spark_tests", master="local[4]", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


# surfaces the generated corpus never uses, with the tier each links by
NEW_SURFACES = {"PostgreSQL 16": "fuzzy", "Zorblax-Engine": "stub", "kUbErNeTeS": "dict"}


@pytest.fixture
def add_new_surfaces_turn():
    """Append one turn to conv-000001 of a transcripts SnapshotTable, whose
    markers name NEW_SURFACES; returns them."""
    from pyspark.sql import functions as F

    def add(src):
        last = (
            src.read().filter(F.col("conv_id") == "conv-000001")
            .orderBy(F.desc("turn_idx")).limit(1)
        )
        text = "now " + ", ".join(f"[[{s}]]" for s in NEW_SURFACES)
        src.merge(
            last.withColumn("turn_idx", F.col("turn_idx") + 1)
            .withColumn("text", F.lit(text)),
            keys=["conv_id", "turn_idx"],
        )
        return NEW_SURFACES

    return add
