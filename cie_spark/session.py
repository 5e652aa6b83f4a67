"""SparkSession factory tuned for the KG-construction workload.

Scale posture (set once, here, so every entrypoint inherits it):

- AQE on (runtime re-plan, skew-join splitting, partition coalescing) — the
  local analog of what saves a 1000-executor run from a bad static plan.
- Arrow on — every pandas UDF crosses the JVM/Python boundary in columnar
  batches, never row-at-a-time.
- shuffle partitions sized to cores locally; on a real cluster this is set
  proportional to total executor cores by the submitter (see bench.py).
- UTC session timezone so results compare bit-exactly against DuckDB oracles.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def arrow_table(rows, schema: T.StructType):
    """Driver-held rows (tuples or Rows, in schema order) as one Arrow
    table with exactly `schema`'s types."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(arrow)
    return pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow
    )


def local_frame(
    spark: SparkSession, rows, schema: T.StructType | str
) -> DataFrame:
    """A DataFrame over driver-held rows (tuples or Rows, in schema order),
    shipped as one Arrow table: the plan is a LocalRelation (`isLocal()`,
    a LocalTableScan), with exactly `schema`'s types and nullable flags.

    The only way the engine turns driver-side results into a DataFrame.
    `spark.createDataFrame(list)` is a pickled `parallelize` RDD instead:
    every consumption of it runs one Python-worker task per default-
    parallelism slot, ~0.5 s of scheduling for a handful of rows."""
    if isinstance(schema, str):
        schema = T._parse_datatype_string(schema)
    return spark.createDataFrame(arrow_table(rows, schema), schema=schema)


def bounded_rows(df: DataFrame, cap: int) -> list | None:
    """At most `cap` rows of `df` on the driver, or None past the cap.

    The CollectLimit runs ALL partitions in one job round
    (initialNumPartitions) instead of the 1, 4, 16… take escalation: the
    limit only trips on the oversized bail-out, so the common case pays
    every partition anyway, and each escalation round is a driver-scheduled
    job of pure serial cost. Scoped HERE, not session-wide: globally it
    would de-short-circuit every other limit/first/isEmpty probe in the
    engine (CLI row caps, verify_consistency's limit(1), the small-delta
    probe), taxing interactive queries with near-full scans."""
    spark = df.sparkSession
    key = "spark.sql.limit.initialNumPartitions"
    saved = spark.conf.get(key, None)
    try:
        spark.conf.set(key, "10000")
        rows = df.limit(cap + 1).collect()
    finally:
        if saved is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, saved)
    return rows if len(rows) <= cap else None


def get_spark(
    app: str = "cie_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's standard config."""
    cpus = DEFAULT_CPUS
    if master is None:
        master = f"local[{cpus}]"
    elif master.startswith("local[") and master != "local[*]":
        try:
            cpus = int(master[len("local[") : -1])
        except ValueError:
            pass
    if shuffle_partitions is None:
        # proportional to parallelism: keeps per-partition work constant as
        # cores scale (the N vs 4N scaling-efficiency criterion depends on it)
        shuffle_partitions = max(cpus, 8)

    b = (
        SparkSession.builder.appName(app)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        # coalescing ON: repeated pinned scaling runs on the 10M-turn corpus
        # measured better wall time AND better N->4N efficiency with it on
        # (0.78 vs 0.71 — a single A/B probe suggesting otherwise was run
        # variance); partition counts here are already sized to cores, so
        # coalescing rarely triggers, and when it does it is right.
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # NB: spark.sql.limit.initialNumPartitions is deliberately NOT set
        # here any more — session-wide it de-short-circuits every
        # limit/first/isEmpty probe (CLI row caps, consistency checks, the
        # local-tier size probes). The bounded driver fetches that want
        # all-partitions-in-one-round semantics (link's surface collect,
        # the minhash verify's result) scope it locally: bounded_rows.
        # TIMESTAMP_MICROS, not the INT96 default: INT96 parquet columns
        # carry no footer min/max statistics (pyarrow: has_min_max=False),
        # which silently disabled the manifest ts-bounds harvesting that
        # time-range scan pruning depends on (ADVICE r4 medium) — and INT96
        # is deprecated in the parquet spec anyway
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    # local mode: shuffle/spill to tmpfs when available — with 32 task
    # threads in one JVM, disk-backed shuffle files serialize on I/O and
    # cap scaling; a real cluster gets this from NVMe-local scratch
    if os.path.isdir("/dev/shm"):
        shm = "/dev/shm/spark-local"
        os.makedirs(shm, exist_ok=True)
        b = b.config("spark.local.dir", shm)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
