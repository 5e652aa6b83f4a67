"""Watch mode: incremental reindex as a Structured Streaming job.

Analog of the reference's fsnotify watcher + debounce + single-flight
incremental reindex (cmd/cie/watch.go:28-127). Spark-first shape:

- `readStream` over the transcripts directory (file-source picks up newly
  landed parquet files — the fsnotify analog),
- each micro-batch is first UPSERTED into a bronze `turns` snapshot table
  keyed on (conv_id, turn_idx); the affected conversations are then read
  back IN FULL (bucket-pruned point lookup) and fed to the SAME incremental
  pipeline used in batch mode. This makes cross-batch conversations correct:
  a conversation whose turns arrive across multiple files/batches is always
  re-indexed from its complete accumulated turn set, never from a partial
  batch (which would silently drop earlier turns' edges and checkpoint a
  partial hash).
- `Trigger.AvailableNow` = drain-everything-then-stop (cron-style catch-up);
  a processingTime trigger gives the continuous watch with the trigger
  interval playing the debounce role.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQuery

from cie_spark import schema
from cie_spark.plans.pipeline import KGPipeline, affected_turns
from cie_spark.sources.io_snapshots import SnapshotTable


def watch(
    spark: SparkSession,
    transcripts_dir: str,
    warehouse: str,
    *,
    checkpoint_dir: str,
    available_now: bool = True,
    trigger_seconds: int = 10,
    prose: bool = True,
) -> StreamingQuery:
    """Start the streaming incremental indexer; returns the query handle.

    With available_now=True the query drains all currently-available input
    and stops (use q.awaitTermination()); otherwise it keeps watching with a
    processing-time trigger (the 2s-debounce analog).
    """
    pipe = KGPipeline(spark, warehouse)
    turns = SnapshotTable(
        spark, f"{warehouse}/turns", bucket_key="conv_id", n_buckets=128
    )
    stream = (
        spark.readStream.schema(schema.TRANSCRIPTS)
        .option("maxFilesPerTrigger", 64)
        .parquet(transcripts_dir)
    )

    def _batch(df, epoch_id: int) -> None:
        # single-flight by construction: foreachBatch is serialized per query
        batch = df.localCheckpoint(eager=True)  # pin: stream frames are one-pass
        # 1. accumulate the batch into the bronze turns table (idempotent
        #    upsert keyed on (conv_id, turn_idx) — replays are safe), then
        # 2. re-read the FULL turn set of every affected conversation: the
        #    same scoping step as run_from_table, one bounded fetch of the
        #    batch's conv_ids deciding the read. A null conv_id updates the
        #    bronze table and indexes nothing.
        full, ids = affected_turns(turns, batch, land=True)
        if full is None:
            return
        # 3. same incremental pipeline as batch mode (hash delta + purge +
        #    idempotent MERGE)
        pipe.run(
            full, incremental=True, prose=prose, run_id=f"stream-{epoch_id}",
            delta_scope_ids=ids,
        )

    writer = stream.writeStream.foreachBatch(_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()
