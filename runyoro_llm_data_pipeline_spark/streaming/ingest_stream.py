"""Structured Streaming front-end for the CDC engine.

The batch ingest (``cdc.ingest.CdcIngest``) and this streaming ingest share
one apply path: ``readStream`` over the event-log directory →
``foreachBatch(apply_batch)`` with ``Trigger.AvailableNow`` — the streaming
formalization of the reference's "rerun the pipeline, it picks up only new
files" semantics (``scripts/train_llm.py:126-129``,
``scripts/orchestrator.py:52-101``).

Exactly-once is *double-gated*:

1. Spark's streaming checkpoint guarantees each micro-batch (epoch) is
   delivered to ``foreachBatch`` at-least-once with a stable ``epoch_id``;
2. the engine's applied-offset gate (epoch_id = batch_id recorded inside
   the committed snapshot) turns redelivery into a no-op.

Either mechanism alone suffices for idempotent replay; together a lost
*streaming* checkpoint is also survivable (the table remembers what was
applied). A Kafka/binlog source swaps the file source line only.

Watermarked windowed aggregates (``turn_rate``, ``conversation_sessions``)
show the engine's late-data metric surface — ``session_window`` is the
streaming analogue of the reference's silence-gap segmentation
(``scripts/audio_processing.py:42-47``).
"""

from __future__ import annotations

import os
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from runyoro_llm_data_pipeline_spark.cdc.apply import apply_batch
from runyoro_llm_data_pipeline_spark.cdc.events import EVENT_SCHEMA, TRANSCRIPT_SCHEMA
from runyoro_llm_data_pipeline_spark.lake.merge import with_internal_schema
from runyoro_llm_data_pipeline_spark.lake.table import COMPACT_MAX_FILES, LakeTable


class CdcStreamIngest:
    """Tail an event-log directory as a stream and apply micro-batches to
    the lake table with exactly-once semantics."""

    def __init__(
        self,
        table_path: str,
        source_dir: str,
        checkpoint_dir: str,
        num_buckets: int = 16,
        mode: str = "mor",
        normalize_text: bool = True,
        compact_max_files: int | None = COMPACT_MAX_FILES,
        max_files_per_trigger: int | None = None,
    ):
        self.table_path = table_path
        self.source_dir = source_dir
        self.checkpoint_dir = checkpoint_dir
        self.num_buckets = num_buckets
        self.mode = mode
        self.normalize_text = normalize_text
        self.compact_max_files = compact_max_files
        self.max_files_per_trigger = max_files_per_trigger
        self.results: list[dict[str, Any]] = []

    def table(self) -> LakeTable:
        if os.path.exists(os.path.join(self.table_path, "_VERSION")):
            return LakeTable.load(self.table_path)
        return LakeTable.create(
            self.table_path,
            with_internal_schema(TRANSCRIPT_SCHEMA),
            num_buckets=self.num_buckets,
        )

    def _apply_epoch(self, df: DataFrame, epoch_id: int) -> None:
        spark = df.sparkSession
        table = self.table()
        r = apply_batch(
            spark,
            table,
            df,
            batch_id=int(epoch_id),
            normalize_text=self.normalize_text,
            mode=self.mode,
        )
        self.results.append(r)
        if self.mode == "mor" and self.compact_max_files is not None:
            hot = table.buckets_needing_compaction(self.compact_max_files)
            if hot:
                table.compact(spark, hot)

    def run_available_now(self, spark: SparkSession) -> list[dict[str, Any]]:
        """Drain everything currently in the source directory, then stop —
        ``Trigger.AvailableNow``: the batch-equivalent streaming run used
        for incremental catch-up jobs."""
        self.results = []
        reader = (
            spark.readStream.schema(EVENT_SCHEMA)
            .option("recursiveFileLookup", "true")
        )
        if self.max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", self.max_files_per_trigger)
        stream = reader.parquet(self.source_dir)
        q = (
            stream.writeStream.foreachBatch(self._apply_epoch)
            .option("checkpointLocation", self.checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return self.results


def turn_rate(
    events: DataFrame, window: str = "1 minute", watermark: str = "2 minutes"
) -> DataFrame:
    """Windowed event-rate metric with late-data watermark: works on both a
    streaming and a batch DataFrame (same code path)."""
    return (
        events.withWatermark("event_ts", watermark)
        .groupBy(F.window("event_ts", window))
        .agg(
            F.count("*").alias("n_events"),
            F.approx_count_distinct("conv_id").alias("approx_convs"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "n_events",
            "approx_convs",
        )
    )


def conversation_sessions(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """Streaming sessionization via ``session_window`` — per conversation,
    sessions split by inactivity ``gap`` (cf. operators.sessions.sessionize
    for the batch gaps-and-islands formulation)."""
    return (
        events.withWatermark("event_ts", watermark)
        .groupBy(F.session_window("event_ts", gap), F.col("conv_id"))
        .agg(F.count("*").alias("n_turns"))
        .select(
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "conv_id",
            "n_turns",
        )
    )


def dedup_within_watermark(
    events: DataFrame,
    keys: tuple[str, ...] = ("conv_id", "turn_idx", "lsn"),
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming duplicate suppression ahead of the apply path:
    ``dropDuplicatesWithinWatermark`` keeps one event per identity key and
    lets state for keys older than the watermark expire — bounded state on
    an unbounded stream, unlike plain ``dropDuplicates`` whose key store
    grows forever. The engine's applied-offset gate already makes replays
    structurally harmless *per batch*; this removes intra-stream wire
    duplicates (at-least-once sources re-emitting events) *before* they
    cost a collapse + write.

    Works on a batch DataFrame too (Spark only defines
    ``dropDuplicatesWithinWatermark`` for streams, so the batch path is
    plain ``dropDuplicates`` over the whole frame — the equivalent
    semantics when the "stream" is finite) — batch parity testable."""
    if not events.isStreaming:
        return events.dropDuplicates(list(keys))
    return events.withWatermark("event_ts", watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )
