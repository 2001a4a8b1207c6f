"""Streaming ingestion: the true incremental-arrival form of the
reference's ``addFile``-while-uploading flow (SURVEY.md §2.1 S5,
/root/reference/lib/RedshiftLoader.ts:135-197).

The reference accepts new bodies while earlier uploads are in flight
and closes intake once the load starts. Structured Streaming is the
Spark-native generalization: a file-source stream picks up new objects
per micro-batch, and ``foreachBatch`` applies one of the three load
modes per batch — a batch re-processed after a failure lands once, not
twice: an insert skips a batchId the sink already applied, and an
upsert is idempotent by key (≈ the manifest's all-or-nothing
contract, RedshiftLoader.ts:303-309).

Scale: per-trigger intake is bounded with ``maxFilesPerTrigger``
(≈ the reference's backpressure, lib/utils.ts:41-63); state is the
checkpoint, not driver memory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from rs_streamloader_spark.sinks.native import NativeTableSink


class StreamingLoader:
    """Continuously load newly-arriving files into a table.

    load_mode: 'insert' (append), 'upsert' (keyed merge per batch,
    latest-wins within a batch via ``dedupe='last'``).
    """

    def __init__(
        self,
        spark: SparkSession,
        source_dir: str,
        schema: StructType | str,
        sink: NativeTableSink,
        fmt: str = "json",
        load_mode: str = "insert",
        id_field: str = "id",
        checkpoint_dir: str | None = None,
        max_files_per_trigger: int | None = None,
    ) -> None:
        if load_mode not in ("insert", "upsert"):
            raise ValueError(f"unsupported streaming load_mode: {load_mode}")
        self.spark = spark
        self.source_dir = source_dir
        self.schema = schema
        self.sink = sink
        self.fmt = fmt
        self.load_mode = load_mode
        self.id_field = id_field
        self.checkpoint_dir = checkpoint_dir or f"{sink.root}/_checkpoint"
        self.max_files_per_trigger = max_files_per_trigger
        self.batches_seen: list[int] = []

    def _stream(self) -> DataFrame:
        reader = self.spark.readStream.format(self.fmt).schema(self.schema)
        if self.max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", self.max_files_per_trigger)
        return reader.load(self.source_dir)

    def _apply_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        self.batches_seen.append(batch_id)
        if self.load_mode == "insert":
            # batchId-keyed: the sink records the highest applied id
            # (and tags each delta with its id), so a replayed batch
            # is skipped instead of appending duplicates
            self.sink.insert_batch(batch_df, batch_id)
        else:
            # dedupe='last' keeps one row per key within the batch —
            # the sane default for streams (SURVEY.md §2 M3 discussion)
            self.sink.upsert(batch_df, id_field=self.id_field, dedupe="last")

    def _writer(self):
        return (
            self._stream()
            .writeStream.foreachBatch(self._apply_batch)
            .option("checkpointLocation", self.checkpoint_dir)
        )

    def run_available(self) -> None:
        """Process everything currently in the source dir, then stop
        (Trigger.AvailableNow) — the batch-parity mode used in tests."""
        self._writer().trigger(availableNow=True).start().awaitTermination()

    def start(self, processing_time: str = "10 seconds"):
        """Continuous mode: returns the StreamingQuery handle."""
        return self._writer().trigger(processingTime=processing_time).start()
