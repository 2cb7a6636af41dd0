"""Structured Streaming ingestion (SURVEY.md §2.9 — an extension over the
batch-only reference): ``readStream`` on a transcripts directory ->
``foreachBatch`` into the SAME batch pipeline -> append to the graph sink.

Semantics note: triple extraction is per-conversation, so the stream is
correct when a conversation arrives within one micro-batch (file-per-conv or
session-ized upstream). ``foreachBatch`` reuses the identical DataFrame plan
as the batch path — no second implementation to drift. Each micro-batch
parses once: one eager parse checkpoint, which every downstream branch reads,
sized by the batch's own partition count (``parse_transcripts``); there is no
separate emptiness job. A watermark on ``ts`` bounds state for the windowed
per-turn statistics query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import PipelineConfig
from ..lexicons import KgInputs
from ..pipeline import build_triple_pipeline
from ..runner import overwrite_partitions


def stream_transcripts(spark: SparkSession, input_dir: str,
                       schema=None) -> DataFrame:
    schema = schema or ("conv_id string, turn_idx int, role string, "
                        "text string, tool string, ts timestamp")
    return (spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 4)
            .parquet(input_dir))


def stream_triples_to_sink(spark: SparkSession, inputs: KgInputs,
                           stream_dir: str, out_dir: str,
                           checkpoint_dir: str,
                           cfg: PipelineConfig | None = None):
    """Micro-batch triple extraction: each batch runs the batch pipeline on
    the new conversations and appends to the edges table."""
    cfg = cfg or PipelineConfig()
    stream = stream_transcripts(spark, stream_dir)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        # A file source builds no batch without new files; a zero-row
        # batch flows through and writes no rows.
        res = build_triple_pipeline(spark, inputs, cfg,
                                    transcripts=batch_df, persist=True)
        # foreachBatch is at-least-once: a batch that wrote output but died
        # before the checkpoint commit is REPLAYED on restart with the SAME
        # batch_id (offsets come from the checkpoint WAL). Dynamic overwrite
        # of the batch's own partition makes the replay idempotent —
        # committed batches keep their partitions, the in-flight batch
        # replaces its half-written one; a kill -9 at any point yields
        # exactly-once effective output (crash-resume evidence: BASELINE.md).
        overwrite_partitions(
            res.triples.withColumn("batch_id", F.lit(batch_id)), out_dir,
            "batch_id")

    return (stream.writeStream
            .option("checkpointLocation", checkpoint_dir)
            .foreachBatch(process)
            .trigger(availableNow=True)
            .start())


def streaming_turn_rates(spark: SparkSession, stream_dir: str,
                         out_dir: str, checkpoint_dir: str,
                         window: str = "1 hour",
                         watermark: str = "2 hours"):
    """Watermarked windowed aggregation (late data bounded by the watermark):
    turns per (role, window)."""
    stream = stream_transcripts(spark, stream_dir)
    agg = (stream
           .withWatermark("ts", watermark)
           .groupBy(F.window("ts", window).alias("w"), F.col("role"))
           .agg(F.count(F.lit(1)).alias("n_turns"))
           .select(F.col("w.start").alias("window_start"), "role", "n_turns"))
    return (agg.writeStream.outputMode("append")
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .format("parquet").option("path", out_dir)
            .start())
