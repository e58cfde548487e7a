"""Structured-streaming pipelines (SURVEY.md §2 Part B, §7 M2-M3).

The extraction projection, window aggregations, and interval join are the
SAME declarative expressions as batch (operators/*) — streams add watermarks
and a sink. The reference's per-token "flush what is provably final" becomes
"emit what the watermark proves final" per micro-batch (SURVEY.md §3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.rtf import with_rtf_extract
from ..operators.windows import session_agg, sliding_agg, tumbling_agg
from ..sources.transcripts import TRANSCRIPTS_DDL

DEFAULT_WATERMARK = "10 minutes"


def stream_transcripts(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = 1
) -> DataFrame:
    """File-stream source over a transcripts parquet directory (B1).
    On a cluster this is ``spark.readStream.format('iceberg')`` — same plan
    downstream."""
    r = spark.readStream.schema(TRANSCRIPTS_DDL)
    if max_files_per_trigger:
        r = r.option("maxFilesPerTrigger", max_files_per_trigger)
    return r.parquet(path)


def streaming_extract(stream: DataFrame, pairs=None) -> DataFrame:
    """B2: per-turn extraction projection on the stream."""
    return with_rtf_extract(stream, pairs)


def windowed_turn_counts(
    stream: DataFrame,
    kind: str = "session",
    watermark: str = DEFAULT_WATERMARK,
    gap_or_dur: str = "30 minutes",
    slide: str | None = None,
) -> DataFrame:
    """B3-B6: watermarked window aggregation keyed by conv_id."""
    wm = stream.withWatermark("ts", watermark)
    aggs = [
        F.count(F.lit(1)).alias("n_turns"),
        F.sum("n_text_bytes").alias("text_bytes"),
    ]
    if kind == "session":
        return session_agg(wm, "ts", ["conv_id"], gap_or_dur, aggs)
    if kind == "tumbling":
        return tumbling_agg(wm, "ts", ["conv_id"], gap_or_dur, aggs)
    if kind == "sliding":
        return sliding_agg(wm, "ts", ["conv_id"], gap_or_dur, slide or "5 minutes", aggs)
    raise ValueError(kind)


def streaming_user_assistant_join(
    stream: DataFrame,
    watermark: str = DEFAULT_WATERMARK,
    max_delay: str = "INTERVAL 10 MINUTES",
) -> DataFrame:
    """B7: stateful stream-stream interval join, user vs assistant/tool
    turns — equi-key conv_id + time bound drives state eviction."""
    user = (
        stream.filter(F.col("role") == "user")
        .select(
            "conv_id",
            F.col("turn_idx").alias("user_turn_idx"),
            F.col("ts").alias("user_ts"),
        )
        .withWatermark("user_ts", watermark)
    )
    asst = (
        stream.filter(F.col("role") != "user")
        .select(
            F.col("conv_id").alias("a_conv_id"),
            F.col("turn_idx").alias("asst_turn_idx"),
            F.col("role").alias("asst_role"),
            F.col("ts").alias("asst_ts"),
        )
        .withWatermark("asst_ts", watermark)
    )
    cond = (
        (user.conv_id == asst.a_conv_id)
        & (asst.asst_ts >= user.user_ts)
        & (asst.asst_ts <= F.expr(f"user_ts + {max_delay}"))
    )
    return user.join(asst, cond, "inner").drop("a_conv_id")


def run_extract_to_sink(
    spark: SparkSession,
    source_path: str,
    sink,
    checkpoint: str,
    pairs=None,
    max_files_per_trigger: int | None = 1,
):
    """B2 + B9: extraction stream into the exactly-once idempotent sink."""
    stream = stream_transcripts(spark, source_path, max_files_per_trigger)
    extracted = streaming_extract(stream, pairs).select(
        "conv_id", "turn_idx", "role", "ts", "rtf_out", "plain_text", "error", "n_text_bytes"
    )
    return (
        extracted.writeStream.foreachBatch(sink.writer())
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
