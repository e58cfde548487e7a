"""B12: custom stateful CEP — per-conversation tracker with cross-batch state."""

import os

import pytest

from rtfproc_spark.sources.transcripts import synthesize_transcripts_pdf
from rtfproc_spark.streaming.pipeline import stream_transcripts
from rtfproc_spark.streaming.stateful import (
    conversation_tracker,
    conversation_tracker_batch,
)

pytestmark = pytest.mark.spark


def test_tracker_idle_timeout_must_be_positive():
    # raised before the stream is touched, so no Spark is needed
    for bad in (0, -5):
        with pytest.raises(ValueError, match="idle_timeout_ms must be a positive"):
            conversation_tracker(None, idle_timeout_ms=bad)


def test_tracker_stream_matches_batch_oracle(spark, tmp_path):
    src = str(tmp_path / "src")
    os.makedirs(src)
    pdf = synthesize_transcripts_pdf(
        n_convs=10, turns_per_conv=4, include_golden=False, late_frac=0.0
    )
    # split turns of the SAME conversations across two files so state must
    # survive across micro-batches
    first = pdf[pdf["turn_idx"] < 2]
    second = pdf[pdf["turn_idx"] >= 2]
    first.to_parquet(f"{src}/b1.parquet", index=False)
    second.to_parquet(f"{src}/b2.parquet", index=False)
    os.utime(f"{src}/b1.parquet", (1_700_000_000, 1_700_000_000))
    os.utime(f"{src}/b2.parquet", (1_700_000_001, 1_700_000_001))

    stream = stream_transcripts(spark, src, max_files_per_trigger=1)
    tracked = conversation_tracker(stream)
    q = (
        tracked.writeStream.format("memory")
        .queryName("trk_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r["conv_id"], r["turn_idx"]): (
            r["turns_seen"],
            r["secs_since_prev"],
            r["is_role_switch"],
        )
        for r in spark.sql("select * from trk_out").collect()
    }
    want = {
        (r["conv_id"], r["turn_idx"]): (
            r["turns_seen"],
            r["secs_since_prev"],
            r["is_role_switch"],
        )
        for r in conversation_tracker_batch(spark.createDataFrame(pdf)).collect()
    }
    assert len(got) == len(pdf)
    # turns 2+ prove cross-batch state: turns_seen continues from batch 1
    assert got == want


def test_tracker_rocksdb_state_store(spark, tmp_path):
    """Same tracker, RocksDB state-store provider (the 100 TB state backend:
    state spills to local disk instead of executor heap)."""
    src = str(tmp_path / "src3")
    os.makedirs(src)
    pdf = synthesize_transcripts_pdf(
        n_convs=8, turns_per_conv=4, include_golden=False, late_frac=0.0
    )
    first = pdf[pdf["turn_idx"] < 2]
    second = pdf[pdf["turn_idx"] >= 2]
    first.to_parquet(f"{src}/b1.parquet", index=False)
    second.to_parquet(f"{src}/b2.parquet", index=False)
    os.utime(f"{src}/b1.parquet", (1_700_000_000, 1_700_000_000))
    os.utime(f"{src}/b2.parquet", (1_700_000_001, 1_700_000_001))
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        stream = stream_transcripts(spark, src, max_files_per_trigger=1)
        tracked = conversation_tracker(stream, idle_timeout_ms=None)
        q = (
            tracked.writeStream.format("memory")
            .queryName("trk_rocks_out")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt3"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
    finally:
        if prev:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    got = {
        (r["conv_id"], r["turn_idx"]): (r["turns_seen"], r["is_role_switch"])
        for r in spark.sql("select * from trk_rocks_out").collect()
    }
    want = {
        (r["conv_id"], r["turn_idx"]): (r["turns_seen"], r["is_role_switch"])
        for r in conversation_tracker_batch(spark.createDataFrame(pdf)).collect()
    }
    assert len(got) == len(pdf)
    assert got == want
