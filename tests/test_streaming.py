"""Streaming core tests (SURVEY.md §7 M2-M3): exactly-once sink with
kill/resume, watermarked windows with late-data drops, stream-stream join.
"""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from rtfproc_spark.sources.transcripts import (
    DEFAULT_REPLACEMENTS,
    synthesize_transcripts_pdf,
)
from rtfproc_spark.streaming.pipeline import (
    run_extract_to_sink,
    stream_transcripts,
    streaming_user_assistant_join,
    windowed_turn_counts,
)
from rtfproc_spark.streaming.sink import IdempotentSink, read_sink

pytestmark = pytest.mark.spark


def _write_source_files(spark, path, n_convs=24, files=3, turns=4):
    """Split the synthetic corpus into several parquet files (micro-batches)."""
    pdf = synthesize_transcripts_pdf(
        n_convs=n_convs, turns_per_conv=turns, include_golden=False
    )
    os.makedirs(path, exist_ok=True)
    per = (n_convs + files - 1) // files
    written = []
    convs = sorted(pdf["conv_id"].unique())
    for i in range(files):
        chunk = pdf[pdf["conv_id"].isin(convs[i * per : (i + 1) * per])]
        f = os.path.join(path, f"part-{i:03d}.parquet")
        chunk.to_parquet(f, index=False)
        written.append(f)
    return pdf, written


def test_exactly_once_sink_and_resume(spark, tmp_path):
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    pdf, files = _write_source_files(spark, src, n_convs=18, files=3)
    held_back = files[-1]
    moved = str(tmp_path) + "/held.parquet"
    shutil.move(held_back, moved)

    sink = IdempotentSink(out)
    q = run_extract_to_sink(spark, src, sink, ckpt, DEFAULT_REPLACEMENTS)
    q.awaitTermination(120)
    n1 = read_sink(spark, out).count()
    expected1 = len(pdf[~pdf["conv_id"].isin(_convs_of(pdf, moved))])
    assert n1 > 0

    # resume: add the held-back file, restart from the SAME checkpoint
    shutil.move(moved, held_back)
    sink2 = IdempotentSink(out)
    q2 = run_extract_to_sink(spark, src, sink2, ckpt, DEFAULT_REPLACEMENTS)
    q2.awaitTermination(120)

    merged = read_sink(spark, out)
    assert merged.count() == len(pdf)  # no loss
    assert (
        merged.groupBy("conv_id", "turn_idx").count().filter("count > 1").count() == 0
    )  # no dupes

    # row-level equality vs batch path (exactly-once correctness)
    from rtfproc_spark.functions.rtf import with_rtf_extract

    batch = with_rtf_extract(
        spark.createDataFrame(pdf), DEFAULT_REPLACEMENTS
    ).select("conv_id", "turn_idx", "rtf_out")
    stream_rows = {
        (r["conv_id"], r["turn_idx"]): r["rtf_out"]
        for r in merged.select("conv_id", "turn_idx", "rtf_out").collect()
    }
    for r in batch.collect():
        assert stream_rows[(r["conv_id"], r["turn_idx"])] == r["rtf_out"]


def _convs_of(pdf, _):
    return []  # helper retained for readability; counts asserted on totals


def test_replayed_batch_is_idempotent(spark, tmp_path):
    # simulate a foreachBatch replay: call the sink twice with the same
    # batch_id; merged view must not duplicate
    out = str(tmp_path / "out")
    pdf = synthesize_transcripts_pdf(n_convs=6, turns_per_conv=3, include_golden=False)
    df = spark.createDataFrame(pdf)
    sink = IdempotentSink(out)
    sink.foreach_batch(df, 7)
    sink.foreach_batch(df, 7)  # replay
    merged = read_sink(spark, out)
    assert merged.count() == len(pdf)


def test_read_sink_same_batch_duplicates_deterministic(spark, tmp_path):
    """The sink writes batches undeduplicated, so a batch dir can hold >1
    row per key; the merge must pick a DETERMINISTIC survivor among
    same-batch duplicates (payload-hash tiebreak), not whichever row the
    scan happens to see
    first."""
    out = str(tmp_path / "out")
    sink = IdempotentSink(out, keys=["conv_id", "turn_idx"])
    df = spark.createDataFrame(
        [(1, 0, "payload-a"), (1, 0, "payload-b"), (2, 0, "only")],
        "conv_id long, turn_idx long, rtf_out string",
    )
    sink.foreach_batch(df.repartition(4), 0)
    picks = set()
    for _ in range(3):
        rows = {
            (r["conv_id"], r["turn_idx"]): r["rtf_out"]
            for r in read_sink(spark, out).collect()
        }
        assert rows[(2, 0)] == "only"
        picks.add(rows[(1, 0)])
    assert len(picks) == 1  # same survivor on every read


def test_windowed_aggregation_with_watermark_and_late_drop(spark, tmp_path):
    src = str(tmp_path / "src")
    os.makedirs(src)
    import pandas as pd

    base = pd.Timestamp("2024-01-01 00:00:00")

    def rows(items):
        pdf = pd.DataFrame(
            [
                {
                    "conv_id": c,
                    "turn_idx": i,
                    "role": "user",
                    "text": "hello world",
                    "tool": None,
                    "ts": base + pd.Timedelta(minutes=m),
                }
                for c, i, m in items
            ]
        )
        pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
        pdf["ts"] = pdf["ts"].astype("datetime64[us]")
        return pdf

    # batch 1: conv A turns at t=0..2min. batch 2: t=60min advances the
    # watermark. batch 3: keeps it advanced (Spark filters late events with
    # the PREVIOUS batch's watermark — SPARK-40925 — so the drop needs the
    # late row to arrive two batches after the advance). batch 4: a LATE row
    # at t=1min arrives far behind the late-event watermark -> dropped.
    rows([("A", 0, 0), ("A", 1, 2)]).to_parquet(f"{src}/b1.parquet", index=False)
    rows([("B", 0, 60)]).to_parquet(f"{src}/b2.parquet", index=False)
    rows([("B", 1, 61)]).to_parquet(f"{src}/b3.parquet", index=False)
    rows([("A", 2, 1)]).to_parquet(f"{src}/b4.parquet", index=False)
    for i, name in enumerate(("b1", "b2", "b3", "b4")):  # force batch order
        os.utime(f"{src}/{name}.parquet", (1_700_000_000 + i, 1_700_000_000 + i))

    from rtfproc_spark.streaming.metrics import ProgressListener

    listener = ProgressListener()
    spark.streams.addListener(listener)
    try:
        stream = stream_transcripts(spark, src, max_files_per_trigger=1)
        extracted = stream.withColumn("n_text_bytes", F.length("text"))
        agg = windowed_turn_counts(
            extracted, kind="session", watermark="5 minutes", gap_or_dur="10 minutes"
        )
        q = (
            agg.writeStream.format("memory")
            .queryName("sess_out")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {
            r["conv_id"]: r["n_turns"]
            for r in spark.sql("select * from sess_out").collect()
        }
        # conv A's session closed with exactly 2 turns: the late t=1min row
        # arrived after the watermark passed and was dropped
        assert got.get("A") == 2
        # listener events are delivered asynchronously — poll briefly
        import time

        dropped = 0
        for _ in range(30):
            dropped = sum(
                p["state_rows_dropped_by_watermark"] for p in listener.progress
            )
            if dropped >= 1:
                break
            time.sleep(0.5)
        assert dropped >= 1
        # each row also carries the batch's duration breakdown and, per
        # state operator, its partitions, state rows and state times
        parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
        op_fields = {
            "operator_name", "num_shuffle_partitions", "num_rows_total",
            "all_updates_time_ms", "all_removals_time_ms", "commit_time_ms",
        }
        for p in listener.progress:
            assert {"addBatch", "triggerExecution"} <= set(p["duration_ms"])
            assert p["state_operators"]
            for op in p["state_operators"]:
                assert set(op) == op_fields
                assert op["num_shuffle_partitions"] == parts
                assert min(op["num_rows_total"], op["all_updates_time_ms"],
                           op["all_removals_time_ms"], op["commit_time_ms"]) >= 0
        assert any(op["num_rows_total"] > 0
                   for p in listener.progress for op in p["state_operators"])
    finally:
        spark.streams.removeListener(listener)


def test_streaming_user_assistant_join(spark, tmp_path):
    src = str(tmp_path / "src")
    pdf, _ = _write_source_files(spark, src, n_convs=12, files=2)
    stream = stream_transcripts(spark, src, max_files_per_trigger=1)
    joined = streaming_user_assistant_join(stream, watermark="30 minutes")
    q = (
        joined.writeStream.format("memory")
        .queryName("join_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = spark.sql(
        "select count(*) as n from join_out"
    ).collect()[0]["n"]

    # batch oracle: same join expression on the static frame
    from rtfproc_spark.operators.joins import user_assistant_join

    want = user_assistant_join(spark.createDataFrame(pdf)).count()
    # streaming inner join with watermark may DROP pairs whose match arrived
    # later than the watermark allows; with per-conv files and 30m watermark
    # over a <=30m-per-conv corpus nothing should drop:
    assert got == want


def test_lineage_columns(spark, tmp_path):
    from rtfproc_spark.streaming.metrics import partition_metrics

    src = str(tmp_path / "src")
    pdf, _ = _write_source_files(spark, src, n_convs=8, files=2)
    df = spark.read.parquet(src)
    pm = partition_metrics(df).collect()
    assert sum(r["rows"] for r in pm) == len(pdf)
    assert all(r["n_files"] >= 1 for r in pm)


def test_rocksdb_state_store_provider(tmp_path):
    # B11: RocksDB-backed streaming state (separate session — the provider
    # is a session conf)
    import pandas as pd
    from pyspark.sql import functions as F

    from rtfproc_spark.session import get_spark

    s = get_spark(
        "rocks-test", master="local[2]", shuffle_partitions=2, streaming_rocksdb=True
    )
    try:
        src = str(tmp_path / "src")
        os.makedirs(src)
        pdf = pd.DataFrame(
            {
                "conv_id": ["A", "A", "B"],
                "ts": pd.to_datetime(
                    ["2024-01-01 00:00", "2024-01-01 00:01", "2024-01-01 00:02"]
                ).astype("datetime64[us]"),
            }
        )
        pdf.to_parquet(f"{src}/b1.parquet", index=False)
        st = s.readStream.schema("conv_id string, ts timestamp").parquet(src)
        agg = (
            st.withWatermark("ts", "1 minute")
            .groupBy("conv_id")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        q = (
            agg.writeStream.format("memory")
            .queryName("rocks_out")
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {r["conv_id"]: r["n"] for r in s.sql("select * from rocks_out").collect()}
        assert got == {"A": 2, "B": 1}
        ssts = [
            f
            for p, _, fs in os.walk(str(tmp_path / "ckpt"))
            for f in fs
            if f.endswith(".sst") or f.endswith(".zip")
        ]
        assert ssts, "RocksDB state files not found in checkpoint"
    finally:
        s.stop()


def test_match_sequence_stream_equals_batch(spark, tmp_path):
    """CEP funnel on a REAL multi-micro-batch file stream (state crosses
    batch boundaries) must emit exactly the batch operator's rows — the
    stream==batch criterion for the sequence matcher."""
    import random
    import time as _time
    from datetime import datetime, timedelta

    import pandas as pd

    from rtfproc_spark.operators.cep import match_sequence, match_sequence_stream

    rng = random.Random(13)
    t0 = datetime(2024, 1, 1)
    rows = sorted(
        (
            (
                i,
                rng.randrange(5),
                rng.choice(["view", "click", "purchase", "noise"]),
                t0 + timedelta(seconds=rng.randrange(7200)),
            )
            for i in range(600)
        ),
        key=lambda r: (r[3], r[0]),
    )
    pdf = pd.DataFrame(rows, columns=["event_id", "user_id", "event_type", "ts"])
    # micros, not nanos: Spark reads TIMESTAMP(MICROS); pandas-constructed
    # datetimes default to ns and parquet then stores plain INT64 nanos
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    src = tmp_path / "src"
    src.mkdir()
    now = _time.time()
    n = len(pdf)
    for f in range(4):
        chunk = pdf.iloc[f * n // 4 : (f + 1) * n // 4]
        p = str(src / f"part-{f}.parquet")
        chunk.to_parquet(p, index=False)
        os.utime(p, (now + f, now + f))

    batch_df = spark.createDataFrame(pdf)
    steps = [F.col("event_type") == s for s in ("view", "click", "purchase")]
    want = {
        tuple(r)
        for r in match_sequence(
            batch_df, steps, ["user_id"], within="15 minutes"
        ).collect()
    }
    assert want, "test corpus must produce completed funnels"

    stream = (
        spark.readStream.schema(
            "event_id long, user_id long, event_type string, ts timestamp"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = match_sequence_stream(
        stream,
        ["view", "click", "purchase"],
        key_col="user_id",
        within="15 minutes",
    )
    sink = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    q = (
        out.writeStream.format("parquet")
        .option("path", str(sink))
        .option("checkpointLocation", str(ckpt))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got_rows = spark.read.parquet(str(sink)).collect()
    got = {
        tuple(r[c] for c in ["user_id", "ts_1", "id_1", "ts_2", "id_2", "ts_3", "id_3"])
        for r in got_rows
    }
    want_named = {
        tuple(r)
        for r in match_sequence(
            batch_df, steps, ["user_id"], within="15 minutes"
        )
        .select("user_id", "ts_1", "id_1", "ts_2", "id_2", "ts_3", "id_3")
        .collect()
    }
    assert got == want_named


def test_match_sequence_stream_negation_equals_batch(spark, tmp_path):
    """Streaming negation must match the batch anti-join semantics on the
    same multi-batch replay — poison strictly inside (anchor, final)."""
    import random
    import time as _time
    from datetime import datetime, timedelta

    import pandas as pd

    from rtfproc_spark.operators.cep import match_sequence, match_sequence_stream

    rng = random.Random(29)
    t0 = datetime(2024, 1, 1)
    rows = sorted(
        (
            (
                i,
                rng.randrange(4),
                rng.choice(["view", "click", "purchase", "error"]),
                t0 + timedelta(seconds=rng.randrange(5400)),
            )
            for i in range(500)
        ),
        key=lambda r: (r[3], r[0]),
    )
    pdf = pd.DataFrame(rows, columns=["event_id", "user_id", "event_type", "ts"])
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    src = tmp_path / "src"
    src.mkdir()
    now = _time.time()
    n = len(pdf)
    for f in range(4):
        p = str(src / f"part-{f}.parquet")
        pdf.iloc[f * n // 4 : (f + 1) * n // 4].to_parquet(p, index=False)
        os.utime(p, (now + f, now + f))

    batch_df = spark.createDataFrame(pdf)
    steps = [F.col("event_type") == s for s in ("view", "click", "purchase")]
    want = {
        tuple(r)
        for r in match_sequence(
            batch_df,
            steps,
            ["user_id"],
            within="20 minutes",
            forbid=F.col("event_type") == "error",
            step_within="10 minutes",
        )
        .select("user_id", "ts_1", "id_1", "ts_2", "id_2", "ts_3", "id_3")
        .collect()
    }
    # the negation must actually bite on this corpus
    base = match_sequence(
        batch_df, steps, ["user_id"], within="20 minutes"
    ).count()
    assert base > len(want) > 0

    stream = (
        spark.readStream.schema(
            "event_id long, user_id long, event_type string, ts timestamp"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = match_sequence_stream(
        stream,
        ["view", "click", "purchase"],
        key_col="user_id",
        within="20 minutes",
        forbid_value="error",
        step_within="10 minutes",
    )
    sink, ckpt = tmp_path / "out", tmp_path / "ckpt"
    q = (
        out.writeStream.format("parquet")
        .option("path", str(sink))
        .option("checkpointLocation", str(ckpt))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        tuple(r[c] for c in ["user_id", "ts_1", "id_1", "ts_2", "id_2", "ts_3", "id_3"])
        for r in spark.read.parquet(str(sink)).collect()
    }
    assert got == want


def test_cep_state_codec_roundtrip_and_size():
    """The stream CEP state is a compact fixed-width binary blob: exact
    round-trip through encode/decode, and materially smaller than the JSON
    string format it replaced (state-store bytes are the scaling currency
    of a continuous CEP job)."""
    import json

    from rtfproc_spark.operators.cep import (
        decode_buffer,
        decode_state,
        encode_buffer,
        encode_partials,
    )

    t = 1_704_067_200_000_000_000  # 2024-01-01 in ns
    partials = [
        # mid-flight with a skipped optional hop, a pending candidate with
        # an alternation branch, one open binding counter (hop list) and
        # one frozen plain counter
        [2, t + 900_000_000_000, t + 60_000_000_000,
         [[t, 11, 0], None, [t + 60_000_000_000, 12, 1]],
         None, [t + 30_000_000_000, 13, 2],
         [[2, t + 45_000_000_000, 2, 0,
           [[t + 40_000_000_000, 21], [t + 45_000_000_000, 22]]],
          [7, None, 0, 1, []]]],
        # freshly anchored, poisoned
        [1, t + 900_000_000_000, t, [[t, 14, 0]], t + 10_000_000_000,
         None, []],
    ]
    blob = encode_partials(partials)
    assert decode_state(blob)[0] == partials
    assert decode_state(None)[0] == [] and decode_state(b"")[0] == []
    # skip_past_last end marker round-trips through the header
    assert decode_state(encode_partials(partials, [t, 42])) == (
        partials, [t, 42], None
    )
    assert decode_state(encode_partials(partials))[1] is None
    # session cursor round-trips
    assert decode_state(encode_partials(partials, None, [t, 3]))[2] == [t, 3]
    as_json = json.dumps(partials).encode()
    assert len(blob) < 0.7 * len(as_json), (len(blob), len(as_json))

    buf = [(t, 5, 0), (t + 1, 6, 2), (t + 2, 7, 1)]
    bblob = encode_buffer(buf, [], 0)
    assert decode_buffer(bblob, 0) == (buf, [])
    assert decode_buffer(None, 0) == ([], [])


def test_match_sequence_stream_quantifiers_equals_batch(spark, tmp_path):
    """Streaming optional step (B?) + CountBetween quantifier must emit
    exactly the batch operator's rows — including the null ts/id columns of
    skipped optionals and the emitted count — across a real 4-micro-batch
    replay. Null-key rows that would form matches as one key match in
    neither twin. Ids above 2**53 come back exact even with a null-id row
    of the same key in the same micro-batch (a null in an int64 Arrow
    column turns it into float64 in pandas)."""
    import random
    import time as _time
    from datetime import datetime, timedelta

    import pandas as pd

    from rtfproc_spark.operators.cep import (
        CountBetween,
        match_sequence,
        match_sequence_stream,
    )

    rng = random.Random(47)
    t0 = datetime(2024, 1, 1)
    rows = sorted(
        (
            (
                i,
                rng.randrange(5),
                rng.choice(["view", "click", "purchase", "error", "noise"]),
                t0 + timedelta(seconds=rng.randrange(7200)),
            )
            for i in range(600)
        ),
        key=lambda r: (r[3], r[0]),
    )
    # four complete view -> click -> purchase runs, all with a null key
    rows = sorted(
        rows + [
            (1000 + j, None, typ, t0 + timedelta(seconds=1800 * f + j))
            for f in range(4)
            for j, typ in enumerate(["view", "click", "error", "purchase"])
        ],
        key=lambda r: (r[3], r[0]),
    )
    # user 0: a complete run with ids above 2**53 (as doubles, 2**53 + 1
    # reads 2**53) and, a second later, a row with a null id
    big = [
        (2**53 + 1 + 2 * j, 0, typ, t0 + timedelta(seconds=2700 + j))
        for j, typ in enumerate(["view", "click", "purchase"])
    ] + [(None, 0, "noise", t0 + timedelta(seconds=2703))]
    rows = sorted(rows + big, key=lambda r: (r[3], r[0] or 0))
    pdf = pd.DataFrame(
        {
            "event_id": pd.array([r[0] for r in rows], dtype="Int64"),
            "user_id": pd.array([r[1] for r in rows], dtype="Int64"),
            "event_type": [r[2] for r in rows],
            "ts": pd.Series([r[3] for r in rows]).astype("datetime64[us]"),
        }
    )
    src = tmp_path / "src"
    src.mkdir()
    now = _time.time()
    n = len(pdf)
    for f in range(4):
        p = str(src / f"part-{f}.parquet")
        part = pdf.iloc[f * n // 4 : (f + 1) * n // 4]
        part.to_parquet(p, index=False)
        os.utime(p, (now + f, now + f))
        if part["event_id"].isna().any():
            # the big ids and the null id arrive in the same micro-batch
            assert (part["event_id"] > 2**53).sum() == 3

    spec = CountBetween(
        pred=F.col("event_type") == "error",
        value="error",
        lo_step=1,
        hi_step=3,
        min_n=0,
        max_n=1,
        name="err",
    )
    cols = ["user_id", "ts_1", "id_1", "ts_2", "id_2", "ts_3", "id_3", "n_err"]
    batch_df = spark.read.parquet(str(src))
    assert batch_df.where("user_id IS NULL").count() == 16
    want_all = {
        tuple(r)
        for r in match_sequence(
            batch_df,
            [F.col("event_type") == s for s in ("view", "click", "purchase")],
            ["user_id"],
            within="15 minutes",
            optional_steps={2},
            counts=[spec],
        )
        .select(*cols)
        .collect()
    }
    assert any(r[2] == 2**53 + 1 for r in want_all), "the big-id run must match"
    skipped = sum(1 for r in want_all if r[3] is None)
    assert skipped and len(want_all) > skipped, "need taken AND skipped optionals"
    assert any(r[7] == 1 for r in want_all), "count quantifier must bite"

    stream = (
        spark.readStream.schema(
            "event_id long, user_id long, event_type string, ts timestamp"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = match_sequence_stream(
        stream,
        ["view", "click", "purchase"],
        key_col="user_id",
        within="15 minutes",
        optional_steps={2},
        counts=[spec],
    )
    sink, ckpt = tmp_path / "out", tmp_path / "ckpt"
    q = (
        out.writeStream.format("parquet")
        .option("path", str(sink))
        .option("checkpointLocation", str(ckpt))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        tuple(r[c] for c in cols) for r in spark.read.parquet(str(sink)).collect()
    }
    assert got == want_all


def _brute_loop_matches(
    rows, anchor, loop_vals, mn, mx, closer, extra=(), within_ns=10**18
):
    """Independent per-anchor forward simulation of the documented Kleene
    LoopStep semantics (closer-priority on sufficient count, open-interval
    same-tick exclusion, max_n consumption cap) — a nested-loop reference
    sharing no structure with the join algebra OR the stream machine.
    ``rows`` = [(t_ns, id, typ)] one key; ``extra`` = plain steps after
    the closer. Returns tuples (ts_1, id_1, n, first, last, ids, ts_c,
    id_c, *extra_ts_id)."""
    out = []
    srows = sorted(rows)
    for ai, (t0, i0, ty0) in enumerate(srows):
        if ty0 != anchor:
            continue
        consumed = []  # (t, i) loop hops, in order, capped at mx
        pos = 0  # 0 = in loop, 1..len(extra) = extra plain steps
        prev = t0
        match = None
        for t, i, typ in srows[ai + 1:]:
            if t > t0 + within_ns:
                break
            if pos == 0:
                eligible = [h for h in consumed if h[0] < t]
                if typ == closer and t > prev and len(eligible) >= mn:
                    n = len(eligible) if mx is None else min(len(eligible), mx)
                    hops = eligible[:n]
                    match = [t0, i0, n, hops, t, i]
                    prev = t
                    pos = 1
                    if not extra:
                        break
                elif (
                    typ in loop_vals
                    and t > prev
                    and (mx is None or len(consumed) < mx)
                ):
                    consumed.append((t, i))
            else:
                if typ == extra[pos - 1] and t > prev:
                    match.extend([t, i])
                    prev = t
                    pos += 1
                    if pos > len(extra):
                        break
        if match is not None and pos > len(extra):
            out.append(tuple(match[:3]) + (tuple(match[3]),) + tuple(match[4:]))
    return sorted(out)


def test_loop_step_batch_matches_bruteforce(spark):
    """Kleene-plus as a pattern step (round-7): the batch join algebra for
    A B{m,n} C [D] must equal an independent nested-loop simulation on
    randomized event soups, across min/max/bind configurations and with a
    trailing plain step after the closer."""
    import random
    from datetime import datetime, timedelta

    from rtfproc_spark.operators.cep import LoopStep, match_sequence

    rng = random.Random(1234)
    t0 = datetime(2024, 1, 1)
    rows = []
    for i in range(900):
        rows.append(
            (i, rng.randrange(12),
             rng.choice(["A", "B", "C", "D", "x"]),
             t0 + timedelta(seconds=rng.randrange(4000)))
        )
    # force same-timestamp collisions (the open-interval edge)
    for i in range(900, 960):
        rows.append(
            (i, rng.randrange(12),
             rng.choice(["B", "C"]),
             t0 + timedelta(seconds=rng.choice([50, 100, 150])))
        )
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp"
    )
    by_key = {}
    for i, u, ty, ts in rows:
        by_key.setdefault(u, []).append((int(ts.timestamp() * 1e9), i, ty))

    for mn, mx, bind, extra, closer in [
        (1, None, True, (), "C"),
        (0, None, True, (), "C"),
        (2, 3, True, (), "C"),
        (1, 1, "all", (), "C"),
        (0, 2, False, (), "C"),
        (1, None, True, ("D",), "C"),
        # closer value INSIDE the loop vocabulary (A B+ B): closer-priority
        # once the count suffices, consumed as a hop before that
        (1, None, True, (), "B"),
        (2, 2, "all", (), "B"),
    ]:
        within = "20 minutes"
        wns = 20 * 60 * 10**9
        steps = [
            F.col("event_type") == "A",
            LoopStep(
                pred=F.col("event_type") == "B", value="B",
                min_n=mn, max_n=mx, bind=bind, name="b",
            ),
            F.col("event_type") == closer,
        ] + [F.col("event_type") == e for e in extra]
        got_df = match_sequence(df, steps, ["user_id"], within=within)
        want = []
        for u, evs in by_key.items():
            for m in _brute_loop_matches(
                evs, "A", ("B",), mn, mx, closer, extra, wns
            ):
                want.append((u,) + m)
        # compare the core tuple (anchor, count, closer) and extras
        want_core = sorted(
            (w[0], w[1], w[2], w[3], w[5], w[6]) + tuple(w[7:]) for w in want
        )
        got2 = []
        for r in got_df.collect():
            tup = (
                r["user_id"],
                int(r["ts_1"].timestamp() * 1e9), r["id_1"], r["n_b"],
                int(r["ts_3"].timestamp() * 1e9), r["id_3"],
            )
            for j in range(len(extra)):
                tup += (
                    int(r[f"ts_{4 + j}"].timestamp() * 1e9), r[f"id_{4 + j}"],
                )
            got2.append(tup)
        assert sorted(got2) == want_core, (mn, mx, bind, extra)
        if bind:
            # hop measures: first/last/ids must equal the simulated hop list
            want_hops = {
                (w[0], w[2]): w[4] for w in want  # (user, id_1) -> hops
            }
            for r in got_df.collect():
                hops = want_hops[(r["user_id"], r["id_1"])]
                if hops:
                    assert int(r["first_b_ts"].timestamp() * 1e9) == hops[0][0]
                    assert r["first_b_id"] == hops[0][1]
                    assert int(r["last_b_ts"].timestamp() * 1e9) == hops[-1][0]
                    assert r["last_b_id"] == hops[-1][1]
                else:
                    assert r["first_b_id"] is None and r["last_b_id"] is None
                if bind == "all":
                    assert list(r["b_ids"]) == [h[1] for h in hops]
        # every config must actually produce matches to be meaningful
        assert want_core, (mn, mx, bind, extra)


def test_loop_step_stream_equals_batch(spark, tmp_path):
    """The Kleene-loop stream twin: A B{m,n} C with binding measures must
    emit exactly the batch rows across a real multi-micro-batch replay
    (ordered mode, ts-ordered files) AND across a SHUFFLED replay in
    buffered ordered=False mode (watermark-drained, v5 loop state crossing
    micro-batches), including the closer-in-loop-vocabulary overlap."""
    import random
    import time as _time
    from datetime import datetime, timedelta

    import pandas as pd

    from rtfproc_spark.operators.cep import (
        LoopStep,
        match_sequence,
        match_sequence_stream,
    )

    rng = random.Random(4321)
    t0 = datetime(2024, 1, 1)
    rows = [
        (
            i,
            rng.randrange(8),
            rng.choice(["A", "B", "C", "x"]),
            t0 + timedelta(seconds=rng.randrange(3600)),
        )
        for i in range(500)
    ]
    pdf = pd.DataFrame(rows, columns=["event_id", "user_id", "event_type", "ts"])
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")

    for mn, mx, bind, closer in [(1, 2, "all", "C"), (1, None, True, "B")]:
        loop = LoopStep(
            pred=F.col("event_type") == "B", value="B",
            min_n=mn, max_n=mx, bind=bind, name="b",
        )
        steps_b = [
            F.col("event_type") == "A", loop, F.col("event_type") == closer
        ]
        cols = [
            "user_id", "ts_1", "id_1", "n_b",
            "first_b_ts", "first_b_id", "last_b_ts", "last_b_id",
            *(["b_ids"] if bind == "all" else []),
            "ts_3", "id_3",
        ]

        def norm(r):
            return tuple(
                tuple(v) if isinstance(v, list) else v
                for v in (r[c] for c in cols)
            )

        want = sorted(
            norm(r)
            for r in match_sequence(
                spark.createDataFrame(pdf), steps_b, ["user_id"],
                within="10 minutes",
            ).collect()
        )
        # overlap config (closer inside the loop vocab) closes as soon as
        # the count suffices, so n==min_n there; the plain config must
        # exercise multi-hop loops
        need = 2 if closer not in ("B",) else 1
        assert want and any(r[3] >= need for r in want), (mn, mx, closer)

        for mode, order in [("ordered", True), ("buffered", False)]:
            src = tmp_path / f"src_{closer}_{mode}"
            src.mkdir()
            now = _time.time()
            sdf = (
                pdf.sort_values(["ts", "event_id"])
                if order
                else pdf.sample(frac=1.0, random_state=7)
            )
            n = len(sdf)
            for f in range(4):
                p = str(src / f"part-{f}.parquet")
                sdf.iloc[f * n // 4:(f + 1) * n // 4].to_parquet(p, index=False)
                os.utime(p, (now + f, now + f))
            if not order:
                # shuffled arrival spans the whole hour: declared lateness
                # must cover it, plus a flush event past every deadline
                flush = pd.DataFrame(
                    [(99999, 0, "x", t0 + timedelta(hours=4))],
                    columns=sdf.columns,
                ).astype(sdf.dtypes)
                p = str(src / "part-9.parquet")
                flush.to_parquet(p, index=False)
                os.utime(p, (now + 9, now + 9))
            stream = (
                spark.readStream.schema(
                    "event_id long, user_id long, event_type string, "
                    "ts timestamp"
                )
                .option("maxFilesPerTrigger", 1)
                .parquet(str(src))
            )
            out = match_sequence_stream(
                stream, ["A", loop, closer], key_col="user_id",
                within="10 minutes",
                watermark="2 hours", ordered=order,
            )
            sink, ckpt = tmp_path / f"out{closer}{mode}", tmp_path / f"ck{closer}{mode}"
            q = (
                out.writeStream.format("parquet")
                .option("path", str(sink))
                .option("checkpointLocation", str(ckpt))
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            got = sorted(
                norm(r) for r in spark.read.parquet(str(sink)).collect()
            )
            assert got == want, (mn, mx, closer, mode)


def test_loop_step_sessionized_stream_equals_batch(spark, tmp_path):
    """Composition pin: Kleene loop INSIDE session-gap bounding. A loop
    must not complete across a session boundary (planted: A B B <gap> C
    never matches; the same sequence inside one session does), and the
    buffered session_gap stream twin must equal
    match_sequence_sessionized + LoopStep exactly, session ids included."""
    import time as _time
    from datetime import datetime, timedelta

    import pandas as pd

    from rtfproc_spark.operators.cep import (
        LoopStep,
        match_sequence_sessionized,
        match_sequence_stream,
    )

    t0 = datetime(2024, 1, 1)

    def T(s):
        return t0 + timedelta(seconds=s)

    rows = [
        # user 1 session 1: full A B B C inside the session -> match n=2
        (1, 1, "A", T(0)), (2, 1, "B", T(30)), (3, 1, "B", T(60)),
        (4, 1, "C", T(90)),
        # user 1 session 2 (gap > 5 min): A B B ... gap ... C -> the C
        # lands in session 3, loop may NOT complete across the boundary
        (5, 1, "A", T(1000)), (6, 1, "B", T(1030)), (7, 1, "B", T(1060)),
        (8, 1, "C", T(1500)),       # 440s gap > 300s -> new session
        # user 2: keepalive (non-vocab) event BRIDGES the would-be split,
        # so the loop completes in one session
        (10, 2, "A", T(0)), (11, 2, "B", T(40)),
        (12, 2, "x", T(290)),        # keepalive at +250s
        (13, 2, "B", T(500)), (14, 2, "C", T(530)),
        # user 2 later: zero-hop loop (min_n=0 path not used here; B
        # required) -> A then C with no B, no match
        (15, 2, "A", T(2000)), (16, 2, "C", T(2030)),
    ]
    pdf = pd.DataFrame(rows, columns=["event_id", "user_id", "event_type", "ts"])
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    loop = LoopStep(
        pred=F.col("event_type") == "B", value="B", min_n=1, name="b",
    )
    steps = [F.col("event_type") == "A", loop, F.col("event_type") == "C"]
    cols = [
        "user_id", "session_id", "ts_1", "id_1",
        "n_b", "first_b_ts", "first_b_id", "last_b_ts", "last_b_id",
        "ts_3", "id_3",
    ]
    want = sorted(
        tuple(r[c] for c in cols)
        for r in match_sequence_sessionized(
            spark.createDataFrame(pdf), steps, ["user_id"],
            gap="5 minutes",
        ).collect()
    )
    # exactly the two planted completions: user1 session1 (n=2) and
    # user2's keepalive-bridged session (n=2)
    assert [(w[0], w[3], w[4]) for w in want] == [(1, 1, 2), (2, 10, 2)], want

    src = tmp_path / "src"
    src.mkdir()
    now = _time.time()
    sdf = pdf.sort_values(["ts", "event_id"])
    n = len(sdf)
    for f in range(3):
        p = str(src / f"part-{f}.parquet")
        sdf.iloc[f * n // 3:(f + 1) * n // 3].to_parquet(p, index=False)
        os.utime(p, (now + f, now + f))
    flush = pd.DataFrame(
        [(999, 0, "zz", T(2030 + 7200 + 3600))], columns=pdf.columns
    ).astype(pdf.dtypes)
    flush.to_parquet(str(src / "part-9.parquet"), index=False)
    os.utime(str(src / "part-9.parquet"), (now + 9, now + 9))
    out = match_sequence_stream(
        spark.readStream.schema(
            "event_id long, user_id long, event_type string, ts timestamp"
        ).option("maxFilesPerTrigger", 1).parquet(str(src)),
        ["A", loop, "C"], key_col="user_id",
        within="3650 days", watermark="2 hours",
        ordered=False, session_gap="5 minutes",
    )
    sink, ckpt = tmp_path / "out", tmp_path / "ckpt"
    q = (
        out.writeStream.format("parquet")
        .option("path", str(sink))
        .option("checkpointLocation", str(ckpt))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(
        tuple(r[c] for c in cols)
        for r in spark.read.parquet(str(sink)).collect()
    )
    assert got == want


def test_loop_step_validation_and_codec_v5(spark):
    """LoopStep constraint violations raise the same targeted error on
    both twins (every shape runs through match_sequence and
    match_sequence_stream); the state codec round-trips loop slots
    exactly, and its header records one trailing slot for them (none for
    loop-FREE partials)."""
    import pytest

    from rtfproc_spark.operators.cep import (
        CountBetween,
        LoopStep,
        decode_state,
        encode_partials,
        match_sequence,
        match_sequence_stream,
    )

    df = spark.createDataFrame(
        [], "event_id long, user_id long, event_type string, ts timestamp"
    )
    B = F.col("event_type") == "B"
    lp = LoopStep(pred=B, value="B", name="b")
    lp0 = LoopStep(pred=B, value="B", name="b", min_n=0)
    lbad = LoopStep(pred=B, value="B", name="b", min_n=2, max_n=1)
    cb_loop = CountBetween(pred=B, value="B", lo_step=2, hi_step=3)
    # (steps, kwargs, error) — a Column step B is the literal "B" on the
    # stream, forbid= is forbid_value=, and a FINAL loop needs ordered=False
    for steps, kw, err in [
        ([lp0, B], {}, "min_n >= 1"),                   # anchor loop min_n=0
        ([B, lp0], {}, "FINAL LoopStep needs min_n"),   # final loop min_n=0
        ([B, lp], {"forbid": F.col("event_type") == "P"}, "forbid"),
        ([B, lp], {"after_match": "skip_past_last"}, "after_match"),
        ([B, lbad, B], {}, "max_n"),                    # max_n < min_n
        ([B, lp, lp, B], {}, "both be loops"),          # consecutive loops
        ([B, lp, B, B], {"optional_steps": {2}}, "cannot be optional"),
        ([B, lp, B, B], {"optional_steps": {3}}, "cannot be optional"),
        ([B, B, lp, B], {"optional_steps": {2}}, "closer cannot be a loop"),
        ([B, lp, B], {"step_within": "1 minute"}, "step_within"),
        ([B, lp, B], {"counts": [cb_loop]}, "non-loop steps"),
        ([B, lp, B], {"optional_steps": {5}}, "out of range"),
        # an anchor loop's bounds are checked as written, not desugared
        ([LoopStep(pred=B, value="B", name="b", max_n=0), B], {},
         r"step 1: LoopStep max_n \(0\) < min_n \(1\)"),
    ]:
        with pytest.raises(ValueError, match=err):
            match_sequence(df, steps, ["user_id"], **kw)
        skw = dict(kw)
        if "forbid" in skw:
            skw["forbid_value"] = "P"
            del skw["forbid"]
        with pytest.raises(ValueError, match=err):
            match_sequence_stream(
                df, ["B" if s is B else s for s in steps],
                ordered=not isinstance(steps[-1], LoopStep), **skw,
            )
    # batch-only: a CountBetween with only the stream's value= set
    with pytest.raises(ValueError, match="batch CountBetween needs pred="):
        match_sequence(
            df, [B, B], ["user_id"], counts=[CountBetween(value="B")]
        )
    # stream-only constraint: a FINAL loop's emission is deadline-driven,
    # so the ordered (no-watermark-finality) mode must reject it
    with pytest.raises(ValueError, match="ordered=False"):
        match_sequence_stream(df, ["B", lp], ordered=True)
    with pytest.raises(ValueError, match="forbid"):
        match_sequence_stream(df, ["B", lp], ordered=False, forbid_value="P")

    t = 1_704_067_200_000_000_000
    with_loops = [
        [1, t + 900, t, [[t, 11, 0]], None, None, [],
         [[2, t + 45, 1, 0, [[t + 30, 21], [t + 45, 22]]],
          [0, None, 0, 0, []]]],
    ]
    blob5 = encode_partials(with_loops)
    assert blob5[1] == 1
    assert decode_state(blob5)[0] == with_loops
    no_loops = [[1, t + 900, t, [[t, 11, 0]], None, None, []]]
    blob4 = encode_partials(no_loops)
    assert blob4[1] == 0
    assert decode_state(blob4)[0] == no_loops


def test_cross_ref_rules_both_twins(spark):
    """Each cross-reference rule raises the same targeted error on both
    twins: every row runs as a batch CrossPred at step p reading step j's
    value, and as the stream's cross_conds={p: [(value, >, j, value)]}.
    The input is an empty DataFrame and no query starts."""
    import pytest

    from rtfproc_spark.operators.cep import (
        CrossPred,
        LoopStep,
        match_sequence,
        match_sequence_stream,
    )

    df = spark.createDataFrame(
        [],
        "event_id long, user_id long, event_type string, ts timestamp, "
        "value double",
    )
    lp = LoopStep(pred=F.col("event_type") == "B", value="B", name="b")
    # (steps, optional_steps, conditioned step p, referenced step j, error);
    # a letter is a plain step, its batch predicate event_type == letter
    for steps, opt, p, j, err in [
        ("ABC", None, 1, 1, "the anchor cannot be a CrossPred"),
        ("ABCD", {2}, 2, 1, "step 2 is optional or the closer"),
        ("ABCD", {2}, 3, 1, "step 3 is optional or the closer"),
        ("ABC", None, 2, 3, "referenced step 3 is not a PRIOR step"),
        (["A", lp, "C", "D"], None, 4, 2, "referenced step 2 is a Kleene loop"),
        ("ABCD", {2}, 4, 2, "referenced step 2 is optional or an optional's"),
        ("ABCD", {2}, 4, 3, "referenced step 3 is optional or an optional's"),
    ]:
        batch = [
            F.col("event_type") == s if isinstance(s, str) else s
            for s in steps
        ]
        batch[p - 1] = CrossPred(
            pred=F.col("_ev_value") > F.col(f"_def_{j}_value"),
            needs=((j, "value"),),
            ev_cols=("value",),
            local=batch[p - 1],
        )
        with pytest.raises(ValueError, match=err):
            match_sequence(df, batch, ["user_id"], optional_steps=opt)
        with pytest.raises(ValueError, match=err):
            match_sequence_stream(
                df, list(steps), optional_steps=opt,
                cross_conds={p: [("value", ">", j, "value")]},
            )


def test_match_sequence_stream_reserved_suffix_names(spark, tmp_path):
    """Round-7 ADVICE fix: output column types are tracked structurally,
    not inferred from name suffixes — a CountBetween named 'err_ts' must
    yield a LONG count column n_err_ts (the old suffix rule declared it
    timestamp and ran it through pd.to_datetime), and the stream twin must
    equal the batch twin on such names. Duplicate output names raise."""
    import time as _time
    from datetime import datetime, timedelta

    import pandas as pd
    import pytest

    from rtfproc_spark.operators.cep import (
        CountBetween,
        match_sequence,
        match_sequence_stream,
    )

    t0 = datetime(2024, 1, 1)
    rows = [
        (1, 1, "view", t0),
        (2, 1, "error", t0 + timedelta(minutes=1)),
        (3, 1, "purchase", t0 + timedelta(minutes=2)),
        (4, 2, "view", t0 + timedelta(minutes=1)),
        (5, 2, "purchase", t0 + timedelta(minutes=3)),
    ]
    pdf = pd.DataFrame(rows, columns=["event_id", "user_id", "event_type", "ts"])
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    src = tmp_path / "src"
    src.mkdir()
    p = str(src / "part-0.parquet")
    pdf.to_parquet(p, index=False)
    now = _time.time()
    os.utime(p, (now, now))

    spec = CountBetween(
        pred=F.col("event_type") == "error",
        value="error",
        lo_step=1, hi_step=2, min_n=0, max_n=None,
        name="err_ts",  # reserved-looking suffix on purpose
    )
    cols = ["user_id", "ts_1", "id_1", "ts_2", "id_2", "n_err_ts"]
    batch = match_sequence(
        spark.createDataFrame(pdf),
        [F.col("event_type") == s for s in ("view", "purchase")],
        ["user_id"], within="15 minutes", counts=[spec],
    ).select(*cols)
    assert dict(batch.dtypes)["n_err_ts"] == "bigint"
    want = {tuple(r) for r in batch.collect()}
    assert {r[5] for r in want} == {0, 1}

    stream = (
        spark.readStream.schema(
            "event_id long, user_id long, event_type string, ts timestamp"
        )
        .parquet(str(src))
    )
    out = match_sequence_stream(
        stream, ["view", "purchase"], key_col="user_id",
        within="15 minutes", counts=[spec],
    )
    assert dict(out.dtypes)["n_err_ts"] == "bigint"
    sink, ckpt = tmp_path / "out", tmp_path / "ckpt"
    q = (
        out.writeStream.format("parquet")
        .option("path", str(sink))
        .option("checkpointLocation", str(ckpt))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        tuple(r[c] for c in cols) for r in spark.read.parquet(str(sink)).collect()
    }
    assert got == want

    # duplicate / colliding output names are rejected up front
    with pytest.raises(ValueError, match="duplicate output column"):
        match_sequence_stream(
            stream, ["view", "purchase"], key_col="user_id",
            counts=[
                CountBetween(value="error", name="x"),
                CountBetween(value="noise", name="x"),
            ],
        )
    with pytest.raises(ValueError, match="duplicate output column"):
        match_sequence_stream(
            stream, ["view", "purchase"], key_col="n_z",
            counts=[CountBetween(value="error", name="z")],
        )


def test_match_sequence_stream_out_of_order(spark, tmp_path):
    """ADVICE r4: a late-but-within-watermark event must not lose matches.
    ordered=False buffers per-key events in state and processes them in
    event-time order once the watermark passes, so the batch match is found;
    ordered=True (documented in-order contract) provably misses it on the
    same input."""
    import time as _time

    import pandas as pd

    from rtfproc_spark.operators.cep import match_sequence_stream

    t0 = pd.Timestamp("2024-01-01 00:00:00")

    def mk(rows):
        pdf = pd.DataFrame(
            rows, columns=["event_id", "user_id", "event_type", "ts"]
        )
        pdf["ts"] = pd.to_datetime(pdf["ts"]).astype("datetime64[us]")
        return pdf

    files = [
        # A and C arrive first ...
        mk([(1, 7, "A", t0), (3, 7, "C", t0 + pd.Timedelta("10 minutes"))]),
        # ... then B, 5 minutes EARLIER in event time (late, within the
        # 30-minute watermark)
        mk([(2, 7, "B", t0 + pd.Timedelta("5 minutes"))]),
        # watermark flush: unrelated type, far future
        mk([(99, 8, "noise", t0 + pd.Timedelta("2 hours"))]),
    ]
    src = tmp_path / "src"
    src.mkdir()
    now = _time.time()
    for f, pdf in enumerate(files):
        p = str(src / f"part-{f}.parquet")
        pdf.to_parquet(p, index=False)
        os.utime(p, (now + f, now + f))

    def run(ordered, out_name):
        stream = (
            spark.readStream.schema(
                "event_id long, user_id long, event_type string, ts timestamp"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        out = match_sequence_stream(
            stream,
            ["A", "B", "C"],
            key_col="user_id",
            within="15 minutes",
            watermark="30 minutes",
            ordered=ordered,
        )
        sink = tmp_path / out_name
        q = (
            out.writeStream.format("parquet")
            .option("path", str(sink))
            .option("checkpointLocation", str(tmp_path / (out_name + "_ckpt")))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.read.parquet(str(sink)).collect()

    buffered = run(False, "out_buffered")
    assert [
        (r["user_id"], r["id_1"], r["id_2"], r["id_3"]) for r in buffered
    ] == [(7, 1, 2, 3)]
    # the in-order-contract mode misses the same match — the documented
    # divergence the buffered mode exists to close
    assert run(True, "out_ordered") == []


def test_match_sequence_stream_buffered_resume(spark, tmp_path):
    """The ordered=False event buffer must survive a query restart: run 1
    ingests the whole pattern while the watermark is still behind it (all
    events remain BUFFERED in the state store, nothing emitted); run 2 on
    the same checkpoint sees only a watermark-advancing noise file and
    must emit the match purely from state — pinning the binary
    partials+buffer codec through a real state-store round trip."""
    import time as _time

    import pandas as pd

    from rtfproc_spark.operators.cep import match_sequence_stream

    t0 = pd.Timestamp("2024-01-01 00:00:00")

    def mk(rows):
        pdf = pd.DataFrame(
            rows, columns=["event_id", "user_id", "event_type", "ts"]
        )
        pdf["ts"] = pd.to_datetime(pdf["ts"]).astype("datetime64[us]")
        return pdf

    src = tmp_path / "src"
    src.mkdir()
    now = _time.time()

    def put(idx, pdf):
        p = str(src / f"part-{idx}.parquet")
        pdf.to_parquet(p, index=False)
        os.utime(p, (now + idx, now + idx))

    put(0, mk([(1, 7, "A", t0), (2, 7, "B", t0 + pd.Timedelta("5 minutes"))]))
    put(1, mk([(3, 7, "C", t0 + pd.Timedelta("10 minutes"))]))

    def run():
        stream = (
            spark.readStream.schema(
                "event_id long, user_id long, event_type string, ts timestamp"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        out = match_sequence_stream(
            stream,
            ["A", "B", "C"],
            key_col="user_id",
            within="15 minutes",
            watermark="30 minutes",
            ordered=False,
        )
        q = (
            out.writeStream.format("parquet")
            .option("path", str(tmp_path / "out"))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run()
    # watermark never passed the events: everything is still buffered
    assert spark.read.parquet(str(tmp_path / "out")).count() == 0
    # restart with only a far-future noise event -> drain from state
    put(2, mk([(99, 8, "noise", t0 + pd.Timedelta("2 hours"))]))
    run()
    rows = spark.read.parquet(str(tmp_path / "out")).collect()
    assert [(r["user_id"], r["id_1"], r["id_2"], r["id_3"]) for r in rows] == [
        (7, 1, 2, 3)
    ]


def test_match_sequence_stream_restart_keeps_partition_count(spark, tmp_path):
    """A checkpoint keeps the state partition count it was started with:
    Spark restores ``spark.sql.shuffle.partitions`` from the offset log, so
    a buffered query started at 8 partitions and restarted under a session
    set to 4 still runs 8 state partitions, and its output equals batch
    ``match_sequence`` with no row emitted twice."""
    import random
    import time as _time
    from datetime import datetime, timedelta

    import pandas as pd

    from rtfproc_spark.operators.cep import match_sequence, match_sequence_stream

    rng = random.Random(29)
    t0 = datetime(2024, 1, 1)
    pdf = pd.DataFrame(
        sorted(
            (
                (i, rng.randrange(6), rng.choice("ABCx"),
                 t0 + timedelta(seconds=rng.randrange(5400)))
                for i in range(300)
            ),
            key=lambda r: (r[3], r[0]),
        ),
        columns=["event_id", "user_id", "event_type", "ts"],
    )
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    src = tmp_path / "src"
    src.mkdir()
    now = _time.time()

    def put(idx, chunk):
        p = str(src / f"part-{idx}.parquet")
        chunk.to_parquet(p, index=False)
        os.utime(p, (now + idx, now + idx))

    n = len(pdf)
    put(0, pdf.iloc[: n // 3])
    put(1, pdf.iloc[n // 3 : 2 * n // 3])

    def run(parts):
        spark.conf.set("spark.sql.shuffle.partitions", str(parts))
        stream = (
            spark.readStream.schema(
                "event_id long, user_id long, event_type string, ts timestamp"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        out = match_sequence_stream(
            stream, ["A", "B", "C"], key_col="user_id",
            within="15 minutes", watermark="20 minutes", ordered=False,
        )
        q = (
            out.writeStream.format("parquet")
            .option("path", str(tmp_path / "out"))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {
            op.numShufflePartitions
            for p in q.recentProgress for op in p.stateOperators
        }

    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        assert run(8) == {8}
        # the rest of the events, and a far-future event that drains the
        # buffer, arrive while the query is stopped
        noise = pd.DataFrame(
            [(9_999, 99, "x", pdf["ts"].max() + pd.Timedelta("2 hours"))],
            columns=pdf.columns,
        ).astype(pdf.dtypes)
        put(2, pd.concat([pdf.iloc[2 * n // 3 :], noise], ignore_index=True))
        assert run(4) == {8}
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)

    cols = ["user_id", "ts_1", "id_1", "ts_2", "id_2", "ts_3", "id_3"]
    got = [
        tuple(r)
        for r in spark.read.parquet(str(tmp_path / "out")).select(*cols).collect()
    ]
    steps = [F.col("event_type") == s for s in "ABC"]
    want = {
        tuple(r)
        for r in match_sequence(
            spark.createDataFrame(pdf), steps, ["user_id"], within="15 minutes"
        ).select(*cols).collect()
    }
    assert want, "test corpus must produce completed matches"
    assert len(got) == len(set(got))
    assert set(got) == want


def test_match_sequence_stream_out_of_order_poison_and_optional(spark, tmp_path):
    """Interaction pin for ordered=False: a LATE forbidden event (within
    the watermark) must still kill the match, and a late optional-step
    candidate must still be taken — both exactly as batch computes them.
    The in-order mode would process the poison after the match already
    emitted and the optional after its closer already bound."""
    import time as _time

    import pandas as pd

    from rtfproc_spark.operators.cep import (
        CountBetween,
        match_sequence,
        match_sequence_stream,
    )

    t0 = pd.Timestamp("2024-01-01 00:00:00")
    m = lambda mins: t0 + pd.Timedelta(minutes=mins)  # noqa: E731

    def mk(rows):
        pdf = pd.DataFrame(
            rows, columns=["event_id", "user_id", "event_type", "ts"]
        )
        pdf["ts"] = pd.to_datetime(pdf["ts"]).astype("datetime64[us]")
        return pdf

    # key 1: A@0 .. C@10, with a LATE poison E@5 in a later file -> killed
    # key 2: A@0, C@8 arrive first; late B@4 arrives after -> B? taken
    # key 3: clean A@0 B@2 C@6 with one D between -> survives, n_d = 1
    files = [
        mk([(1, 1, "A", m(0)), (3, 1, "C", m(10)),
            (10, 2, "A", m(0)), (12, 2, "C", m(8)),
            (20, 3, "A", m(0)), (21, 3, "B", m(2)),
            (22, 3, "D", m(4)), (23, 3, "C", m(6))]),
        mk([(2, 1, "E", m(5)), (11, 2, "B", m(4))]),  # the late arrivals
        mk([(99, 9, "noise", m(120))]),               # watermark flush
    ]
    src = tmp_path / "src"
    src.mkdir()
    now = _time.time()
    for f, pdf in enumerate(files):
        p = str(src / f"part-{f}.parquet")
        pdf.to_parquet(p, index=False)
        os.utime(p, (now + f, now + f))

    spec = CountBetween(
        pred=F.col("event_type") == "D", value="D",
        lo_step=1, hi_step=3, min_n=0, max_n=1, name="d",
    )
    cols = ["user_id", "id_1", "id_2", "id_3", "n_d"]
    all_pdf = pd.concat(files, ignore_index=True)
    want = sorted(
        tuple(r[c] for c in cols)
        for r in match_sequence(
            spark.createDataFrame(all_pdf),
            [F.col("event_type") == s for s in ("A", "B", "C")],
            ["user_id"],
            within="15 minutes",
            optional_steps={2},
            forbid=F.col("event_type") == "E",
            counts=[spec],
        ).collect()
    )
    # key 1 killed by the poison; key 2 takes the late B; key 3 clean
    assert [w[0] for w in want] == [2, 3]

    stream = (
        spark.readStream.schema(
            "event_id long, user_id long, event_type string, ts timestamp"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = match_sequence_stream(
        stream,
        ["A", "B", "C"],
        key_col="user_id",
        within="15 minutes",
        watermark="30 minutes",
        forbid_value="E",
        optional_steps={2},
        counts=[spec],
        ordered=False,
    )
    q = (
        out.writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(
        tuple(r[c] for c in cols)
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    )
    assert got == want


def test_streaming_contamination_matches_batch(spark, tmp_path):
    """Decontamination on an INGESTION STREAM: per-doc n-gram hit counts
    are row-local (one doc per row), so applying contamination_hits inside
    foreachBatch against the static eval set yields exactly the batch
    result across micro-batches — the shape a 100 TB ingest pipeline runs
    (static broadcast eval side, streaming corpus side)."""
    import time as _time

    import pandas as pd

    from rtfproc_spark.functions.text import contamination_hits

    eval_df = spark.createDataFrame(
        [("alpha beta gamma delta epsilon zeta",)], "text string"
    )
    docs = pd.DataFrame(
        {
            "doc_id": range(6),
            "text": [
                "alpha beta gamma delta epsilon zeta leaked here",  # hit
                "totally unrelated words in this document",
                "prefix alpha beta gamma delta epsilon suffix",      # hit
                "another clean one",
                "alpha beta gamma nope delta",                       # no 4-gram
                "x",
            ],
        }
    )
    src = tmp_path / "src"
    src.mkdir()
    now = _time.time()
    for i in range(3):
        p = str(src / f"part-{i}.parquet")
        docs.iloc[i * 2 : (i + 1) * 2].to_parquet(p, index=False)
        os.utime(p, (now + i, now + i))

    want = {
        r["doc_id"]: (r["n_contaminated_grams"], r["contaminated"])
        for r in contamination_hits(
            spark.createDataFrame(docs), eval_df, n=4
        ).collect()
    }
    assert want[0][1] and want[2][1] and not want[4][1]

    out = tmp_path / "out"

    def fb(batch_df, batch_id):
        contamination_hits(batch_df, eval_df, n=4).write.mode("append").parquet(
            str(out)
        )

    q = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .writeStream.foreachBatch(fb)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        r["doc_id"]: (r["n_contaminated_grams"], r["contaminated"])
        for r in spark.read.parquet(str(out)).collect()
    }
    assert got == want


def test_match_sequence_stream_skip_past_last_equals_batch(spark, tmp_path):
    """Streaming AFTER MATCH SKIP PAST LAST ROW: the greedy non-overlap
    marker lives in state (v2 header) and must carry across micro-batch
    boundaries — emitted rows equal the batch operator's greedy set on the
    same 4-batch replay."""
    import random
    import time as _time
    from datetime import datetime, timedelta

    import pandas as pd

    from rtfproc_spark.operators.cep import match_sequence, match_sequence_stream

    rng = random.Random(61)
    t0 = datetime(2024, 1, 1)
    rows = sorted(
        (
            (i, rng.randrange(4),
             rng.choice(["view", "click", "purchase", "noise"]),
             t0 + timedelta(seconds=rng.randrange(7200)))
            for i in range(600)
        ),
        key=lambda r: (r[3], r[0]),
    )
    pdf = pd.DataFrame(rows, columns=["event_id", "user_id", "event_type", "ts"])
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    src = tmp_path / "src"
    src.mkdir()
    now = _time.time()
    n = len(pdf)
    for f in range(4):
        p = str(src / f"part-{f}.parquet")
        pdf.iloc[f * n // 4 : (f + 1) * n // 4].to_parquet(p, index=False)
        os.utime(p, (now + f, now + f))

    cols = ["user_id", "ts_1", "id_1", "ts_2", "id_2", "ts_3", "id_3"]
    steps = [F.col("event_type") == s for s in ("view", "click", "purchase")]
    batch_df = spark.createDataFrame(pdf)
    want = {
        tuple(r)
        for r in match_sequence(
            batch_df, steps, ["user_id"], within="15 minutes",
            after_match="skip_past_last",
        ).select(*cols).collect()
    }
    base_n = match_sequence(
        batch_df, steps, ["user_id"], within="15 minutes"
    ).count()
    assert 0 < len(want) < base_n  # the greedy strategy must actually bite

    stream = (
        spark.readStream.schema(
            "event_id long, user_id long, event_type string, ts timestamp"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = match_sequence_stream(
        stream,
        ["view", "click", "purchase"],
        key_col="user_id",
        within="15 minutes",
        after_match="skip_past_last",
    )
    sink, ckpt = tmp_path / "out", tmp_path / "ckpt"
    q = (
        out.writeStream.format("parquet")
        .option("path", str(sink))
        .option("checkpointLocation", str(ckpt))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        tuple(r[c] for c in cols)
        for r in spark.read.parquet(str(sink)).collect()
    }
    assert got == want


def test_match_sequence_stream_skip_to_last_equals_batch(spark, tmp_path):
    """Streaming AFTER MATCH SKIP TO LAST <var>: the inclusive resume
    point (the row bound to the target step) carries in the state header
    across micro-batch boundaries — emitted rows equal the batch
    operator's set on the same 4-batch replay, for a plain-step target
    AND a LoopStep target (resume at the loop's last bound hop)."""
    import random
    import time as _time
    from datetime import datetime, timedelta

    import pandas as pd

    from rtfproc_spark.operators.cep import (
        LoopStep, match_sequence, match_sequence_stream,
    )

    rng = random.Random(67)
    t0 = datetime(2024, 1, 1)
    rows = sorted(
        (
            (i, rng.randrange(4),
             rng.choice(["view", "click", "purchase", "noise"]),
             t0 + timedelta(seconds=rng.randrange(7200)))
            for i in range(600)
        ),
        key=lambda r: (r[3], r[0]),
    )
    pdf = pd.DataFrame(rows, columns=["event_id", "user_id", "event_type", "ts"])
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    src = tmp_path / "src"
    src.mkdir()
    now = _time.time()
    n = len(pdf)
    for f in range(4):
        p = str(src / f"part-{f}.parquet")
        pdf.iloc[f * n // 4 : (f + 1) * n // 4].to_parquet(p, index=False)
        os.utime(p, (now + f, now + f))
    batch_df = spark.createDataFrame(pdf)

    def replay(stream_kwargs, tag):
        stream = (
            spark.readStream.schema(
                "event_id long, user_id long, event_type string, ts timestamp"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        out = match_sequence_stream(
            stream, key_col="user_id", within="15 minutes", **stream_kwargs
        )
        sink, ckpt = tmp_path / f"out_{tag}", tmp_path / f"ckpt_{tag}"
        q = (
            out.writeStream.format("parquet")
            .option("path", str(sink))
            .option("checkpointLocation", str(ckpt))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.read.parquet(str(sink))

    # plain-step target: resume at the click row
    steps = [F.col("event_type") == s for s in ("view", "click", "purchase")]
    cols = ["user_id", "ts_1", "id_1", "ts_2", "id_2", "ts_3", "id_3"]
    want = {
        tuple(r)
        for r in match_sequence(
            batch_df, steps, ["user_id"], within="15 minutes",
            after_match="skip_to_last:2",
        ).select(*cols).collect()
    }
    greedy_n = match_sequence(
        batch_df, steps, ["user_id"], within="15 minutes",
        after_match="skip_past_last",
    ).count()
    base_n = match_sequence(
        batch_df, steps, ["user_id"], within="15 minutes"
    ).count()
    # the inclusive click-row resume must differ from BOTH neighbors
    assert greedy_n < len(want) < base_n
    got = {
        tuple(r[c] for c in cols)
        for r in replay(
            dict(
                step_values=["view", "click", "purchase"],
                after_match="skip_to_last:2",
            ),
            "plain",
        ).collect()
    }
    assert got == want

    # LoopStep target: view click+ purchase, resume at the last click hop
    lp_b = LoopStep(
        pred=F.col("event_type") == "click", value="click",
        min_n=1, bind=True, name="c",
    )
    lsteps = [F.col("event_type") == "view", lp_b, F.col("event_type") == "purchase"]
    lcols = [
        "user_id", "ts_1", "id_1", "n_c",
        "first_c_ts", "first_c_id", "last_c_ts", "last_c_id",
        "ts_3", "id_3",
    ]
    lwant = {
        tuple(r)
        for r in match_sequence(
            batch_df, lsteps, ["user_id"], within="15 minutes",
            after_match="skip_to_last:2",
        ).select(*lcols).collect()
    }
    assert lwant
    lgot = {
        tuple(r[c] for c in lcols)
        for r in replay(
            dict(step_values=["view", lp_b, "purchase"],
                 after_match="skip_to_last:2"),
            "loop",
        ).collect()
    }
    assert lgot == lwant


def test_match_sequence_stream_buffered_random_shuffle_equals_batch(spark, tmp_path):
    """Adversarial ordering for ordered=False: the 600-event corpus is
    dealt RANDOMLY across micro-batch files (disorder up to the full 2h
    span, all within the 3h watermark), quantifiers on. The buffered mode
    must still emit exactly the batch operator's rows — the strongest
    form of the watermark-semantics claim."""
    import random
    import time as _time
    from datetime import datetime, timedelta

    import pandas as pd

    from rtfproc_spark.operators.cep import (
        CountBetween,
        match_sequence,
        match_sequence_stream,
    )

    rng = random.Random(83)
    t0 = datetime(2024, 1, 1)
    rows = [
        (
            i,
            rng.randrange(5),
            rng.choice(["view", "click", "purchase", "error", "noise"]),
            t0 + timedelta(seconds=rng.randrange(7200)),
        )
        for i in range(600)
    ]
    rng.shuffle(rows)  # arbitrary arrival order, unrelated to event time
    rows.append((9999, 99, "noise", t0 + timedelta(hours=8)))  # wm flush
    pdf = pd.DataFrame(rows, columns=["event_id", "user_id", "event_type", "ts"])
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    src = tmp_path / "src"
    src.mkdir()
    now = _time.time()
    n = len(pdf)
    for f in range(4):
        p = str(src / f"part-{f}.parquet")
        pdf.iloc[f * n // 4 : (f + 1) * n // 4].to_parquet(p, index=False)
        os.utime(p, (now + f, now + f))

    spec = CountBetween(
        pred=F.col("event_type") == "error", value="error",
        lo_step=1, hi_step=3, min_n=0, max_n=1, name="err",
    )
    cols = ["user_id", "ts_1", "id_1", "ts_2", "id_2", "ts_3", "id_3", "n_err"]
    want = {
        tuple(r)
        for r in match_sequence(
            spark.createDataFrame(pdf),
            [F.col("event_type") == s for s in ("view", "click", "purchase")],
            ["user_id"],
            within="15 minutes",
            optional_steps={2},
            counts=[spec],
        ).select(*cols).collect()
    }
    assert want

    stream = (
        spark.readStream.schema(
            "event_id long, user_id long, event_type string, ts timestamp"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = match_sequence_stream(
        stream,
        ["view", "click", "purchase"],
        key_col="user_id",
        within="15 minutes",
        watermark="3 hours",
        optional_steps={2},
        counts=[spec],
        ordered=False,
    )
    sink, ckpt = tmp_path / "out", tmp_path / "ckpt"
    q = (
        out.writeStream.format("parquet")
        .option("path", str(sink))
        .option("checkpointLocation", str(ckpt))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        tuple(r[c] for c in cols)
        for r in spark.read.parquet(str(sink)).collect()
    }
    assert got == want


def test_read_sink_map_column_analyzes(spark, tmp_path):
    """ADVICE r5: the in-batch payload-hash tiebreak must skip columns
    xxhash64 rejects (MapType, at any nesting depth) so the merge still
    analyzes on any schema."""
    out = str(tmp_path / "out")
    sink = IdempotentSink(out, keys=["k"])
    df = spark.createDataFrame(
        [(1, "a", {"x": 1}), (1, "b", {"x": 2}), (2, "c", {"y": 3})],
        "k long, v string, m map<string,int>",
    )
    sink.foreach_batch(df.repartition(2), 0)
    picks = set()
    for _ in range(2):
        rows = {r["k"]: r["v"] for r in read_sink(spark, out, keys=["k"]).collect()}
        assert rows[2] == "c"
        picks.add(rows[1])
    # hashable column v still tiebreaks deterministically
    assert len(picks) == 1


def test_match_sequence_stream_alternation_binding_equals_batch(spark, tmp_path):
    """Round-6 surface in the stream twin: alternation step (tuple of
    literals -> branch_k) and binding CountBetween (first/last hop
    measures, v3 state codec) must emit exactly the batch operator's rows
    across a real 4-micro-batch replay."""
    import random
    import time as _time
    from datetime import datetime, timedelta

    import pandas as pd

    from rtfproc_spark.operators.cep import (
        CountBetween,
        match_sequence,
        match_sequence_stream,
    )

    rng = random.Random(60)
    t0 = datetime(2024, 1, 1)
    rows = sorted(
        (
            (
                i,
                rng.randrange(5),
                rng.choice(
                    ["view", "click", "addcart", "purchase", "error", "noise"]
                ),
                t0 + timedelta(seconds=rng.randrange(7200)),
            )
            for i in range(600)
        ),
        key=lambda r: (r[3], r[0]),
    )
    pdf = pd.DataFrame(rows, columns=["event_id", "user_id", "event_type", "ts"])
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    src = tmp_path / "src"
    src.mkdir()
    now = _time.time()
    n = len(pdf)
    for f in range(4):
        p = str(src / f"part-{f}.parquet")
        pdf.iloc[f * n // 4 : (f + 1) * n // 4].to_parquet(p, index=False)
        os.utime(p, (now + f, now + f))

    spec = CountBetween(
        pred=F.col("event_type") == "error",
        value="error",
        lo_step=1,
        hi_step=3,
        min_n=0,
        max_n=2,
        name="err",
        bind=True,
    )
    cols = [
        "user_id", "ts_1", "id_1", "ts_2", "id_2", "branch_2", "ts_3",
        "id_3", "n_err", "first_err_ts", "first_err_id", "last_err_ts",
        "last_err_id",
    ]
    batch_df = spark.createDataFrame(pdf)
    want_all = {
        tuple(r)
        for r in match_sequence(
            batch_df,
            [
                F.col("event_type") == "view",
                [F.col("event_type") == "click", F.col("event_type") == "addcart"],
                F.col("event_type") == "purchase",
            ],
            ["user_id"],
            within="15 minutes",
            counts=[spec],
        )
        .select(*cols)
        .collect()
    }
    branches = {r[5] for r in want_all}
    assert branches == {0, 1}, "both alternation branches must occur"
    assert any(r[8] > 0 for r in want_all), "binding loop must bind somewhere"
    assert any(
        r[8] > 0 and r[9] is not None and r[11] is not None for r in want_all
    )

    stream = (
        spark.readStream.schema(
            "event_id long, user_id long, event_type string, ts timestamp"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = match_sequence_stream(
        stream,
        ["view", ("click", "addcart"), "purchase"],
        key_col="user_id",
        within="15 minutes",
        counts=[spec],
    )
    sink, ckpt = tmp_path / "out", tmp_path / "ckpt"
    q = (
        out.writeStream.format("parquet")
        .option("path", str(sink))
        .option("checkpointLocation", str(ckpt))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        tuple(r[c] for c in cols) for r in spark.read.parquet(str(sink)).collect()
    }
    assert got == want_all


def test_rocksdb_buffered_cep_state_metrics(tmp_path):
    """VERDICT r5 #7: the ordered=False buffered CEP mode under the
    RocksDB state-store provider — the configuration a continuous
    production job runs (state spills to disk instead of the executor
    heap). Pins: (1) same matches as the default provider / batch, (2)
    the query's stateOperators progress reports nonzero state rows and
    bytes (the binary codec's footprint is observable), (3) RocksDB
    files actually land in the checkpoint."""
    import time as _time

    import pandas as pd

    from rtfproc_spark.operators.cep import match_sequence_stream
    from rtfproc_spark.session import get_spark

    s = get_spark(
        "rocks-cep", master="local[2]", shuffle_partitions=2,
        streaming_rocksdb=True,
    )
    try:
        t0 = pd.Timestamp("2024-01-01 00:00:00")

        def mk(rows):
            pdf = pd.DataFrame(
                rows, columns=["event_id", "user_id", "event_type", "ts"]
            )
            pdf["ts"] = pd.to_datetime(pdf["ts"]).astype("datetime64[us]")
            return pdf

        files = [
            mk([(1, 7, "A", t0),
                (3, 7, "C", t0 + pd.Timedelta("10 minutes"))]),
            # late B within the watermark — only the buffered mode finds it
            mk([(2, 7, "B", t0 + pd.Timedelta("5 minutes"))]),
            mk([(99, 8, "noise", t0 + pd.Timedelta("2 hours"))]),
        ]
        src = tmp_path / "src"
        src.mkdir()
        now = _time.time()
        for f, pdf in enumerate(files):
            p = str(src / f"part-{f}.parquet")
            pdf.to_parquet(p, index=False)
            os.utime(p, (now + f, now + f))

        stream = (
            s.readStream.schema(
                "event_id long, user_id long, event_type string, ts timestamp"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        out = match_sequence_stream(
            stream,
            ["A", "B", "C"],
            key_col="user_id",
            within="15 minutes",
            watermark="30 minutes",
            ordered=False,
        )
        sink, ckpt = tmp_path / "out", tmp_path / "ckpt"
        q = (
            out.writeStream.format("parquet")
            .option("path", str(sink))
            .option("checkpointLocation", str(ckpt))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        import json as _json

        progress = [
            _json.loads(p.json) if hasattr(p, "json") else p
            for p in q.recentProgress
        ]
        rows = s.read.parquet(str(sink)).collect()
        assert [
            (r["user_id"], r["id_1"], r["id_2"], r["id_3"]) for r in rows
        ] == [(7, 1, 2, 3)]
        # state metrics: some micro-batch must report buffered state rows
        # and a nonzero state size under the RocksDB provider
        ops = [op for p in progress for op in (p.get("stateOperators") or [])]
        assert ops, "no stateOperators progress recorded"
        assert any(op.get("numRowsTotal", 0) > 0 for op in ops)
        assert any(
            op.get("stateMemory", 0) > 0 or op.get("memoryUsedBytes", 0) > 0
            for op in ops
        ), ops
        rocks_files = [
            f
            for p, _, fs in os.walk(str(ckpt))
            for f in fs
            if f.endswith(".sst") or f.endswith(".zip") or f == "CURRENT"
        ]
        assert rocks_files, "RocksDB state files not found in checkpoint"
    finally:
        s.stop()


def test_match_sequence_stream_session_gap_equals_batch(spark, tmp_path):
    """Streaming twin of match_sequence_sessionized (round-6): patterns
    bounded by a session GAP instead of a fixed window, on the buffered
    out-of-order mode. Pins: (1) complete-within-session matches with the
    batch labeler's session_id ordinals, (2) a pattern broken by a session
    split emits nothing, (3) a LATE keepalive (non-vocabulary event,
    within the watermark) BRIDGES a would-be split exactly as the batch
    labeler sees it."""
    import time as _time

    import pandas as pd

    from rtfproc_spark.operators.cep import (
        match_sequence,
        match_sequence_sessionized,
        match_sequence_stream,
    )

    t0 = pd.Timestamp("2024-01-01 00:00:00")
    m = lambda mins: t0 + pd.Timedelta(minutes=mins)  # noqa: E731

    def mk(rows):
        pdf = pd.DataFrame(
            rows, columns=["event_id", "user_id", "event_type", "ts"]
        )
        pdf["ts"] = pd.to_datetime(pdf["ts"]).astype("datetime64[us]")
        return pdf

    files = [
        # key 1: clean match inside session 1
        # key 2: A@0 | >10min gap | C@20 A@21 C@26 -> match in SESSION 2
        # key 3: A@0 ... C@14 — a split at 10min UNLESS the late noise@7
        #        (file 2) bridges it
        mk([(1, 1, "A", m(0)), (2, 1, "C", m(5)),
            (10, 2, "A", m(0)), (11, 2, "C", m(20)),
            (12, 2, "A", m(21)), (13, 2, "C", m(26)),
            (20, 3, "A", m(0)), (21, 3, "C", m(14))]),
        mk([(22, 3, "noise", m(7))]),        # the late keepalive
        mk([(99, 9, "noise", m(120))]),      # watermark flush
    ]
    src = tmp_path / "src"
    src.mkdir()
    now = _time.time()
    for f, pdf in enumerate(files):
        p = str(src / f"part-{f}.parquet")
        pdf.to_parquet(p, index=False)
        os.utime(p, (now + f, now + f))

    all_pdf = pd.concat(files, ignore_index=True)
    cols = ["user_id", "session_id", "id_1", "id_2"]
    want = sorted(
        tuple(r[c] for c in cols)
        for r in match_sequence_sessionized(
            spark.createDataFrame(all_pdf),
            [F.col("event_type") == "A", F.col("event_type") == "C"],
            ["user_id"],
            gap="10 minutes",
        ).collect()
    )
    # sanity on the batch semantics themselves: key 1 sess 1, key 2 sess 2,
    # key 3 bridged by the keepalive
    assert want == [(1, 1, 1, 2), (2, 2, 12, 13), (3, 1, 20, 21)]

    stream = (
        spark.readStream.schema(
            "event_id long, user_id long, event_type string, ts timestamp"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = match_sequence_stream(
        stream,
        ["A", "C"],
        key_col="user_id",
        within="3650 days",
        watermark="30 minutes",
        ordered=False,
        session_gap="10 minutes",
    )
    sink, ckpt = tmp_path / "out", tmp_path / "ckpt"
    q = (
        out.writeStream.format("parquet")
        .option("path", str(sink))
        .option("checkpointLocation", str(ckpt))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(
        tuple(r[c] for c in cols)
        for r in spark.read.parquet(str(sink)).collect()
    )
    assert got == want
    # session_gap demands the buffered mode
    import pytest as _pytest

    with _pytest.raises(ValueError, match="ordered=False"):
        match_sequence_stream(
            stream, ["A", "C"], key_col="user_id", session_gap="10 minutes"
        )


def test_session_gap_ordinal_survives_drain_and_restart(spark, tmp_path):
    """The session ordinal must count from the key's FIRST event ever,
    like the batch labeler: after a match completes and all state drains,
    a later session's match must carry session_id 2 — through a real
    query RESTART between the sessions (v4 cursor through the
    checkpoint)."""
    import time as _time

    import pandas as pd

    from rtfproc_spark.operators.cep import (
        match_sequence_sessionized,
        match_sequence_stream,
    )

    t0 = pd.Timestamp("2024-01-01 00:00:00")
    m = lambda mins: t0 + pd.Timedelta(minutes=mins)  # noqa: E731

    def mk(rows):
        pdf = pd.DataFrame(
            rows, columns=["event_id", "user_id", "event_type", "ts"]
        )
        pdf["ts"] = pd.to_datetime(pdf["ts"]).astype("datetime64[us]")
        return pdf

    src = tmp_path / "src"
    src.mkdir()
    now = _time.time()

    def put(idx, pdf):
        p = str(src / f"part-{idx}.parquet")
        pdf.to_parquet(p, index=False)
        os.utime(p, (now + idx, now + idx))

    def run():
        stream = (
            spark.readStream.schema(
                "event_id long, user_id long, event_type string, ts timestamp"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        out = match_sequence_stream(
            stream, ["A", "C"], key_col="user_id",
            within="3650 days", watermark="10 minutes",
            ordered=False, session_gap="10 minutes",
        )
        q = (
            out.writeStream.format("parquet")
            .option("path", str(tmp_path / "out"))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # run 1: session 1 completes AND is fully drained (the wm-advancing
    # event is 25min past C@5, so the session closes and in-flight state
    # empties — only the cursor survives)
    put(0, mk([(1, 7, "A", m(0)), (2, 7, "C", m(5))]))
    put(1, mk([(50, 8, "noise", m(30))]))
    run()
    rows1 = spark.read.parquet(str(tmp_path / "out")).collect()
    assert [(r["user_id"], r["session_id"], r["id_1"], r["id_2"])
            for r in rows1] == [(7, 1, 1, 2)]
    # run 2 (RESTART): session 2 for the same key
    put(2, mk([(3, 7, "A", m(40)), (4, 7, "C", m(45))]))
    put(3, mk([(51, 8, "noise", m(70))]))
    run()
    got = sorted(
        (r["user_id"], r["session_id"], r["id_1"], r["id_2"])
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    )
    # batch twin agrees on the ordinals
    all_pdf = pd.concat(
        [mk([(1, 7, "A", m(0)), (2, 7, "C", m(5)),
             (3, 7, "A", m(40)), (4, 7, "C", m(45)),
             (50, 8, "noise", m(30)), (51, 8, "noise", m(70))])],
        ignore_index=True,
    )
    want = sorted(
        (r["user_id"], r["session_id"], r["id_1"], r["id_2"])
        for r in match_sequence_sessionized(
            spark.createDataFrame(all_pdf),
            [F.col("event_type") == "A", F.col("event_type") == "C"],
            ["user_id"], gap="10 minutes",
        ).collect()
    )
    assert got == want == [(7, 1, 1, 2), (7, 2, 3, 4)]


def test_session_gap_with_forbid_and_counts_equals_batch(spark, tmp_path):
    """Session bounding composes with negation and count quantifiers: a
    poison or counted event in a LATER session must not affect a match in
    an earlier one, exactly as the batch sessionized matcher (which folds
    session_id into the key) computes it."""
    import time as _time

    import pandas as pd

    from rtfproc_spark.operators.cep import (
        CountBetween,
        match_sequence_sessionized,
        match_sequence_stream,
    )

    t0 = pd.Timestamp("2024-01-01 00:00:00")
    m = lambda mins: t0 + pd.Timedelta(minutes=mins)  # noqa: E731

    def mk(rows):
        pdf = pd.DataFrame(
            rows, columns=["event_id", "user_id", "event_type", "ts"]
        )
        pdf["ts"] = pd.to_datetime(pdf["ts"]).astype("datetime64[us]")
        return pdf

    # key 1: A@0 E@2 C@5 | gap | X@20 E@21 — the later session's poison X
    #        and error E must NOT kill/count into session 1's match (n=1)
    # key 2: A@0 X@2 C@5 — poison INSIDE the session kills it
    # key 3: A@0 E@1 E@2 E@3 C@6 — count 3 > max 2 -> dropped
    all_rows = [
        (1, 1, "A", m(0)), (2, 1, "E", m(2)), (3, 1, "C", m(5)),
        (4, 1, "X", m(20)), (5, 1, "E", m(21)),
        (10, 2, "A", m(0)), (11, 2, "X", m(2)), (12, 2, "C", m(5)),
        (20, 3, "A", m(0)), (21, 3, "E", m(1)), (22, 3, "E", m(2)),
        (23, 3, "E", m(3)), (24, 3, "C", m(6)),
        (99, 9, "noise", m(120)),
    ]
    files = [mk(all_rows[:7]), mk(all_rows[7:13]), mk(all_rows[13:])]
    src = tmp_path / "src"
    src.mkdir()
    now = _time.time()
    for f, pdf in enumerate(files):
        p = str(src / f"part-{f}.parquet")
        pdf.to_parquet(p, index=False)
        os.utime(p, (now + f, now + f))

    spec = CountBetween(
        pred=F.col("event_type") == "E", value="E",
        lo_step=1, hi_step=2, min_n=0, max_n=2, name="err",
    )
    cols = ["user_id", "session_id", "id_1", "id_2", "n_err"]
    want = sorted(
        tuple(r[c] for c in cols)
        for r in match_sequence_sessionized(
            spark.createDataFrame(mk(all_rows)),
            [F.col("event_type") == "A", F.col("event_type") == "C"],
            ["user_id"], gap="10 minutes",
            forbid=F.col("event_type") == "X",
            counts=[spec],
        ).collect()
    )
    assert want == [(1, 1, 1, 3, 1)]  # only key 1 survives

    stream = (
        spark.readStream.schema(
            "event_id long, user_id long, event_type string, ts timestamp"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = match_sequence_stream(
        stream, ["A", "C"], key_col="user_id",
        within="3650 days", watermark="30 minutes",
        ordered=False, session_gap="10 minutes",
        forbid_value="X", counts=[spec],
    )
    sink, ckpt = tmp_path / "out", tmp_path / "ckpt"
    q = (
        out.writeStream.format("parquet")
        .option("path", str(sink))
        .option("checkpointLocation", str(ckpt))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(
        tuple(r[c] for c in cols)
        for r in spark.read.parquet(str(sink)).collect()
    )
    assert got == want


def test_session_gap_random_shuffle_equals_batch(spark, tmp_path):
    """Adversarial ordering for session_gap mode: a 500-event random
    clickstream (including non-vocabulary keepalives that decide session
    boundaries) is dealt RANDOMLY across micro-batch files. The stream
    must emit exactly the batch sessionized matcher's rows — session_id
    ordinals included — under arbitrary within-watermark disorder."""
    import random
    import time as _time
    from datetime import datetime, timedelta

    import pandas as pd

    from rtfproc_spark.operators.cep import (
        match_sequence_sessionized,
        match_sequence_stream,
    )

    rng = random.Random(29)
    t0 = datetime(2024, 1, 1)
    rows = []
    # clustered timelines per user so real session structure emerges:
    # bursts of activity separated by quiet gaps
    i = 0
    for u in range(6):
        t = 0
        for _ in range(rng.randrange(60, 90)):
            t += rng.choice([5, 20, 60, 200, 700])  # seconds; 700 splits
            rows.append(
                (i, u,
                 rng.choice(["view", "purchase", "noise", "other"]),
                 t0 + timedelta(seconds=t))
            )
            i += 1
    rng.shuffle(rows)
    # the shuffle disorders arrival across the FULL timeline, so the
    # declared lateness must cover the whole span; the flush event sits
    # far enough out to finalize everything in the last batch
    span_s = max((r[3] - t0).total_seconds() for r in rows)
    wm_hours = int(span_s // 3600) + 1
    rows.append(
        (9999, 99, "noise", t0 + timedelta(seconds=span_s + 7200 + wm_hours * 3600))
    )
    pdf = pd.DataFrame(rows, columns=["event_id", "user_id", "event_type", "ts"])
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    src = tmp_path / "src"
    src.mkdir()
    now = _time.time()
    n = len(pdf)
    for f in range(4):
        p = str(src / f"part-{f}.parquet")
        pdf.iloc[f * n // 4 : (f + 1) * n // 4].to_parquet(p, index=False)
        os.utime(p, (now + f, now + f))

    cols = ["user_id", "session_id", "id_1", "id_2"]
    want = sorted(
        tuple(r[c] for c in cols)
        for r in match_sequence_sessionized(
            spark.createDataFrame(pdf),
            [F.col("event_type") == "view", F.col("event_type") == "purchase"],
            ["user_id"], gap="5 minutes",
        ).collect()
    )
    assert len(want) > 20 and len({w[1] for w in want}) > 2, want[:5]

    stream = (
        spark.readStream.schema(
            "event_id long, user_id long, event_type string, ts timestamp"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = match_sequence_stream(
        stream, ["view", "purchase"], key_col="user_id",
        within="3650 days", watermark=f"{wm_hours} hours",
        ordered=False, session_gap="5 minutes",
    )
    sink, ckpt = tmp_path / "out", tmp_path / "ckpt"
    q = (
        out.writeStream.format("parquet")
        .option("path", str(sink))
        .option("checkpointLocation", str(ckpt))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(
        tuple(r[c] for c in cols)
        for r in spark.read.parquet(str(sink)).collect()
    )
    assert got == want


def test_session_gap_skip_to_last_equals_batch(spark, tmp_path):
    """Composition: session_gap x AFTER MATCH SKIP TO LAST <var>. The
    stream keeps ONE resume point per key across sessions (the batch
    twin's greedy pass runs per (key, session)); the two agree because a
    session boundary is a strict time gap — every later-session anchor
    clears any earlier-session resume point. Pinned on a random
    clickstream replay, stream == batch sessionized."""
    import random
    import time as _time
    from datetime import datetime, timedelta

    import pandas as pd

    from rtfproc_spark.operators.cep import (
        match_sequence_sessionized,
        match_sequence_stream,
    )

    rng = random.Random(83)
    t0 = datetime(2024, 1, 1)
    rows = []
    i = 0
    for u in range(5):
        t = 0
        for _ in range(rng.randrange(70, 100)):
            t += rng.choice([5, 15, 40, 120, 700])
            rows.append(
                (i, u, rng.choice(["view", "click", "purchase", "noise"]),
                 t0 + timedelta(seconds=t))
            )
            i += 1
    span_s = max((r[3] - t0).total_seconds() for r in rows)
    wm_hours = int(span_s // 3600) + 1
    rows.append(
        (9999, 99, "noise",
         t0 + timedelta(seconds=span_s + 7200 + wm_hours * 3600))
    )
    pdf = pd.DataFrame(rows, columns=["event_id", "user_id", "event_type", "ts"])
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    src = tmp_path / "src"
    src.mkdir()
    now = _time.time()
    n = len(pdf)
    for f in range(4):
        p = str(src / f"part-{f}.parquet")
        pdf.iloc[f * n // 4 : (f + 1) * n // 4].to_parquet(p, index=False)
        os.utime(p, (now + f, now + f))

    steps_b = [F.col("event_type") == s for s in ("view", "click", "purchase")]
    cols = ["user_id", "session_id", "id_1", "id_2", "id_3"]
    base = match_sequence_sessionized(
        spark.createDataFrame(pdf), steps_b, ["user_id"], gap="5 minutes",
    ).count()
    want = sorted(
        tuple(r[c] for c in cols)
        for r in match_sequence_sessionized(
            spark.createDataFrame(pdf), steps_b, ["user_id"],
            gap="5 minutes", after_match="skip_to_last:2",
        ).collect()
    )
    assert 0 < len(want) < base  # the strategy must actually bite

    stream = (
        spark.readStream.schema(
            "event_id long, user_id long, event_type string, ts timestamp"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = match_sequence_stream(
        stream, ["view", "click", "purchase"], key_col="user_id",
        within="3650 days", watermark=f"{wm_hours} hours",
        ordered=False, session_gap="5 minutes",
        after_match="skip_to_last:2",
    )
    sink, ckpt = tmp_path / "out_stl", tmp_path / "ckpt_stl"
    q = (
        out.writeStream.format("parquet")
        .option("path", str(sink))
        .option("checkpointLocation", str(ckpt))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(
        tuple(r[c] for c in cols)
        for r in spark.read.parquet(str(sink)).collect()
    )
    assert got == want


def test_stream_near_dedup_matches_reference_and_replay(spark, tmp_path):
    """Streaming NEAR-dup ingestion dedup (round-6, sequential semantics
    since round-7): kept set must equal (1) an independent pure-Python
    implementation of the documented SEQUENTIAL rule — kept iff matching
    no previously KEPT doc; dropped docs never shadow — (signatures via
    the literal-pinned xxh64 twin), (2) a file-by-file batch replay of
    the same step into fresh dirs, (3) itself after a simulated
    foreachBatch REPLAY of a middle batch (idempotent publish +
    self-exclusion of the current batch id), and (4) the library's own
    pure-Python re-derivation ``near_dedup_sequential_local`` (which the
    driver oracle stages), pinned against THIS test's independent
    reference."""
    import random
    import time as _time

    import pandas as pd

    from rtfproc_spark.functions.xxh64 import spark_xxhash64
    from rtfproc_spark.streaming.dedup import (
        near_dedup_batch_step,
        near_dedup_sequential_local,
        read_kept,
        stream_near_dedup,
    )

    rng = random.Random(5)

    def mktext():
        return " ".join(f"w{rng.randrange(500)}" for _ in range(60))

    def mutate(t, positions):
        toks = t.split(" ")
        for p in positions:
            toks[p] = f"mut{p}"
        return " ".join(toks)

    base = [mktext() for _ in range(7)]
    files = [
        [(1, base[0]), (2, base[1]), (3, base[2])],
        [(10, base[0]),                      # exact cross-batch dup
         (11, base[3]),
         (12, mutate(base[3], [5])),         # in-batch near-dup of 11
         (13, base[4])],
        [(20, mutate(base[0], [10])),        # near-dup of indexed 1
         (21, base[5]),
         (22, mutate(mutate(base[3], [5]), [7, 12, 17])),  # chain case
         (23, mutate(base[3], [5])),         # copy of DROPPED 12
         (24, base[6])],
    ]

    # --- independent reference (documented rule, pure Python) ----------
    NUM, BANDS, ROWS, AGREE = 16, 4, 4, 12

    def sig(text):
        toks = text.split(" ")
        sh = list(dict.fromkeys(
            " ".join(toks[i:i + 3]) for i in range(len(toks) - 2)
        ))
        return [min(spark_xxhash64(i, s) for s in sh) for i in range(NUM)]

    def bks(s):
        return {
            spark_xxhash64(*[("long", v) for v in s[b * ROWS:(b + 1) * ROWS]])
            for b in range(BANDS)
        }

    def match(s1, b1, s2, b2):
        return bool(b1 & b2) and sum(
            x == y for x, y in zip(s1, s2)
        ) >= AGREE

    index, want_kept = [], []
    for f in files:
        # SEQUENTIAL rule: doc kept iff it matches nothing kept so far
        # (earlier batches' keepers = index, earlier keepers this batch);
        # dropped docs do NOT shadow
        for i, t in sorted(f):
            s = sig(t)
            b = bks(s)
            if not any(match(s, b, s2, b2) for s2, b2 in index):
                want_kept.append(i)
                index.append((s, b))
    # the planted relationships must actually bite
    assert 10 not in want_kept and 12 not in want_kept and 20 not in want_kept
    assert 23 not in want_kept  # copy of dropped 12 still matches kept 11
    assert {1, 2, 3, 11, 13, 21, 24} <= set(want_kept)

    # the library's pure-Python re-derivation (the driver oracle's
    # generator) must agree with this test's independent reference
    lib_kept = near_dedup_sequential_local(files)
    assert sorted(i for i, _ in lib_kept) == sorted(want_kept)
    assert {bi for _, bi in lib_kept} <= {0, 1, 2}

    # --- stream run ----------------------------------------------------
    src = tmp_path / "src"
    src.mkdir()
    now = _time.time()
    for fi, f in enumerate(files):
        pdf = pd.DataFrame(f, columns=["doc_id", "text"])
        p = str(src / f"part-{fi}.parquet")
        pdf.to_parquet(p, index=False)
        os.utime(p, (now + fi, now + fi))
    q = stream_near_dedup(
        spark,
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src)),
        str(tmp_path / "index"),
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination()
    got = sorted(
        r["doc_id"] for r in read_kept(spark, str(tmp_path / "out")).collect()
    )
    assert got == sorted(want_kept)

    # --- file-by-file batch replay of the same step --------------------
    for fi, f in enumerate(files):
        near_dedup_batch_step(
            spark,
            spark.createDataFrame(f, "doc_id long, text string"),
            fi,
            str(tmp_path / "index2"),
            str(tmp_path / "out2"),
        )
    got2 = sorted(
        r["doc_id"] for r in read_kept(spark, str(tmp_path / "out2")).collect()
    )
    assert got2 == sorted(want_kept)

    # --- replayed middle batch is idempotent ----------------------------
    near_dedup_batch_step(
        spark,
        spark.createDataFrame(files[1], "doc_id long, text string"),
        1,
        str(tmp_path / "index2"),
        str(tmp_path / "out2"),
    )
    got3 = sorted(
        r["doc_id"] for r in read_kept(spark, str(tmp_path / "out2")).collect()
    )
    assert got3 == sorted(want_kept)


def test_near_dedup_index_compaction(spark, tmp_path):
    """compact_index merges committed batch dirs without changing any
    later batch's decisions: a doc near-duplicating batch-0/1 content is
    still dropped after compaction, and the kept set matches an
    uncompacted run exactly."""
    from rtfproc_spark.streaming.dedup import (
        compact_index,
        near_dedup_batch_step,
        read_kept,
    )

    import random

    rng = random.Random(9)
    base = [" ".join(f"w{rng.randrange(400)}" for _ in range(50)) for _ in range(4)]
    files = [
        [(1, base[0]), (2, base[1])],
        [(10, base[2])],
        [(20, base[0]), (21, base[2]), (22, base[3])],  # 20, 21 drop
    ]

    def run(index_dir, out_dir, compact_after=None):
        for fi, f in enumerate(files):
            if compact_after is not None and fi == compact_after:
                n = compact_index(spark, str(tmp_path / index_dir), fi)
                assert n == 2
                dirs = [
                    d for d in os.listdir(str(tmp_path / index_dir))
                    if d.startswith("batch_id=")
                ]
                assert dirs == [f"batch_id={fi - 1}"]
            near_dedup_batch_step(
                spark,
                spark.createDataFrame(f, "doc_id long, text string"),
                fi,
                str(tmp_path / index_dir),
                str(tmp_path / out_dir),
            )
        return sorted(
            r["doc_id"]
            for r in read_kept(spark, str(tmp_path / out_dir)).collect()
        )

    plain = run("idxA", "outA")
    compacted = run("idxB", "outB", compact_after=2)
    assert plain == compacted == [1, 2, 10, 22]


def test_near_dedup_sequential_shadowing_and_chopping_invariance(spark, tmp_path):
    """The round-7 semantics fix (ADVICE): a DROPPED doc never shadows a
    later one. Planted chain X~Y, Y~Z, X!~Z (relationships verified via
    the signature math, not assumed): Y drops against X, and Z — which
    near-duplicates only the DROPPED Y — is KEPT. The old pairwise-by-
    stage1 rule dropped Z when Y and Z shared a batch. Also pins the
    corollary: the kept set is invariant to micro-batch chopping (1 batch
    vs 3 vs per-doc batches all agree)."""
    import random
    import re

    from rtfproc_spark.functions.xxh64 import spark_xxhash64
    from rtfproc_spark.streaming.dedup import (
        INDEX_SCHEMA,
        near_dedup_batch_step,
        near_dedup_sequential_local,
        read_kept,
    )

    rng = random.Random(0)
    X = " ".join(f"w{rng.randrange(500)}" for _ in range(60))

    def mutate(t, positions):
        toks = t.split(" ")
        for p in positions:
            toks[p] = f"mut{p}"
        return " ".join(toks)

    Y = mutate(X, [20])
    Z = mutate(Y, [26, 46, 53])

    # verify the planted relationships actually hold in signature space
    def sig(text):
        words = re.split(r"[ \t\n\x0B\f\r]+", text.lower().strip(" "))
        sh = list(dict.fromkeys(
            " ".join(words[i:i + 3]) for i in range(len(words) - 2)
        ))
        return [min(spark_xxhash64(s_, w) for w in sh) for s_ in range(16)]

    def bks(s):
        return {
            spark_xxhash64(*[("long", v) for v in s[b * 4:(b + 1) * 4]])
            for b in range(4)
        }

    sx, sy, sz = sig(X), sig(Y), sig(Z)

    def m(a, b):
        return bool(bks(a) & bks(b)) and sum(
            x == y for x, y in zip(a, b)
        ) >= 12

    assert m(sx, sy) and m(sy, sz) and not m(sx, sz)

    # null / empty text bypasses near-dedup: kept, never indexed
    docs = [(1, X), (2, Y), (3, Z), (4, None), (5, "")]
    choppings = [
        [docs],                            # one batch
        [[d] for d in docs],               # per-doc batches
        [docs[:2], docs[2:]],              # split before Z
        [docs[:1], docs[1:]],              # Y and Z share a batch
    ]
    for ci, batches in enumerate(choppings):
        for bi, b in enumerate(batches):
            near_dedup_batch_step(
                spark,
                spark.createDataFrame(b, "doc_id long, text string"),
                bi,
                str(tmp_path / f"idx{ci}"),
                str(tmp_path / f"out{ci}"),
            )
        got = sorted(
            r["doc_id"]
            for r in read_kept(spark, str(tmp_path / f"out{ci}")).collect()
        )
        assert got == [1, 3, 4, 5], (ci, got)
        assert sorted(
            i for i, _ in near_dedup_sequential_local(batches)
        ) == [1, 3, 4, 5]
        indexed = {
            r["id"]
            for r in spark.read.schema(INDEX_SCHEMA)
            .parquet(str(tmp_path / f"idx{ci}" / "batch_id=*"))
            .collect()
        }
        assert indexed == {1, 3}, (ci, indexed)


def test_near_dedup_degenerate_bucket_cap(spark, tmp_path):
    """The round-7 scale guard: a band bucket whose combined index+batch
    population exceeds ``max_bucket`` is excluded from candidate joins and
    from the index. Planted flood: many identical docs share every bucket
    -> with a small cap they are all ADMITTED (degrade semantics) and the
    hot bucket never enters the index; a normal near-dup pair in the same
    batch still dedups; the pure-Python re-derivation agrees; and below
    the cap the same flood dedups to one keeper."""
    import random

    from rtfproc_spark.streaming.dedup import (
        near_dedup_batch_step,
        near_dedup_sequential_local,
        read_kept,
    )

    rng = random.Random(7)
    flood = " ".join(f"f{rng.randrange(100)}" for _ in range(40))
    a = " ".join(f"w{rng.randrange(500)}" for _ in range(60))
    toks = a.split(" ")
    toks[5] = "mutA"
    a_near = " ".join(toks)
    batch = [(i, flood) for i in range(1, 11)] + [(50, a), (51, a_near)]

    # cap 5 < 10 flood docs: flood bucket degenerate -> all 10 admitted;
    # (50, 51) unaffected -> 51 drops against 50
    near_dedup_batch_step(
        spark,
        spark.createDataFrame(batch, "doc_id long, text string"),
        0,
        str(tmp_path / "idx_cap"),
        str(tmp_path / "out_cap"),
        max_bucket=5,
    )
    got = sorted(
        r["doc_id"]
        for r in read_kept(spark, str(tmp_path / "out_cap")).collect()
    )
    want = [i for i, _ in near_dedup_sequential_local([batch], max_bucket=5)]
    assert got == sorted(want)
    assert set(range(1, 11)) <= set(got)      # flood admitted (degrade)
    assert 50 in got and 51 not in got        # normal pair still dedups
    # the flood's buckets never reach the index: every index bucket's
    # population stays <= cap
    idx = spark.read.schema("bucket long, id long, sig array<bigint>").parquet(
        str(tmp_path / "idx_cap" / "batch_id=0")
    )
    from pyspark.sql import functions as SF
    assert idx.groupBy("bucket").count().agg(SF.max("count")).collect()[0][0] <= 5
    assert not set(
        r["id"] for r in idx.select("id").distinct().collect()
    ) & set(range(1, 11))

    # a LATER copy of the flood is also admitted (nothing was indexed),
    # still matching the re-derivation
    near_dedup_batch_step(
        spark,
        spark.createDataFrame([(99, flood)], "doc_id long, text string"),
        1,
        str(tmp_path / "idx_cap"),
        str(tmp_path / "out_cap"),
        max_bucket=5,
    )
    got2 = sorted(
        r["doc_id"]
        for r in read_kept(spark, str(tmp_path / "out_cap")).collect()
    )
    want2 = [
        i for i, _ in near_dedup_sequential_local(
            [batch, [(99, flood)]], max_bucket=5
        )
    ]
    assert got2 == sorted(want2) and 99 in got2

    # same flood under the default cap dedups to one keeper
    near_dedup_batch_step(
        spark,
        spark.createDataFrame(batch, "doc_id long, text string"),
        0,
        str(tmp_path / "idx_nocap"),
        str(tmp_path / "out_nocap"),
    )
    got3 = sorted(
        r["doc_id"]
        for r in read_kept(spark, str(tmp_path / "out_nocap")).collect()
    )
    assert got3 == [1, 50]


def test_near_dedup_compaction_crash_window_and_autocompact(spark, tmp_path):
    """Round-7 ADVICE fix: compact_index publishes the merged directory
    BEFORE deleting sources. Simulate the crash window (merged dir
    published, source dirs still present, plus leftover _tmp_compact /
    _old_compact debris): reads see every row exactly as before (duplicate
    index rows are harmless) and the next compaction heals the debris.
    Also: stream_near_dedup(compact_every_n_batches=) fires compaction
    inside foreachBatch and the kept set equals the uncompacted run."""
    import random
    import shutil as _sh
    import time as _time

    import pandas as pd

    from rtfproc_spark.streaming.dedup import (
        compact_index,
        near_dedup_batch_step,
        read_kept,
        stream_near_dedup,
    )

    rng = random.Random(11)
    base = [
        " ".join(f"w{rng.randrange(400)}" for _ in range(50)) for _ in range(5)
    ]
    files = [
        [(1, base[0]), (2, base[1])],
        [(10, base[2])],
        [(20, base[3])],
        [(30, base[0]), (31, base[4])],   # 30 drops vs batch-0 keeper
        [(40, base[2]), (41, base[3])],   # both drop vs compacted index
    ]

    def run_plain(idx, out):
        for fi, f in enumerate(files):
            near_dedup_batch_step(
                spark,
                spark.createDataFrame(f, "doc_id long, text string"),
                fi,
                str(tmp_path / idx),
                str(tmp_path / out),
            )
        return sorted(
            r["doc_id"] for r in read_kept(spark, str(tmp_path / out)).collect()
        )

    want = run_plain("idxP", "outP")
    assert 30 not in want and 40 not in want and 41 not in want

    # --- crash-window simulation ---------------------------------------
    idx = tmp_path / "idxC"
    for fi, f in enumerate(files[:3]):
        near_dedup_batch_step(
            spark,
            spark.createDataFrame(f, "doc_id long, text string"),
            fi,
            str(idx),
            str(tmp_path / "outC"),
        )
    # snapshot sources, compact, then RESTORE a source dir to simulate a
    # crash after publish but before source deletion — plus stale debris
    src_snapshot = tmp_path / "snap"
    _sh.copytree(idx / "batch_id=0", src_snapshot)
    n = compact_index(spark, str(idx), 3)
    assert n == 3
    _sh.copytree(src_snapshot, idx / "batch_id=0")     # crash leftover
    (idx / "_tmp_compact").mkdir()                     # stale debris
    # a stale aside WHOSE FINAL DIR EXISTS is deleted (rows live in the
    # published merge); round-8 recovery restores asides only when the
    # final dir is missing — that case is pinned in
    # test_near_dedup_compaction_midpublish_crash_recovers
    _sh.copytree(idx / "batch_id=2", idx / "_old_compact_2")
    # decisions identical despite the duplicate rows + debris
    near_dedup_batch_step(
        spark,
        spark.createDataFrame(files[3], "doc_id long, text string"),
        3,
        str(idx),
        str(tmp_path / "outC"),
    )
    # next compaction heals: only the merged dir remains afterwards
    n2 = compact_index(spark, str(idx), 4)
    assert n2 == 3  # batch_id=0 (restored), =2 (merged), =3
    near_dedup_batch_step(
        spark,
        spark.createDataFrame(files[4], "doc_id long, text string"),
        4,
        str(idx),
        str(tmp_path / "outC"),
    )
    got = sorted(
        r["doc_id"] for r in read_kept(spark, str(tmp_path / "outC")).collect()
    )
    assert got == want

    # --- auto-compaction through the real stream -----------------------
    src = tmp_path / "src_ac"
    src.mkdir()
    now = _time.time()
    for fi, f in enumerate(files):
        pdf = pd.DataFrame(f, columns=["doc_id", "text"])
        p = str(src / f"part-{fi}.parquet")
        pdf.to_parquet(p, index=False)
        os.utime(p, (now + fi, now + fi))
    q = stream_near_dedup(
        spark,
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src)),
        str(tmp_path / "idxS"),
        str(tmp_path / "outS"),
        str(tmp_path / "ckptS"),
        compact_every_n_batches=2,
    )
    q.awaitTermination()
    got_s = sorted(
        r["doc_id"] for r in read_kept(spark, str(tmp_path / "outS")).collect()
    )
    assert got_s == want
    # compaction actually fired: far fewer index dirs than batches
    dirs = [
        d for d in os.listdir(str(tmp_path / "idxS"))
        if d.startswith("batch_id=")
    ]
    assert len(dirs) <= 2, dirs


def test_near_dedup_and_semantic_dedup_reject_bad_compact_cadence():
    """No Spark: both stream dedups share one wiring, which rejects a
    ``compact_every_n_batches`` other than None or an int >= 1 before it
    touches the stream (0 would otherwise die as ZeroDivisionError inside
    foreachBatch at batch 1; a negative or fractional value would compact
    on an odd schedule)."""
    from rtfproc_spark.streaming.dedup import stream_near_dedup
    from rtfproc_spark.streaming.semdedup import stream_semantic_dedup

    for bad in (0, -2, 2.5, True, "3"):
        with pytest.raises(ValueError, match="compact_every_n_batches"):
            stream_near_dedup(
                None, None, "idx", "out", "ckpt", compact_every_n_batches=bad
            )
        with pytest.raises(ValueError, match="compact_every_n_batches"):
            stream_semantic_dedup(
                None, None, None, "idx", "out", "ckpt",
                compact_every_n_batches=bad,
            )


def test_near_dedup_compaction_midpublish_crash_recovers(spark, tmp_path):
    """Round-8 ADVICE (medium) fix: a crash BETWEEN compact_index's two
    publish renames leaves the newest committed batch's index rows only
    in ``_old_compact_K`` / ``_tmp_compact``. The old debris sweep
    deleted both before re-merging — those rows were then permanently
    gone and their near-duplicates got admitted. Now recovery RESTORES
    the aside copy whenever ``batch_id=K`` is missing, and runs before
    every index read: a near-dup of the stranded batch's doc is dropped
    immediately after the crash, and the next compaction heals cleanly."""
    import random
    import shutil as _sh

    from rtfproc_spark.streaming.dedup import (
        INDEX_SCHEMA,
        compact_index,
        near_dedup_batch_step,
        read_kept,
    )

    rng = random.Random(13)
    base = [
        " ".join(f"w{rng.randrange(400)}" for _ in range(50)) for _ in range(3)
    ]
    idx, out = tmp_path / "idx", tmp_path / "out"
    for fi, doc in enumerate(base):
        near_dedup_batch_step(
            spark,
            spark.createDataFrame([(fi * 10, doc)], "doc_id long, text string"),
            fi,
            str(idx),
            str(out),
        )
    # replay compact_index(spark, idx, 3) EXACTLY up to the crash point:
    # merged written to _tmp_compact, batch_id=2 moved aside, publish
    # rename NOT executed — batch 2's rows now live only in debris dirs
    srcs = [str(idx / f"batch_id={k}") for k in range(3)]
    spark.read.schema(INDEX_SCHEMA).parquet(*srcs).write.mode(
        "overwrite"
    ).parquet(str(idx / "_tmp_compact"))
    os.replace(str(idx / "batch_id=2"), str(idx / "_old_compact_2"))
    assert not (idx / "batch_id=2").is_dir()

    # a near-dup of the stranded batch-2 doc must STILL be dropped — the
    # index read heals the crash before deciding
    near_dedup_batch_step(
        spark,
        spark.createDataFrame([(99, base[2])], "doc_id long, text string"),
        3,
        str(idx),
        str(out),
    )
    kept = sorted(r["doc_id"] for r in read_kept(spark, str(out)).collect())
    assert kept == [0, 10, 20], kept
    assert (idx / "batch_id=2").is_dir()          # restored
    assert not (idx / "_old_compact_2").is_dir()  # consumed, not deleted
    assert not (idx / "_tmp_compact").is_dir()

    # the redone compaction merges the restored state and decisions hold
    n = compact_index(spark, str(idx), 4)
    assert n == 4  # batch_id=0,1,2 (restored) + 3
    near_dedup_batch_step(
        spark,
        spark.createDataFrame([(100, base[1])], "doc_id long, text string"),
        4,
        str(idx),
        str(out),
    )
    kept2 = sorted(r["doc_id"] for r in read_kept(spark, str(out)).collect())
    assert kept2 == [0, 10, 20], kept2


def test_cep_pattern_fuzz_small(spark):
    """Seeded slice of the randomized CEP pattern fuzzer (benchmarks/
    fuzz_cep.py): random alternation/optional/loop/count/forbid/
    skip_past_last/session-gap compositions over random event soups,
    batch (every iteration) and buffered-stream (subset) vs the clean-room
    sequential reference matcher. Full batches run per round via the CLI;
    this keeps a canary in CI."""
    from benchmarks.fuzz_cep import run_fuzz

    assert run_fuzz(8, 99, stream_every=7) == 0


def test_match_sequence_stream_final_loop_equals_batch(spark, tmp_path):
    """FINAL-position Kleene loop (``A B+`` — no closer event): emission is
    deadline-driven, so the buffered twin must emit exactly the batch
    matcher's rows once the watermark passes each anchor's horizon. Pins:
    horizon-inclusive hops, same-tick-as-anchor exclusion, the max_n cap's
    first-k selection, a min_n-short anchor emitting nothing, and the
    bind='all' id array."""
    import time as _time

    import pandas as pd
    from pyspark.sql import functions as F

    from rtfproc_spark.operators.cep import LoopStep, match_sequence, match_sequence_stream

    t0 = pd.Timestamp("2024-01-01 00:00:00")
    rows = [
        # user 7: A anchors at 0; B at +1m, +5m, +10m (exactly the horizon),
        # +11m (outside) -> n capped at 2 by max_n, ids [2, 3]
        (1, 7, "A", t0),
        (2, 7, "B", t0 + pd.Timedelta("1 minutes")),
        (3, 7, "B", t0 + pd.Timedelta("5 minutes")),
        (4, 7, "B", t0 + pd.Timedelta("10 minutes")),
        (5, 7, "B", t0 + pd.Timedelta("11 minutes")),
        # user 8: A with a same-tick B (excluded) and nothing else -> no row
        (6, 8, "A", t0),
        (7, 8, "B", t0),
        # user 9: two overlapping anchors sharing one B
        (8, 9, "A", t0),
        (9, 9, "A", t0 + pd.Timedelta("2 minutes")),
        (10, 9, "B", t0 + pd.Timedelta("4 minutes")),
    ]

    def mk(rs):
        pdf = pd.DataFrame(rs, columns=["event_id", "user_id", "event_type", "ts"])
        pdf["ts"] = pd.to_datetime(pdf["ts"]).astype("datetime64[us]")
        return pdf

    src = tmp_path / "src"
    src.mkdir()
    now = _time.time()
    chunks = [rows[:4], rows[4:8], rows[8:], [(99, 99, "noise", t0 + pd.Timedelta("3 hours"))]]
    for f, ch in enumerate(chunks):
        p = str(src / f"part-{f}.parquet")
        mk(ch).to_parquet(p, index=False)
        os.utime(p, (now + f, now + f))

    loop = LoopStep(
        pred=F.col("event_type") == "B", value="B",
        min_n=1, max_n=2, bind="all", name="b",
    )
    batch_df = spark.createDataFrame(
        mk(rows + [(99, 99, "noise", t0 + pd.Timedelta("3 hours"))])
    )
    batch = match_sequence(
        batch_df,
        steps=[F.col("event_type") == "A", loop],
        key_cols=["user_id"], within="10 minutes",
    )

    stream = (
        spark.readStream.schema(
            "event_id long, user_id long, event_type string, ts timestamp"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = match_sequence_stream(
        stream,
        ["A", loop],
        key_col="user_id",
        within="10 minutes",
        watermark="30 minutes",
        ordered=False,
    )
    q = (
        out.writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    def norm(df_rows):
        return sorted(
            (
                r["user_id"], r["id_1"], r["n_b"],
                r["first_b_id"], r["last_b_id"], tuple(r["b_ids"]),
            )
            for r in df_rows
        )

    got = norm(spark.read.parquet(str(tmp_path / "out")).collect())
    want = norm(batch.collect())
    assert got == want
    assert want == [
        (7, 1, 2, 2, 3, (2, 3)),
        (9, 8, 1, 10, 10, (10,)),
        (9, 9, 1, 10, 10, (10,)),
    ]


def test_match_sequence_stream_final_loop_session_gap_equals_batch(spark, tmp_path):
    """'A then B+ until the session ends' — FINAL loop under session-gap
    bounding, the login-followed-by-all-actions shape: the stream twin
    must close each loop at the session boundary (event-driven for the
    first session, watermark-deadline-driven for the last) and emit the
    sessionized batch matcher's rows exactly, session ordinals included."""
    import time as _time

    import pandas as pd
    from pyspark.sql import functions as F

    from rtfproc_spark.operators.cep import (
        LoopStep,
        match_sequence_sessionized,
        match_sequence_stream,
    )

    t0 = pd.Timestamp("2024-01-01 00:00:00")
    rows = [
        # session 1: A + two Bs, then quiet > 10m
        (1, 7, "A", t0),
        (2, 7, "B", t0 + pd.Timedelta("1 minutes")),
        (3, 7, "B", t0 + pd.Timedelta("4 minutes")),
        # session 2 (opens 20m later): keepalive noise holds it together
        (4, 7, "A", t0 + pd.Timedelta("24 minutes")),
        (5, 7, "noise", t0 + pd.Timedelta("30 minutes")),
        (6, 7, "B", t0 + pd.Timedelta("36 minutes")),
        # session 3: anchor with NO B -> no row
        (7, 7, "A", t0 + pd.Timedelta("60 minutes")),
        # other key, one clean session
        (8, 5, "A", t0),
        (9, 5, "B", t0 + pd.Timedelta("2 minutes")),
    ]

    def mk(rs):
        pdf = pd.DataFrame(rs, columns=["event_id", "user_id", "event_type", "ts"])
        pdf["ts"] = pd.to_datetime(pdf["ts"]).astype("datetime64[us]")
        return pdf

    src = tmp_path / "src"
    src.mkdir()
    now = _time.time()
    # key 5's t0 events ride in the FIRST file — staged later they would be
    # (correctly) watermark-dropped once key 7's 36m event advances the wm
    chunks = [rows[:3] + rows[7:], rows[3:6], [rows[6]],
              [(99, 99, "zz", t0 + pd.Timedelta("6 hours"))]]
    for f, ch in enumerate(chunks):
        p = str(src / f"part-{f}.parquet")
        mk(ch).to_parquet(p, index=False)
        os.utime(p, (now + f, now + f))

    loop = LoopStep(
        pred=F.col("event_type") == "B", value="B", min_n=1, bind=True, name="b"
    )
    batch = match_sequence_sessionized(
        spark.createDataFrame(mk(rows)),
        steps=[F.col("event_type") == "A", loop],
        key_cols=["user_id"], gap="10 minutes",
    )

    stream = (
        spark.readStream.schema(
            "event_id long, user_id long, event_type string, ts timestamp"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = match_sequence_stream(
        stream,
        ["A", loop],
        key_col="user_id",
        within="3650 days",
        watermark="30 minutes",
        ordered=False,
        session_gap="10 minutes",
    )
    q = (
        out.writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    def norm(df_rows):
        return sorted(
            (
                r["user_id"], r["session_id"], r["id_1"], r["n_b"],
                r["first_b_id"], r["last_b_id"],
            )
            for r in df_rows
        )

    got = norm(spark.read.parquet(str(tmp_path / "out")).collect())
    want = norm(batch.collect())
    assert got == want
    assert want == [
        (5, 1, 8, 1, 9, 9),
        (7, 1, 1, 2, 2, 3),
        (7, 2, 4, 1, 6, 6),
    ]


def test_match_sequence_stream_final_loop_restart(spark, tmp_path):
    """A final-loop partial (anchor + accrued hops, deadline not yet
    reached) must survive a query restart through the v5 state codec and
    emit from state alone when a later run's watermark passes its horizon."""
    import time as _time

    import pandas as pd

    from rtfproc_spark.operators.cep import LoopStep, match_sequence_stream

    t0 = pd.Timestamp("2024-01-01 00:00:00")

    def mk(rs):
        pdf = pd.DataFrame(rs, columns=["event_id", "user_id", "event_type", "ts"])
        pdf["ts"] = pd.to_datetime(pdf["ts"]).astype("datetime64[us]")
        return pdf

    src = tmp_path / "src"
    src.mkdir()
    now = _time.time()

    def put(idx, pdf):
        p = str(src / f"part-{idx}.parquet")
        pdf.to_parquet(p, index=False)
        os.utime(p, (now + idx, now + idx))

    put(0, mk([(1, 7, "A", t0), (2, 7, "B", t0 + pd.Timedelta("3 minutes"))]))
    # nudge the watermark past the events but NOT past the horizon: the
    # partial must be live (not just buffered) when run 1 ends
    put(1, mk([(3, 8, "noise", t0 + pd.Timedelta("39 minutes"))]))

    def run():
        stream = (
            spark.readStream.schema(
                "event_id long, user_id long, event_type string, ts timestamp"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        out = match_sequence_stream(
            stream,
            ["A", LoopStep(value="B", min_n=1, bind=True, name="b")],
            key_col="user_id",
            within="15 minutes",
            watermark="30 minutes",
            ordered=False,
        )
        q = (
            out.writeStream.format("parquet")
            .option("path", str(tmp_path / "out"))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run()
    assert spark.read.parquet(str(tmp_path / "out")).count() == 0
    put(2, mk([(99, 8, "noise", t0 + pd.Timedelta("3 hours"))]))
    run()
    rows = spark.read.parquet(str(tmp_path / "out")).collect()
    assert [
        (r["user_id"], r["id_1"], r["n_b"], r["first_b_id"], r["last_b_id"])
        for r in rows
    ] == [(7, 1, 1, 2, 2)]


def test_streaming_unigram_quality_gate_matches_batch(spark, tmp_path):
    """Unigram-LM quality scoring on an INGESTION STREAM: the LM is a
    train-time ARTIFACT (unigram_vocab on a static reference corpus, like
    the k-means centroids feeding ivf_assign), and scoring is doc-local
    after the broadcast vocab join — so foreachBatch over micro-batches
    reproduces the batch scorer exactly, and the capped artifact path
    agrees with the fused unigram_logprob(vocab_size=) path on the same
    reference corpus."""
    import time as _time

    import pandas as pd

    from rtfproc_spark.functions.text import (
        unigram_logprob,
        unigram_score,
        unigram_vocab,
    )

    ref = spark.createDataFrame(
        [(i, t) for i, t in enumerate(
            ["the quick brown fox", "the lazy dog sleeps", "the fox runs",
             "quick quick slow", "dog and fox and dog"]
        )],
        "doc_id long, text string",
    )
    vocab, oov_lp = unigram_vocab(ref, vocab_size=8)
    # artifact path == fused capped path on the reference corpus itself
    fused = {
        r["doc_id"]: (r["n_tokens"], r["avg_logprob"])
        for r in unigram_logprob(ref, vocab_size=8).collect()
    }
    art = {
        r["doc_id"]: (r["n_tokens"], r["avg_logprob"])
        for r in unigram_score(ref, vocab, oov_lp).collect()
    }
    assert art == fused

    # now score a STREAM of incoming docs (some OOV-heavy) vs batch
    incoming = pd.DataFrame(
        {
            "doc_id": range(100, 106),
            "text": [
                "the fox and the dog",          # fluent: common tokens
                "zxq vvw qqj",                  # gibberish: all OOV
                "quick brown dog",
                "the the the",
                "slow fox zxq",
                "dog",
            ],
        }
    )
    want = {
        r["doc_id"]: (r["n_tokens"], r["avg_logprob"])
        for r in unigram_score(
            spark.createDataFrame(incoming), vocab, oov_lp
        ).collect()
    }
    # the gate actually separates: gibberish scores strictly below fluent
    assert want[101][1] < want[100][1]

    src = tmp_path / "usrc"
    src.mkdir()
    now = _time.time()
    for i in range(3):
        p = str(src / f"part-{i}.parquet")
        incoming.iloc[i * 2 : (i + 1) * 2].to_parquet(p, index=False)
        os.utime(p, (now + i, now + i))
    out = tmp_path / "uout"

    def fb(batch_df, batch_id):
        unigram_score(batch_df, vocab, oov_lp).write.mode("append").parquet(
            str(out)
        )

    q = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .writeStream.foreachBatch(fb)
        .option("checkpointLocation", str(tmp_path / "uckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        r["doc_id"]: (r["n_tokens"], r["avg_logprob"])
        for r in spark.read.parquet(str(out)).collect()
    }
    assert got == want


def test_anchor_loop_stream_equals_batch(spark, tmp_path):
    """ANCHOR-position loop (A+ B) stream twin: the desugared pattern
    must emit exactly the batch rows across an ordered multi-file replay
    AND a shuffled buffered (ordered=False) replay — including the
    closer-inside-the-loop-vocabulary overlap (A+ A: the next loop event
    itself closes once the count suffices)."""
    import random
    import time as _time
    from datetime import datetime, timedelta

    import pandas as pd

    from rtfproc_spark.operators.cep import (
        LoopStep,
        match_sequence,
        match_sequence_stream,
    )

    rng = random.Random(9182)
    t0 = datetime(2024, 1, 1)
    rows = [
        (
            i,
            rng.randrange(8),
            rng.choice(["A", "B", "x"]),
            t0 + timedelta(seconds=rng.randrange(3600)),
        )
        for i in range(500)
    ]
    pdf = pd.DataFrame(rows, columns=["event_id", "user_id", "event_type", "ts"])
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")

    for mn, mx, bind, closer in [(1, None, "all", "B"), (2, 3, True, "A")]:
        loop = LoopStep(
            pred=F.col("event_type") == "A", value="A",
            min_n=mn, max_n=mx, bind=bind, name="a",
        )
        steps_b = [loop, F.col("event_type") == closer]
        cols = [
            "user_id", "n_a",
            "first_a_ts", "first_a_id", "last_a_ts", "last_a_id",
            *(["a_ids"] if bind == "all" else []),
            "ts_2", "id_2",
        ]

        def norm(r):
            return tuple(
                tuple(v) if isinstance(v, list) else v
                for v in (r[c] for c in cols)
            )

        want = sorted(
            norm(r)
            for r in match_sequence(
                spark.createDataFrame(pdf), steps_b, ["user_id"],
                within="10 minutes",
            ).collect()
        )
        # the overlap config (closer inside the loop vocab) closes the
        # moment the count suffices, so n == min_n there; the plain
        # config must exercise multi-hop loops
        need = mn + 1 if closer != "A" else mn
        assert want and any(r[1] >= need for r in want), (mn, mx, closer)

        for mode, order in [("ordered", True), ("buffered", False)]:
            src = tmp_path / f"src_{closer}_{mode}"
            src.mkdir()
            now = _time.time()
            sdf = (
                pdf.sort_values(["ts", "event_id"])
                if order
                else pdf.sample(frac=1.0, random_state=5)
            )
            n = len(sdf)
            for f in range(4):
                p = str(src / f"part-{f}.parquet")
                sdf.iloc[f * n // 4:(f + 1) * n // 4].to_parquet(p, index=False)
                os.utime(p, (now + f, now + f))
            if not order:
                flush = pd.DataFrame(
                    [(99999, 0, "x", t0 + timedelta(hours=4))],
                    columns=sdf.columns,
                ).astype(sdf.dtypes)
                p = str(src / "part-9.parquet")
                flush.to_parquet(p, index=False)
                os.utime(p, (now + 9, now + 9))
            stream = (
                spark.readStream.schema(
                    "event_id long, user_id long, event_type string, "
                    "ts timestamp"
                )
                .option("maxFilesPerTrigger", 1)
                .parquet(str(src))
            )
            out = match_sequence_stream(
                stream, [loop, closer], key_col="user_id",
                within="10 minutes",
                watermark="2 hours", ordered=order,
            )
            sink = tmp_path / f"out_al_{closer}{mode}"
            ckpt = tmp_path / f"ck_al_{closer}{mode}"
            q = (
                out.writeStream.format("parquet")
                .option("path", str(sink))
                .option("checkpointLocation", str(ckpt))
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            got = sorted(
                norm(r) for r in spark.read.parquet(str(sink)).collect()
            )
            assert got == want, (mn, mx, closer, mode)


def test_strict_contiguity_stream_equals_batch(spark, tmp_path):
    """Strict-contiguity stream twin: contiguous A B C over a soup thick
    with non-vocabulary interlopers must emit exactly the batch rows in
    ordered mode AND in shuffled buffered (ordered=False) mode — the
    latter proves non-vocabulary events transit the buffer (as
    keepalives) and kill waiting strict partials."""
    import random
    import time as _time
    from datetime import datetime, timedelta

    import pandas as pd

    from rtfproc_spark.operators.cep import (
        match_sequence,
        match_sequence_stream,
    )

    rng = random.Random(2718)
    t0 = datetime(2024, 1, 1)
    rows = [
        (
            i,
            rng.randrange(8),
            rng.choice(["A", "B", "C", "x", "y"]),  # x/y: non-vocabulary
            t0 + timedelta(seconds=rng.randrange(360) * 10),
        )
        for i in range(500)
    ]
    pdf = pd.DataFrame(rows, columns=["event_id", "user_id", "event_type", "ts"])
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")

    steps_b = [F.col("event_type") == c for c in "ABC"]
    cols = ["user_id", "ts_1", "id_1", "ts_2", "id_2", "ts_3", "id_3"]

    def norm(r):
        return tuple(r[c] for c in cols)

    relaxed = match_sequence(
        spark.createDataFrame(pdf), steps_b, ["user_id"], within="20 minutes",
    ).count()
    want = sorted(
        norm(r)
        for r in match_sequence(
            spark.createDataFrame(pdf), steps_b, ["user_id"],
            within="20 minutes", contiguous=True,
        ).collect()
    )
    # the strict set must be a real strict subset, and non-empty
    assert want and len(want) < relaxed

    for mode, order in [("ordered", True), ("buffered", False)]:
        src = tmp_path / f"src_strict_{mode}"
        src.mkdir()
        now = _time.time()
        sdf = (
            pdf.sort_values(["ts", "event_id"])
            if order
            else pdf.sample(frac=1.0, random_state=11)
        )
        n = len(sdf)
        for f in range(4):
            p = str(src / f"part-{f}.parquet")
            sdf.iloc[f * n // 4:(f + 1) * n // 4].to_parquet(p, index=False)
            os.utime(p, (now + f, now + f))
        if not order:
            flush = pd.DataFrame(
                [(99999, 0, "zz", t0 + timedelta(hours=4))],
                columns=sdf.columns,
            ).astype(sdf.dtypes)
            p = str(src / "part-9.parquet")
            flush.to_parquet(p, index=False)
            os.utime(p, (now + 9, now + 9))
        stream = (
            spark.readStream.schema(
                "event_id long, user_id long, event_type string, "
                "ts timestamp"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        out = match_sequence_stream(
            stream, ["A", "B", "C"], key_col="user_id",
            within="20 minutes", watermark="2 hours",
            ordered=order, contiguous=True,
        )
        sink = tmp_path / f"out_strict_{mode}"
        ckpt = tmp_path / f"ck_strict_{mode}"
        q = (
            out.writeStream.format("parquet")
            .option("path", str(sink))
            .option("checkpointLocation", str(ckpt))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = sorted(
            norm(r) for r in spark.read.parquet(str(sink)).collect()
        )
        assert got == want, mode


def _nav_trace_files(tmp_path, seed=56, n=500, flush_hours=5):
    """Random payload trace staged as 4 ts-ordered stream files + a far
    flush file (the watermark must pass every real event), plus the full
    pandas frame for the batch twin."""
    import random
    import time as _time
    from datetime import datetime, timedelta

    import pandas as pd

    rng = random.Random(seed)
    t0 = datetime(2024, 1, 1)
    rows = sorted(
        ((i, rng.randrange(4), rng.choice(["a", "b", "c"]),
          t0 + timedelta(seconds=rng.randrange(3600)),
          float(rng.randrange(1, 40))) for i in range(n)),
        key=lambda r: (r[3], r[0]),
    )
    pdf = pd.DataFrame(rows, columns=["event_id", "user_id", "event_type",
                                      "ts", "value"])
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    src = tmp_path / "nav_src"
    src.mkdir()
    now = _time.time()
    m = len(pdf)
    for f in range(4):
        p = str(src / f"part-{f}.parquet")
        pdf.iloc[f * m // 4: (f + 1) * m // 4].to_parquet(p, index=False)
        os.utime(p, (now + f, now + f))
    flush = pd.DataFrame(
        [(99999, 0, "zz", t0 + timedelta(hours=flush_hours), 0.0)],
        columns=pdf.columns,
    )
    flush["ts"] = flush["ts"].astype("datetime64[us]")
    p = str(src / "part-9.parquet")
    flush.to_parquet(p, index=False)
    os.utime(p, (now + 9, now + 9))
    import pandas as _pd

    return src, _pd.concat([pdf, flush], ignore_index=True)


def _nav_stream(spark, src):
    return (
        spark.readStream.schema(
            "event_id long, user_id long, event_type string, "
            "ts timestamp, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )


def test_stream_nav_ticker_equals_batch(spark, tmp_path):
    """Round 8: PREV navigation in STREAM DEFINEs (buffered mode) — the
    ticker `D AS value < PREV(value)` runs as a real availableNow
    multi-file stream and must equal the batch clause exactly. The
    4-file replay forces PREV to cross micro-batch boundaries (the
    persisted history tail)."""
    from rtfproc_spark.operators.pattern import match_recognize_sql

    src, full = _nav_trace_files(tmp_path)
    clause = """
        MATCH_RECOGNIZE (
          PARTITION BY user_id ORDER BY ts
          PATTERN (D U)
          WITHIN INTERVAL '30' MINUTE
          DEFINE D AS value < PREV(value),
                 U AS value >= PREV(value)
        )"""
    out = match_recognize_sql(_nav_stream(spark, src), clause,
                              ordered=False, watermark="10 minutes")
    sink, ckpt = tmp_path / "out", tmp_path / "ckpt"
    q = (
        out.writeStream.format("parquet")
        .option("path", str(sink)).option("checkpointLocation", str(ckpt))
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = sorted(
        (r["user_id"], r["id_1"], r["id_2"])
        for r in spark.read.parquet(str(sink)).collect()
    )
    want = sorted(
        (r["user_id"], r["id_1"], r["id_2"])
        for r in match_recognize_sql(
            spark.createDataFrame(full), clause).collect()
    )
    assert got == want and len(got) > 5, (len(got), len(want))


def test_stream_nav_vshape_loop_and_restart(spark, tmp_path):
    """The V-shape ticker S D+ U with a NAV LOOP BODY on a stream, plus a
    restart: run the first two files, stop, resume from the checkpoint
    over the rest — the nav buffer blob (values + history tail) must
    round-trip through a real state store and the total output must
    equal the batch clause."""
    from rtfproc_spark.operators.pattern import match_recognize_sql

    src, full = _nav_trace_files(tmp_path, seed=57)
    clause = """
        MATCH_RECOGNIZE (
          PARTITION BY user_id ORDER BY ts
          PATTERN (S D+ U)
          WITHIN INTERVAL '30' MINUTE
          DEFINE S AS event_type = 'a',
                 D AS value < PREV(value),
                 U AS value >= PREV(value)
        )"""
    sink, ckpt = tmp_path / "out", tmp_path / "ckpt"

    def run(max_files):
        out = match_recognize_sql(_nav_stream(spark, src), clause,
                                  ordered=False, watermark="10 minutes")
        q = (
            out.writeStream.format("parquet")
            .option("path", str(sink))
            .option("checkpointLocation", str(ckpt))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        # bound the first leg to 2 micro-batches by stopping after them
        if max_files is not None:
            import time as _time

            while len(q.recentProgress) < max_files:
                _time.sleep(0.3)
            q.stop()
            q.awaitTermination()
        else:
            q.awaitTermination()

    run(2)   # first leg: state (incl. nav tail) checkpointed mid-trace
    run(None)  # resume: drains the rest
    got = sorted(
        (r["user_id"], r["id_1"], r["n_d"], r["id_3"])
        for r in spark.read.parquet(str(sink)).collect()
    )
    want = sorted(
        (r["user_id"], r["id_1"], r["n_d"], r["id_3"])
        for r in match_recognize_sql(
            spark.createDataFrame(full), clause).collect()
    )
    assert got == want and len(got) > 2, (len(got), len(want))


def test_stream_nav_codec_and_errors(spark):
    """Nav codec fencing + targeted validation errors."""
    import pytest as _pytest

    from rtfproc_spark.operators.cep import (
        decode_buffer, encode_buffer, match_sequence_stream,
    )
    from rtfproc_spark.operators.pattern import match_recognize_sql

    # round-trip
    evs = [(10, 1, 0, [1.5, float("nan")]), (20, 2, 255, [2.0, 3.0])]
    tail = [[0.5, 1.0]]
    blob = encode_buffer(evs, tail, 2)
    evs2, tail2 = decode_buffer(blob, 2)
    assert tail2 == tail and len(evs2) == 2
    assert evs2[0][:3] == (10, 1, 0) and evs2[0][3][0] == 1.5
    assert evs2[0][3][1] != evs2[0][3][1]  # NaN round-trips
    # fencing both directions
    with _pytest.raises(ValueError, match="fresh checkpoint"):
        decode_buffer(encode_buffer([(10, 1, 0)], [], 0), 2)
    with _pytest.raises(ValueError, match="fresh checkpoint"):
        decode_buffer(blob, 0)
    with _pytest.raises(ValueError, match="nav columns does not match"):
        decode_buffer(blob, 3)

    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
        .selectExpr("value as event_id", "value % 3 as user_id",
                    "'a' as event_type", "timestamp as ts",
                    "1.0 as value")
    )
    with _pytest.raises(ValueError, match="ordered=False"):
        match_sequence_stream(
            stream, ["a", "*"], nav_conds={2: [("value", "<", "value", 1)]}
        )
    with _pytest.raises(ValueError, match="PREV offset"):
        match_sequence_stream(
            stream, ["a", "*"], ordered=False,
            nav_conds={2: [("value", "<", "value", 9)]},
        )
    with _pytest.raises(ValueError, match="wildcard value needs a nav"):
        match_sequence_stream(stream, ["a", "*"], ordered=False)
    # a nav condition on an ANCHOR-position loop reaches every hop, so the
    # type-free D+ builds: its residual loop body carries the condition too
    match_recognize_sql(stream, """
        MATCH_RECOGNIZE (
          PARTITION BY user_id ORDER BY ts
          PATTERN (D+ U)
          WITHIN INTERVAL '10' MINUTE
          DEFINE D AS value < PREV(value),
                 U AS value >= PREV(value)
        )""", ordered=False)
    with _pytest.raises(ValueError, match="NEXT navigation is batch-only"):
        match_recognize_sql(stream, """
            MATCH_RECOGNIZE (
              PARTITION BY user_id ORDER BY ts
              PATTERN (D U)
              WITHIN INTERVAL '10' MINUTE
              DEFINE D AS value < NEXT(value),
                     U AS event_type = 'a'
            )""", ordered=False)
    with _pytest.raises(ValueError, match="alternation branch"):
        match_recognize_sql(stream, """
            MATCH_RECOGNIZE (
              PARTITION BY user_id ORDER BY ts
              PATTERN (S (D|U) P)
              WITHIN INTERVAL '10' MINUTE
              DEFINE S AS event_type = 'a',
                     D AS value < PREV(value),
                     U AS event_type = 'b',
                     P AS event_type = 'c'
            )""", ordered=False)


_CROSS_CLAUSES = {
    # plain 2-step: the textbook running reference
    "plain": """
        MATCH_RECOGNIZE (
          PARTITION BY user_id ORDER BY ts
          PATTERN (V P)
          WITHIN INTERVAL '30' MINUTE
          DEFINE V AS event_type = 'a',
                 P AS event_type = 'b' AND value > V.value
        )""",
    # the cross condition rides a Kleene-loop CLOSER
    "closer": """
        MATCH_RECOGNIZE (
          PARTITION BY user_id ORDER BY ts
          PATTERN (V H+ P)
          WITHIN INTERVAL '30' MINUTE
          DEFINE V AS event_type = 'a',
                 H AS event_type = 'c',
                 P AS event_type = 'b' AND value >= V.value
        )""",
    # two capture sources, reversed-side syntax, composed conjunction
    "tworef": """
        MATCH_RECOGNIZE (
          PARTITION BY user_id ORDER BY ts
          PATTERN (V M P)
          WITHIN INTERVAL '30' MINUTE
          DEFINE V AS event_type = 'a',
                 M AS event_type = 'c' AND value < V.value,
                 P AS event_type = 'b' AND V.value <= value
                                       AND value > M.value
        )""",
    # strict contiguity: the key's very NEXT event must pass vocab AND
    # the cross comparison or the attempt dies (batch's left-anti twin)
    "strict": """
        MATCH_RECOGNIZE (
          PARTITION BY user_id ORDER BY ts
          PATTERN (V > P)
          WITHIN INTERVAL '10' MINUTE
          DEFINE V AS event_type = 'a',
                 P AS event_type = 'b' AND value > V.value
        )""",
}


def _cross_cols(df):
    return ["user_id"] + sorted(
        c for c in df.columns if c.startswith(("ts_", "id_", "n_"))
    )


@pytest.mark.parametrize("name", sorted(_CROSS_CLAUSES))
def test_stream_cross_sql_equals_batch(spark, tmp_path, name):
    """Round 8: CROSS-VARIABLE DEFINE references on a STREAM (`P AS value
    > V.value` — the standard's last-matched-row running reference,
    codec v6) — a real 4-file availableNow replay in buffered mode must
    equal the batch CrossPred path exactly; the multi-file split forces
    captured values to cross micro-batch boundaries through CEP state."""
    from rtfproc_spark.operators.pattern import match_recognize_sql

    clause = _CROSS_CLAUSES[name]
    src, full = _nav_trace_files(tmp_path, seed=91, n=400)
    out = match_recognize_sql(_nav_stream(spark, src), clause,
                              ordered=False, watermark="10 minutes")
    sink, ckpt = tmp_path / "out", tmp_path / "ckpt"
    q = (
        out.writeStream.format("parquet")
        .option("path", str(sink)).option("checkpointLocation", str(ckpt))
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    res = spark.read.parquet(str(sink))
    cols = _cross_cols(res)
    got = sorted(tuple(r[c] for c in cols) for r in res.collect())
    want = sorted(
        tuple(r[c] for c in cols)
        for r in match_recognize_sql(spark.createDataFrame(full), clause)
        .select(*cols).collect()
    )
    assert got == want and len(got) > 10, (name, len(got), len(want))


def test_stream_cross_ordered_equals_batch(spark, tmp_path):
    """The ordered=True delivery mode carries the cross payload
    transiently (no buffering) — same batch equality on the in-order
    replay."""
    from rtfproc_spark.operators.pattern import match_recognize_sql

    clause = _CROSS_CLAUSES["closer"]
    src, full = _nav_trace_files(tmp_path, seed=92, n=400)
    out = match_recognize_sql(_nav_stream(spark, src), clause)
    sink, ckpt = tmp_path / "out", tmp_path / "ckpt"
    q = (
        out.writeStream.format("parquet")
        .option("path", str(sink)).option("checkpointLocation", str(ckpt))
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    res = spark.read.parquet(str(sink))
    cols = _cross_cols(res)
    got = sorted(tuple(r[c] for c in cols) for r in res.collect())
    want = sorted(
        tuple(r[c] for c in cols)
        for r in match_recognize_sql(spark.createDataFrame(full), clause)
        .select(*cols).collect()
    )
    assert got == want and len(got) > 10, (len(got), len(want))


def test_stream_cross_per_candidate_semantics(spark, tmp_path):
    """The defining behavior vs post-filtering: a candidate failing the
    cross comparison is SKIPPED and the next event tried — the match
    binds the later passing candidate instead of dying."""
    from datetime import datetime

    import pandas as pd

    from rtfproc_spark.operators.pattern import match_recognize_sql

    t0 = datetime(2024, 1, 1)

    def _ts(m):
        return pd.Timestamp(t0) + pd.Timedelta(minutes=m)

    pdf = pd.DataFrame(
        [
            (1, 7, "a", _ts(0), 10.0),   # V binds, captures value=10
            (2, 7, "b", _ts(1), 5.0),    # P candidate FAILS (5 <= 10)
            (3, 7, "b", _ts(2), 20.0),   # P candidate passes -> match
            (4, 9, "a", _ts(0), 30.0),   # V binds, captures value=30
            (5, 9, "b", _ts(1), 25.0),   # fails
            (6, 9, "b", _ts(2), 29.0),   # fails — no match for key 9
            (99, 0, "zz", _ts(600), 0.0),  # watermark flush
        ],
        columns=["event_id", "user_id", "event_type", "ts", "value"],
    )
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    src = tmp_path / "src"
    src.mkdir()
    pdf.to_parquet(str(src / "part-0.parquet"), index=False)
    out = match_recognize_sql(
        _nav_stream(spark, src), _CROSS_CLAUSES["plain"],
        ordered=False, watermark="10 minutes",
    )
    sink, ckpt = tmp_path / "out", tmp_path / "ckpt"
    q = (
        out.writeStream.format("parquet")
        .option("path", str(sink)).option("checkpointLocation", str(ckpt))
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = sorted(
        (r["user_id"], r["id_1"], r["id_2"])
        for r in spark.read.parquet(str(sink)).collect()
    )
    assert got == [(7, 1, 3)], got


def test_stream_cross_restart_and_shuffle(spark, tmp_path):
    """v6 state (capture slots) must survive a real checkpoint restart,
    and a randomly shuffled replay under a wide watermark must still
    equal the batch clause (the buffer carries the cross payload)."""
    import random

    import pandas as pd

    from rtfproc_spark.operators.pattern import match_recognize_sql

    clause = _CROSS_CLAUSES["tworef"]
    src, full = _nav_trace_files(tmp_path, seed=93, n=400, flush_hours=50)
    # shuffle the real rows across 4 files (the flush file stays last);
    # watermark must cover the full disorder span (sized from the trace)
    rng = random.Random(7)
    real = full.iloc[:-1].sample(frac=1.0, random_state=17)
    import time as _time

    shuf = tmp_path / "shuf_src"
    shuf.mkdir()
    now = _time.time()
    m = len(real)
    for f in range(4):
        p = str(shuf / f"part-{f}.parquet")
        real.iloc[f * m // 4:(f + 1) * m // 4].to_parquet(p, index=False)
        os.utime(p, (now + f, now + f))
    full.iloc[[-1]].to_parquet(str(shuf / "part-9.parquet"), index=False)
    os.utime(str(shuf / "part-9.parquet"), (now + 9, now + 9))
    del rng

    sink, ckpt = tmp_path / "out", tmp_path / "ckpt"

    def run(stop_after):
        out = match_recognize_sql(
            _nav_stream(spark, shuf), clause,
            ordered=False, watermark="2 hours",
        )
        q = (
            out.writeStream.format("parquet")
            .option("path", str(sink))
            .option("checkpointLocation", str(ckpt))
            .outputMode("append").trigger(availableNow=True).start()
        )
        if stop_after is not None:
            import time as _t

            while len(q.recentProgress) < stop_after:
                _t.sleep(0.3)
            q.stop()
            q.awaitTermination()
        else:
            q.awaitTermination()

    run(2)    # leg 1: v6 partials + buffer checkpointed mid-trace
    run(None)  # leg 2: resume drains the rest
    res = spark.read.parquet(str(sink))
    cols = _cross_cols(res)
    got = sorted(tuple(r[c] for c in cols) for r in res.collect())
    want = sorted(
        tuple(r[c] for c in cols)
        for r in match_recognize_sql(spark.createDataFrame(full), clause)
        .select(*cols).collect()
    )
    assert got == want and len(got) > 5, (len(got), len(want))


def test_stream_cross_codec_and_errors(spark, tmp_path):
    """v6 codec round-trip (capture slots: bound, unbound, NULL-valued),
    checkpoint fencing between cross and cross-free patterns, and the
    targeted validation errors."""
    import math

    import pytest as _pytest

    from rtfproc_spark.operators.cep import (
        LoopStep, decode_state, encode_partials, match_sequence_stream,
    )
    from rtfproc_spark.operators.pattern import match_recognize_sql

    t = 1_704_067_200_000_000_000
    partials = [
        # step 2 of 3 bound; capture slot 0 filled (one NULL value),
        # slot 1 still unbound
        [2, t + 900_000_000_000, t + 60_000_000_000,
         [[t, 11, 0], [t + 60_000_000_000, 12, 0]],
         None, None, [], [], [[10.5, float("nan")], None]],
        # freshly anchored: both slots unbound
        [1, t + 900_000_000_000, t, [[t, 14, 0]], None, None, [], [],
         [None, None]],
    ]
    blob = encode_partials(partials)
    back, _le, _sess = decode_state(blob)
    assert len(back) == 2 and back[1][8] == [None, None]
    assert back[0][8][1] is None and back[0][8][0][0] == 10.5
    assert math.isnan(back[0][8][0][1])  # NULL -> NaN round-trips
    # the header records two trailing slots, none for cross-free partials
    assert blob[1] == 2
    assert encode_partials([p[:7] for p in partials])[1] == 0

    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
        .selectExpr("value as event_id", "value % 3 as user_id",
                    "'a' as event_type", "timestamp as ts",
                    "1.0 as value")
    )
    err = {
        "out of range": {1: [("value", ">", 1, "value")]},
        "is optional": None,  # built below
        "loop body": None,
        "comparator": {2: [("value", "!!", 1, "value")]},
        "strictly before": {2: [("value", ">", 2, "value")]},
        "required non-loop": None,
        "not in the stream schema": {2: [("nope", ">", 1, "value")]},
    }
    for msg, cc in err.items():
        if cc is None:
            continue
        with _pytest.raises(ValueError, match=msg):
            match_sequence_stream(stream, ["a", "b"], cross_conds=cc)
    with _pytest.raises(ValueError, match="is optional"):
        match_sequence_stream(
            stream, ["a", "b", "c"], optional_steps={2},
            cross_conds={2: [("value", ">", 1, "value")]},
        )
    # the closer of an optional mirrors the batch CrossPred's rule —
    # neither carrying nor being referenced by a cross condition
    with _pytest.raises(ValueError, match="closer of an"):
        match_sequence_stream(
            stream, ["a", "b", "c"], optional_steps={2},
            cross_conds={3: [("value", ">", 1, "value")]},
        )
    with _pytest.raises(ValueError, match="not adjacent to an optional"):
        match_sequence_stream(
            stream, ["a", "b", "c", "d"], optional_steps={2},
            cross_conds={4: [("value", ">", 3, "value")]},
        )
    with _pytest.raises(ValueError, match="loop body"):
        match_sequence_stream(
            stream, ["a", LoopStep(pred=None, value="b"), "c"],
            cross_conds={2: [("value", ">", 1, "value")]},
        )
    with _pytest.raises(ValueError, match="required non-loop"):
        match_sequence_stream(
            stream, ["a", LoopStep(pred=None, value="b"), "c"],
            cross_conds={3: [("value", ">", 2, "value")]},
        )
    with _pytest.raises(ValueError, match="Kleene loop"):
        match_sequence_stream(
            stream, [LoopStep(pred=None, value="a"), "b", "c"],
            cross_conds={3: [("value", ">", 1, "value")]},
        )
    with _pytest.raises(ValueError, match="references itself"):
        match_recognize_sql(stream, """
            MATCH_RECOGNIZE (
              PARTITION BY user_id ORDER BY ts
              PATTERN (V P)
              WITHIN INTERVAL '10' MINUTE
              DEFINE V AS event_type = 'a',
                     P AS value > P.value
            )""")
    with _pytest.raises(ValueError, match="unknown pattern variable"):
        match_recognize_sql(stream, """
            MATCH_RECOGNIZE (
              PARTITION BY user_id ORDER BY ts
              PATTERN (V P)
              WITHIN INTERVAL '10' MINUTE
              DEFINE V AS event_type = 'a',
                     P AS value > Q.value
            )""")
    # FIRST/LAST sugar over a single-row prior lowers to the bare
    # reference, either comparison side, like the batch unwrap
    from rtfproc_spark.operators.pattern import _lower_stream_define

    _tc, _out, _nav, xmap, _loc = _lower_stream_define({
        "V": "event_type = 'a'",
        "P": "event_type = 'b' AND value > FIRST(V.value)",
        "Q": "event_type = 'c' AND LAST(V.value) <= value",
    })
    assert xmap == {"P": [("value", ">", "V", "value")],
                    "Q": [("value", ">=", "V", "value")]}, xmap
    # the stream payload transport is doubles-only: a ts cross reference
    # (batch supports it via the ts_<j> columns) raises targeted guidance
    with _pytest.raises(ValueError, match="not numeric"):
        match_recognize_sql(stream, """
            MATCH_RECOGNIZE (
              PARTITION BY user_id ORDER BY ts
              PATTERN (V P)
              WITHIN INTERVAL '10' MINUTE
              DEFINE V AS event_type = 'a',
                     P AS event_type = 'b' AND ts > V.ts
            )""")

    # checkpoint fence: a cross-free run's state cannot be resumed by a
    # cross-bearing pattern (capture slots are config-bound state)
    import pandas as pd
    from datetime import datetime

    t0 = datetime(2024, 1, 1)
    pdf = pd.DataFrame(
        [(1, 7, "a", pd.Timestamp(t0), 10.0),
         (2, 7, "c", pd.Timestamp(t0) + pd.Timedelta(minutes=1), 5.0)],
        columns=["event_id", "user_id", "event_type", "ts", "value"],
    )
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    src = tmp_path / "fence_src"
    src.mkdir()
    pdf.to_parquet(str(src / "part-0.parquet"), index=False)
    sink, ckpt = tmp_path / "fence_out", tmp_path / "fence_ckpt"

    def run(clause):
        out = match_recognize_sql(
            _nav_stream(spark, src), clause,
            ordered=False, watermark="0 seconds",
        )
        q = (
            out.writeStream.format("parquet")
            .option("path", str(sink))
            .option("checkpointLocation", str(ckpt))
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination()

    free = """
        MATCH_RECOGNIZE (
          PARTITION BY user_id ORDER BY ts
          PATTERN (V P)
          WITHIN INTERVAL '30' MINUTE
          DEFINE V AS event_type = 'a',
                 P AS event_type = 'b'
        )"""
    run(free)  # leaves a mid-flight partial (V bound, P pending) in state
    # a new file so the resume actually delivers a batch to the key
    # (without one, availableNow re-runs nothing and state is never read)
    pdf2 = pdf.copy()
    pdf2["event_id"] += 10
    pdf2["ts"] = (pdf2["ts"] + pd.Timedelta(minutes=5)).astype(
        "datetime64[us]"
    )
    pdf2.to_parquet(str(src / "part-1.parquet"), index=False)
    from pyspark.errors.exceptions.captured import StreamingQueryException

    with _pytest.raises(StreamingQueryException,
                        match="no cross-variable capture slots"):
        run(_CROSS_CLAUSES["plain"])


def test_stream_cross_session_gap_equals_batch(spark, tmp_path):
    """Cross-variable conditions compose with session-gap bounding: the
    captured values live on partials that die at session boundaries, so
    a cross comparison can never reach across a split. Random trace,
    stream(session_gap, cross_conds) == match_sequence_sessionized with
    the equivalent batch CrossPred."""
    import random
    import time as _time
    from datetime import datetime, timedelta

    import pandas as pd

    from rtfproc_spark.operators.cep import (
        CrossPred, match_sequence_sessionized, match_sequence_stream,
    )

    rng = random.Random(424)
    t0 = datetime(2024, 1, 1)
    rows = sorted(
        ((i, rng.randrange(4), rng.choice(["A", "C", "n"]),
          t0 + timedelta(seconds=rng.randrange(7200)),
          float(rng.randrange(1, 40))) for i in range(300)),
        key=lambda r: (r[3], r[0]),
    )
    pdf = pd.DataFrame(rows, columns=["event_id", "user_id", "event_type",
                                      "ts", "value"])
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    flush = pd.DataFrame(
        [(9999, 0, "zz", t0 + timedelta(hours=10), 0.0)],
        columns=pdf.columns,
    )
    flush["ts"] = flush["ts"].astype("datetime64[us]")
    full = pd.concat([pdf, flush], ignore_index=True)

    cp = CrossPred(
        pred=F.col("_ev_value") > F.col("_def_1_value"),
        needs=((1, "value"),),
        ev_cols=("value",),
        local=F.col("event_type") == "C",
    )
    bdf = match_sequence_sessionized(
        spark.createDataFrame(full),
        [F.col("event_type") == "A", cp],
        ["user_id"],
        gap="10 minutes",
    )
    cols = ["user_id", "session_id", "id_1", "id_2"]
    want = sorted(tuple(r[c] for c in cols) for r in bdf.collect())

    src = tmp_path / "src"
    src.mkdir()
    now = _time.time()
    m = len(pdf)
    for f in range(4):
        p = str(src / f"part-{f}.parquet")
        pdf.iloc[f * m // 4:(f + 1) * m // 4].to_parquet(p, index=False)
        os.utime(p, (now + f, now + f))
    p = str(src / "part-9.parquet")
    flush.to_parquet(p, index=False)
    os.utime(p, (now + 9, now + 9))

    stream = (
        spark.readStream.schema(
            "event_id long, user_id long, event_type string, "
            "ts timestamp, value double")
        .option("maxFilesPerTrigger", 1).parquet(str(src))
    )
    out = match_sequence_stream(
        stream, ["A", "C"], key_col="user_id", within="3650 days",
        watermark="30 minutes", ordered=False, session_gap="10 minutes",
        cross_conds={2: [("value", ">", 1, "value")]},
    )
    sink, ckpt = tmp_path / "out", tmp_path / "ckpt"
    q = (
        out.writeStream.format("parquet")
        .option("path", str(sink)).option("checkpointLocation", str(ckpt))
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = sorted(
        tuple(r[c] for c in cols)
        for r in spark.read.parquet(str(sink)).collect()
    )
    assert got == want and len(got) > 20, (len(got), len(want))


_LOCAL_CLAUSES = {
    # constants on both variables (the most common real DEFINE form)
    "plain": """
        MATCH_RECOGNIZE (
          PARTITION BY user_id ORDER BY ts
          PATTERN (V P)
          WITHIN INTERVAL '20' MINUTE
          DEFINE V AS event_type = 'a' AND value < 30,
                 P AS event_type = 'b' AND value > 20
        )""",
    # constant comparison on a Kleene LOOP BODY (each hop re-tested)
    "loopbody": """
        MATCH_RECOGNIZE (
          PARTITION BY user_id ORDER BY ts
          PATTERN (V H+ P)
          WITHIN INTERVAL '20' MINUTE
          DEFINE V AS event_type = 'a',
                 H AS event_type = 'c' AND value < 25,
                 P AS event_type = 'b'
        )""",
    # reversed side + composed with a cross-variable reference
    "withcross": """
        MATCH_RECOGNIZE (
          PARTITION BY user_id ORDER BY ts
          PATTERN (V P)
          WITHIN INTERVAL '20' MINUTE
          DEFINE V AS event_type = 'a',
                 P AS event_type = 'b' AND 10 < value
                                       AND value > V.value
        )""",
    # ANCHOR-position loop: the desugar must apply the condition to the
    # extracted first rep AND the residual loop body
    "anchorloop": """
        MATCH_RECOGNIZE (
          PARTITION BY user_id ORDER BY ts
          PATTERN (A+ B)
          WITHIN INTERVAL '15' MINUTE
          DEFINE A AS event_type = 'a' AND value > 12,
                 B AS event_type = 'b'
        )""",
}


@pytest.mark.parametrize("name", sorted(_LOCAL_CLAUSES))
def test_stream_local_conds_equals_batch(spark, tmp_path, name):
    """Late round 8: row-local CONSTANT comparisons in stream DEFINEs
    (`P AS event_type = 'b' AND value > 10`) — nothing enters CEP state;
    the comparison is evaluated per candidate from the event's own
    payload in both delivery modes. 4-file replay == batch clause."""
    from rtfproc_spark.operators.pattern import match_recognize_sql

    clause = _LOCAL_CLAUSES[name]
    src, full = _nav_trace_files(tmp_path, seed=606, n=350)
    for mode, kw in (("buf", dict(ordered=False, watermark="10 minutes")),
                     ("ord", {})):
        out = match_recognize_sql(_nav_stream(spark, src), clause, **kw)
        sink = tmp_path / f"out_{mode}"
        q = (
            out.writeStream.format("parquet")
            .option("path", str(sink))
            .option("checkpointLocation", str(tmp_path / f"ck_{mode}"))
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination()
        res = spark.read.parquet(str(sink))
        cols = _cross_cols(res)
        got = sorted(tuple(str(r[c]) for c in cols) for r in res.collect())
        want = sorted(
            tuple(str(r[c]) for c in cols)
            for r in match_recognize_sql(spark.createDataFrame(full),
                                         clause).select(*cols).collect()
        )
        assert got == want and len(got) > 10, (name, mode, len(got),
                                               len(want))


def test_stream_local_conds_shortcut_and_errors(spark, tmp_path):
    """Single-variable patterns with constant comparisons stay on the
    stateless filter shortcut (including the type-free form), and the
    targeted validation errors fire."""
    import pandas as pd

    from rtfproc_spark.operators.cep import match_sequence_stream
    from rtfproc_spark.operators.pattern import match_recognize_sql

    src, full = _nav_trace_files(tmp_path, seed=607, n=300)
    for name, clause in {
        "single": """
            MATCH_RECOGNIZE (
              PARTITION BY user_id ORDER BY ts
              PATTERN (P)
              DEFINE P AS event_type = 'b' AND value > 20
            )""",
        "typefree": """
            MATCH_RECOGNIZE (
              PARTITION BY user_id ORDER BY ts
              PATTERN (P)
              DEFINE P AS value > 35
            )""",
    }.items():
        out = match_recognize_sql(_nav_stream(spark, src), clause)
        sink = tmp_path / f"out_{name}"
        q = (
            out.writeStream.format("parquet")
            .option("path", str(sink))
            .option("checkpointLocation", str(tmp_path / f"ck_{name}"))
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination()
        got = sorted(
            (r["user_id"], r["id_1"])
            for r in spark.read.parquet(str(sink)).collect()
        )
        want = sorted(
            (r["user_id"], r["id_1"])
            for r in match_recognize_sql(
                spark.createDataFrame(full), clause).collect()
        )
        assert got == want and len(got) > 5, (name, len(got), len(want))

    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
        .selectExpr("value as event_id", "value % 3 as user_id",
                    "'a' as event_type", "timestamp as ts",
                    "1.0 as value")
    )
    with pytest.raises(ValueError, match="out of range"):
        match_sequence_stream(
            stream, ["a", "b"], local_conds={9: [("value", ">", 1.0)]}
        )
    with pytest.raises(ValueError, match="local comparator"):
        match_sequence_stream(
            stream, ["a", "b"], local_conds={2: [("value", "!!", 1.0)]}
        )
    with pytest.raises(ValueError, match="not in the stream schema"):
        match_sequence_stream(
            stream, ["a", "b"], local_conds={2: [("nope", ">", 1.0)]}
        )
    with pytest.raises(ValueError, match="not numeric"):
        match_sequence_stream(
            stream, ["a", "b"], local_conds={2: [("ts", ">", 1.0)]}
        )
    with pytest.raises(ValueError, match="alternation branch"):
        match_recognize_sql(stream, """
            MATCH_RECOGNIZE (
              PARTITION BY user_id ORDER BY ts
              PATTERN (V (C|S) P)
              WITHIN INTERVAL '10' MINUTE
              DEFINE V AS event_type = 'a',
                     C AS event_type = 'b' AND value > 3,
                     S AS event_type = 'c',
                     P AS event_type = 'd'
            )""", ordered=False)


def test_stream_local_col_to_col_equals_batch(spark, tmp_path):
    """Late round 8: same-row COLUMN-TO-COLUMN comparisons in stream
    DEFINEs (`P AS value > score`) — the local-cond rhs generalized to a
    second payload column riding the same aux vector; both delivery
    modes == batch, and the single-variable shortcut folds it into the
    stateless filter."""
    import random
    import time as _time
    from datetime import datetime, timedelta

    import pandas as pd

    from rtfproc_spark.operators.pattern import match_recognize_sql

    rng = random.Random(707)
    t0 = datetime(2024, 1, 1)
    rows = sorted(
        ((i, rng.randrange(4), rng.choice(["a", "b", "c"]),
          t0 + timedelta(seconds=rng.randrange(1800)),
          float(rng.randrange(1, 40)), float(rng.randrange(1, 40)))
         for i in range(350)),
        key=lambda r: (r[3], r[0]),
    )
    pdf = pd.DataFrame(rows, columns=["event_id", "user_id", "event_type",
                                      "ts", "value", "score"])
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    flush = pd.DataFrame(
        [(9999, 0, "zz", t0 + timedelta(hours=5), 0.0, 0.0)],
        columns=pdf.columns,
    )
    flush["ts"] = flush["ts"].astype("datetime64[us]")
    full = pd.concat([pdf, flush], ignore_index=True)
    src = tmp_path / "src"
    src.mkdir()
    now = _time.time()
    m = len(pdf)
    for f in range(4):
        p = str(src / f"part-{f}.parquet")
        pdf.iloc[f * m // 4:(f + 1) * m // 4].to_parquet(p, index=False)
        os.utime(p, (now + f, now + f))
    p = str(src / "part-9.parquet")
    flush.to_parquet(p, index=False)
    os.utime(p, (now + 9, now + 9))
    sch = ("event_id long, user_id long, event_type string, ts timestamp, "
           "value double, score double")
    cases = [
        ("pair", """
            MATCH_RECOGNIZE (
              PARTITION BY user_id ORDER BY ts
              PATTERN (V P)
              WITHIN INTERVAL '20' MINUTE
              DEFINE V AS event_type = 'a',
                     P AS event_type = 'b' AND value > score
            )""", [("buf", dict(ordered=False, watermark="10 minutes")),
                   ("ord", {})]),
        ("single", """
            MATCH_RECOGNIZE (
              PARTITION BY user_id ORDER BY ts
              PATTERN (P)
              DEFINE P AS event_type = 'b' AND value > score
            )""", [("ord", {})]),
    ]
    for name, clause, modes in cases:
        for mode, kw in modes:
            stream = (
                spark.readStream.schema(sch)
                .option("maxFilesPerTrigger", 1).parquet(str(src))
            )
            out = match_recognize_sql(stream, clause, **kw)
            sink = tmp_path / f"out_{name}_{mode}"
            q = (
                out.writeStream.format("parquet")
                .option("path", str(sink))
                .option("checkpointLocation",
                        str(tmp_path / f"ck_{name}_{mode}"))
                .outputMode("append").trigger(availableNow=True).start()
            )
            q.awaitTermination()
            res = spark.read.parquet(str(sink))
            cols = sorted(c for c in res.columns
                          if c.startswith(("ts_", "id_")) or
                          c == "user_id")
            got = sorted(tuple(str(r[c]) for c in cols)
                         for r in res.collect())
            want = sorted(
                tuple(str(r[c]) for c in cols)
                for r in match_recognize_sql(
                    spark.createDataFrame(full), clause)
                .select(*cols).collect()
            )
            assert got == want and len(got) > 10, (name, mode, len(got),
                                                   len(want))


def test_stream_wildcard_step_buffered_binds_nonvocab(spark, tmp_path):
    """Round-9 ADVICE: a type-free ('*' wildcard) step in BUFFERED mode
    must be able to bind NON-vocabulary events. The admission filter
    used to keep only vocabulary-typed events when the pattern had
    cross/local conditions but no nav/session/strict, so `P AS value >
    30` after a typed anchor silently missed every 'b'/'c' candidate.
    4-file availableNow replay == batch clause, and the match set must
    actually contain non-vocabulary P bindings."""
    from rtfproc_spark.operators.pattern import match_recognize_sql

    clause = """
        MATCH_RECOGNIZE (
          PARTITION BY user_id ORDER BY ts
          PATTERN (V P)
          WITHIN INTERVAL '20' MINUTE
          DEFINE V AS event_type = 'a',
                 P AS value > 30
        )"""
    src, full = _nav_trace_files(tmp_path, seed=608, n=400)
    out = match_recognize_sql(
        _nav_stream(spark, src), clause, ordered=False,
        watermark="10 minutes",
    )
    sink = tmp_path / "out_wild"
    q = (
        out.writeStream.format("parquet")
        .option("path", str(sink))
        .option("checkpointLocation", str(tmp_path / "ck_wild"))
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    res = spark.read.parquet(str(sink))
    cols = _cross_cols(res)
    got = sorted(tuple(str(r[c]) for c in cols) for r in res.collect())
    batch = match_recognize_sql(spark.createDataFrame(full), clause)
    want = sorted(
        tuple(str(r[c]) for c in cols)
        for r in batch.select(*cols).collect()
    )
    assert got == want and len(got) > 5, (len(got), len(want))
    # the fix is only exercised if some P binding is a non-vocab event
    ids = {int(r["id_1"]) for r in res.collect()} | {
        int(r["id_2"]) for r in res.collect()
    }
    types = {
        int(r["event_id"]): r["event_type"]
        for r in spark.createDataFrame(full).collect()
    }
    p_ids = {int(r["id_2"]) for r in res.collect()}
    assert any(types[i] != "a" for i in p_ids), "no non-vocab binding"
