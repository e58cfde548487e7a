#!/usr/bin/env python
"""Runnable tour of the CEP pattern surface (SURVEY.md §2 B13), batch and
streaming, on a small synthetic clickstream:

  1. plain funnel        view -> click -> purchase, anchor-windowed
  2. negation            ... with no error between anchor and close
  3. quantifiers         view -> click? -> purchase, bounded error count
  4. session funnel      same pattern bounded by a 30-minute session gap
  5. skip strategies     AFTER MATCH SKIP PAST LAST ROW (greedy
                         non-overlapping) vs the default skip-to-next
  6. alternation+binding view -> (click | signup) -> purchase with
                         branch_2 (CLASSIFIER) and a binding error loop
                         (FIRST/LAST measures)
  7. streaming twin      the quantifier pattern over a micro-batch replay,
                         out-of-order delivery, ordered=False (true
                         watermark semantics: buffered + event-time order)
  8. session stream      the session funnel as a STREAM: session_gap=
                         bounds the pattern by the quiet gap; the late
                         user-2 purchase lands in session 2, so it never
                         matches (same as the batch session rule)
  9. SQL clause, batch   the full MATCH_RECOGNIZE string: the classic
                         V-shape ticker (PREV navigation) plus a
                         cross-variable running reference
                         (P AS price > V.price) and MEASURES
 10. SQL clause, stream  the running-reference clause with a row-local
                         constant comparison, replayed as a REAL
                         micro-batch stream in buffered (ordered=False)
                         mode — same clause text, same results as batch

Usage: python examples/cep_patterns.py [workdir]
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(workdir: str) -> None:
    import pandas as pd
    from pyspark.sql import functions as F

    from rtfproc_spark.operators.cep import (
        CountBetween,
        match_sequence,
        match_sequence_sessionized,
        match_sequence_stream,
    )
    from rtfproc_spark.session import get_spark

    spark = get_spark("cep-patterns", master="local[4]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")

    t0 = pd.Timestamp("2024-01-01 09:00:00")
    rows = []
    # user 1: clean funnel with one error inside and a click
    for i, (typ, mins) in enumerate(
        [("view", 0), ("click", 3), ("error", 5), ("purchase", 9),
         ("view", 40), ("purchase", 44)]  # second anchor: click skipped
    ):
        rows.append((100 + i, 1, typ, t0 + pd.Timedelta(minutes=mins)))
    # user 2: funnel split across a >30 min quiet gap (session rule kills it)
    for i, (typ, mins) in enumerate(
        [("view", 0), ("click", 2), ("purchase", 45)]
    ):
        rows.append((200 + i, 2, typ, t0 + pd.Timedelta(minutes=mins)))
    pdf = pd.DataFrame(rows, columns=["event_id", "user_id", "event_type", "ts"])
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    events = spark.createDataFrame(pdf)
    steps = [F.col("event_type") == s for s in ("view", "click", "purchase")]

    print("== 1. plain funnel (view -> click -> purchase, 1h window)")
    match_sequence(events, steps, ["user_id"], within="1 hour").show()

    print("== 2. negation: drop matches with an error inside")
    match_sequence(
        events, steps, ["user_id"], within="1 hour",
        forbid=F.col("event_type") == "error",
    ).show()

    print("== 3. quantifiers: click optional, at most 1 error between")
    spec = CountBetween(
        pred=F.col("event_type") == "error", value="error",
        lo_step=1, hi_step=3, min_n=0, max_n=1, name="err",
    )
    match_sequence(
        events, steps, ["user_id"], within="1 hour",
        optional_steps={2}, counts=[spec],
    ).show()

    print("== 4. session funnel: 30-minute gap bound instead of a window")
    match_sequence_sessionized(
        events, steps, ["user_id"], gap="30 minutes"
    ).show()

    print("== 5. AFTER MATCH SKIP PAST LAST ROW: non-overlapping matches")
    match_sequence(
        events, steps, ["user_id"], within="1 hour",
        after_match="skip_past_last",
    ).show()

    print("== 6. alternation + binding loop: view -> (click|signup) -> "
          "purchase, errors bound with FIRST/LAST measures")
    match_sequence(
        events,
        [
            F.col("event_type") == "view",
            [F.col("event_type") == "click", F.col("event_type") == "signup"],
            F.col("event_type") == "purchase",
        ],
        ["user_id"],
        within="1 hour",
        counts=[
            CountBetween(
                pred=F.col("event_type") == "error", value="error",
                lo_step=1, hi_step=3, min_n=0, max_n=3, name="err",
                bind=True,
            )
        ],
    ).show()

    print("== 7. streaming twin, OUT-OF-ORDER replay, ordered=False")
    src = os.path.join(workdir, "src")
    os.makedirs(src)
    now = time.time()
    # deliver the click LATE (after the purchase already arrived), plus a
    # watermark-advancing noise event; the buffered mode still matches
    chunks = [
        pdf[pdf["event_type"] != "click"],
        pdf[pdf["event_type"] == "click"],
        pd.DataFrame(
            [(999, 9, "noise", t0 + pd.Timedelta(hours=4))],
            columns=["event_id", "user_id", "event_type", "ts"],
        ).astype({"ts": "datetime64[us]"}),
    ]
    for i, chunk in enumerate(chunks):
        p = os.path.join(src, f"part-{i}.parquet")
        chunk.to_parquet(p, index=False)
        os.utime(p, (now + i, now + i))
    stream = (
        spark.readStream.schema(
            "event_id long, user_id long, event_type string, ts timestamp"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = match_sequence_stream(
        stream,
        ["view", "click", "purchase"],
        key_col="user_id",
        within="1 hour",
        watermark="2 hours",
        optional_steps={2},
        counts=[spec],
        ordered=False,
    )
    sink = os.path.join(workdir, "out")
    q = (
        out.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", os.path.join(workdir, "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    spark.read.parquet(sink).orderBy("user_id", "id_1").show()

    print("== 8. streaming session funnel: session_gap bounds the pattern")
    out8 = match_sequence_stream(
        (
            spark.readStream.schema(
                "event_id long, user_id long, event_type string, ts timestamp"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        ),
        ["view", "purchase"],
        key_col="user_id",
        within="3650 days",
        watermark="2 hours",
        ordered=False,
        session_gap="30 minutes",
    )
    sink8 = os.path.join(workdir, "out8")
    q8 = (
        out8.writeStream.format("parquet")
        .option("path", sink8)
        .option("checkpointLocation", os.path.join(workdir, "ckpt8"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q8.awaitTermination()
    spark.read.parquet(sink8).orderBy("user_id", "session_id", "id_1").show()

    from rtfproc_spark.operators.pattern import match_recognize_sql

    # a small priced trade tape for the clause examples
    trades = []
    for i, (mins, price) in enumerate(
        [(0, 10.0), (2, 8.0), (4, 6.0), (6, 7.0), (8, 12.0),
         (10, 11.0), (12, 9.0), (14, 13.0)]
    ):
        trades.append((300 + i, 7, "trade", t0 + pd.Timedelta(minutes=mins),
                       price))
    tpdf = pd.DataFrame(
        trades, columns=["event_id", "user_id", "event_type", "ts", "price"]
    )
    tpdf["ts"] = tpdf["ts"].astype("datetime64[us]")

    print("== 9. SQL clause (batch): V-shape ticker + cross-variable "
          "running reference")
    ticker = """
        MATCH_RECOGNIZE (
          PARTITION BY user_id ORDER BY ts
          MEASURES S.price AS start_price, COUNT(D.*) AS n_down,
                   P.price AS end_price
          PATTERN (S D+ P)
          WITHIN INTERVAL '30' MINUTE
          DEFINE S AS event_type = 'trade',
                 D AS price < PREV(price),
                 P AS price > S.price
        )"""
    match_recognize_sql(spark.createDataFrame(tpdf), ticker).show()

    print("== 10. SQL clause (stream): running reference + row-local "
          "constant, buffered replay == batch")
    clause10 = """
        MATCH_RECOGNIZE (
          PARTITION BY user_id ORDER BY ts
          PATTERN (V P)
          WITHIN INTERVAL '30' MINUTE
          DEFINE V AS event_type = 'trade' AND price < 9,
                 P AS event_type = 'trade' AND price > V.price
        )"""
    src10 = os.path.join(workdir, "src10")
    os.makedirs(src10)
    now = time.time()
    half = len(tpdf) // 2
    for f, sl in enumerate((tpdf.iloc[:half], tpdf.iloc[half:])):
        p = os.path.join(src10, f"part-{f}.parquet")
        sl.to_parquet(p, index=False)
        os.utime(p, (now + f, now + f))
    flush10 = tpdf.iloc[[-1]].copy()
    flush10["event_id"] += 1000
    flush10["ts"] = (flush10["ts"] + pd.Timedelta(hours=6)).astype(
        "datetime64[us]"
    )
    p = os.path.join(src10, "part-9.parquet")
    flush10.to_parquet(p, index=False)
    os.utime(p, (now + 9, now + 9))
    out10 = match_recognize_sql(
        spark.readStream.schema(
            "event_id long, user_id long, event_type string, "
            "ts timestamp, price double"
        ).option("maxFilesPerTrigger", 1).parquet(src10),
        clause10, ordered=False, watermark="10 minutes",
    )
    sink10 = os.path.join(workdir, "out10")
    q10 = (
        out10.writeStream.format("parquet")
        .option("path", sink10)
        .option("checkpointLocation", os.path.join(workdir, "ckpt10"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q10.awaitTermination()
    print("   stream result:")
    spark.read.parquet(sink10).orderBy("id_1").show()
    print("   batch twin (same clause text):")
    match_recognize_sql(
        spark.createDataFrame(
            pd.concat([tpdf, flush10], ignore_index=True)
        ),
        clause10,
    ).orderBy("id_1").show()
    spark.stop()


if __name__ == "__main__":
    wd = sys.argv[1] if len(sys.argv) > 1 else tempfile.mkdtemp(prefix="cep_demo_")
    try:
        main(wd)
    finally:
        shutil.rmtree(wd, ignore_errors=True)
