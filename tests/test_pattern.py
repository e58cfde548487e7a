"""Pattern-string front end (operators/pattern.py): the compiled spec
must be EXACTLY what a hand-built matcher call would use — pinned
structurally and by end-to-end batch equality on a random trace."""

import random
from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from rtfproc_spark.operators.cep import LoopStep, match_sequence
from rtfproc_spark.operators.pattern import (
    compile_pattern, match_recognize, match_recognize_stream,
)

DEFINE_B = lambda: {  # noqa: E731 — fresh Columns per test
    "V": F.col("event_type") == "view",
    "C": F.col("event_type") == "click",
    "S": F.col("event_type") == "signup",
    "P": F.col("event_type") == "purchase",
}


def _trace(spark, seed=11, n=400):
    rng = random.Random(seed)
    t0 = datetime(2024, 1, 1)
    rows = [
        (i, rng.randrange(5),
         rng.choice(["view", "click", "signup", "purchase", "noise"]),
         t0 + timedelta(seconds=rng.randrange(3600)))
        for i in range(n)
    ]
    return spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp"
    )


def _rows(df):
    # null-safe sort key (skipped optionals emit null ids/branches)
    cols = sorted(df.columns)
    return sorted(
        (tuple(r[c] for c in cols) for r in df.collect()),
        key=lambda t: tuple((v is None, str(v)) for v in t),
    )


def test_compile_structural_stream():
    spec = compile_pattern(
        "V > (C|S)? P{2,} Q* R{3}",
        {"V": "view", "C": "click", "S": "signup", "P": "p", "Q": "q",
         "R": "r"},
    )
    steps = spec["steps"]
    assert steps[0] == "view"
    assert steps[1] == ("click", "signup")
    lp = steps[2]
    assert isinstance(lp, LoopStep) and lp.value == "p" and lp.pred is None
    assert (lp.min_n, lp.max_n, lp.name) == (2, None, "p")
    assert (steps[3].min_n, steps[3].max_n) == (0, None)
    assert (steps[4].min_n, steps[4].max_n) == (3, 3)
    assert spec["optional_steps"] == {2}
    # '>' marks the element it precedes: (C|S)? at position 2
    assert spec["strict_steps"] == {2}
    spec2 = compile_pattern("V > C", {"V": "v", "C": "c"})
    assert spec2["strict_steps"] == {2}
    assert spec2["step_names"] == ["v", "c"]


def test_compile_greedy_reluctant_structural():
    """Loops default to MATCH_RECOGNIZE's greedy munch; a trailing '?'
    selects reluctant; a FINAL loop is demoted to reluctant (no closer —
    the matcher rejects an explicit greedy flag there)."""
    spec = compile_pattern(
        "A B+ C+? D{1,2} E*? F+",
        {v: v.lower() for v in "ABCDEF"},
    )
    s = spec["steps"]
    assert [st.greedy for st in s[1:]] == [True, False, True, False, False]
    assert (s[5].min_n, s[5].max_n) == (1, None)
    # greedy on an alternation group body
    spec2 = compile_pattern("A (B|C){2,}? B", {"A": "a", "B": "b", "C": "c"})
    assert spec2["steps"][1].greedy is False
    spec3 = compile_pattern("A (B|C){2,} B", {"A": "a", "B": "b", "C": "c"})
    assert spec3["steps"][1].greedy is True


def test_compile_errors(spark):
    with pytest.raises(ValueError, match="bad pattern token"):
        compile_pattern("V C)", {"V": "v", "C": "c"})
    with pytest.raises(ValueError, match="not in define"):
        compile_pattern("V X", {"V": "v"})
    with pytest.raises(ValueError, match="dangling"):
        compile_pattern("V C >", {"V": "v", "C": "c"})
    with pytest.raises(ValueError, match="max < min"):
        compile_pattern("V C{3,2}", {"V": "v", "C": "c"})
    with pytest.raises(ValueError, match="between two pattern"):
        compile_pattern("> V C", {"V": "v", "C": "c"})
    with pytest.raises(ValueError, match="mix"):
        compile_pattern("V C", {"V": F.lit(True), "C": "c"})
    with pytest.raises(ValueError, match="empty pattern"):
        compile_pattern("   ", {"V": "v"})
    with pytest.raises(ValueError, match="reluctant optional"):
        compile_pattern("V C??", {"V": "v", "C": "c"})
    with pytest.raises(ValueError, match="bad pattern token"):
        compile_pattern("V C+??", {"V": "v", "C": "c"})


def test_match_recognize_equals_hand_built(spark):
    df = _trace(spark)
    d = DEFINE_B()
    # plain funnel
    got = match_recognize(
        df, "V C P", d, ["user_id"], within="20 minutes"
    )
    want = match_sequence(
        df, [d["V"], d["C"], d["P"]], ["user_id"], within="20 minutes"
    )
    assert _rows(got) == _rows(want) and want.count() > 0
    # alternation + optional
    got = match_recognize(
        df, "V (C|S)? P", d, ["user_id"], within="20 minutes"
    )
    want = match_sequence(
        df, [d["V"], [d["C"], d["S"]], d["P"]], ["user_id"],
        within="20 minutes", optional_steps={2},
    )
    assert _rows(got) == _rows(want)
    # strict contiguity marker
    got = match_recognize(
        df, "V > C P", d, ["user_id"], within="20 minutes"
    )
    want = match_sequence(
        df, [d["V"], d["C"], d["P"]], ["user_id"],
        within="20 minutes", strict_steps={2},
    )
    assert _rows(got) == _rows(want)
    # Kleene loop with measures (loop name = lowercased var)
    got = match_recognize(
        df, "V C+ P", d, ["user_id"], within="20 minutes", bind="all"
    )
    want = match_sequence(
        df,
        [d["V"], LoopStep(pred=d["C"], min_n=1, bind="all", name="c"),
         d["P"]],
        ["user_id"], within="20 minutes",
    )
    assert "c_ids" in got.columns and _rows(got) == _rows(want)
    # greedy vs reluctant loop with an overlapping closer: (C|P)+ vs
    # (C|P)+? against closer P — the compiled greedy/reluctant flags
    # must reproduce the hand-built twins, and differ from each other
    got_g = match_recognize(
        df, "V (C|P){1,2} P", d, ["user_id"], within="20 minutes"
    )
    want_g = match_sequence(
        df,
        [d["V"],
         LoopStep(pred=[d["C"], d["P"]], min_n=1, max_n=2, name="c_p",
                  greedy=True),
         d["P"]],
        ["user_id"], within="20 minutes",
    )
    assert _rows(got_g) == _rows(want_g) and want_g.count() > 0
    got_r = match_recognize(
        df, "V (C|P){1,2}? P", d, ["user_id"], within="20 minutes"
    )
    want_r = match_sequence(
        df,
        [d["V"],
         LoopStep(pred=[d["C"], d["P"]], min_n=1, max_n=2, name="c_p"),
         d["P"]],
        ["user_id"], within="20 minutes",
    )
    assert _rows(got_r) == _rows(want_r)
    assert _rows(got_g) != _rows(got_r)
    # after_match passes through
    got = match_recognize(
        df, "V C P", d, ["user_id"], within="20 minutes",
        after_match="skip_to_last:2",
    )
    want = match_sequence(
        df, [d["V"], d["C"], d["P"]], ["user_id"], within="20 minutes",
        after_match="skip_to_last:2",
    )
    assert _rows(got) == _rows(want)


def test_match_recognize_stream_compiles(spark):
    """The stream wrapper builds a valid streaming plan from a literal
    DEFINE (full replay equality is pinned by the matcher's own tests —
    here we pin the compiled spec reaches the operator unchanged)."""
    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
        .selectExpr(
            "value as event_id", "value % 3 as user_id",
            "case when value % 2 = 0 then 'view' else 'purchase' end "
            "as event_type",
            "timestamp as ts",
        )
    )
    out = match_recognize_stream(
        stream, "V P{1,2}", {"V": "view", "P": "purchase"},
        key_col="user_id", within="10 minutes", ordered=False,
        watermark="1 minute",
    )
    assert out.isStreaming and "n_p" in out.columns


def test_match_recognize_sql_one_row(spark):
    """Full SQL clause == hand-built matcher call + measure projection."""
    from rtfproc_spark.operators.pattern import match_recognize_sql

    df = _trace(spark, seed=23)
    got = match_recognize_sql(df, """
        MATCH_RECOGNIZE (
          PARTITION BY user_id
          ORDER BY ts
          MEASURES V.ts AS start_ts, COUNT(H.*) AS n_hops,
                   LAST(H.event_id) AS last_hop_id, P.event_id AS end_id
          ONE ROW PER MATCH
          AFTER MATCH SKIP PAST LAST ROW
          PATTERN (V H{1,3} P)
          WITHIN INTERVAL '20' MINUTE
          DEFINE V AS event_type = 'view',
                 H AS event_type IN ('click', 'signup'),
                 P AS event_type = 'purchase'
        )""")
    d = DEFINE_B()
    want = match_sequence(
        df,
        [d["V"],
         LoopStep(pred=[F.col("event_type") == "click",
                        F.col("event_type") == "signup"],
                  min_n=1, max_n=3, name="h", greedy=True),
         d["P"]],
        ["user_id"], within="20 minutes", after_match="skip_past_last",
    ).selectExpr(
        "user_id", "ts_1 AS start_ts", "n_h AS n_hops",
        "last_h_id AS last_hop_id", "id_3 AS end_id",
    )
    assert _rows(got) == _rows(want) and want.count() > 0
    assert sorted(got.columns) == ["end_id", "last_hop_id", "n_hops",
                                   "start_ts", "user_id"]
    # no MEASURES section -> the matcher's full measure frame
    got2 = match_recognize_sql(df, """
        MATCH_RECOGNIZE (
          PARTITION BY user_id ORDER BY ts
          PATTERN (V C P) WITHIN 20 MINUTES
          DEFINE V AS event_type = 'view', C AS event_type = 'click',
                 P AS event_type = 'purchase'
        )""")
    want2 = match_sequence(df, [d["V"], d["C"], d["P"]], ["user_id"],
                           within="20 minutes")
    assert _rows(got2) == _rows(want2)
    # SKIP TO LAST <var> resolves the variable's step position
    got3 = match_recognize_sql(df, """
        MATCH_RECOGNIZE (
          PARTITION BY user_id ORDER BY ts
          AFTER MATCH SKIP TO LAST C
          PATTERN (V C P) WITHIN 20 MINUTES
          DEFINE V AS event_type = 'view', C AS event_type = 'click',
                 P AS event_type = 'purchase'
        )""")
    want3 = match_sequence(df, [d["V"], d["C"], d["P"]], ["user_id"],
                           within="20 minutes",
                           after_match="skip_to_last:2")
    assert _rows(got3) == _rows(want3)


def test_match_recognize_sql_all_rows(spark):
    """ALL ROWS PER MATCH expansion with MATCH_NUMBER()/CLASSIFIER()
    measures — one output row per bound event."""
    from rtfproc_spark.operators.cep import all_rows_per_match
    from rtfproc_spark.operators.pattern import match_recognize_sql

    df = _trace(spark, seed=29)
    got = match_recognize_sql(df, """
        MATCH_RECOGNIZE (
          PARTITION BY user_id
          ORDER BY ts
          MEASURES MATCH_NUMBER() AS mno, CLASSIFIER() AS which,
                   V.ts AS start_ts
          ALL ROWS PER MATCH
          PATTERN (V H+? P)
          WITHIN INTERVAL '20' MINUTE
          DEFINE V AS event_type = 'view',
                 H AS event_type IN ('click', 'signup'),
                 P AS event_type = 'purchase'
        )""")
    d = DEFINE_B()
    steps = [d["V"],
             LoopStep(pred=[F.col("event_type") == "click",
                            F.col("event_type") == "signup"],
                      min_n=1, bind="all", name="h"),
             d["P"]]
    m = match_sequence(df, steps, ["user_id"], within="20 minutes")
    want = all_rows_per_match(
        m, df, steps, ["user_id"], step_names=["v", "h", "p"],
    ).selectExpr("*", "match_no AS mno", "classifier AS which",
                 "ts_1 AS start_ts")
    assert _rows(got) == _rows(want) and want.count() > 0
    assert {"classifier", "match_no", "row_in_match", "mno",
            "which"} <= set(got.columns)


def test_match_recognize_sql_errors(spark):
    from rtfproc_spark.operators.pattern import match_recognize_sql

    df = _trace(spark, seed=3, n=20)
    base = """MATCH_RECOGNIZE (PARTITION BY user_id ORDER BY ts
              PATTERN ({pat}) WITHIN 20 MINUTES DEFINE {define})"""
    define = ("V AS event_type = 'view', C AS event_type = 'click', "
              "P AS event_type = 'purchase'")
    with pytest.raises(ValueError, match="missing DEFINE"):
        match_recognize_sql(df, "MATCH_RECOGNIZE (PARTITION BY u "
                                "ORDER BY ts PATTERN (A))")
    with pytest.raises(ValueError, match="more than one element"):
        match_recognize_sql(df, base.format(pat="V C V", define=define))
    with pytest.raises(ValueError, match="loop variable"):
        match_recognize_sql(df, """
            MATCH_RECOGNIZE (PARTITION BY user_id ORDER BY ts
              MEASURES C.ts AS bad ONE ROW PER MATCH
              PATTERN (V C+ P) WITHIN 20 MINUTES DEFINE {})""".format(define))
    with pytest.raises(ValueError, match="ALL ROWS PER MATCH"):
        match_recognize_sql(df, """
            MATCH_RECOGNIZE (PARTITION BY user_id ORDER BY ts
              MEASURES MATCH_NUMBER() AS m ONE ROW PER MATCH
              PATTERN (V C P) WITHIN 20 MINUTES DEFINE {})""".format(define))
    with pytest.raises(ValueError, match="exactly one time column"):
        match_recognize_sql(df, """
            MATCH_RECOGNIZE (PARTITION BY user_id ORDER BY ts, event_id
              PATTERN (V C P) DEFINE {})""".format(define))
    with pytest.raises(ValueError, match="unsupported AFTER MATCH"):
        match_recognize_sql(df, """
            MATCH_RECOGNIZE (PARTITION BY user_id ORDER BY ts
              AFTER MATCH SKIP TO SOMEWHERE
              PATTERN (V C P) DEFINE {})""".format(define))
    with pytest.raises(ValueError, match="both"):
        match_recognize_sql(df, base.format(pat="V C P", define=define),
                            within="10 minutes")


def test_match_recognize_sql_stream_equals_batch(spark, tmp_path):
    """The SAME SQL clause on a real multi-micro-batch file stream must
    emit exactly the rows the batch path produces — including an
    IN-lowered loop variable and loop measures."""
    import os
    import time as _time

    import pandas as pd

    from rtfproc_spark.operators.pattern import match_recognize_sql

    rng = random.Random(41)
    t0 = datetime(2024, 1, 1)
    rows = sorted(
        (
            (i, rng.randrange(5),
             rng.choice(["view", "click", "signup", "purchase", "noise"]),
             t0 + timedelta(seconds=rng.randrange(7200)))
            for i in range(600)
        ),
        key=lambda r: (r[3], r[0]),
    )
    pdf = pd.DataFrame(rows,
                       columns=["event_id", "user_id", "event_type", "ts"])
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    src = tmp_path / "src"
    src.mkdir()
    now = _time.time()
    n = len(pdf)
    for f in range(4):
        chunk = pdf.iloc[f * n // 4: (f + 1) * n // 4]
        p = str(src / f"part-{f}.parquet")
        chunk.to_parquet(p, index=False)
        os.utime(p, (now + f, now + f))

    clause = """
        MATCH_RECOGNIZE (
          PARTITION BY user_id
          ORDER BY ts
          MEASURES V.ts AS start_ts, COUNT(H.*) AS n_hops,
                   LAST(H.ts) AS last_hop, P.id AS end_id
          ONE ROW PER MATCH
          AFTER MATCH SKIP PAST LAST ROW
          PATTERN (V H+ P)
          WITHIN INTERVAL '30' MINUTE
          DEFINE V AS event_type = 'view',
                 H AS event_type IN ('click', 'signup'),
                 P AS event_type = 'purchase'
        )"""
    # P.id: the measure layer binds time_col/id_col — alias id via id_col
    clause = clause.replace("P.id AS", "P.event_id AS")

    want = match_recognize_sql(spark.createDataFrame(pdf), clause)
    want_set = {tuple(r) for r in want.collect()}
    assert want_set, "corpus must produce matches"

    stream = (
        spark.readStream.schema(
            "event_id long, user_id long, event_type string, ts timestamp"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = match_recognize_sql(stream, clause)
    assert out.isStreaming
    assert sorted(out.columns) == sorted(want.columns)
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
        tuple(r[c] for c in want.columns)
        for r in spark.read.parquet(str(sink)).collect()
    }
    assert got == want_set


def test_match_recognize_sql_stream_errors(spark):
    from rtfproc_spark.operators.pattern import match_recognize_sql

    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
        .selectExpr(
            "value as event_id", "value % 3 as user_id",
            "'view' as event_type", "'x' as other", "timestamp as ts",
        )
    )
    base = """MATCH_RECOGNIZE (PARTITION BY {part} ORDER BY ts
              {rows} PATTERN (V C) WITHIN 20 MINUTES DEFINE {define})"""
    ok_def = "V AS event_type = 'view', C AS event_type = 'click'"
    with pytest.raises(ValueError, match="batch-only"):
        match_recognize_sql(stream, base.format(
            part="user_id", rows="ALL ROWS PER MATCH", define=ok_def))
    with pytest.raises(ValueError, match="exactly one PARTITION BY"):
        match_recognize_sql(stream, base.format(
            part="user_id, other", rows="", define=ok_def))
    # `C AS value > 3` is a supported row-local comparison since late
    # round 8 — but only over columns that exist (targeted error), and
    # arbitrary arithmetic still raises at lowering
    with pytest.raises(ValueError, match="not in the stream schema"):
        match_recognize_sql(stream, base.format(
            part="user_id", rows="",
            define="V AS event_type = 'view', C AS value > 3"))
    out_loc = match_recognize_sql(stream, base.format(
        part="user_id", rows="",
        define="V AS event_type = 'view', C AS event_id > 3"))
    assert out_loc.isStreaming
    with pytest.raises(ValueError, match="serializable literals"):
        match_recognize_sql(stream, base.format(
            part="user_id", rows="",
            define="V AS event_type = 'view', C AS event_id + 1 > 3"))
    with pytest.raises(ValueError, match="ONE column"):
        match_recognize_sql(stream, base.format(
            part="user_id", rows="",
            define="V AS event_type = 'view', C AS other = 'x'"))
    with pytest.raises(ValueError, match="alternation group"):
        match_recognize_sql(stream, """
            MATCH_RECOGNIZE (PARTITION BY user_id ORDER BY ts
              PATTERN (V (C|S)) WITHIN 20 MINUTES
              DEFINE V AS event_type = 'view',
                     C AS event_type IN ('click', 'tap'),
                     S AS event_type = 'signup')""")


# ---------------------------------------------------------------------------
# Payload measures (operators/measures.py + the MEASURES join-back path)
# ---------------------------------------------------------------------------

from rtfproc_spark.operators.pattern import match_recognize_sql  # noqa: E402


def _value_trace(spark, seed=23, n=500):
    """Random trace with an integer-valued double payload column (integer
    values keep SUM/AVG exact — no float-order ulp in the comparison)."""
    rng = random.Random(seed)
    t0 = datetime(2024, 1, 1)
    rows = [
        (i, rng.randrange(6),
         rng.choice(["view", "click", "signup", "purchase", "noise"]),
         t0 + timedelta(seconds=rng.randrange(7200)),
         float(rng.randrange(1, 100)))
        for i in range(n)
    ]
    return spark.createDataFrame(
        rows,
        "event_id long, user_id long, event_type string, ts timestamp, "
        "value double",
    )


PAYLOAD_CLAUSE = """
    MATCH_RECOGNIZE (
      PARTITION BY user_id
      ORDER BY ts
      MEASURES V.ts AS ts_1, V.event_id AS id_1, COUNT(S.*) AS n_s,
               SUM(S.value) AS s_sum, MIN(S.value) AS s_min,
               MAX(S.value) AS s_max, AVG(S.value) AS s_avg,
               COUNT(S.value) AS s_nval,
               FIRST(S.value) AS s_first_val, LAST(S.value) AS s_last_val,
               P.value AS p_value, V.value AS v_value,
               MIN(S.ts) AS s_min_ts
      PATTERN (V S{q} P)
      WITHIN INTERVAL '1' HOUR
      DEFINE V AS event_type = 'view',
             S AS event_type IN ('click', 'signup'),
             P AS event_type = 'purchase'
    )"""


def test_payload_measures_differential(spark):
    """The payload join-backs must agree with a pandas recomputation over
    the full bind='all' match frame (the frame itself is differentially
    fuzzed elsewhere — this pins the explode/join/agg machinery)."""
    ev = _value_trace(spark)
    out = {
        r["id_1"]: r
        for r in match_recognize_sql(ev, PAYLOAD_CLAUSE.format(q="+"))
        .collect()
    }
    full = match_recognize_sql(
        ev, """
        MATCH_RECOGNIZE (
          PARTITION BY user_id
          ORDER BY ts
          PATTERN (V S+ P)
          WITHIN INTERVAL '1' HOUR
          DEFINE V AS event_type = 'view',
                 S AS event_type IN ('click', 'signup'),
                 P AS event_type = 'purchase'
        )""", bind="all").collect()
    assert len(full) == len(out) > 0
    val = {r["event_id"]: r["value"] for r in ev.collect()}
    for r in full:
        got = out[r["id_1"]]
        hops = [val[i] for i in r["s_ids"]]
        assert got["n_s"] == len(hops) == r["n_s"]
        assert got["s_sum"] == sum(hops)
        assert got["s_min"] == min(hops)
        assert got["s_max"] == max(hops)
        assert got["s_avg"] == sum(hops) / len(hops)
        assert got["s_nval"] == len(hops)
        assert got["s_first_val"] == val[r["first_s_id"]]
        assert got["s_last_val"] == val[r["last_s_id"]]
        assert got["p_value"] == val[r["id_3"]]
        assert got["v_value"] == val[r["id_1"]]
        assert got["s_min_ts"] == r["first_s_ts"]


def test_payload_measures_zero_hop_loop(spark):
    """S* with zero hops: SQL aggregate-over-empty — null SUM/AVG/MIN/MAX
    and FIRST/LAST, but COUNT coalesces to 0."""
    ev = _value_trace(spark, seed=31)
    out = match_recognize_sql(ev, PAYLOAD_CLAUSE.format(q="*")).collect()
    zero = [r for r in out if r["n_s"] == 0]
    assert zero, "trace must produce at least one zero-hop match"
    for r in zero:
        assert r["s_sum"] is None and r["s_min"] is None
        assert r["s_avg"] is None and r["s_max"] is None
        assert r["s_first_val"] is None and r["s_last_val"] is None
        assert r["s_nval"] == 0
        assert r["p_value"] is not None and r["v_value"] is not None
    # non-zero matches in the same output still aggregate correctly
    nz = [r for r in out if r["n_s"] > 0]
    assert nz and all(r["s_sum"] is not None for r in nz)


def test_payload_measures_stream_and_all_rows_raise(spark):
    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
        .selectExpr(
            "value as event_id", "value % 3 as user_id",
            "'view' as event_type", "cast(value as double) as value",
            "timestamp as ts",
        )
    )
    clause = """MATCH_RECOGNIZE (PARTITION BY user_id ORDER BY ts
        MEASURES {m} PATTERN (V C) WITHIN 20 MINUTES
        DEFINE V AS event_type = 'view', C AS event_type = 'click')"""
    with pytest.raises(ValueError, match="live stream"):
        match_recognize_sql(stream, clause.format(m="V.value AS vv"))
    ev = _value_trace(spark)
    with pytest.raises(ValueError, match="ONE ROW PER MATCH"):
        match_recognize_sql(ev, """
            MATCH_RECOGNIZE (PARTITION BY user_id ORDER BY ts
              MEASURES V.value AS vv ALL ROWS PER MATCH
              PATTERN (V C) WITHIN 20 MINUTES
              DEFINE V AS event_type = 'view',
                     C AS event_type = 'click')""")
    # SUM over a variable under ALL ROWS is now a RUNNING window
    # aggregate (not an error): the last row of each match carries the
    # full-match sum
    allr = match_recognize_sql(ev, """
        MATCH_RECOGNIZE (PARTITION BY user_id ORDER BY ts
          MEASURES SUM(C.value) AS sv ALL ROWS PER MATCH
          PATTERN (V C+ P) WITHIN 20 MINUTES
          DEFINE V AS event_type = 'view',
                 C AS event_type = 'click',
                 P AS event_type = 'purchase')""")
    assert "sv" in allr.columns and allr.count() > 0
    # ONE ROW mode: aggregating a single-row variable still raises
    with pytest.raises(ValueError, match="binds one row"):
        match_recognize_sql(ev, clause.format(m="SUM(V.value) AS sv"))


def test_loop_measures_helper_column_agg(spark):
    """The public helper with a Column-valued aggregate (the exact-sum
    recipe) must equal the tuple form, and its guard rails must fire."""
    from rtfproc_spark.operators.cep import LoopStep, match_sequence
    from rtfproc_spark.operators.measures import loop_measures

    ev = _value_trace(spark)
    matched = match_sequence(
        ev,
        [
            F.col("event_type") == "view",
            LoopStep(
                pred=F.col("event_type").isin("click", "signup"),
                name="s", bind="all",
            ),
            F.col("event_type") == "purchase",
        ],
        ["user_id"], within="1 hour",
    )
    out = loop_measures(
        matched, ev, "s",
        {
            "s_sum": ("sum", "value"),
            "s_sum_exact": (
                F.sum(F.round(F.col("value") * 100).cast("long")) / 100.0
            ),
        },
        ["user_id"], payload_cols=["value"],
    ).collect()
    assert out and all(r["s_sum"] == r["s_sum_exact"] for r in out)
    with pytest.raises(ValueError, match="bind='all'"):
        loop_measures(
            matched.drop("s_ids"), ev, "s", {"x": ("sum", "value")},
            ["user_id"],
        )
    with pytest.raises(ValueError, match="already in the frame"):
        loop_measures(matched, ev, "s", {"n_s": ("sum", "value")},
                      ["user_id"])
    with pytest.raises(ValueError, match="unknown agg"):
        loop_measures(matched, ev, "s", {"x": ("median", "value")},
                      ["user_id"])
    with pytest.raises(ValueError, match="payload_cols"):
        loop_measures(matched, ev, "s", {"x": F.sum("value")}, ["user_id"])
    with pytest.raises(ValueError, match="collide with the match key"):
        loop_measures(matched, ev, "s", {"x": ("sum", "user_id")},
                      ["user_id"])


# ---------------------------------------------------------------------------
# PREV/NEXT physical navigation in DEFINE (+ single-step patterns)
# ---------------------------------------------------------------------------


def test_nav_ticker_exact(spark):
    """The classic falling-streak ticker: D+ U with D/U defined via
    PREV(value). Hand-checked matches: u1 values 10,8,6,9 -> anchors at
    t2 (hops t2,t3) and t3 (hop t3), both closing on t4; u2 rises only.
    The partition's FIRST row never classifies (PREV is null)."""
    t0 = datetime(2024, 1, 1)
    rows = [
        (1, t0 + timedelta(seconds=1), 1, 10.0),
        (2, t0 + timedelta(seconds=2), 1, 8.0),
        (3, t0 + timedelta(seconds=3), 1, 6.0),
        (4, t0 + timedelta(seconds=4), 1, 9.0),
        (5, t0 + timedelta(seconds=1), 2, 5.0),
        (6, t0 + timedelta(seconds=2), 2, 7.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, value double"
    )
    out = match_recognize_sql(df, """
        MATCH_RECOGNIZE (
          PARTITION BY user_id
          ORDER BY ts
          MEASURES FIRST(D.event_id) AS first_d, LAST(D.event_id) AS last_d,
                   COUNT(D.*) AS n_d, U.event_id AS up_id,
                   MIN(D.value) AS d_min
          PATTERN (D+ U)
          DEFINE D AS value < PREV(value),
                 U AS value >= PREV(value)
        )""")
    got = sorted(
        (r["user_id"], r["first_d"], r["last_d"], r["n_d"], r["up_id"],
         r["d_min"])
        for r in out.collect()
    )
    assert got == [(1, 2, 3, 2, 4, 6.0), (1, 3, 3, 1, 4, 6.0)]


def test_nav_equals_explicit_lag(spark):
    """Differential: the PREV desugar must equal matching over a frame
    with the lag column added by hand (same window order, same
    predicates) on a random payload trace."""
    from pyspark.sql.window import Window

    ev = _value_trace(spark, seed=41)
    out = match_recognize_sql(ev, """
        MATCH_RECOGNIZE (
          PARTITION BY user_id ORDER BY ts
          PATTERN (D U)
          WITHIN INTERVAL '1' HOUR
          DEFINE D AS value < PREV(value),
                 U AS value >= PREV(value, 2)
        )""")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    aug = ev.withColumn("p1", F.lag("value", 1).over(w)).withColumn(
        "p2", F.lag("value", 2).over(w)
    )
    want = match_sequence(
        aug,
        [F.col("value") < F.col("p1"), F.col("value") >= F.col("p2")],
        ["user_id"], within="1 hour",
    )
    assert _rows(out) == _rows(want.select(out.columns))
    assert len(_rows(out)) > 0


def test_nav_next_offset_and_single_step(spark):
    """NEXT + single-step classification pattern: a local peak (above
    both physical neighbours) and a PREV offset-2 drop. Partition edges
    (null navigation) never classify."""
    t0 = datetime(2024, 1, 1)
    rows = [
        (1, t0 + timedelta(seconds=1), 1, 10.0),
        (2, t0 + timedelta(seconds=2), 1, 8.0),
        (3, t0 + timedelta(seconds=3), 1, 6.0),
        (4, t0 + timedelta(seconds=4), 1, 9.0),
        (5, t0 + timedelta(seconds=1), 2, 5.0),
        (6, t0 + timedelta(seconds=2), 2, 7.0),
        (7, t0 + timedelta(seconds=3), 2, 4.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, value double"
    )
    peak = match_recognize_sql(df, """
        MATCH_RECOGNIZE (
          PARTITION BY user_id ORDER BY ts
          MEASURES P.event_id AS pid, P.value AS pval
          PATTERN (P)
          DEFINE P AS value > PREV(value) AND value > NEXT(value)
        )""")
    assert [(r["user_id"], r["pid"], r["pval"]) for r in peak.collect()] \
        == [(2, 6, 7.0)]
    off = match_recognize_sql(df, """
        MATCH_RECOGNIZE (
          PARTITION BY user_id ORDER BY ts
          MEASURES D.event_id AS did PATTERN (D)
          DEFINE D AS value < PREV(value, 2)
        )""")
    assert sorted((r["user_id"], r["did"]) for r in off.collect()) \
        == [(1, 3), (2, 7)]


def test_nav_self_qualified_and_dedupe(spark):
    """D.value inside DEFINE D is the row under classification (equal to
    the bare column), and textually-equal navigations across DEFINEs
    share ONE generated lag column."""
    from rtfproc_spark.operators.pattern import _lower_define_nav

    ev = _value_trace(spark, seed=43)
    qualified = match_recognize_sql(ev, """
        MATCH_RECOGNIZE (
          PARTITION BY user_id ORDER BY ts
          PATTERN (D U) WITHIN INTERVAL '1' HOUR
          DEFINE D AS D.value < PREV(D.value),
                 U AS U.value >= PREV(U.value)
        )""")
    bare = match_recognize_sql(ev, """
        MATCH_RECOGNIZE (
          PARTITION BY user_id ORDER BY ts
          PATTERN (D U) WITHIN INTERVAL '1' HOUR
          DEFINE D AS value < PREV(value),
                 U AS value >= PREV(value)
        )""")
    assert _rows(qualified) == _rows(bare)
    nav = {}
    _lower_define_nav("value < PREV(value)", "D", {"D", "U"}, nav)
    _lower_define_nav("U.value >= PREV(U.value)", "U", {"D", "U"}, nav)
    assert len(nav) == 1  # same (kind, normalized expr, offset)
    _lower_define_nav("value < PREV(value, 2)", "D", {"D", "U"}, nav)
    assert len(nav) == 2  # different offset -> new column


def test_nav_all_rows_no_leak(spark):
    """ALL ROWS PER MATCH expansion joins back the ORIGINAL frame — the
    generated __nav_* columns must not leak into the output."""
    ev = _value_trace(spark, seed=47)
    out = match_recognize_sql(ev, """
        MATCH_RECOGNIZE (
          PARTITION BY user_id ORDER BY ts
          MEASURES CLASSIFIER() AS var
          ALL ROWS PER MATCH
          PATTERN (D U) WITHIN INTERVAL '1' HOUR
          DEFINE D AS value < PREV(value),
                 U AS value >= PREV(value)
        )""")
    assert not [c for c in out.columns if c.startswith("__nav_")]
    assert out.count() > 0 and "value" in out.columns


def test_nav_errors(spark):
    ev = _value_trace(spark, seed=53)
    clause = """
        MATCH_RECOGNIZE (
          PARTITION BY user_id ORDER BY ts
          PATTERN (D U) WITHIN INTERVAL '1' HOUR
          DEFINE {define})"""
    # round 8: cross-variable references are now SUPPORTED for prior
    # steps — a FORWARD reference (anchor reading a later variable)
    # still raises, with the anchor-specific message
    with pytest.raises(ValueError, match="anchor.*cannot be a CrossPred"):
        match_recognize_sql(ev, clause.format(
            define="D AS value < U.value, U AS event_type = 'view'"))
    with pytest.raises(ValueError, match="nested PREV/NEXT"):
        match_recognize_sql(ev, clause.format(
            define="D AS value < PREV(PREV(value)), "
                   "U AS event_type = 'view'"))
    with pytest.raises(ValueError, match="integer offset"):
        match_recognize_sql(ev, clause.format(
            define="D AS value < PREV(value, ts), "
                   "U AS event_type = 'view'"))
    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
        .selectExpr(
            "value as event_id", "value % 3 as user_id",
            "'view' as event_type", "value as v", "timestamp as ts",
        )
    )
    # stream PREV is supported on the buffered path — with the default
    # ordered=True it raises the targeted re-route, not a parse error
    with pytest.raises(ValueError, match="ordered=False"):
        match_recognize_sql(stream, clause.format(
            define="D AS v < PREV(v), U AS event_type = 'view'"))


def test_single_step_alternation_and_fallthrough(spark):
    """Single-step patterns: alternation emits the matcher's branch_1
    convention (lowest matching branch wins); engine-kwarg clauses
    (WITHIN) still fall through to the >=2-step engine and its error."""
    ev = _value_trace(spark, seed=59)
    out = match_recognize_sql(ev, """
        MATCH_RECOGNIZE (
          PARTITION BY user_id ORDER BY ts
          PATTERN ((C|S))
          DEFINE C AS event_type = 'click',
                 S AS event_type = 'signup'
        )""")
    want = {
        (r["user_id"], r["event_id"], 0 if r["event_type"] == "click" else 1)
        for r in ev.where(
            F.col("event_type").isin("click", "signup")).collect()
    }
    assert {(r["user_id"], r["id_1"], r["branch_1"])
            for r in out.collect()} == want
    with pytest.raises(ValueError, match="at least 2 steps"):
        match_recognize_sql(ev, """
            MATCH_RECOGNIZE (
              PARTITION BY user_id ORDER BY ts
              PATTERN (C) WITHIN INTERVAL '1' HOUR
              DEFINE C AS event_type = 'click')""")


def test_nav_independent_duckdb_oracle(spark):
    """End-to-end PREV navigation vs an INDEPENDENT DuckDB oracle (lag
    window + correlated anchor/closer subqueries — not the desugar) on a
    random payload trace: the falling-streak ticker D+ U with hop-count,
    loop-payload MIN and closer payload."""
    import duckdb

    ev = _value_trace(spark, seed=61, n=600)
    out = match_recognize_sql(ev, """
        MATCH_RECOGNIZE (
          PARTITION BY user_id ORDER BY ts
          MEASURES FIRST(D.event_id) AS first_id, COUNT(D.*) AS n_d,
                   MIN(D.value) AS d_min, U.value AS up_value
          PATTERN (D+ U)
          WITHIN INTERVAL '1' HOUR
          DEFINE D AS value < PREV(value), U AS value >= PREV(value)
        )""")
    got = sorted(
        (r["user_id"], r["first_id"], r["n_d"], r["d_min"], r["up_value"])
        for r in out.collect()
    )
    # Engine time boundaries are pure-ts (same-ts events are neither
    # hops nor closers); the anchor is folded into the loop (n_d = 1 +
    # strictly-between hops, d_min includes the anchor's value).
    con = duckdb.connect()
    con.register("ev", ev.toPandas())
    want = sorted(
        tuple(r) for r in con.execute("""
        WITH lagged AS (
          SELECT *, lag(value) OVER (
            PARTITION BY user_id ORDER BY ts, event_id) AS pv
          FROM ev
        ), d AS (SELECT * FROM lagged WHERE value < pv),
           u AS (SELECT * FROM lagged WHERE value >= pv),
           m AS (
          SELECT a.user_id, a.ts AS a_ts, a.event_id AS a_id,
                 a.value AS a_val,
                 (SELECT u.event_id FROM u WHERE u.user_id = a.user_id
                    AND u.ts > a.ts AND u.ts <= a.ts + INTERVAL 1 HOUR
                  ORDER BY u.ts, u.event_id LIMIT 1) AS u_id,
                 (SELECT u.ts FROM u WHERE u.user_id = a.user_id
                    AND u.ts > a.ts AND u.ts <= a.ts + INTERVAL 1 HOUR
                  ORDER BY u.ts, u.event_id LIMIT 1) AS u_ts
          FROM d a)
        SELECT m.user_id, m.a_id AS first_id,
               1 + (SELECT COUNT(*) FROM d WHERE d.user_id = m.user_id
                      AND d.ts > m.a_ts AND d.ts < m.u_ts) AS n_d,
               LEAST(m.a_val, COALESCE(
                 (SELECT MIN(d.value) FROM d WHERE d.user_id = m.user_id
                    AND d.ts > m.a_ts AND d.ts < m.u_ts), m.a_val)
               ) AS d_min,
               (SELECT u.value FROM u
                 WHERE u.user_id = m.user_id AND u.event_id = m.u_id
               ) AS up_value
        FROM m WHERE m.u_id IS NOT NULL
        ORDER BY 1, 2
        """).fetchall()
    )
    assert len(got) > 20
    assert got == want


# ---------------------------------------------------------------------------
# SUBSET union variables
# ---------------------------------------------------------------------------


def test_subset_measures_exact(spark):
    """SUBSET W = (S, P): COUNT = component-count sum, FIRST/LAST =
    LEAST/GREATEST of component extremes (null-skipping — unbound
    optionals / zero-hop loops drop out), MIN/MAX payload compose over
    the loop aggregate and the single row."""
    t0 = datetime(2024, 1, 1)
    rows = [
        (1, t0 + timedelta(seconds=1), 1, "view", 5.0),
        (2, t0 + timedelta(seconds=2), 1, "click", 8.0),
        (3, t0 + timedelta(seconds=3), 1, "signup", 3.0),
        (4, t0 + timedelta(seconds=4), 1, "purchase", 9.0),
        (5, t0 + timedelta(seconds=1), 2, "view", 2.0),
        (6, t0 + timedelta(seconds=2), 2, "purchase", 7.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double")
    out = match_recognize_sql(df, """
        MATCH_RECOGNIZE (
          PARTITION BY user_id ORDER BY ts
          MEASURES COUNT(W.*) AS n_w, FIRST(W.ts) AS w_first,
                   LAST(W.ts) AS w_last, MIN(W.value) AS w_min,
                   MAX(W.value) AS w_max
          PATTERN (V S* P)
          SUBSET W = (S, P)
          WITHIN INTERVAL '1' HOUR
          DEFINE V AS event_type = 'view',
                 S AS event_type IN ('click', 'signup'),
                 P AS event_type = 'purchase'
        )""")
    got = {r["user_id"]: r for r in out.collect()}
    r1, r2 = got[1], got[2]
    assert (r1["n_w"], r1["w_min"], r1["w_max"]) == (3, 3.0, 9.0)
    assert r1["w_first"] == t0 + timedelta(seconds=2)
    assert r1["w_last"] == t0 + timedelta(seconds=4)
    # zero-hop loop: the loop's NULL extremes drop out of LEAST/GREATEST
    assert (r2["n_w"], r2["w_min"], r2["w_max"]) == (1, 7.0, 7.0)
    assert r2["w_first"] == r2["w_last"] == t0 + timedelta(seconds=2)


def test_subset_optional_component(spark):
    """An unbound optional contributes 0 to COUNT(W.*) and drops out of
    the FIRST/LAST composition (its id/ts are NULL in the frame)."""
    t0 = datetime(2024, 1, 1)
    rows = [
        (1, t0 + timedelta(seconds=1), 1, "view"),
        (2, t0 + timedelta(seconds=2), 1, "purchase"),
        (3, t0 + timedelta(seconds=1), 2, "view"),
        (4, t0 + timedelta(seconds=2), 2, "click"),
        (5, t0 + timedelta(seconds=3), 2, "purchase"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string")
    out = match_recognize_sql(df, """
        MATCH_RECOGNIZE (
          PARTITION BY user_id ORDER BY ts
          MEASURES COUNT(W.*) AS n_w, FIRST(W.ts) AS w_first
          PATTERN (V C? P)
          SUBSET W = (C, P)
          WITHIN INTERVAL '1' HOUR
          DEFINE V AS event_type = 'view',
                 C AS event_type = 'click',
                 P AS event_type = 'purchase'
        )""")
    got = {r["user_id"]: r for r in out.collect()}
    assert got[1]["n_w"] == 1
    assert got[1]["w_first"] == t0 + timedelta(seconds=2)
    assert got[2]["n_w"] == 2
    assert got[2]["w_first"] == t0 + timedelta(seconds=2)


def test_subset_errors(spark):
    ev = _value_trace(spark, seed=67)
    base = """
        MATCH_RECOGNIZE (
          PARTITION BY user_id ORDER BY ts
          MEASURES {meas}
          PATTERN (V S+ P)
          SUBSET {subset}
          WITHIN INTERVAL '1' HOUR
          DEFINE V AS event_type = 'view',
                 S AS event_type IN ('click', 'signup'),
                 P AS event_type = 'purchase'
        )"""
    ok = "W = (S, P)"
    # SUM over a subset PAYLOAD column is supported (composition);
    # over the time/id column it is not
    assert match_recognize_sql(
        ev, base.format(meas="SUM(W.value) AS s", subset=ok)
    ).columns == ["user_id", "s"]
    with pytest.raises(ValueError, match="time/id column"):
        match_recognize_sql(ev, base.format(
            meas="AVG(W.ts) AS s", subset=ok))
    with pytest.raises(ValueError, match="bare W.value"):
        match_recognize_sql(ev, base.format(
            meas="W.value AS s", subset=ok))
    with pytest.raises(ValueError, match="not decomposable"):
        match_recognize_sql(ev, base.format(
            meas="FIRST(W.event_id) AS s", subset=ok))
    with pytest.raises(ValueError, match="unknown variable"):
        match_recognize_sql(ev, base.format(
            meas="COUNT(W.*) AS s", subset="W = (S, Q)"))
    with pytest.raises(ValueError, match="already a variable"):
        match_recognize_sql(ev, base.format(
            meas="COUNT(V.*) AS s", subset="V = (S, P)"))


def test_running_final_measure_prefixes(spark):
    """ONE ROW PER MATCH evaluates every measure at the final row, so
    the standard's RUNNING/FINAL prefixes are both no-ops there; under
    ALL ROWS they raise with guidance."""
    ev = _value_trace(spark, seed=71)
    plain = match_recognize_sql(ev, """
        MATCH_RECOGNIZE (
          PARTITION BY user_id ORDER BY ts
          MEASURES COUNT(S.*) AS n_s, V.ts AS start_ts
          PATTERN (V S* P) WITHIN INTERVAL '1' HOUR
          DEFINE V AS event_type = 'view',
                 S AS event_type IN ('click', 'signup'),
                 P AS event_type = 'purchase'
        )""")
    prefixed = match_recognize_sql(ev, """
        MATCH_RECOGNIZE (
          PARTITION BY user_id ORDER BY ts
          MEASURES FINAL COUNT(S.*) AS n_s, RUNNING V.ts AS start_ts
          PATTERN (V S* P) WITHIN INTERVAL '1' HOUR
          DEFINE V AS event_type = 'view',
                 S AS event_type IN ('click', 'signup'),
                 P AS event_type = 'purchase'
        )""")
    assert _rows(plain) == _rows(prefixed) and plain.count() > 0
    # under ALL ROWS the prefixes select the window frame; on a
    # row-constant function they are inert
    mn = match_recognize_sql(ev, """
        MATCH_RECOGNIZE (
          PARTITION BY user_id ORDER BY ts
          MEASURES RUNNING MATCH_NUMBER() AS mn
          ALL ROWS PER MATCH
          PATTERN (V P) WITHIN INTERVAL '1' HOUR
          DEFINE V AS event_type = 'view',
                 P AS event_type = 'purchase'
        )""")
    assert [r["mn"] == r["match_no"] for r in mn.collect()]
    assert mn.count() > 0


def test_payload_measures_post_sink_stream(spark, tmp_path):
    """The documented streaming path for payload measures: run the
    clause WITHOUT them on the stream (bind='all'), then apply the
    join-back helpers to the SINK output — must equal the batch clause
    WITH the payload measures."""
    import os
    import time as _time

    import pandas as pd

    from rtfproc_spark.operators.measures import (
        attach_row_payload, loop_measures,
    )

    rng = random.Random(73)
    t0 = datetime(2024, 1, 1)
    rows = sorted(
        (
            (i, rng.randrange(5),
             rng.choice(["view", "click", "signup", "purchase", "noise"]),
             t0 + timedelta(seconds=rng.randrange(7200)),
             float(rng.randrange(1, 100)))
            for i in range(600)
        ),
        key=lambda r: (r[3], r[0]),
    )
    pdf = pd.DataFrame(rows, columns=["event_id", "user_id", "event_type",
                                      "ts", "value"])
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    src = tmp_path / "src"
    src.mkdir()
    now = _time.time()
    n = len(pdf)
    for f in range(4):
        p = str(src / f"part-{f}.parquet")
        pdf.iloc[f * n // 4: (f + 1) * n // 4].to_parquet(p, index=False)
        os.utime(p, (now + f, now + f))
    batch_df = spark.createDataFrame(pdf)

    with_payload = """
        MATCH_RECOGNIZE (
          PARTITION BY user_id ORDER BY ts
          MEASURES V.ts AS start_ts, COUNT(H.*) AS n_h,
                   MIN(H.value) AS h_min, P.value AS p_value
          PATTERN (V H+ P)
          WITHIN INTERVAL '30' MINUTE
          DEFINE V AS event_type = 'view',
                 H AS event_type IN ('click', 'signup'),
                 P AS event_type = 'purchase'
        )"""
    bare = """
        MATCH_RECOGNIZE (
          PARTITION BY user_id ORDER BY ts
          PATTERN (V H+ P)
          WITHIN INTERVAL '30' MINUTE
          DEFINE V AS event_type = 'view',
                 H AS event_type IN ('click', 'signup'),
                 P AS event_type = 'purchase'
        )"""
    want = {
        tuple(r) for r in match_recognize_sql(
            batch_df, with_payload).collect()
    }
    assert want, "corpus must produce matches"

    stream = (
        spark.readStream.schema(
            "event_id long, user_id long, event_type string, "
            "ts timestamp, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = match_recognize_sql(stream, bare, bind="all")
    sink, ckpt = tmp_path / "out", tmp_path / "ckpt"
    q = (
        out.writeStream.format("parquet")
        .option("path", str(sink)).option("checkpointLocation", str(ckpt))
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    sunk = spark.read.parquet(str(sink))
    post = loop_measures(
        attach_row_payload(sunk, batch_df, [("id_3", "value", "p_value")]),
        batch_df, "h", {"h_min": ("min", "value")}, ["user_id"],
    ).selectExpr("user_id", "ts_1 AS start_ts", "n_h", "h_min", "p_value")
    got = {tuple(r) for r in post.collect()}
    assert got == want


def test_single_step_stream_equals_batch(spark, tmp_path):
    """A one-variable pattern on a stream is a stateless filter — same
    rows as the batch shortcut, including the alternation branch."""
    import os
    import time as _time

    import pandas as pd

    rng = random.Random(79)
    t0 = datetime(2024, 1, 1)
    rows = [
        (i, rng.randrange(4),
         rng.choice(["view", "click", "signup", "noise"]),
         t0 + timedelta(seconds=rng.randrange(3600)))
        for i in range(300)
    ]
    pdf = pd.DataFrame(rows, columns=["event_id", "user_id", "event_type",
                                      "ts"])
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    src = tmp_path / "src"
    src.mkdir()
    now = _time.time()
    for f in range(2):
        p = str(src / f"part-{f}.parquet")
        pdf.iloc[f * 150:(f + 1) * 150].to_parquet(p, index=False)
        os.utime(p, (now + f, now + f))
    clause = """
        MATCH_RECOGNIZE (
          PARTITION BY user_id ORDER BY ts
          PATTERN ((C|S))
          DEFINE C AS event_type = 'click',
                 S AS event_type = 'signup'
        )"""
    want = _rows(match_recognize_sql(spark.createDataFrame(pdf), clause))
    assert want
    stream = (
        spark.readStream.schema(
            "event_id long, user_id long, event_type string, ts timestamp"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = match_recognize_sql(stream, clause)
    assert out.isStreaming
    sink, ckpt = tmp_path / "out", tmp_path / "ckpt"
    q = (
        out.writeStream.format("parquet")
        .option("path", str(sink)).option("checkpointLocation", str(ckpt))
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    assert _rows(spark.read.parquet(str(sink))) == want


# ---------------------------------------------------------------------------
# PATTERN (PERMUTE(A, B, C)) clause form
# ---------------------------------------------------------------------------


def test_permute_clause_equals_operator(spark):
    """PATTERN (PERMUTE(...)) routes to match_permutation with the
    variables bound by ORIGINAL index and renamed onto ts_k/id_k, so
    measures / payload join-backs / SUBSET compose unchanged."""
    from rtfproc_spark.operators.cep import match_permutation

    ev = _value_trace(spark, seed=83)
    out = match_recognize_sql(ev, """
        MATCH_RECOGNIZE (
          PARTITION BY user_id ORDER BY ts
          PATTERN (PERMUTE(V, C, P))
          WITHIN INTERVAL '1' HOUR
          DEFINE V AS event_type = 'view',
                 C AS event_type = 'click',
                 P AS event_type = 'purchase'
        )""")
    want = match_permutation(
        ev,
        [F.col("event_type") == "view", F.col("event_type") == "click",
         F.col("event_type") == "purchase"],
        ["user_id"], within="1 hour",
    ).select(
        "user_id", "perm_idx",
        *[F.col(f"ts_s{j}").alias(f"ts_{j}") for j in (1, 2, 3)],
        *[F.col(f"id_s{j}").alias(f"id_{j}") for j in (1, 2, 3)],
    )
    assert _rows(out) == _rows(want.select(out.columns))
    assert len(_rows(out)) > 0
    # measures incl. a payload join-back and a SUBSET over permuted vars
    m = match_recognize_sql(ev, """
        MATCH_RECOGNIZE (
          PARTITION BY user_id ORDER BY ts
          MEASURES V.value AS v_val, COUNT(W.*) AS n_w,
                   LAST(W.ts) AS w_last
          PATTERN (PERMUTE(V, C, P))
          SUBSET W = (C, P)
          WITHIN INTERVAL '1' HOUR
          DEFINE V AS event_type = 'view',
                 C AS event_type = 'click',
                 P AS event_type = 'purchase'
        )""")
    val = {r["event_id"]: r["value"] for r in ev.collect()}
    rows = m.collect()
    assert len(rows) == len(_rows(out))
    by = {(r["user_id"], r["id_1"]): r for r in want.collect()}
    # v_val joins the ORIGINAL V row regardless of ordering; n_w is
    # always 2 (both single vars bound); w_last = max of C/P timestamps
    for r in rows:
        assert r["n_w"] == 2
    got_vals = sorted(r["v_val"] for r in rows)
    want_vals = sorted(val[r["id_1"]] for r in want.collect())
    assert got_vals == want_vals


def test_permute_clause_errors(spark):
    ev = _value_trace(spark, seed=89)
    base = """
        MATCH_RECOGNIZE (
          PARTITION BY user_id ORDER BY ts
          {extra}
          PATTERN (PERMUTE(V, C))
          WITHIN INTERVAL '1' HOUR
          DEFINE V AS event_type = 'view', C AS event_type = 'click')"""
    with pytest.raises(ValueError, match="not composable with PERMUTE"):
        match_recognize_sql(ev, base.format(
            extra="AFTER MATCH SKIP PAST LAST ROW"))
    with pytest.raises(ValueError, match="PERMUTE with ALL ROWS"):
        match_recognize_sql(ev, base.format(extra="ALL ROWS PER MATCH"))
    with pytest.raises(ValueError, match="not in define"):
        match_recognize_sql(ev, """
            MATCH_RECOGNIZE (
              PARTITION BY user_id ORDER BY ts
              PATTERN (PERMUTE(V, Q))
              DEFINE V AS event_type = 'view', C AS event_type = 'click')""")
    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
        .selectExpr("value as event_id", "value % 3 as user_id",
                    "'view' as event_type", "timestamp as ts")
    )
    with pytest.raises(ValueError, match="PERMUTE is batch-only"):
        match_recognize_sql(stream, base.format(extra=""))


def test_nav_expresses_partition_anchors(spark):
    """The standard's ^/$ partition anchors via navigation: PREV(id) IS
    NULL marks the partition's first row, NEXT(id) IS NULL its last."""
    t0 = datetime(2024, 1, 1)
    rows = [
        (1, t0 + timedelta(seconds=1), 1, "view"),
        (2, t0 + timedelta(seconds=2), 1, "click"),
        (3, t0 + timedelta(seconds=3), 1, "view"),
        (4, t0 + timedelta(seconds=1), 2, "click"),
        (5, t0 + timedelta(seconds=2), 2, "view"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )
    first_view = match_recognize_sql(df, """
        MATCH_RECOGNIZE (
          PARTITION BY user_id ORDER BY ts
          MEASURES A.event_id AS aid PATTERN (A)
          DEFINE A AS event_type = 'view' AND PREV(event_id) IS NULL
        )""")
    assert sorted((r["user_id"], r["aid"]) for r in first_view.collect()) \
        == [(1, 1)]  # u2's first row is a click, not a view
    last_row = match_recognize_sql(df, """
        MATCH_RECOGNIZE (
          PARTITION BY user_id ORDER BY ts
          MEASURES Z.event_id AS zid PATTERN (Z)
          DEFINE Z AS NEXT(event_id) IS NULL
        )""")
    assert sorted((r["user_id"], r["zid"]) for r in last_row.collect()) \
        == [(1, 3), (2, 5)]


def test_exclusion_syntax(spark):
    """{- X -} omits X's bound rows from ALL ROWS output (matching and
    row_in_match ordinals unchanged — exclusion applies to output only);
    ONE ROW mode is a standard-mandated no-op; structural errors."""
    spec = compile_pattern("A {- B+ -} C", {v: v.lower() for v in "ABC"})
    assert spec["excluded_steps"] == {2}
    spec2 = compile_pattern("A {- B C -} D",
                            {v: v.lower() for v in "ABCD"})
    assert spec2["excluded_steps"] == {2, 3}
    with pytest.raises(ValueError, match="nested"):
        compile_pattern("A {- {- B -} -}", {"A": "a", "B": "b"})
    with pytest.raises(ValueError, match="without a matching"):
        compile_pattern("A B -}", {"A": "a", "B": "b"})
    with pytest.raises(ValueError, match="inside a .- exclusion"):
        compile_pattern("A {- B", {"A": "a", "B": "b"})

    t0 = datetime(2024, 1, 1)
    rows = [
        (1, t0 + timedelta(seconds=1), 1, "view"),
        (2, t0 + timedelta(seconds=2), 1, "click"),
        (3, t0 + timedelta(seconds=3), 1, "click"),
        (4, t0 + timedelta(seconds=4), 1, "purchase"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )
    clause = """
        MATCH_RECOGNIZE (
          PARTITION BY user_id ORDER BY ts
          {rows}
          PATTERN (V {ex1} C+ {ex2} P)
          WITHIN INTERVAL '1' HOUR
          DEFINE V AS event_type = 'view', C AS event_type = 'click',
                 P AS event_type = 'purchase'
        )"""
    out = match_recognize_sql(df, clause.format(
        rows="ALL ROWS PER MATCH", ex1="{-", ex2="-}"))
    got = sorted((r["event_id"], r["classifier"], r["row_in_match"])
                 for r in out.collect())
    assert got == [(1, "v", 1), (4, "p", 4)]
    # one-row mode: exclusion is a no-op — identical frames
    plain = match_recognize_sql(df, clause.format(rows="", ex1="", ex2=""))
    excl = match_recognize_sql(df, clause.format(
        rows="", ex1="{-", ex2="-}"))
    assert _rows(plain) == _rows(excl) and plain.count() == 1


def test_all_rows_running_final_aggregates(spark):
    """RUNNING/FINAL aggregates under ALL ROWS PER MATCH as window
    expressions over the per-match frame — hand-checked on one match
    (values 8.0, 3.0 bound to C): RUNNING sees rows so far, FINAL the
    whole match; COUNT(*) RUNNING is the row ordinal."""
    t0 = datetime(2024, 1, 1)
    rows = [
        (1, t0 + timedelta(seconds=1), 1, "view", 5.0),
        (2, t0 + timedelta(seconds=2), 1, "click", 8.0),
        (3, t0 + timedelta(seconds=3), 1, "click", 3.0),
        (4, t0 + timedelta(seconds=4), 1, "purchase", 9.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double")
    out = match_recognize_sql(df, """
        MATCH_RECOGNIZE (
          PARTITION BY user_id ORDER BY ts
          MEASURES RUNNING COUNT(C.*) AS rc, FINAL COUNT(C.*) AS fc,
                   RUNNING SUM(C.value) AS rs, FINAL SUM(C.value) AS fs,
                   COUNT(*) AS rn, FINAL FIRST(C.value) AS ffirst,
                   RUNNING LAST(C.value) AS rlast, FINAL MAX(C.value) AS fmax
          ALL ROWS PER MATCH
          PATTERN (V C+ P)
          WITHIN INTERVAL '1' HOUR
          DEFINE V AS event_type = 'view', C AS event_type = 'click',
                 P AS event_type = 'purchase'
        )""")
    got = {
        r["event_id"]: (r["rc"], r["fc"], r["rs"], r["fs"], r["rn"],
                        r["ffirst"], r["rlast"], r["fmax"])
        for r in out.collect()
    }
    assert got == {
        1: (0, 2, None, 11.0, 1, 8.0, None, 8.0),
        2: (1, 2, 8.0, 11.0, 2, 8.0, 8.0, 8.0),
        3: (2, 2, 11.0, 11.0, 3, 8.0, 3.0, 8.0),
        4: (2, 2, 11.0, 11.0, 4, 8.0, 3.0, 8.0),
    }
    # exclusion removes C's rows but the aggregates were computed first
    excl = match_recognize_sql(df, """
        MATCH_RECOGNIZE (
          PARTITION BY user_id ORDER BY ts
          MEASURES FINAL SUM(C.value) AS fs, RUNNING COUNT(C.*) AS rc
          ALL ROWS PER MATCH
          PATTERN (V {- C+ -} P)
          WITHIN INTERVAL '1' HOUR
          DEFINE V AS event_type = 'view', C AS event_type = 'click',
                 P AS event_type = 'purchase'
        )""")
    g2 = {r["event_id"]: (r["fs"], r["rc"]) for r in excl.collect()}
    assert g2 == {1: (11.0, 0), 4: (11.0, 2)}
    # a variable sharing its element (alternation) is not separable
    with pytest.raises(ValueError, match="ambiguous"):
        match_recognize_sql(df, """
            MATCH_RECOGNIZE (
              PARTITION BY user_id ORDER BY ts
              MEASURES RUNNING COUNT(C.*) AS rc
              ALL ROWS PER MATCH
              PATTERN (V (C|P))
              WITHIN INTERVAL '1' HOUR
              DEFINE V AS event_type = 'view', C AS event_type = 'click',
                     P AS event_type = 'purchase'
            )""")


def test_all_rows_window_aggs_duckdb_recompute(spark):
    """The ALL ROWS window-aggregate rewrites recomputed independently
    by DuckDB window functions over the same expanded rows — random
    trace, loop pattern, RUNNING and FINAL frames."""
    import duckdb

    ev = _value_trace(spark, seed=97)
    out = match_recognize_sql(ev, """
        MATCH_RECOGNIZE (
          PARTITION BY user_id ORDER BY ts
          MEASURES RUNNING COUNT(S.*) AS rc, FINAL COUNT(S.*) AS fc,
                   FINAL SUM(S.value) AS fs, RUNNING MIN(S.value) AS rmin
          ALL ROWS PER MATCH
          PATTERN (V S+ P)
          WITHIN INTERVAL '1' HOUR
          DEFINE V AS event_type = 'view',
                 S AS event_type IN ('click', 'signup'),
                 P AS event_type = 'purchase'
        )""")
    pdf = out.toPandas()
    assert len(pdf) > 0
    con = duckdb.connect()
    con.register("m", pdf)
    bad = con.execute("""
        WITH w AS (
          SELECT *,
            count(CASE WHEN classifier = 's' THEN 1 END) OVER
              (PARTITION BY user_id, match_no ORDER BY row_in_match
               ROWS UNBOUNDED PRECEDING) AS rc2,
            count(CASE WHEN classifier = 's' THEN 1 END) OVER
              (PARTITION BY user_id, match_no) AS fc2,
            sum(CASE WHEN classifier = 's' THEN value END) OVER
              (PARTITION BY user_id, match_no) AS fs2,
            min(CASE WHEN classifier = 's' THEN value END) OVER
              (PARTITION BY user_id, match_no ORDER BY row_in_match
               ROWS UNBOUNDED PRECEDING) AS rmin2
          FROM m)
        SELECT COUNT(*) FROM w
        WHERE rc != rc2 OR fc != fc2 OR fs != fs2
           OR COALESCE(rmin, -1) != COALESCE(rmin2, -1)
    """).fetchone()[0]
    assert bad == 0


def test_subset_all_rows_composition(spark):
    """SUBSET measures compose with the ALL ROWS window rewrites:
    RUNNING COUNT(W.*) counts union rows SO FAR (the single-row
    component counts at its own row, not from row 1), FINAL MAX/FIRST
    compose over the whole match."""
    t0 = datetime(2024, 1, 1)
    rows = [
        (1, t0 + timedelta(seconds=1), 1, "view", 5.0),
        (2, t0 + timedelta(seconds=2), 1, "click", 8.0),
        (3, t0 + timedelta(seconds=3), 1, "click", 3.0),
        (4, t0 + timedelta(seconds=4), 1, "purchase", 9.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double")
    out = match_recognize_sql(df, """
        MATCH_RECOGNIZE (
          PARTITION BY user_id ORDER BY ts
          MEASURES RUNNING COUNT(W.*) AS rw, FINAL COUNT(W.*) AS fw,
                   FINAL MAX(W.value) AS w_max, FINAL FIRST(W.ts) AS w_first
          ALL ROWS PER MATCH
          PATTERN (V C+ P)
          SUBSET W = (C, P)
          WITHIN INTERVAL '1' HOUR
          DEFINE V AS event_type = 'view', C AS event_type = 'click',
                 P AS event_type = 'purchase'
        )""")
    got = {r["event_id"]: (r["rw"], r["fw"], r["w_max"], r["w_first"])
           for r in out.collect()}
    t2 = t0 + timedelta(seconds=2)
    assert got == {
        1: (0, 3, 9.0, t2),
        2: (1, 3, 9.0, t2),
        3: (2, 3, 9.0, t2),
        4: (3, 3, 9.0, t2),
    }


def test_subset_sum_avg_count(spark):
    """SUM/AVG/COUNT over a SUBSET payload column — null-aware
    component composition (empty union -> NULL, per SQL), in BOTH
    output modes (running composition under ALL ROWS)."""
    t0 = datetime(2024, 1, 1)
    rows = [
        (1, t0 + timedelta(seconds=1), 1, "view", 5.0),
        (2, t0 + timedelta(seconds=2), 1, "click", 8.0),
        (3, t0 + timedelta(seconds=3), 1, "click", 3.0),
        (4, t0 + timedelta(seconds=4), 1, "purchase", 9.0),
        (5, t0 + timedelta(seconds=1), 2, "view", 2.0),
        (6, t0 + timedelta(seconds=2), 2, "purchase", 7.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double")
    C = """
        MATCH_RECOGNIZE (
          PARTITION BY user_id ORDER BY ts
          MEASURES SUM(W.value) AS w_sum, AVG(W.value) AS w_avg,
                   COUNT(W.value) AS w_cnt
          {rows}
          PATTERN (V S* P)
          SUBSET W = (S, P)
          WITHIN INTERVAL '1' HOUR
          DEFINE V AS event_type = 'view',
                 S AS event_type = 'click',
                 P AS event_type = 'purchase')"""
    one = {r["user_id"]: (r["w_sum"], round(r["w_avg"], 4), r["w_cnt"])
           for r in match_recognize_sql(df, C.format(rows="")).collect()}
    assert one == {1: (20.0, 6.6667, 3), 2: (7.0, 7.0, 1)}
    allr = {
        r["event_id"]: (r["w_sum"], r["w_cnt"])
        for r in match_recognize_sql(
            df, C.format(rows="ALL ROWS PER MATCH")).collect()
    }
    assert allr == {1: (None, 0), 2: (8.0, 1), 3: (11.0, 2),
                    4: (20.0, 3), 5: (None, 0), 6: (7.0, 1)}
    with pytest.raises(ValueError, match="time/id column"):
        match_recognize_sql(df, """
            MATCH_RECOGNIZE (
              PARTITION BY user_id ORDER BY ts
              MEASURES SUM(W.ts) AS s
              PATTERN (V S* P)
              SUBSET W = (S, P)
              WITHIN INTERVAL '1' HOUR
              DEFINE V AS event_type = 'view',
                     S AS event_type = 'click',
                     P AS event_type = 'purchase')""")


def test_permute_with_navigation(spark):
    """PERMUTE composes with DEFINE navigation (the nav columns are
    computed on the frame every permutation matches over)."""
    t0 = datetime(2024, 1, 1)
    rows = [(1, t0 + timedelta(seconds=1), 1, 10.0),
            (2, t0 + timedelta(seconds=2), 1, 8.0),
            (3, t0 + timedelta(seconds=3), 1, 9.0),
            (4, t0 + timedelta(seconds=1), 2, 5.0),
            (5, t0 + timedelta(seconds=2), 2, 6.0)]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, value double")
    out = match_recognize_sql(df, """
        MATCH_RECOGNIZE (
          PARTITION BY user_id ORDER BY ts
          MEASURES D.event_id AS did, U.event_id AS uid
          PATTERN (PERMUTE(D, U))
          WITHIN INTERVAL '1' HOUR
          DEFINE D AS value < PREV(value), U AS value >= PREV(value)
        )""")
    assert [(r["user_id"], r["did"], r["uid"]) for r in out.collect()] \
        == [(1, 2, 3)]


# ---------------------------------------------------------------------------
# Quantified sequence groups: PATTERN ((A B){m,n})
# ---------------------------------------------------------------------------


def test_sequence_group_brute_force(spark):
    """(A B){1,3} vs a brute-force per-anchor simulation: for each
    anchor, the winning rep count is the largest r whose unrolled
    2r-step earliest-first sequence completes within the window
    (reluctant: smallest)."""
    rng = random.Random(101)
    t0 = datetime(2024, 1, 1)
    rows = [
        (i, rng.randrange(4), rng.choice(["a", "b", "x"]),
         t0 + timedelta(seconds=rng.randrange(1200)))
        for i in range(260)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp"
    )
    by_key = {}
    for i, u, typ, ts in rows:
        by_key.setdefault(u, []).append((ts, i, typ))
    for v in by_key.values():
        v.sort()

    def sim(u, a_ts, a_id, r, within_s=600):
        # earliest-first sequential matching of (A B)*r from the anchor
        seq = ["a", "b"] * r
        cur_ts, cur_id = a_ts, a_id
        bound = a_ts + timedelta(seconds=within_s)
        for want in seq[1:]:
            nxt = None
            for ts, i, typ in by_key[u]:
                if ts > cur_ts and ts <= bound and typ == want:
                    nxt = (ts, i)
                    break
            if nxt is None:
                return None
            cur_ts, cur_id = nxt
        return cur_id

    def expected(greedy):
        out = {}
        for u, evs in by_key.items():
            for ts, i, typ in evs:
                if typ != "a":
                    continue
                reps = [r for r in range(1, 4)
                        if sim(u, ts, i, r) is not None]
                if reps:
                    r = max(reps) if greedy else min(reps)
                    out[(u, i)] = (r, sim(u, ts, i, r))
        return out

    clause = """
        MATCH_RECOGNIZE (
          PARTITION BY user_id ORDER BY ts
          PATTERN ((A B){{1,3}}{q})
          WITHIN INTERVAL '10' MINUTE
          DEFINE A AS event_type = 'a', B AS event_type = 'b'
        )"""
    for q, greedy in (("", True), ("?", False)):
        got = {
            (r["user_id"], r["id_1"]): (r["n_reps"], r["end_id"])
            for r in match_recognize_sql(df, clause.format(q=q)).collect()
        }
        want = expected(greedy)
        assert got == want and len(want) > 10, (q, len(got), len(want))


def test_sequence_group_errors(spark):
    ev = _value_trace(spark, seed=103)
    base = """
        MATCH_RECOGNIZE (
          PARTITION BY user_id ORDER BY ts
          {extra}
          PATTERN ((V P){{1,2}})
          WITHIN INTERVAL '1' HOUR
          DEFINE V AS event_type = 'view', P AS event_type = 'purchase')"""
    with pytest.raises(ValueError, match="neither MEASURES"):
        match_recognize_sql(ev, base.format(extra="MEASURES V.ts AS t"))
    with pytest.raises(ValueError, match="neither MEASURES"):
        match_recognize_sql(ev, base.format(extra="ALL ROWS PER MATCH"))
    with pytest.raises(ValueError, match="not in define"):
        match_recognize_sql(ev, """
            MATCH_RECOGNIZE (
              PARTITION BY user_id ORDER BY ts
              PATTERN ((V Q){1,2})
              DEFINE V AS event_type = 'view',
                     P AS event_type = 'purchase')""")
    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
        .selectExpr("value as event_id", "value % 3 as user_id",
                    "'view' as event_type", "timestamp as ts")
    )
    with pytest.raises(ValueError, match="batch-only"):
        match_recognize_sql(stream, base.format(extra=""))
    from rtfproc_spark.operators.cep import match_repeated_group
    from pyspark.sql import functions as F
    with pytest.raises(ValueError, match="unroll too large"):
        match_repeated_group(
            ev, [F.lit(True), F.lit(True)], ["user_id"], 1, 7)


# ---------------------------------------------------------------------------
# round-8 ADVICE fixes: one-row ambiguity parity + targeted bind= errors
# ---------------------------------------------------------------------------


def test_one_row_alternation_measures_raise_ambiguous(spark):
    """Round-8 ADVICE: ONE ROW PER MATCH measures over a variable that
    shares an alternation element used to silently resolve element-wide
    (first/last/count over BOTH branches' hops) while the ALL ROWS path
    raised 'ambiguous' for the same reference. Both modes now raise."""
    from rtfproc_spark.operators.pattern import match_recognize_sql

    df = _trace(spark)
    tmpl = """
        MATCH_RECOGNIZE (
          PARTITION BY user_id ORDER BY ts
          MEASURES {m} AS m
          PATTERN (V (C|S)+ P)
          WITHIN INTERVAL '1' HOUR
          DEFINE V AS event_type = 'view',
                 C AS event_type = 'click',
                 S AS event_type = 'signup',
                 P AS event_type = 'purchase'
        )"""
    for m in ("FIRST(C.ts)", "LAST(S.ts)", "COUNT(C.*)", "MIN(C.ts)"):
        with pytest.raises(ValueError, match="ambiguous"):
            match_recognize_sql(df, tmpl.format(m=m))
    # single-row alternation element: same rule
    with pytest.raises(ValueError, match="ambiguous"):
        match_recognize_sql(df, """
            MATCH_RECOGNIZE (
              PARTITION BY user_id ORDER BY ts
              MEASURES C.ts AS cts
              PATTERN (V (C|S) P)
              WITHIN INTERVAL '1' HOUR
              DEFINE V AS event_type = 'view',
                     C AS event_type = 'click',
                     S AS event_type = 'signup',
                     P AS event_type = 'purchase'
            )""")
    # a lone-variable element is unaffected
    ok = match_recognize_sql(df, tmpl.format(m="FIRST(V.ts)"))
    assert "m" in ok.columns


def test_bind_kwarg_targeted_errors(spark):
    """Round-8 ADVICE: bind= with PERMUTE / quantified-group / ALL ROWS
    patterns used to leak through **kwargs into the engine call and die
    as an opaque TypeError — now a targeted ValueError."""
    from rtfproc_spark.operators.pattern import match_recognize_sql

    df = _trace(spark)
    defs = """DEFINE V AS event_type = 'view',
                     C AS event_type = 'click',
                     P AS event_type = 'purchase'"""
    with pytest.raises(ValueError, match="bind= is not applicable"):
        match_recognize_sql(df, f"""
            MATCH_RECOGNIZE (
              PARTITION BY user_id ORDER BY ts
              PATTERN (PERMUTE(V, C, P))
              WITHIN INTERVAL '1' HOUR
              {defs})""", bind="all")
    with pytest.raises(ValueError, match="bind= is not applicable"):
        match_recognize_sql(df, f"""
            MATCH_RECOGNIZE (
              PARTITION BY user_id ORDER BY ts
              PATTERN ((V C){{1,2}})
              WITHIN INTERVAL '1' HOUR
              {defs})""", bind=True)
    with pytest.raises(ValueError, match="conflicts with ALL ROWS"):
        match_recognize_sql(df, f"""
            MATCH_RECOGNIZE (
              PARTITION BY user_id ORDER BY ts
              ALL ROWS PER MATCH
              PATTERN (V C+ P)
              WITHIN INTERVAL '1' HOUR
              {defs})""", bind=True)


# ---------------------------------------------------------------------------
# round-8: cross-variable DEFINE references (CrossPred)
# ---------------------------------------------------------------------------


def test_cross_define_skips_failing_candidate(spark):
    """The defining semantics of a cross-variable DEFINE: a candidate
    failing the cross comparison is SKIPPED and the next event tried
    (per-candidate evaluation at join time) — post-filtering completed
    matches would instead kill the whole match."""
    from datetime import datetime, timedelta

    from rtfproc_spark.operators.pattern import match_recognize_sql

    t0 = datetime(2024, 1, 1)
    rows = [
        (1, 1, "view", t0, 10.0),
        (2, 1, "click", t0 + timedelta(minutes=1), 1.0),
        (3, 1, "purchase", t0 + timedelta(minutes=2), 5.0),   # fails cross
        (4, 1, "purchase", t0 + timedelta(minutes=3), 20.0),  # binds
        (5, 2, "view", t0, 50.0),
        (6, 2, "click", t0 + timedelta(minutes=1), 1.0),
        (7, 2, "purchase", t0 + timedelta(minutes=2), 30.0),  # fails, no more
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, user_id long, event_type string, ts timestamp, "
        "value double",
    )
    out = match_recognize_sql(df, """
        MATCH_RECOGNIZE (
          PARTITION BY user_id ORDER BY ts
          MEASURES P.value AS pval, V.value AS vval,
                   V.event_id AS vid, C.event_id AS cid, P.event_id AS pid
          PATTERN (V C P)
          WITHIN INTERVAL '1' HOUR
          DEFINE V AS event_type = 'view',
                 C AS event_type = 'click',
                 P AS event_type = 'purchase' AND value > V.value
        )""")
    rs = sorted(
        (r["user_id"], r["vid"], r["cid"], r["pid"], r["pval"], r["vval"])
        for r in out.collect()
    )
    assert rs == [(1, 1, 2, 4, 20.0, 10.0)], rs
    assert not [c for c in out.columns if c.startswith("_def_")]


def _cross_sim_vcp(rows, within_s, cross):
    """Brute-force greedy matcher for V C P where P's candidate must
    satisfy cross(v_row, c_row, p_row). PURE-ts open boundaries, (ts, id)
    earliest-first candidate order — the engine's documented semantics."""
    out = []
    by_key = {}
    for r in rows:
        by_key.setdefault(r[1], []).append(r)
    for key, evs in by_key.items():
        evs = sorted(evs, key=lambda r: (r[3], r[0]))
        for v in (r for r in evs if r[2] == "view"):
            horizon = v[3] + within_s
            c = next(
                (r for r in evs
                 if r[2] == "click" and r[3] > v[3] and r[3] <= horizon),
                None,
            )
            if c is None:
                continue
            p = next(
                (r for r in evs
                 if r[2] == "purchase" and r[3] > c[3] and r[3] <= horizon
                 and cross(v, c, r)),
                None,
            )
            if p is not None:
                out.append((key, v[0], c[0], p[0]))
    return sorted(out)


def test_cross_define_brute_force_differential(spark):
    """Random traces: the CrossPred clause path equals an independent
    pure-Python greedy simulation, for cross references to the anchor
    AND to the middle step, including a local pre-filter conjunct."""
    import random

    from rtfproc_spark.operators.pattern import match_recognize_sql

    rng = random.Random(81)
    rows = [
        (i, rng.randrange(6),
         rng.choice(["view", "click", "purchase", "noise"]),
         rng.randrange(4000),  # integer seconds — cast below
         round(rng.uniform(0, 30), 1))
        for i in range(600)
    ]
    df = spark.createDataFrame(
        [(i, u, t, s, val) for i, u, t, s, val in rows],
        "event_id long, user_id long, event_type string, sec long, "
        "value double",
    ).selectExpr(
        "event_id", "user_id", "event_type",
        "timestamp_seconds(sec) as ts", "value",
    )
    evs = [(i, u, t, s, val) for i, u, t, s, val in rows]

    # cross vs the ANCHOR, plus a local conjunct (value > 2)
    out = match_recognize_sql(df, """
        MATCH_RECOGNIZE (
          PARTITION BY user_id ORDER BY ts
          PATTERN (V C P)
          WITHIN INTERVAL '1' HOUR
          DEFINE V AS event_type = 'view',
                 C AS event_type = 'click',
                 P AS event_type = 'purchase' AND value > 2
                    AND value > V.value
        )""")
    got = sorted(
        (r["user_id"], r["id_1"], r["id_2"], r["id_3"])
        for r in out.collect()
    )
    want = _cross_sim_vcp(
        evs, 3600, lambda v, c, p: p[4] > 2 and p[4] > v[4]
    )
    assert got == want and len(want) > 3, (len(got), len(want))

    # cross vs the MIDDLE step (captured mid-cascade), FIRST() sugar
    out2 = match_recognize_sql(df, """
        MATCH_RECOGNIZE (
          PARTITION BY user_id ORDER BY ts
          PATTERN (V C P)
          WITHIN INTERVAL '1' HOUR
          DEFINE V AS event_type = 'view',
                 C AS event_type = 'click',
                 P AS event_type = 'purchase'
                    AND value > FIRST(C.value)
        )""")
    got2 = sorted(
        (r["user_id"], r["id_1"], r["id_2"], r["id_3"])
        for r in out2.collect()
    )
    want2 = _cross_sim_vcp(evs, 3600, lambda v, c, p: p[4] > c[4])
    assert got2 == want2 and len(want2) > 3, (len(got2), len(want2))


def test_cross_define_loop_closer_differential(spark):
    """V S+ P with a cross-variable closer DEFINE: the closer candidate
    must satisfy the cross comparison AND hold >= 1 loop hop in its open
    interval — vs a pure-Python simulation of the reluctant loop rule."""
    import random

    from rtfproc_spark.operators.pattern import match_recognize_sql

    rng = random.Random(82)
    rows = [
        (i, rng.randrange(5),
         rng.choice(["view", "signup", "purchase", "noise"]),
         rng.randrange(3000),
         round(rng.uniform(0, 30), 1))
        for i in range(500)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, user_id long, event_type string, sec long, "
        "value double",
    ).selectExpr(
        "event_id", "user_id", "event_type",
        "timestamp_seconds(sec) as ts", "value",
    )
    out = match_recognize_sql(df, """
        MATCH_RECOGNIZE (
          PARTITION BY user_id ORDER BY ts
          MEASURES COUNT(S.*) AS ns,
                   V.event_id AS vid, P.event_id AS pid
          PATTERN (V S+ P)
          WITHIN INTERVAL '30' MINUTE
          DEFINE V AS event_type = 'view',
                 S AS event_type = 'signup',
                 P AS event_type = 'purchase' AND value > V.value
        )""")
    got = sorted(
        (r["user_id"], r["vid"], r["pid"], r["ns"])
        for r in out.collect()
    )
    by_key = {}
    for r in rows:
        by_key.setdefault(r[1], []).append(r)
    want = []
    for key, evs in by_key.items():
        evs = sorted(evs, key=lambda r: (r[3], r[0]))
        for v in (r for r in evs if r[2] == "view"):
            horizon = v[3] + 1800
            for p in (r for r in evs
                      if r[2] == "purchase" and r[3] > v[3]
                      and r[3] <= horizon and r[4] > v[4]):
                # open-interval PURE-ts hop count (same-ts hops excluded)
                n = sum(1 for s in evs
                        if s[2] == "signup" and v[3] < s[3] < p[3])
                if n >= 1:
                    want.append((key, v[0], p[0], n))
                    break  # earliest eligible closer wins (reluctant)
    assert got == sorted(want) and len(want) > 2, (len(got), len(want))


def test_cross_define_errors(spark):
    """Targeted validation: loop-body cross refs, alternation-branch
    refs/targets, unknown/later variables, optional steps, streaming,
    and PERMUTE all raise clear errors."""
    from rtfproc_spark.operators.pattern import match_recognize_sql

    df = _trace(spark).withColumn("value", F.lit(1.0))
    base = """
        MATCH_RECOGNIZE (
          PARTITION BY user_id ORDER BY ts
          PATTERN ({pat})
          WITHIN INTERVAL '1' HOUR
          DEFINE {defs}
        )"""
    v = "V AS event_type = 'view'"
    c = "C AS event_type = 'click'"
    with pytest.raises(ValueError, match="loop body|loop variable"):
        match_recognize_sql(df, base.format(
            pat="V S+ P",
            defs=f"{v}, S AS event_type = 'signup' AND value > V.value, "
                 "P AS event_type = 'purchase'"))
    with pytest.raises(ValueError, match="loop variable"):
        match_recognize_sql(df, base.format(
            pat="V S+ P",
            defs=f"{v}, S AS event_type = 'signup', "
                 "P AS event_type = 'purchase' AND value > S.value"))
    with pytest.raises(ValueError, match="alternation"):
        match_recognize_sql(df, base.format(
            pat="V (C|S) P",
            defs=f"{v}, {c}, S AS event_type = 'signup', "
                 "P AS event_type = 'purchase' AND value > C.value"))
    # a variable in DEFINE but not in PATTERN is not a bindable step
    with pytest.raises(ValueError, match="not a pattern variable"):
        match_recognize_sql(df, base.format(
            pat="V P",
            defs=f"{v}, Q AS event_type = 'signup', "
                 "P AS event_type = 'purchase' AND value > Q.value"))
    with pytest.raises(ValueError, match="not a PRIOR step"):
        match_recognize_sql(df, base.format(
            pat="V C P",
            defs=f"{v}, C AS event_type = 'click' AND value > P.value, "
                 "P AS event_type = 'purchase'"))
    with pytest.raises(ValueError, match="optional"):
        match_recognize_sql(df, base.format(
            pat="V C? P",
            defs=f"{v}, {c}, "
                 "P AS event_type = 'purchase' AND value > C.value"))
    with pytest.raises(ValueError, match="PERMUTE"):
        match_recognize_sql(df, base.format(
            pat="PERMUTE(V, P)",
            defs=f"{v}, P AS event_type = 'purchase' AND value > V.value"))
    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
        .selectExpr("value as event_id", "value % 3 as user_id",
                    "'view' as event_type", "timestamp as ts",
                    "1.0 as value")
    )
    # a BARE cross comparison now lowers to the stream engine's
    # cross_conds (round 8) — only non-decomposable forms still raise
    out = match_recognize_sql(stream, base.format(
        pat="V P",
        defs=f"{v}, P AS event_type = 'purchase' AND value > V.value"))
    assert out.isStreaming
    with pytest.raises(ValueError, match="literal"):
        match_recognize_sql(stream, base.format(
            pat="V P",
            defs=f"{v}, P AS event_type = 'purchase' "
                 "AND value + 1.0 > V.value"))


def test_sequence_group_with_closer(spark):
    """Round 8: (A B){m,n} C — a quantified sequence group followed by a
    closer variable. The r-variant union reproduces the backtracking
    munch: user 1's r=2 unroll completes but has no closer after it, so
    greedy falls back to r=1 (a sequential munch would backtrack the
    same way); reluctant picks the smallest feasible r outright."""
    from datetime import datetime, timedelta

    from rtfproc_spark.operators.pattern import match_recognize_sql

    t0 = datetime(2024, 1, 1)

    def m(mins):
        return t0 + timedelta(minutes=mins)

    rows = [
        (1, 1, "a", m(0)), (2, 1, "b", m(1)), (3, 1, "c", m(2)),
        (4, 1, "a", m(3)), (5, 1, "b", m(4)),
        (10, 2, "a", m(0)), (11, 2, "b", m(1)), (12, 2, "a", m(2)),
        (13, 2, "b", m(3)), (14, 2, "c", m(4)),
        (20, 3, "a", m(0)), (21, 3, "b", m(1)),   # no closer -> no match
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp"
    )
    base = """
        MATCH_RECOGNIZE (
          PARTITION BY user_id ORDER BY ts
          PATTERN ((A B){{1,2}}{lazy} C)
          WITHIN INTERVAL '1' HOUR
          DEFINE A AS event_type = 'a', B AS event_type = 'b',
                 C AS event_type = 'c'
        )"""
    out = match_recognize_sql(df, base.format(lazy=""))
    rs = sorted(
        (r["user_id"], r["id_1"], r["n_reps"], r["end_id"], r["closer_id"])
        for r in out.collect()
    )
    assert rs == [
        (1, 1, 1, 2, 3),    # r=2 infeasible (no closer) -> backtrack to 1
        (2, 10, 2, 13, 14),  # greedy r=2
        (2, 12, 1, 13, 14),
    ], rs
    out2 = match_recognize_sql(df, base.format(lazy="?"))
    rs2 = sorted(
        (r["user_id"], r["id_1"], r["n_reps"], r["closer_id"])
        for r in out2.collect()
    )
    assert rs2 == [(1, 1, 1, 3), (2, 10, 1, 14), (2, 12, 1, 14)], rs2
    # errors: closer inside the group, closer not defined
    with pytest.raises(ValueError, match="also appears inside"):
        match_recognize_sql(df, """
            MATCH_RECOGNIZE (
              PARTITION BY user_id ORDER BY ts
              PATTERN ((A B){1,2} A)
              WITHIN INTERVAL '1' HOUR
              DEFINE A AS event_type = 'a', B AS event_type = 'b'
            )""")
    with pytest.raises(ValueError, match="not in define"):
        match_recognize_sql(df, """
            MATCH_RECOGNIZE (
              PARTITION BY user_id ORDER BY ts
              PATTERN ((A B){1,2} Z)
              WITHIN INTERVAL '1' HOUR
              DEFINE A AS event_type = 'a', B AS event_type = 'b'
            )""")


def test_defer_measures_and_apply_clause_measures(spark, tmp_path):
    """Round 8 sugar for streaming payload MEASURES: ONE clause text
    serves both halves — the stream runs it with defer_measures=True
    (measures dropped, loop binds auto-upgraded to what they need) and
    apply_clause_measures() applies the same clause to the sink output.
    Must equal the one-shot batch clause; targeted errors for the
    footguns (deferred all-rows, missing bind columns, live-stream
    events frame)."""
    import os
    import time as _time

    import pandas as pd

    from rtfproc_spark.operators.pattern import apply_clause_measures

    rng = random.Random(74)
    t0 = datetime(2024, 1, 1)
    rows = sorted(
        (
            (i, rng.randrange(5),
             rng.choice(["view", "click", "signup", "purchase", "noise"]),
             t0 + timedelta(seconds=rng.randrange(7200)),
             float(rng.randrange(1, 100)))
            for i in range(600)
        ),
        key=lambda r: (r[3], r[0]),
    )
    pdf = pd.DataFrame(rows, columns=["event_id", "user_id", "event_type",
                                      "ts", "value"])
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    src = tmp_path / "src"
    src.mkdir()
    now = _time.time()
    n = len(pdf)
    for f in range(4):
        p = str(src / f"part-{f}.parquet")
        pdf.iloc[f * n // 4: (f + 1) * n // 4].to_parquet(p, index=False)
        os.utime(p, (now + f, now + f))
    batch_df = spark.createDataFrame(pdf)
    clause = """
        MATCH_RECOGNIZE (
          PARTITION BY user_id ORDER BY ts
          MEASURES V.ts AS start_ts, COUNT(H.*) AS n_h,
                   MIN(H.value) AS h_min, P.value AS p_value
          PATTERN (V H+ P)
          WITHIN INTERVAL '30' MINUTE
          DEFINE V AS event_type = 'view',
                 H AS event_type IN ('click', 'signup'),
                 P AS event_type = 'purchase'
        )"""
    want = {
        tuple(r) for r in match_recognize_sql(batch_df, clause).collect()
    }
    assert want, "corpus must produce matches"

    stream = (
        spark.readStream.schema(
            "event_id long, user_id long, event_type string, "
            "ts timestamp, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    # the SAME clause text — no hand-stripped MEASURES, no explicit bind
    out = match_recognize_sql(stream, clause, defer_measures=True)
    sink, ckpt = tmp_path / "out", tmp_path / "ckpt"
    q = (
        out.writeStream.format("parquet")
        .option("path", str(sink)).option("checkpointLocation", str(ckpt))
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    sunk = spark.read.parquet(str(sink))
    # the deferred run auto-upgraded the loop bind to 'all'
    assert "h_ids" in sunk.columns, sunk.columns
    got = {
        tuple(r)
        for r in apply_clause_measures(sunk, batch_df, clause).collect()
    }
    assert got == want

    # footguns raise with targeted messages
    bare_matches = match_recognize_sql(batch_df, clause.replace(
        "MEASURES V.ts AS start_ts, COUNT(H.*) AS n_h,\n"
        "                   MIN(H.value) AS h_min, P.value AS p_value\n",
        "",
    ))
    with pytest.raises(ValueError, match="missing"):
        apply_clause_measures(
            bare_matches.drop("h_ids"), batch_df, clause)
    with pytest.raises(ValueError, match="BATCH events frame"):
        apply_clause_measures(sunk, stream, clause)
    with pytest.raises(ValueError, match="ONE ROW PER MATCH only"):
        match_recognize_sql(batch_df, """
            MATCH_RECOGNIZE (
              PARTITION BY user_id ORDER BY ts
              MEASURES COUNT(H.*) AS n_h
              ALL ROWS PER MATCH
              PATTERN (V H+ P)
              WITHIN INTERVAL '30' MINUTE
              DEFINE V AS event_type = 'view',
                     H AS event_type IN ('click', 'signup'),
                     P AS event_type = 'purchase'
            )""", defer_measures=True)


def test_sequence_group_with_prefix(spark):
    """Late round 8: V (A B){m,n} [C] — a quantified sequence group
    anchored by required single-row PREFIX steps (the 'group deeper
    inside a pattern' form). Every r-variant shares the prefix binding
    (earliest-first from the anchor is variant-independent), so the
    per-anchor winner rule is unchanged and the union still reproduces
    the backtracking munch. Hand-built backtracking cases + a
    randomized brute-force differential."""
    from datetime import datetime, timedelta

    from rtfproc_spark.operators.pattern import match_recognize_sql

    t0 = datetime(2024, 1, 1)

    def m(mins):
        return t0 + timedelta(minutes=mins)

    rows = [
        # key 1: greedy r=2 feasible including the closer
        (1, 1, "v", m(0)), (2, 1, "a", m(1)), (3, 1, "b", m(2)),
        (4, 1, "a", m(3)), (5, 1, "b", m(4)), (6, 1, "c", m(5)),
        # key 2: r=2 completes only without a trailing c -> backtrack r=1
        (11, 2, "v", m(0)), (12, 2, "a", m(1)), (13, 2, "b", m(2)),
        (14, 2, "c", m(3)), (15, 2, "a", m(4)), (16, 2, "b", m(5)),
        # key 3: no prefix v -> nothing
        (21, 3, "a", m(1)), (22, 3, "b", m(2)), (23, 3, "c", m(3)),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp"
    )
    base = """
        MATCH_RECOGNIZE (
          PARTITION BY user_id ORDER BY ts
          PATTERN (V (A B){{1,2}}{lazy} C)
          WITHIN INTERVAL '30' MINUTE
          DEFINE V AS event_type = 'v', A AS event_type = 'a',
                 B AS event_type = 'b', C AS event_type = 'c'
        )"""
    got = {
        r["user_id"]: (r["id_1"], r["n_reps"], r["first_a_id"],
                       r["last_b_id"], r["end_id"], r["closer_id"])
        for r in match_recognize_sql(df, base.format(lazy="")).collect()
    }
    assert got == {
        1: (1, 2, 2, 5, 5, 6),   # greedy r=2
        2: (11, 1, 12, 13, 13, 14),  # backtracked to r=1
    }, got
    got_lazy = {
        r["user_id"]: (r["n_reps"], r["closer_id"])
        for r in match_recognize_sql(df, base.format(lazy="?")).collect()
    }
    assert got_lazy == {1: (1, 6), 2: (1, 14)}, got_lazy

    # two prefix vars, no closer: V W (A B){1,2} — ts_2/id_2 emitted
    rows4 = [(31, 4, "v", m(0)), (32, 4, "w", m(1)), (33, 4, "a", m(2)),
             (34, 4, "b", m(3))]
    d4 = match_recognize_sql(
        spark.createDataFrame(
            rows4,
            "event_id long, user_id long, event_type string, ts timestamp",
        ), """
        MATCH_RECOGNIZE (
          PARTITION BY user_id ORDER BY ts
          PATTERN (V W (A B){1,2})
          WITHIN INTERVAL '30' MINUTE
          DEFINE V AS event_type = 'v', W AS event_type = 'w',
                 A AS event_type = 'a', B AS event_type = 'b'
        )""").collect()
    assert len(d4) == 1 and d4[0]["id_1"] == 31 and d4[0]["id_2"] == 32 \
        and d4[0]["n_reps"] == 1 and d4[0]["end_id"] == 34, d4

    # randomized brute-force differential: V (A B){1,3} C
    rng = random.Random(211)
    rows_r = [
        (i, rng.randrange(4), rng.choice(["v", "a", "b", "c", "x"]),
         t0 + timedelta(seconds=rng.randrange(1200)))
        for i in range(300)
    ]
    dfr = spark.createDataFrame(
        rows_r,
        "event_id long, user_id long, event_type string, ts timestamp",
    )
    by_key = {}
    for i, u, typ, ts in rows_r:
        by_key.setdefault(u, []).append((ts, i, typ))
    for v in by_key.values():
        v.sort()

    def sim(u, a_ts, a_id, r, within_s=600):
        # earliest-first sequential: anchor v, then (a b)*r, then c
        seq = ["a", "b"] * r + ["c"]
        cur_ts = a_ts
        bound = a_ts + timedelta(seconds=within_s)
        last = None
        for want in seq:
            nxt = None
            for ts, i, typ in by_key[u]:
                if ts > cur_ts and ts <= bound and typ == want:
                    nxt = (ts, i)
                    break
            if nxt is None:
                return None
            cur_ts, last = nxt
        return last

    def expected(greedy):
        out = {}
        for u, evs in by_key.items():
            for ts, i, typ in evs:
                if typ != "v":
                    continue
                reps = [r for r in range(1, 4)
                        if sim(u, ts, i, r) is not None]
                if reps:
                    r = max(reps) if greedy else min(reps)
                    out[(u, i)] = (r, sim(u, ts, i, r))
        return out

    clause_r = """
        MATCH_RECOGNIZE (
          PARTITION BY user_id ORDER BY ts
          PATTERN (V (A B){{1,3}}{q} C)
          WITHIN INTERVAL '10' MINUTE
          DEFINE V AS event_type = 'v', A AS event_type = 'a',
                 B AS event_type = 'b', C AS event_type = 'c'
        )"""
    for q, greedy in (("", True), ("?", False)):
        got_r = {
            (r["user_id"], r["id_1"]): (r["n_reps"], r["closer_id"])
            for r in match_recognize_sql(
                dfr, clause_r.format(q=q)).collect()
        }
        want_r = expected(greedy)
        assert got_r == want_r and len(want_r) > 5, \
            (q, len(got_r), len(want_r))

    # errors: prefix var repeated inside the group / undefined prefix var
    with pytest.raises(ValueError, match="repeats or also appears"):
        match_recognize_sql(df, """
            MATCH_RECOGNIZE (
              PARTITION BY user_id ORDER BY ts
              PATTERN (A (A B){1,2})
              WITHIN INTERVAL '1' HOUR
              DEFINE A AS event_type = 'a', B AS event_type = 'b'
            )""")
    with pytest.raises(ValueError, match="not in define"):
        match_recognize_sql(df, """
            MATCH_RECOGNIZE (
              PARTITION BY user_id ORDER BY ts
              PATTERN (Z (A B){1,2})
              WITHIN INTERVAL '1' HOUR
              DEFINE A AS event_type = 'a', B AS event_type = 'b'
            )""")


def test_sequence_group_multi_suffix(spark):
    """Late round 8: (A B){m,n} C D — SEVERAL required single-row steps
    after the group (the closer generalized): every r-variant appends
    the whole suffix, so feasibility includes the full suffix completing
    after rep r (backtracking munch over the suffix too). Suffix rows
    emit <name>_ts/id; a single trailing variable keeps the closer_ts/id
    contract. Hand-built backtracking + a randomized differential."""
    from datetime import datetime, timedelta

    from rtfproc_spark.operators.pattern import match_recognize_sql

    t0 = datetime(2024, 1, 1)

    def m(mins):
        return t0 + timedelta(minutes=mins)

    rows = [
        # key 1: greedy r=2 feasible including the full suffix c d
        (1, 1, "v", m(0)), (2, 1, "a", m(1)), (3, 1, "b", m(2)),
        (4, 1, "a", m(3)), (5, 1, "b", m(4)), (6, 1, "c", m(5)),
        (7, 1, "d", m(6)),
        # key 2: after rep 2 only c arrives (no d) -> backtrack to r=1
        (11, 2, "v", m(0)), (12, 2, "a", m(1)), (13, 2, "b", m(2)),
        (14, 2, "c", m(3)), (15, 2, "d", m(4)), (16, 2, "a", m(5)),
        (17, 2, "b", m(6)), (18, 2, "c", m(7)),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp"
    )
    clause = """
        MATCH_RECOGNIZE (
          PARTITION BY user_id ORDER BY ts
          PATTERN (V (A B){1,2} C D)
          WITHIN INTERVAL '30' MINUTE
          DEFINE V AS event_type = 'v', A AS event_type = 'a',
                 B AS event_type = 'b', C AS event_type = 'c',
                 D AS event_type = 'd'
        )"""
    got = {
        r["user_id"]: (r["id_1"], r["n_reps"], r["c_id"], r["d_id"])
        for r in match_recognize_sql(df, clause).collect()
    }
    assert got == {1: (1, 2, 6, 7), 2: (11, 1, 14, 15)}, got

    # randomized differential: (A B){1,3} C D lone group + two suffixes
    rng = random.Random(313)
    rows_r = [
        (i, rng.randrange(4), rng.choice(["a", "b", "c", "d", "x"]),
         t0 + timedelta(seconds=rng.randrange(1200)))
        for i in range(300)
    ]
    dfr = spark.createDataFrame(
        rows_r,
        "event_id long, user_id long, event_type string, ts timestamp",
    )
    by_key = {}
    for i, u, typ, ts in rows_r:
        by_key.setdefault(u, []).append((ts, i, typ))
    for v in by_key.values():
        v.sort()

    def sim(u, a_ts, a_id, r, within_s=600):
        seq = ["a", "b"] * r + ["c", "d"]
        cur_ts = a_ts
        bound = a_ts + timedelta(seconds=within_s)
        ids = [a_id]
        for want in seq[1:]:
            nxt = None
            for ts, i, typ in by_key[u]:
                if ts > cur_ts and ts <= bound and typ == want:
                    nxt = (ts, i)
                    break
            if nxt is None:
                return None
            cur_ts = nxt[0]
            ids.append(nxt[1])
        return (ids[-2], ids[-1])  # (c_id, d_id)

    def expected(greedy):
        out = {}
        for u, evs in by_key.items():
            for ts, i, typ in evs:
                if typ != "a":
                    continue
                feas = [r for r in range(1, 4)
                        if sim(u, ts, i, r) is not None]
                if feas:
                    r = max(feas) if greedy else min(feas)
                    out[(u, i)] = (r, *sim(u, ts, i, r))
        return out

    clause_r = """
        MATCH_RECOGNIZE (
          PARTITION BY user_id ORDER BY ts
          PATTERN ((A B){{1,3}}{q} C D)
          WITHIN INTERVAL '10' MINUTE
          DEFINE A AS event_type = 'a', B AS event_type = 'b',
                 C AS event_type = 'c', D AS event_type = 'd'
        )"""
    for q, greedy in (("", True), ("?", False)):
        got_r = {
            (r["user_id"], r["id_1"]): (r["n_reps"], r["c_id"], r["d_id"])
            for r in match_recognize_sql(
                dfr, clause_r.format(q=q)).collect()
        }
        want_r = expected(greedy)
        assert got_r == want_r and len(want_r) > 3, \
            (q, len(got_r), len(want_r))

    # errors: suffix var inside the group; duplicate suffix var
    with pytest.raises(ValueError, match="also appears inside"):
        match_recognize_sql(df, """
            MATCH_RECOGNIZE (
              PARTITION BY user_id ORDER BY ts
              PATTERN ((A B){1,2} C A)
              WITHIN INTERVAL '1' HOUR
              DEFINE A AS event_type = 'a', B AS event_type = 'b',
                     C AS event_type = 'c'
            )""")
    with pytest.raises(ValueError, match="also appears inside"):
        match_recognize_sql(df, """
            MATCH_RECOGNIZE (
              PARTITION BY user_id ORDER BY ts
              PATTERN ((A B){1,2} C C)
              WITHIN INTERVAL '1' HOUR
              DEFINE A AS event_type = 'a', B AS event_type = 'b',
                     C AS event_type = 'c'
            )""")


def test_anchor_loop_rejects_cross_pred(spark):
    """Round-9 ADVICE: the anchor-loop desugar (A+ B ...) renumbers
    steps, which an opaque CrossPred predicate cannot follow — the shift
    used to leave the pred referencing pre-shift _def_/ts_/id_ names and
    fail deep in analysis (UNRESOLVED_COLUMN). Both the operator API and
    the SQL clause must raise the targeted error instead."""
    from rtfproc_spark.operators.cep import CrossPred, LoopStep, match_sequence

    ev = _value_trace(spark, seed=61, n=60)
    with pytest.raises(ValueError, match="anchor-position loop"):
        match_sequence(
            ev,
            steps=[
                LoopStep(pred=F.col("event_type") == "click", min_n=1,
                         name="c"),
                F.col("event_type") == "view",
                CrossPred(
                    pred=F.col("_ev_value") > F.col("_def_2_value"),
                    needs=((2, "value"),), ev_cols=("value",),
                    local=F.col("event_type") == "purchase",
                ),
            ],
            key_cols=["user_id"],
            within="1 hour",
        )
    with pytest.raises(ValueError, match="anchor-position loop"):
        match_recognize_sql(ev, """
            MATCH_RECOGNIZE (
              PARTITION BY user_id ORDER BY ts
              PATTERN (L+ A B)
              WITHIN INTERVAL '1' HOUR
              DEFINE L AS event_type = 'click',
                     A AS event_type = 'view',
                     B AS event_type = 'purchase' AND value > A.value
            )""")


def test_stream_define_literal_containing_and():
    """Round-9 ADVICE: string literals are masked before the top-level
    AND split, so a DEFINE literal containing ' AND ' (directly or in an
    IN list) lowers instead of mis-splitting into bogus conjuncts."""
    from rtfproc_spark.operators.pattern import _lower_stream_define

    type_col, out, navmap, crossmap, localmap = _lower_stream_define(
        {
            "V": "event_type = 'x AND y'",
            "P": "event_type IN ('a AND b', 'c') AND value > 3",
        }
    )
    assert type_col == "event_type"
    assert out["V"] == "x AND y"
    assert out["P"] == ("a AND b", "c")
    assert localmap == {"P": [("value", ">", 3.0)]}


@pytest.mark.parametrize(
    "expr, want, want_nav",
    [
        (
            "label = 'PREV(' AND value < PREV(value)",
            "label = 'PREV(' AND value < __nav_prev1_0",
            {("prev", "value", 1): "__nav_prev1_0"},
        ),
        (
            "x = PREV(CASE WHEN t = ')' THEN 1 ELSE 0 END)",
            "x = __nav_prev1_0",
            {("prev", "CASE WHEN t = ')' THEN 1 ELSE 0 END", 1):
             "__nav_prev1_0"},
        ),
        (   # a literal is no cross-variable reference
            "label = 'U.x' AND value < PREV(value)",
            "label = 'U.x' AND value < __nav_prev1_0",
            {("prev", "value", 1): "__nav_prev1_0"},
        ),
        (   # whitespace normalization stops at a literal
            "x = PREV(CASE WHEN t = 'a  b' THEN 1 ELSE 0 END)",
            "x = __nav_prev1_0",
            {("prev", "CASE WHEN t = 'a  b' THEN 1 ELSE 0 END", 1):
             "__nav_prev1_0"},
        ),
    ],
)
def test_define_nav_scan_skips_quoted_literals(expr, want, want_nav):
    """No Spark: the batch PREV/NEXT scan skips quoted literals — a
    literal reading 'PREV(', holding a ')' or reading like ``VAR.col``
    is neither navigation nor a reference, and keeps its whitespace."""
    from rtfproc_spark.operators.pattern import _lower_define_nav

    nav = {}
    assert _lower_define_nav(expr, "D", {"D", "U"}, nav) == want
    assert nav == want_nav


def test_stream_next_probe_skips_quoted_literals():
    """No Spark: the stream's NEXT probe ignores a literal reading
    'NEXT(1)' and keeps its targeted message for real navigation."""
    from rtfproc_spark.operators.pattern import _lower_stream_define

    type_col, out, *_ = _lower_stream_define({"A": "event_type = 'NEXT(1)'"})
    assert (type_col, out) == ("event_type", {"A": "NEXT(1)"})
    with pytest.raises(ValueError, match="NEXT navigation is batch-only"):
        _lower_stream_define({"A": "value < NEXT(value)"})
