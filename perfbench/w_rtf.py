"""The two RTF workloads: ``rtf_batch`` (closed loop of batch jobs) and
``turn_stream`` (open-loop file landing into the streaming extract)."""

from __future__ import annotations

import math
import os
import random
import threading
import time

import pandas as pd

import gen
from common import (
    median,
    pct,
    pipeline_metrics,
    progress_dicts,
    read_eventlog,
    run_noop,
    shuffle_write_bytes,
    task_skew,
    timed_setup,
)

from rtfproc_spark.functions import rtf as rtf_fn
from rtfproc_spark.functions.rtf import make_extract_fn, with_rtf_extract
from rtfproc_spark.kernel import ReplacementSet, RTFEngine
from rtfproc_spark.kernel.api import rtf_extract_bytes
from rtfproc_spark.operators.windows import session_agg
from rtfproc_spark.sources.transcripts import DEFAULT_REPLACEMENTS
from rtfproc_spark.streaming.pipeline import stream_transcripts, streaming_extract
from rtfproc_spark.streaming.sink import IdempotentSink, read_sink

# rtf_batch size: the first RTF_ROWS turns of RTF_CONVS conversations
RTF_CONVS = 1200
RTF_ROWS = 10000
# Untimed full-size jobs between set-up and the clock. Job time falls from
# about 2 s to 1 s over the first five jobs and then by about 1% a job for
# ten more, while the JVM compiles the planner's and scheduler's hot paths.
# A count, not a time: the JIT compiles a method after a number of calls.
WARM_JOBS = 8
GATE_SAMPLE = 200
ARROW_BATCH = 20000  # spark.sql.execution.arrow.maxRecordsPerBatch

# Spark packs small files into about N scan partitions, each up to the
# total size / N. With more files than cores, whether the next file still
# fits a partition turns on a few bytes of size, so the task count (and
# with it a second wave of tasks) can change from one seed or batch to the
# next. Both RTF workloads therefore give each scan exactly N files: one
# per task.

# turn_stream offered load (see METRICS.md, "Choosing the turn_stream rate")
STREAM_TURNS_PER_S = 5000
STREAM_RTF_SHARE = 0.10
# A fixed micro-batch interval, about twice the time of one batch. With the
# default trigger each batch takes every file that landed during the
# previous one, so batch size follows machine speed and amplifies its
# swings in the latency; with an interval near the batch time the query
# sits at the knee where batches start running back to back.
STREAM_TRIGGER_S = 2
# Files land on the same schedule for this long before the timed files.
# Batch time falls from about 1.2 s to 0.75 s over the first ten or so
# micro-batches while the JVM compiles the streaming hot paths; with the
# set-up batch and the block these make six before the clock starts.
STREAM_WARM_S = 4 * STREAM_TRIGGER_S
STREAM_CONVS = 20000
STREAM_DRAIN_S = 60.0


# ---------------------------------------------------------------------------
# single-thread baselines shared by both workloads
# ---------------------------------------------------------------------------


def kernel_baseline(texts: list[str], budget_s: float = 1.5) -> dict:
    """In-process ``RTFEngine.run`` on one thread over the workload's RTF
    rows (cycled until ``budget_s`` has passed, at least one pass)."""
    if not texts:
        return {"docs": 0.0, "bytes": 0.0}
    rs = ReplacementSet(DEFAULT_REPLACEMENTS)
    eng = RTFEngine(rs)
    data = [t.encode("utf-8") for t in texts]
    docs = nbytes = 0
    t0 = time.perf_counter()
    while True:
        for d in data:
            eng.run(d)
            nbytes += len(d)
        docs += len(data)
        el = time.perf_counter() - t0
        if el >= budget_s:
            return {"docs": docs / el, "bytes": nbytes / el}


class _CountingEngine(RTFEngine):
    runs = 0

    def run(self, data):
        _CountingEngine.runs += 1
        return super().run(data)


def udf_baseline(texts: list[str]) -> dict:
    """``make_extract_fn`` on one thread over Arrow-batch-sized Series.

    The engine class the extract function looks up is swapped for a
    counting subclass during the first pass, which gives the share of rows
    the pass-through prefilter sends to the engine."""
    fn = make_extract_fn(DEFAULT_REPLACEMENTS)
    chunks = [
        pd.Series(texts[i : i + ARROW_BATCH]) for i in range(0, len(texts), ARROW_BATCH)
    ]
    _CountingEngine.runs = 0
    orig = rtf_fn.RTFEngine
    rtf_fn.RTFEngine = _CountingEngine
    try:
        t0 = time.perf_counter()
        for c in chunks:
            fn(c)
        el = time.perf_counter() - t0
    finally:
        rtf_fn.RTFEngine = orig
    return {"rows_per_s": len(texts) / el, "engine_share": _CountingEngine.runs / len(texts)}


# ---------------------------------------------------------------------------
# rtf_batch
# ---------------------------------------------------------------------------

def _session_aggs():
    from pyspark.sql import functions as F

    return [F.count(F.lit(1)).alias("n_turns"), F.sum("n_text_bytes").alias("text_bytes")]


def run_rtf_batch(b) -> dict:
    tr = b.tracer
    t0 = time.perf_counter()
    pdf = gen.rtf_transcripts(b.seed, RTF_CONVS, 8).iloc[:RTF_ROWS]
    n_rows = len(pdf)
    src, warm = b.path("rtf_src"), b.path("rtf_warm")
    os.makedirs(src)
    os.makedirs(warm)
    for i in range(b.n):
        pdf.iloc[i :: b.n].to_parquet(os.path.join(src, f"part-{i}.parquet"), index=False)
    pdf.iloc[:50].to_parquet(os.path.join(warm, "part-0.parquet"), index=False)
    inputs_s = time.perf_counter() - t0

    def job(path=src):
        with tr.span("rtf_batch.job"):
            df = b.spark.read.parquet(path)
            with tr.span("functions.rtf.with_rtf_extract"):
                x = with_rtf_extract(df, DEFAULT_REPLACEMENTS)
            with tr.span("operators.windows.session_agg"):
                agg = session_agg(x, "ts", ["conv_id"], "30 minutes", _session_aggs())
            with tr.span("spark.execute"):
                run_noop(agg)

    setup_s = timed_setup(b, lambda: job(warm), inputs_s)
    for _ in range(WARM_JOBS):
        job()

    def loop():
        lat = []
        t0 = time.perf_counter()
        while time.perf_counter() - t0 < b.seconds:
            s = time.perf_counter()
            job()
            lat.append(time.perf_counter() - s)
        return lat, n_rows * len(lat) / (time.perf_counter() - t0)

    lat, tput = loop()
    out = {
        "setup_s": setup_s,
        "throughput_per_s": tput,
        "latency_p50_ms": median(lat) * 1e3,
        "attempted": len(lat),
        "gates": 2,
        "info": {"turns_per_s": tput, "latency_samples": len(lat), "turns_per_job": n_rows},
    }

    # ---- correctness gates (outside the timed region) ----
    from pyspark.sql import functions as F

    failures = []
    df = b.spark.read.parquet(src)
    x = with_rtf_extract(df, DEFAULT_REPLACEMENTS)
    r = random.Random(b.seed)
    idx = sorted(r.sample(range(n_rows), GATE_SAMPLE))
    keys = pdf.iloc[idx][["conv_id", "turn_idx"]]
    kdf = b.spark.createDataFrame(keys)
    got = {
        (row["conv_id"], row["turn_idx"]): (row["rtf_out"], row["plain_text"])
        for row in x.join(kdf, ["conv_id", "turn_idx"]).select(
            "conv_id", "turn_idx", "rtf_out", "plain_text"
        ).collect()
    }
    rs = ReplacementSet(DEFAULT_REPLACEMENTS)
    bad = 0
    for _, row in pdf.iloc[idx].iterrows():
        o, p, _ = rtf_extract_bytes(row["text"].encode("utf-8"), rs)
        want = (o.decode("utf-8", "replace"), p.decode("utf-8", "replace"))
        if got.get((row["conv_id"], row["turn_idx"])) != want:
            bad += 1
    if bad:
        failures.append(f"rtf_batch: {bad}/{GATE_SAMPLE} sampled rows differ from rtf_extract_bytes")
    agg = session_agg(x, "ts", ["conv_id"], "30 minutes", _session_aggs())
    total = agg.agg(F.sum("n_turns")).collect()[0][0]
    if total != n_rows:
        failures.append(f"rtf_batch: session n_turns sum {total} != {n_rows} input rows")
    out["failures"] = failures
    out["inputs"] = gen.input_properties(pdf["conv_id"], texts=pdf["text"])

    if b.trace:
        out["layers"] = _rtf_batch_layers(b, pdf, src, tput)
    return out


def _rtf_batch_layers(b, pdf, src, tput) -> dict:
    from pyspark.sql import functions as F

    reps = 3

    def t(fn, tag):
        ts = []
        for _ in range(reps):
            with b.tagged(tag):
                s = time.perf_counter()
                fn()
                ts.append(time.perf_counter() - s)
        return median(ts)

    read = lambda: b.spark.read.parquet(src)  # noqa: E731
    scan_s = t(lambda: run_noop(read()), "sources.scan")
    extract_s = t(lambda: run_noop(with_rtf_extract(read(), DEFAULT_REPLACEMENTS)), "functions.rtf.extract")
    pers = with_rtf_extract(read(), DEFAULT_REPLACEMENTS).persist()
    pers.count()
    pers_s = t(lambda: run_noop(pers), "persisted")
    agg_s = t(
        lambda: run_noop(session_agg(pers, "ts", ["conv_id"], "30 minutes", _session_aggs())),
        "operators.windows.session_agg",
    )
    err_rows = pers.filter(F.col("error").isNotNull()).count()
    pers.unpersist()
    texts = pdf["text"].tolist()
    k = kernel_baseline(texts)
    u = udf_baseline(texts)
    b.spark.stop()
    b.spark = None
    ev = read_eventlog(b.eventlog)
    agg_tasks = ev["tags"].get("operators.windows.session_agg", [])
    return {
        "sources.scan_s": scan_s,
        "functions.rtf.extract_s": extract_s - scan_s,
        "operators.windows.session_agg_s": agg_s - pers_s,
        "operators.windows.shuffle_write_bytes": shuffle_write_bytes(agg_tasks) / reps,
        "operators.windows.task_skew": task_skew(agg_tasks),
        "kernel.docs_per_s_1core": k["docs"],
        "kernel.bytes_per_s_1core": k["bytes"],
        "kernel.error_rows": err_rows,
        "functions.rtf.engine_row_share": u["engine_share"],
        "functions.rtf.udf_rows_per_s_1core": u["rows_per_s"],
        "functions.rtf.parallel_eff": tput / (b.n * k["docs"]),
    }


# ---------------------------------------------------------------------------
# turn_stream
# ---------------------------------------------------------------------------

TURN_COLS = ["conv_id", "turn_idx", "role", "ts", "rtf_out", "plain_text", "error", "n_text_bytes"]


class _Lander(threading.Thread):
    """Open-loop generator: lands file i at ``t0 + i * interval`` (temp
    file, then rename) whether or not the query keeps up."""

    def __init__(self, files, src, interval_s, t0):
        super().__init__(daemon=True)
        self.files, self.src, self.interval_s, self.t0 = files, src, interval_s, t0
        self.due: list[float] = []
        self.landed: list[float] = []
        self.error = None

    def run(self):
        try:
            for i, pdf in enumerate(self.files):
                due = self.t0 + i * self.interval_s
                wait = due - time.perf_counter()
                if wait > 0:
                    time.sleep(wait)
                tmp = os.path.join(self.src, f".landing-{i}.parquet")
                pdf.to_parquet(tmp, index=False)
                os.rename(tmp, os.path.join(self.src, f"turns-{i:06d}.parquet"))
                self.due.append(due)
                self.landed.append(time.perf_counter())
        except Exception as e:  # reported by the caller as a failed run
            self.error = e


def _start_turn_query(b, src, sink, ckpt, commits):
    tr = b.tracer
    with tr.span("streaming.pipeline.stream_transcripts"):
        stream = stream_transcripts(b.spark, src, max_files_per_trigger=None)
    with tr.span("streaming.pipeline.streaming_extract"):
        out = streaming_extract(stream, DEFAULT_REPLACEMENTS).select(*TURN_COLS)
    inner = sink.writer()

    def writer(df, batch_id):
        with tr.span("streaming.sink.write"):
            s = time.perf_counter()
            inner(df, batch_id)
            commits.append((batch_id, s, time.perf_counter()))

    return (
        out.writeStream.foreachBatch(writer)
        .option("checkpointLocation", ckpt)
        .outputMode("update")
        .trigger(processingTime=f"{STREAM_TRIGGER_S} seconds")
        .start()
    )


def _wait_input(query, want, timeout_s):
    """Wait until the query has finished batches holding ``want`` input rows.

    Progress is posted after a batch's sink call returns. The wait counts
    source rows, not sink rows, so the gate's count of sink rows stays an
    independent check."""
    end = time.perf_counter() + timeout_s
    while time.perf_counter() < end:
        if sum(p["numInputRows"] for p in progress_dicts(query)) >= want:
            return True
        if query.exception() is not None:
            return False
        time.sleep(0.02)
    return False


def _grid_start(lead_s: float = 0.3) -> float:
    """``time.perf_counter`` value of the first trigger boundary at least
    ``lead_s`` ahead. Spark starts processing-time batches at multiples of
    the interval on the wall clock, so landing files at fixed offsets from
    a boundary gives every run the same wait-for-trigger share of latency."""
    wall, pc = time.time(), time.perf_counter()
    g = (math.floor((wall + lead_s) / STREAM_TRIGGER_S) + 1) * STREAM_TRIGGER_S
    return pc + (g - wall)


def run_turn_stream(b) -> dict:
    tr = b.tracer
    # N files land per trigger interval, one per scan task. The first
    # batches take a block of N files at once, so all N Python workers
    # start before the clock; one file would start only one.
    interval_s = STREAM_TRIGGER_S / b.n
    turns_per_file = int(round(STREAM_TURNS_PER_S * interval_s))
    n_bulk = b.n
    n_warm = int(round(STREAM_WARM_S / interval_s))
    n_files = int(round(b.seconds / interval_s))
    t0 = time.perf_counter()
    files = gen.chat_turn_files(
        b.seed, n_bulk + n_warm + n_files, turns_per_file, STREAM_RTF_SHARE, STREAM_CONVS
    )
    inputs_s = time.perf_counter() - t0
    bulk, files = files[:n_bulk], files[n_bulk:]
    n_bulk_rows = sum(len(f) for f in bulk)

    def land_bulk(src):
        for i, f in enumerate(bulk):
            f.to_parquet(os.path.join(src, f"turns-bulk-{i}.parquet"), index=False)

    def cold_op():
        # the block through a fresh query: planning, Python workers, sink
        src, sink = b.path("cold", "src"), IdempotentSink(b.path("cold", "sink"))
        os.makedirs(src)
        land_bulk(src)
        q = _start_turn_query(b, src, sink, b.path("cold", "ckpt"), [])
        ok = _wait_input(q, n_bulk_rows, STREAM_DRAIN_S)
        q.stop()
        if not ok:
            raise RuntimeError("turn_stream cold query did not commit its files")

    setup_s = timed_setup(b, cold_op, inputs_s)

    src, sink_dir = b.path("src"), b.path("sink")
    os.makedirs(src)
    sink = IdempotentSink(sink_dir)
    commits: list = []
    q = _start_turn_query(b, src, sink, b.path("ckpt"), commits)
    # the measured query commits the block before the schedule starts
    land_bulk(src)
    if not _wait_input(q, n_bulk_rows, STREAM_DRAIN_S):
        raise RuntimeError("turn_stream query did not commit its warm-up files")
    # half an interval after a boundary: file k of each trigger interval
    # lands at the same offset from the trigger in every run
    lander = _Lander(files, src, interval_s, _grid_start() + interval_s / 2)
    lander.start()
    lander.join()
    n_rows = n_bulk_rows + sum(len(f) for f in files)
    drained = _wait_input(q, n_rows, STREAM_DRAIN_S)
    progress = progress_dicts(q)
    q.stop()

    committed = _file_commits(files, commits, sink_dir)
    done = [c and c[1] for c in committed]
    # the clock covers the files after the warm-up ones
    ok = [i for i in range(n_warm, len(files)) if done[i] is not None and i < len(lander.due)]
    lat = [done[i] - lander.due[i] for i in ok]
    failed_ops = n_files - len(ok)
    # Throughput is the rate the query committed over the timed files: rows
    # of the timed files over the time from when the first was due to when
    # the last was committed. It holds the offered rate while the query
    # keeps up and falls below it when the backlog grows. Rows per busy
    # second of micro-batch work (triggerExecution) is printed beside it;
    # it follows the batch time of each process, and six runs spread by
    # 0.3 of its median, too much for an end-to-end bound.
    span = (max(done[i] for i in ok) - lander.due[n_warm]) if ok else float("inf")
    tput = sum(len(files[i]) for i in ok) / span
    timed_bids = {committed[i][0] for i in ok}
    busy = [
        p["numInputRows"] / p["durationMs"]["triggerExecution"] * 1e3
        for p in progress
        if p["batchId"] in timed_bids and p["durationMs"]["triggerExecution"]
    ]
    out = {
        "setup_s": setup_s,
        "throughput_per_s": tput,
        "latency_p50_ms": median(lat) * 1e3,
        "attempted": n_files,
        "failed_ops": failed_ops,
        "gates": 1,
        "info": {
            "offered_turns_per_s": turns_per_file / interval_s,
            "busy_turns_per_s": median(busy),
            "latency_samples": len(lat),
            "latency_p90_ms": pct(lat, 90) * 1e3,
            "latency_p95_ms": pct(lat, 95) * 1e3,
            "micro_batches": len(commits),
        },
    }

    # ---- correctness gate (outside the timed region) ----
    failures = []
    if lander.error is not None:
        failures.append(f"turn_stream: generator failed: {lander.error!r}")
    if not drained:
        failures.append(f"turn_stream: the query did not read all {n_rows} rows in {STREAM_DRAIN_S}s")
    want = {k for f in [*bulk, *files] for k in zip(f["conv_id"], f["turn_idx"].astype(int))}
    got = {(r[0], r[1]) for r in read_sink(b.spark, sink_dir).select("conv_id", "turn_idx").collect()}
    if got != want:
        failures.append(f"turn_stream: read_sink holds {len(got)} keys, want {len(want)}")
    # read_sink keeps one row per key, so a row emitted twice or an extra
    # row shows only in the raw batch directories (last write per batch id)
    raw = sum({m["batch_id"]: m["rows"] for m in sink.metrics}.values())
    if raw != n_rows:
        failures.append(f"turn_stream: the sink's batch directories hold {raw} rows, want {n_rows}")
    out["failures"] = failures
    allf = pd.concat(files)
    out["inputs"] = gen.input_properties(allf["conv_id"], texts=allf["text"])

    if b.trace:
        out["layers"] = _turn_stream_layers(b, files, lander, commits, done, progress, sink)
    return out


def _file_commits(files, commits, sink_dir) -> list:
    """``(batch id, end of the sink call)`` of the batch that committed each
    file's last row (None when a row never reached the sink)."""
    import pyarrow.parquet as pq

    commit_of = {}
    for bid, _, e in commits:
        t = pq.read_table(os.path.join(sink_dir, f"batch_id={bid}"), columns=["conv_id", "turn_idx"])
        for k in zip(t.column(0).to_pylist(), t.column(1).to_pylist()):
            commit_of[k] = (bid, e)
    out = []
    for pdf in files:
        cs = [commit_of.get(k) for k in zip(pdf["conv_id"], pdf["turn_idx"])]
        out.append(None if None in cs else max(cs, key=lambda c: c[1]))
    return out


def _turn_stream_layers(b, files, lander, commits, done, progress, sink) -> dict:
    from pyspark.sql import functions as F

    sink_dir, sink_metrics = sink.path, sink.metrics
    err_rows = read_sink(b.spark, sink_dir).filter(F.col("error").isNotNull()).count()
    # backlog: files landed but not yet committed, at each commit
    pending = [
        sum(1 for ld in lander.landed if ld <= e) - sum(1 for d in done if d is not None and d <= e)
        for _, _, e in commits
    ]
    texts = [t for f in files for t in f["text"]]
    rtf_texts = [t for t in texts if t.startswith("{\\rtf")]
    k = kernel_baseline(rtf_texts)
    u = udf_baseline(texts)
    writes = [e - s for _, s, e in commits]
    ids = [bid for bid, _, _ in commits]
    nbytes = sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(sink_dir)
        for f in fs
        if f.endswith(".parquet")
    )
    b.spark.stop()
    b.spark = None
    ev = read_eventlog(b.eventlog)
    return {
        "sources.files_pending_max": max(pending) if pending else 0,
        "sources.gen_late_ms_max": max(l - d for l, d in zip(lander.landed, lander.due)) * 1e3,
        "kernel.docs_per_s_1core": k["docs"],
        "kernel.bytes_per_s_1core": k["bytes"],
        "kernel.error_rows": err_rows,
        "functions.rtf.engine_row_share": u["engine_share"],
        "functions.rtf.udf_rows_per_s_1core": u["rows_per_s"],
        **pipeline_metrics(progress, ev, b.n),
        "streaming.sink.write_ms_p50": median(writes) * 1e3,
        "streaming.sink.write_ms_p95": pct(writes, 95) * 1e3,
        "streaming.sink.rows": sum(m["rows"] for m in sink_metrics),
        "streaming.sink.bytes_written": nbytes,
        "streaming.sink.replays": len(ids) - len(set(ids)),
    }
