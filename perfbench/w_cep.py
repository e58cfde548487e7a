"""The CEP workload ``cep_stream``: closed-loop availableNow replay into the
per-key stream matcher. Its traced run also measures two batch
MATCH_RECOGNIZE queries over the same kind of events as a table."""

from __future__ import annotations

import os
import random
import re
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
    timed_setup,
)

from rtfproc_spark.operators.cep import match_sequence
from rtfproc_spark.operators.pattern import match_recognize_sql, match_recognize_stream
from rtfproc_spark.plans.inspect import plan_str

EVENTS_DDL = "event_id long, user_id long, event_type string, ts timestamp, value double"
FUNNEL = {"V": "view", "C": "click", "P": "purchase"}

# cep_stream: a round replays STREAM_FILES files of STREAM_FILE_EVENTS each,
# then one far-future flush event that moves the watermark past them all.
# The matcher's cost grows with the distinct keys in a batch, not with its
# events. Many users and large files make the per-key state machine about
# two thirds of each data batch; the rest is a fixed cost per batch.
STREAM_FILES = 3
STREAM_FILE_EVENTS = 10000
STREAM_USERS = 100000
STREAM_WITHIN = "10 minutes"
STREAM_WATERMARK = "10 minutes"

# batch MATCH_RECOGNIZE (traced runs only): a table of BATCH_EVENTS events,
# each query run once untimed and BATCH_REPS times timed
BATCH_EVENTS = 6000
BATCH_USERS = 1000
BATCH_FILES = 4
BATCH_REPS = 3
GATE_KEYS = 12

TICKER = """MATCH_RECOGNIZE (
  PARTITION BY user_id ORDER BY ts
  MEASURES FIRST(D.event_id) AS first_d, COUNT(D.*) AS n_d, U.event_id AS up_id
  PATTERN (D+ U)
  WITHIN INTERVAL '5' MINUTE
  DEFINE D AS value < PREV(value), U AS value >= PREV(value))"""

FUNNEL_SQL = """MATCH_RECOGNIZE (
  PARTITION BY user_id ORDER BY ts
  MEASURES V.event_id AS v_id, COUNT(C.*) AS n_c, P.event_id AS p_id
  PATTERN (V C+ P)
  WITHIN INTERVAL '10' MINUTE
  DEFINE V AS event_type = 'view', C AS event_type = 'click',
         P AS event_type = 'purchase')"""


def _write(pdf: pd.DataFrame, path: str, mtime: float | None = None):
    pdf.to_parquet(path, index=False)
    if mtime is not None:
        os.utime(path, (mtime, mtime))


# ---------------------------------------------------------------------------
# cep_stream
# ---------------------------------------------------------------------------


def run_cep_stream(b) -> dict:
    tr = b.tracer
    t0 = time.perf_counter()
    ev = gen.events(b.seed, STREAM_FILES * STREAM_FILE_EVENTS, STREAM_USERS)
    flush = pd.DataFrame(
        {
            "event_id": [len(ev)],
            "user_id": [-1],
            "event_type": ["flush"],
            "ts": [ev["ts"].max() + pd.Timedelta(hours=2)],
            "value": [0.0],
        }
    ).astype(ev.dtypes.to_dict())
    src = b.path("src")
    os.makedirs(src)
    now = time.time()
    chunks = [ev.iloc[i * STREAM_FILE_EVENTS : (i + 1) * STREAM_FILE_EVENTS] for i in range(STREAM_FILES)]
    for i, c in enumerate(chunks + [flush]):
        _write(c, os.path.join(src, f"events-{i:04d}.parquet"), now - 100 + i)
    warm = b.path("warm_src")
    os.makedirs(warm)
    _write(chunks[0].iloc[:50], os.path.join(warm, "events-0000.parquet"), now - 100)
    inputs_s = time.perf_counter() - t0
    rounds = iter(range(100000))

    def replay(source):
        r = next(rounds)
        out = b.path(f"out{r}")
        with tr.span("cep_stream.round"):
            stream = (
                b.spark.readStream.schema(EVENTS_DDL)
                .option("maxFilesPerTrigger", 1)
                .parquet(source)
            )
            with tr.span("operators.pattern.match_recognize_stream"):
                m = match_recognize_stream(
                    stream, "V C P", FUNNEL, key_col="user_id",
                    within=STREAM_WITHIN, watermark=STREAM_WATERMARK, ordered=False,
                )
            q = (
                m.writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", b.path(f"ckpt{r}"))
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        return out, progress_dicts(q)

    setup_s = timed_setup(b, lambda: replay(warm), inputs_s)

    def loop():
        outs, progress = [], []
        t0 = time.perf_counter()
        while time.perf_counter() - t0 < b.seconds:
            o, p = replay(src)
            outs.append(o)
            progress.extend(p)
        return outs, progress, time.perf_counter() - t0

    outs, progress, el = loop()
    # data batches only: the query start and the one-row flush batch are
    # fixed costs of a round, not of the events
    data = [p for p in progress if p["numInputRows"] == STREAM_FILE_EVENTS]
    batch_ms = [p["durationMs"]["triggerExecution"] for p in data]
    tput = sum(p["numInputRows"] for p in data) / (sum(batch_ms) / 1e3)
    out = {
        "setup_s": setup_s,
        "throughput_per_s": tput,
        "latency_p50_ms": median(batch_ms),
        "attempted": len(outs) * (STREAM_FILES + 1),
        "failed_ops": len(outs) * STREAM_FILES - len(data),
        "gates": 1,
        "info": {
            "events_per_s": tput,
            "round_events_per_s": len(outs) * (len(ev) + 1) / el,
            "batch_ms_p50": median(batch_ms),
            "latency_p95_ms": pct(batch_ms, 95),
            "latency_samples": len(batch_ms),
            "rounds": len(outs),
        },
    }

    # ---- gate: stream matches == batch match_sequence on the same events ----
    from pyspark.sql import functions as F

    cols = ["user_id", "id_1", "id_2", "id_3"]
    got = sorted(tuple(r) for r in b.spark.read.parquet(outs[-1]).select(*cols).collect())
    evdf = b.spark.read.parquet(src)
    want = sorted(
        tuple(r)
        for r in match_sequence(
            evdf,
            [F.col("event_type") == FUNNEL[v] for v in "VCP"],
            ["user_id"],
            within=STREAM_WITHIN,
        ).select(*cols).collect()
    )
    failures = []
    if got != want or not want:
        failures.append(f"cep_stream: stream emitted {len(got)} matches, batch match_sequence {len(want)}")
    out["failures"] = failures
    out["inputs"] = gen.input_properties(ev["user_id"], ev["ts"])

    if b.trace:
        ops = [o for p in data for o in (p.get("stateOperators") or [])]
        batch, batch_failures = _batch_layers(b)
        failures.extend(batch_failures)
        out["gates"] += 2
        b.spark.stop()
        b.spark = None
        evlog = read_eventlog(b.eventlog)
        out["layers"] = {
            **batch,
            # per timed execution of the ticker and funnel pair
            "operators.cep.shuffle_write_bytes": (
                shuffle_write_bytes(evlog["tags"].get("operators.cep.ticker", []))
                + shuffle_write_bytes(evlog["tags"].get("operators.cep.funnel", []))
            ) / BATCH_REPS,
            "operators.cep.matches": len(want),
            "operators.cep.add_batch_ms_p50": median([p["durationMs"]["addBatch"] for p in data]),
            "operators.cep.state_rows": max((o.get("numRowsTotal", 0) for o in ops), default=0),
            "operators.cep.state_bytes": max((o.get("memoryUsedBytes", 0) for o in ops), default=0),
            # per data batch, summed over the state store's partitions
            "operators.cep.state_update_ms": sum(o.get("allUpdatesTimeMs", 0) for o in ops) / max(1, len(data)),
            "operators.cep.state_commit_ms": sum(o.get("commitTimeMs", 0) for o in ops) / max(1, len(data)),
            "operators.cep.rows_dropped_by_watermark": sum(o.get("numRowsDroppedByWatermark", 0) for o in ops),
            **pipeline_metrics(data, evlog, b.n),
        }
    return out


# ---------------------------------------------------------------------------
# batch MATCH_RECOGNIZE, measured in the traced cep_stream run
# ---------------------------------------------------------------------------


def _exchanges(df) -> int:
    return len(re.findall(r"(?<![A-Za-z])(?:Broadcast)?Exchange\b", plan_str(df, "simple")))


def _batch_layers(b) -> tuple[dict, list]:
    """``operators.pattern`` and the batch ``operators.cep`` cascade: the
    ticker and the funnel over a table of events from the same generator,
    and both checked against the sequential reference on sampled keys."""
    tr = b.tracer
    ev = gen.events(b.seed, BATCH_EVENTS, BATCH_USERS)
    src = b.path("events")
    os.makedirs(src)
    for i in range(BATCH_FILES):
        _write(ev.iloc[i::BATCH_FILES], os.path.join(src, f"events-{i}.parquet"))
    events = b.spark.read.parquet(src)

    def build(clause):
        with tr.span("operators.pattern.match_recognize_sql"):
            return match_recognize_sql(events, clause)

    queries = {"ticker": build(TICKER), "funnel": build(FUNNEL_SQL)}
    exec_s = {name: [] for name in queries}
    for rep in range(BATCH_REPS + 1):  # the first pair warms up, untimed
        for name, df in queries.items():
            tag = f"operators.cep.{name}" if rep else "warm-up"
            with tr.span(f"operators.cep.{name}"), b.tagged(tag):
                s = time.perf_counter()
                run_noop(df)
                if rep:
                    exec_s[name].append(time.perf_counter() - s)
    compile_ms = []
    for _ in range(5):
        s = time.perf_counter()
        build(TICKER)
        build(FUNNEL_SQL)
        compile_ms.append((time.perf_counter() - s) * 1e3 / 2)
    exchanges = sum(_exchanges(df) for df in queries.values())

    # ---- gates: both queries == the sequential reference on sampled keys ----
    ticker, funnel = queries["ticker"], queries["funnel"]
    rng = random.Random(b.seed)
    counts = ev["user_id"].value_counts()
    keys = [int(counts.index[0])] + rng.sample([int(k) for k in counts.index[1:]], GATE_KEYS - 1)
    failures = []
    t_got = ticker.filter(ticker.user_id.isin(keys)).collect()
    f_got = funnel.filter(funnel.user_id.isin(keys)).collect()
    t_want, f_want = _reference(ev[ev["user_id"].isin(keys)])
    t_got = sorted((r["user_id"], r["first_d"], r["n_d"], r["up_id"]) for r in t_got)
    f_got = sorted((r["user_id"], r["v_id"], r["n_c"], r["p_id"]) for r in f_got)
    if t_got != t_want or not t_want:
        failures.append(f"batch ticker: {len(t_got)} matches on {GATE_KEYS} keys, reference {len(t_want)}")
    if f_got != f_want or not f_want:
        failures.append(f"batch funnel: {len(f_got)} matches on {GATE_KEYS} keys, reference {len(f_want)}")
    return {
        "operators.pattern.compile_ms": median(compile_ms),
        "operators.cep.ticker_exec_s": median(exec_s["ticker"]),
        "operators.cep.funnel_exec_s": median(exec_s["funnel"]),
        "operators.cep.exchanges": exchanges,
    }, failures


def _reference(ev: pd.DataFrame) -> tuple[list, list]:
    """Ticker and funnel matches from the sequential reference matcher of
    ``benchmarks/fuzz_cep.py`` (``ref_matches``). PREV(value) is resolved
    per key over the full (ts, event_id) order first: D if the value fell,
    U if it did not, and nothing for the key's first row."""
    from benchmarks.fuzz_cep import Spec, Step, ref_matches

    ticker = Spec(
        steps=[Step("loop", ("D",), min_n=1, name="d"), Step("plain", ("U",))],
        within_min=5,
    )
    funnel = Spec(
        steps=[
            Step("plain", ("view",)),
            Step("loop", ("click",), min_n=1, name="c"),
            Step("plain", ("purchase",)),
        ],
        within_min=10,
    )
    t_out, f_out = [], []
    for uid, g in ev.sort_values(["ts", "event_id"]).groupby("user_id"):
        t_ns = g["ts"].astype("int64").to_numpy() * 1000  # us -> ns
        ids = g["event_id"].tolist()
        vals = g["value"].tolist()
        nav = ["x"] + ["D" if v < p else "U" for p, v in zip(vals, vals[1:])]
        rows_t = list(zip(t_ns.tolist(), ids, nav))
        rows_f = list(zip(t_ns.tolist(), ids, g["event_type"].tolist()))
        for m in ref_matches(rows_t, ticker):
            t_out.append((uid, m["first_d_id"], m["n_d"], m["id_2"]))
        for m in ref_matches(rows_f, funnel):
            f_out.append((uid, m["id_1"], m["n_c"], m["id_3"]))
    return sorted(t_out), sorted(f_out)
