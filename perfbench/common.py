"""Shared benchmark plumbing: work directory, Spark set-up, RSS sampling,
span tracing, Spark event-log and streaming-progress parsing, statistics.

Nothing here changes the program under test; spans are recorded by the
benchmark around its own calls into ``rtfproc_spark``'s public functions.
"""

from __future__ import annotations

import glob
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import threading
import time
import uuid
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
OUT_ROOT = os.path.join(ROOT, ".perfbench_out")


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def process_start() -> float:
    """This process's start time on the ``time.perf_counter`` scale."""
    with open("/proc/self/stat") as f:
        s = f.read()
    ticks = int(s[s.rindex(")") + 2 :].split()[19])
    age = time.clock_gettime(time.CLOCK_BOOTTIME) - ticks / os.sysconf("SC_CLK_TCK")
    return time.perf_counter() - age


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------


def pct(values, q: float) -> float:
    """Linear-interpolated percentile ``q`` in [0, 100]; NaN when empty."""
    v = sorted(values)
    if not v:
        return float("nan")
    k = (len(v) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (k - lo)


def median(values) -> float:
    return statistics.median(values) if values else float("nan")


# ---------------------------------------------------------------------------
# peak RSS of this process tree (driver Python, JVM, Python workers)
# ---------------------------------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                s = f.read()
        except OSError:
            continue
        pid = int(stat.split("/")[2])
        ppid = int(s[s.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(pid)
    return kids


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * (os.sysconf("SC_PAGE_SIZE") // 1024)
    except OSError:
        return 0


def descendants(root_pid: int) -> list[int]:
    kids = _children()
    out, todo = [], list(kids.get(root_pid, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_rss_mb(root_pid: int) -> float:
    pids = [root_pid] + descendants(root_pid)
    return sum(_rss_kb(p) for p in pids) / 1024.0


def stop_jvm(timeout_s: float = 30.0) -> None:
    """Stop the py4j JVM this process launched and wait until it and every
    other descendant (Python workers) has exited; kill what outlives
    ``timeout_s``."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    pids = descendants(os.getpid())
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=timeout_s)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + timeout_s
    for pid in pids:
        while _alive(pid) and time.monotonic() < deadline:
            time.sleep(0.05)
        if _alive(pid):
            os.kill(pid, signal.SIGKILL)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


class RssSampler:
    """Samples the summed RSS of this process and its descendants."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(pid))
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_mb = max(self.peak_mb, tree_rss_mb(os.getpid()))


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


class Tracer:
    """In-memory spans (name, start, end, parent, run id), written at exit.

    When disabled, ``span`` costs one context-manager entry and records
    nothing, so the untraced run executes the same benchmark code.
    """

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
        }
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def cost_s_per_span(self, n: int = 20000) -> float:
        """Bookkeeping cost of one span, timed on a scratch tracer."""
        scratch = Tracer(True, self.run_id)
        t0 = time.perf_counter()
        for _ in range(n):
            with scratch.span("x"):
                pass
        return (time.perf_counter() - t0) / n

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, minus the time its child spans cover."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            if s["end"] is not None:
                d = s["end"] - s["start"] - child[i]
                out[s["name"]] = out.get(s["name"], 0.0) + d
        return out

    def write(self, path: str) -> None:
        if not self.enabled:
            return
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(
                {"spans": self.spans, "self_time_s": self.self_times()}, f
            )


# ---------------------------------------------------------------------------
# Spark set-up and job tagging
# ---------------------------------------------------------------------------


class Bench:
    """One benchmark process: its work directory, Spark session and tracer."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool):
        self.process_start = process_start()
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.run_id = f"{workload}-{seed}-{uuid.uuid4().hex[:8]}"
        self.work = os.path.join(WORK_ROOT, self.run_id)
        self.eventlog = os.path.join(self.work, "eventlog")
        self.tracer = Tracer(trace, self.run_id)
        self.spark = None
        self.get_spark_s = None
        self.n = cpus()
        os.makedirs(self.eventlog, exist_ok=True)
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        # JVM, Python workers and tempfile all stay inside the checkout
        os.environ["TMPDIR"] = tmp
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        )
        os.environ["SPARK_GRAFT_CPUS"] = str(self.n)  # get_spark sizes shuffles by it
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "local")

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def start_spark(self):
        from rtfproc_spark.session import get_spark

        conf = {
            "spark.sql.warehouse.dir": self.path("warehouse"),
            "spark.local.dir": self.path("local"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={self.path('tmp')} -XX:-UsePerfData "
                f"-Dderby.system.home={self.path('tmp')}"
            ),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": self.eventlog,
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        with self.tracer.span("session.get_spark"):
            self.spark = get_spark(
                app_name=f"perfbench-{self.workload}",
                master=f"local[{self.n}]",
                extra_conf=conf,
            )
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    @contextmanager
    def tagged(self, tag: str):
        """Tag the Spark jobs started inside the block (event-log lookup)."""
        sc = self.spark.sparkContext
        sc.setLocalProperty("spark.job.description", f"pb:{tag}")
        try:
            yield
        finally:
            sc.setLocalProperty("spark.job.description", None)

    def close(self):
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        stop_jvm()
        self.tracer.write(os.path.join(OUT_ROOT, f"spans-{self.run_id}.json"))
        shutil.rmtree(self.work, ignore_errors=True)
        if os.path.isdir(WORK_ROOT) and not os.listdir(WORK_ROOT):
            os.rmdir(WORK_ROOT)


def timed_setup(bench: Bench, cold_op, inputs_s: float) -> float:
    """``setup_s``: process start -> the end of the workload's first, cold
    operation on a fresh session (imports, ``get_spark``, Python worker
    start and the first job), minus the ``inputs_s`` seconds the benchmark
    spent generating and writing inputs. Also records the session's
    ``get_spark`` seconds on ``bench``."""
    t0 = time.perf_counter()
    bench.start_spark()
    bench.get_spark_s = time.perf_counter() - t0
    cold_op()
    return time.perf_counter() - bench.process_start - inputs_s


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------


def read_eventlog(d: str) -> dict:
    """Tasks grouped by the ``pb:<tag>`` job description or streaming batch.

    Returns ``{"tags": {tag: [task, ...]}, "stream": {(run_id, batch): [...]}}``
    where a task is a dict with ``run_ms``, ``shuffle_write``, ``shuffle_read``.
    """
    stage_key: dict[tuple, object] = {}
    tags: dict[str, list] = {}
    stream: dict[tuple, list] = {}
    for fn in sorted(glob.glob(os.path.join(d, "*"))):
        with open(fn) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    desc = props.get("spark.job.description") or ""
                    key = None
                    if desc.startswith("pb:"):
                        key = desc[3:]
                    else:
                        m = re.search(r"runId = (\S+)\s+batch = (\d+)", desc)
                        if m:
                            key = (m.group(1), int(m.group(2)))
                    if key is not None:
                        for sid in ev.get("Stage IDs", []):
                            stage_key[(fn, sid)] = key
                elif kind == "SparkListenerTaskEnd":
                    key = stage_key.get((fn, ev.get("Stage ID")))
                    if key is None:
                        continue
                    tm = ev.get("Task Metrics") or {}
                    task = {
                        "run_ms": tm.get("Executor Run Time", 0),
                        "shuffle_write": (tm.get("Shuffle Write Metrics") or {}).get(
                            "Shuffle Bytes Written", 0
                        ),
                        "shuffle_read": sum(
                            (tm.get("Shuffle Read Metrics") or {}).get(k, 0)
                            for k in ("Remote Bytes Read", "Local Bytes Read")
                        ),
                    }
                    bucket = tags if isinstance(key, str) else stream
                    bucket.setdefault(key, []).append(task)
    return {"tags": tags, "stream": stream}


def shuffle_write_bytes(tasks: list) -> int:
    return int(sum(t["shuffle_write"] for t in tasks))


def task_skew(tasks: list) -> float:
    """max / median task run time over the reduce (shuffle-reading) stages;
    over all stages when nothing reads a shuffle."""
    reduce = [t for t in tasks if t["shuffle_read"] > 0] or tasks
    times = [max(t["run_ms"], 1) for t in reduce]
    return max(times) / median(times) if times else float("nan")


# ---------------------------------------------------------------------------
# streaming progress
# ---------------------------------------------------------------------------


def progress_dicts(query) -> list[dict]:
    return [json.loads(p.json) for p in query.recentProgress]


def pipeline_metrics(progress: list[dict], eventlog: dict, n: int) -> dict:
    """``streaming.pipeline.*`` over the micro-batches that carried data."""
    data = [p for p in progress if p["numInputRows"]]
    trig = [p["durationMs"]["triggerExecution"] for p in data]
    wall = {(p["runId"], p["batchId"]): p["durationMs"]["triggerExecution"] for p in progress}
    # task time of the query's batches / (their trigger wall time x N)
    timed = [k for k in wall if k in eventlog["stream"]]
    task_ms = sum(t["run_ms"] for k in timed for t in eventlog["stream"][k])
    busy_wall = sum(wall[k] for k in timed)
    return {
        "streaming.pipeline.trigger_ms_p50": median(trig),
        "streaming.pipeline.trigger_ms_p95": pct(trig, 95),
        "streaming.pipeline.overhead_ms_p50": median(
            [p["durationMs"]["triggerExecution"] - p["durationMs"].get("addBatch", 0) for p in data]
        ),
        "streaming.pipeline.batches": len(data),
        "streaming.pipeline.rows_per_batch_p50": median([p["numInputRows"] for p in data]),
        "streaming.pipeline.core_busy_frac": task_ms / (busy_wall * n) if busy_wall else float("nan"),
    }


def run_noop(df) -> None:
    """Execute ``df`` fully, discarding the rows."""
    df.write.format("noop").mode("overwrite").save()


def result_line(correct: bool, attempted: int, failed: int, metrics: dict) -> str:
    return json.dumps(
        {
            "correct": bool(correct),
            "attempted": int(attempted),
            "failed": int(failed),
            "metrics": {
                k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()
            },
        }
    )
