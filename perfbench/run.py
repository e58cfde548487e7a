"""rtfproc_spark benchmark: one seeded workload per run.

    python3 perfbench/run.py --workload rtf_batch --seed 1 --seconds 8 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 8

Run from the repository root. ``--trace 0`` prints the end-to-end metrics of
``BENCHMARK.json``; ``--trace 1`` prints its per-layer metrics (spans written
to ``.perfbench_out/``). Human-readable ``<workload> <metric> <value> <unit>``
lines come first; the last line is one JSON object. Any correctness-gate
mismatch sets ``correct`` false and exits 1. ``--workload all`` runs the three
workloads one after another, each in its own process.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import subprocess
import sys
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("rtf_batch", "turn_stream", "cep_stream")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run_all(args) -> int:
    rc = 0
    results = {}
    for w in WORKLOADS:
        cmd = [
            sys.executable, os.path.abspath(__file__), "--workload", w,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace),
        ]
        p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
        lines = p.stdout.strip().splitlines() or [""]
        # a run that failed before measuring prints no result line
        results[w] = json.loads(lines[-1]) if lines[-1].startswith("{") else None
        print("\n".join(lines[:-1] if results[w] else lines), flush=True)
        rc = rc or p.returncode
    correct = all(r and r["correct"] for r in results.values())
    print(json.dumps({"correct": correct, "workloads": results}))
    return rc


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.workload == "all":
        return _run_all(args)

    spec = _spec()
    sys.path.insert(0, ROOT)
    try:
        import rtfproc_spark  # noqa: F401
    except ImportError as e:
        print(f"cannot import the program under test: {e}", file=sys.stderr)
        return 2

    import common

    bench = common.Bench(args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        with common.RssSampler() as rss:
            if args.workload in ("rtf_batch", "turn_stream"):
                import w_rtf as mod
            else:
                import w_cep as mod
            res = getattr(mod, "run_" + args.workload)(bench)
            bench.close()
    except Exception:
        traceback.print_exc()
        bench.close()
        return 1

    w = args.workload
    res["info"]["peak_rss_mb"] = rss.peak_mb
    for k, v in sorted({**res["info"], **res["inputs"]}.items()):
        print(f"{w} {k} {v}")
    e2e = {
        "setup_s": res["setup_s"],
        "throughput_per_s": res["throughput_per_s"],
        "latency_p50_ms": res["latency_p50_ms"],
    }
    failures = res["failures"]
    bad = [k for k, v in e2e.items() if not math.isfinite(v) or v <= 0]
    if bad:
        failures.append(f"{w}: no valid measurement for {', '.join(bad)}")
    for f in failures:
        print(f"GATE FAILED {f}", file=sys.stderr)
    attempted = res["attempted"] + res["gates"]
    failed = res.get("failed_ops", 0) + len(failures)
    print(f"{w} failed_frac {failed / attempted:.4f} ({failed}/{attempted})")
    if args.trace:
        layers = {**res["layers"], **res["inputs"]}
        layers["session.get_spark_s"] = bench.get_spark_s
        layers["session.cores"] = bench.n
        layers["workload.failed_frac"] = failed / attempted
        tr = bench.tracer
        layers["trace.overhead_ms_per_op"] = (
            tr.cost_s_per_span() * len(tr.spans) / max(1, res["attempted"]) * 1e3
        )
        layers.update({f"workload.{k}": v for k, v in res["info"].items()})
        wanted = spec["per_layer"]
    else:
        layers = e2e
        wanted = spec["end_to_end"]
    metrics = {}
    for m in wanted:
        v = layers.get(m["name"])
        # a layer the workload never calls reports 0
        v = 0.0 if v is None or (isinstance(v, float) and math.isnan(v)) else v
        metrics[m["name"]] = (v, m["unit"])
        print(f"{w} {m['name']} {v:.6g} {m['unit']}")
    print(common.result_line(not failures, attempted, failed, metrics))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
