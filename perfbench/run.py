"""logflow benchmark: one workload per process, seeded inputs, checked outputs.

    python3 perfbench/run.py --workload {stream-correlate,trace-query} \\
        --seed N --seconds S --trace {0,1}

Run it from the repository root. Each run is a fresh process with a fresh
driver JVM, so ``setup_s`` (process start to session ready and query
registry loaded) is a real cold start. It writes the workload's inputs from
``--seed``, runs an untimed warm-up and then measures for ``--seconds``,
checks every output, and prints a report line followed by the result line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the ``end_to_end`` metrics of
``BENCHMARK.json``; with ``--trace 1`` they are its ``per_layer`` metrics
(0 for a layer the workload does not use) and the spans are written to
``.perfbench_out/``. Scratch files live in ``.perfbench_work/`` and are
removed at exit. See README.md in this directory for what each number means.
"""

from __future__ import annotations

import argparse
import importlib
import json
import math
import os
import shutil
import sys
import time
import traceback

import harness
from tracer import Tracer

REPO = harness.REPO

WORKLOADS = {"stream-correlate": "stream_correlate", "trace-query": "trace_query"}


class Context:
    """What a workload's ``run(ctx)`` gets: the session, the registry, the
    seed and run length, its scratch directory, the tracer and counters."""

    def __init__(self, args, work_dir: str):
        self.seed = args.seed
        self.seconds = args.seconds
        self.work_dir = work_dir
        self.tracer = Tracer(enabled=bool(args.trace))
        self.spark = self.registry = self.counters = None
        self.jvm_pid = None
        self.phases: dict[str, float] = {}
        self._mark = time.perf_counter()

    def phase(self, name: str) -> None:
        """Close the current phase of the run under ``name``."""
        now = time.perf_counter()
        self.phases[name] = now - self._mark
        self._mark = now

    def mem_peak_mb(self) -> float:
        """Peak resident memory of the driver JVM plus this process since
        the last ``reset_mem_peak``."""
        return harness.peak_rss_mb(self.jvm_pid) + harness.peak_rss_mb()

    def reset_mem_peak(self) -> None:
        """Start the peak-memory window here, so ``mem_peak_mb`` leaves the
        warm-up out."""
        harness.reset_peak_rss(self.jvm_pid)
        harness.reset_peak_rss()


def setup(ctx: Context) -> dict:
    """Start the session in this fresh process; returns its set-up timings."""
    ctx.spark, ctx.registry, timings = harness.start_session(ctx.work_dir)
    ctx.counters = harness.SparkCounters(ctx.spark)
    ctx.jvm_pid = harness.jvm_pid(ctx.spark)
    ctx.phase("setup")
    return timings


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    missing = [p for p in ("logflow/__init__.py", "tests/oracle.py", "BENCHMARK.json")
               if not os.path.isfile(os.path.join(REPO, p))]
    if missing:
        print(f"not a logflow checkout, missing: {missing}", file=sys.stderr)
        return 2
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        bench = json.load(fh)

    work = os.path.join(REPO, ".perfbench_work", f"{args.workload}-s{args.seed}-{os.getpid()}")
    os.makedirs(work)
    ctx = Context(args, work)
    workload = importlib.import_module(WORKLOADS[args.workload])
    try:
        harness.pin_environment(work)
        setup_timings = setup(ctx)
        res = workload.run(ctx)
        if ctx.tracer.enabled:
            res["layers"]["jvm.heap_live_mb"] = harness.heap_live_mb(ctx.spark)
        env = harness.environment(ctx.spark)
    except harness.InvalidRun as exc:
        print(f"invalid run: {exc}", file=sys.stderr)
        return 3
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        ctx.tracer.unwrap_all()
        if ctx.spark is not None:
            harness.stop_session(ctx.spark)
        shutil.rmtree(work, ignore_errors=True)
    ctx.phase("teardown")

    e2e = dict(res["e2e"], setup_s=setup_timings.pop("setup_s"), mem_peak_mb=res["mem_peak_mb"])
    layers = dict(res["layers"], **setup_timings)
    if ctx.tracer.enabled:
        out_dir = os.path.join(REPO, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        ctx.tracer.write(os.path.join(out_dir, f"spans-{args.workload}-s{args.seed}.parquet"))

    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "environment": env,
        "setup_s": {"value": e2e["setup_s"], "unit": "s"},
        "mem_peak_mb": {"value": e2e["mem_peak_mb"], "unit": "MB"},
        "error_rate": {"value": res["failed"] / res["attempted"], "unit": "ratio",
                       "attempted": res["attempted"], "failed": res["failed"]},
        **res["report"],
        "end_to_end": e2e,
        "phases_s": ctx.phases,
        "errors": res["errors"][:5],
    }
    print(json.dumps({"report": report}))

    if args.trace:
        wanted, values = bench["per_layer"], layers
    else:
        wanted, values = bench["end_to_end"], e2e
    metrics = {}
    for m in wanted:
        value = float(values.get(m["name"], 0.0 if args.trace else math.nan))
        if not math.isfinite(value):
            print(f"metric {m['name']} was not measured", file=sys.stderr)
            return 1
        metrics[m["name"]] = {"value": value, "unit": m["unit"]}
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
