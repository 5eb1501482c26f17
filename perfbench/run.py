"""Benchmark entry point.

    python3 perfbench/run.py --workload batch_headline --seed 1 --seconds 10 --trace 0

runs one workload in this process (with its own Spark JVM) and prints, as
its last line, one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics of BENCHMARK.json with ``--trace 0``,
its per-layer metrics with ``--trace 1``).

    python3 perfbench/run.py [--seed N] [--seconds S]

runs every workload in a fresh child process, untraced and then traced,
and prints each end-to-end metric with its unit and sample count, the
per-layer metrics and the tracing overhead. ``--smoke`` shrinks every
input for a quick functional check. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import subprocess
import sys
import time

T_START = time.time()

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import harness, probes  # noqa: E402
from perfbench.stats import median, quartiles, tail_percentile  # noqa: E402

WORKLOADS = ("batch_headline", "stream_service")


def load_spec() -> dict:
    with open(os.path.join(harness.ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _metrics(res: harness.Result, spec: dict, trace: bool) -> dict:
    """The metric set BENCHMARK.json defines: every end-to-end metric
    untraced, every per-layer metric traced. A layer the workload does not
    exercise reports 0."""
    out = {}
    if not trace:
        for m in spec["end_to_end"]:
            value, unit, _ = res.e2e[m["name"]]
            out[m["name"]] = {"value": value, "unit": unit}
        return out
    for m in spec["per_layer"]:
        value = res.layer.get(m["name"], (0.0,))[0]
        out[m["name"]] = {"value": value, "unit": m["unit"]}
    return out


def _history_path(workload: str) -> str:
    return os.path.join(harness.WORK, "history", f"{workload}.jsonl")


def _trace_overhead(ctx: harness.Context, spec: dict) -> None:
    """Percent by which the traced run is worse than the median of the
    untraced runs recorded in this checkout (0 when there are none)."""
    runs = []
    try:
        with open(_history_path(ctx.workload)) as f:
            runs = [json.loads(ln) for ln in f if ln.strip()]
    except FileNotFoundError:
        pass
    res = ctx.result
    res.put("trace.overhead_baseline_runs", len(runs), "count")
    for m in spec["end_to_end"]:
        name = m["name"]
        base = [r[name] for r in runs if name in r]
        pct = 0.0
        if base and name in res.e2e:
            b, t = median(base), res.e2e[name][0]
            pct = 100.0 * ((t - b) if m["better"] == "lower" else (b - t)) / b
        res.put(f"trace.overhead_pct.{name}", pct, "%", len(base))


def run_one(args) -> int:
    spec = load_spec()
    load_before = os.getloadavg()[0]
    steal_before = probes.cpu_ticks()
    harness.pin_environment()
    ctx = harness.Context(args.workload, args.seed, args.seconds,
                          bool(args.trace), args.smoke, T_START)
    module = importlib.import_module(f"perfbench.{args.workload}")
    with probes.RssSampler() as rss:
        with ctx.tracer.span("workload", workload=args.workload):
            try:
                module.run(ctx)
            finally:
                ctx.stop_spark()
    res = ctx.result
    res.put("peak_rss_mb", rss.peak / 2**20, "MB", rss.samples)
    load_after = os.getloadavg()[0]
    steal_after = probes.cpu_ticks()
    n = probes.nproc()

    if ctx.trace:
        _trace_overhead(ctx, spec)
        for name, secs in ctx.tracer.self_time_by_name().items():
            res.put(f"self_s.{name}", secs, "s")
        trace_dir = os.path.join(harness.WORK, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        span_file = os.path.join(
            trace_dir, f"{args.workload}-{ctx.tracer.run_id}.jsonl")
        ctx.tracer.write(span_file)
    elif res.failed == 0 and not args.smoke:
        os.makedirs(os.path.dirname(_history_path(args.workload)),
                    exist_ok=True)
        with open(_history_path(args.workload), "a") as f:
            f.write(json.dumps({k: v[0] for k, v in res.e2e.items()}) + "\n")

    env = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "nproc": n, "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "defaultParallelism": ctx.default_parallelism,
        "loadavg_before": load_before, "loadavg_after": load_after,
        "load_exceeded_nproc": max(load_before, load_after) > n,
        "cpu_steal_pct": 100.0 * (steal_after[0] - steal_before[0])
        / max(1, steal_after[1] - steal_before[1]),
        "commit": probes.git_commit(harness.ROOT),
    }
    print("env " + json.dumps(env))
    print(f"error_rate = {res.failed / max(res.attempted, 1):.6f} ratio "
          f"(failed {res.failed} of {res.attempted} attempted)")
    for name, (value, unit, samples) in sorted(
            {**res.e2e, "peak_rss_mb": res.layer["peak_rss_mb"],
             **res.info}.items()):
        print(f"{name} = {value:.6g} {unit} (n={samples})")
    for name, values in res.samples.items():
        q1, q2, q3 = quartiles(values)
        p, tail = tail_percentile(values)
        print(f"{name}: q1 {q1:.6g}, median {q2:.6g}, q3 {q3:.6g}, "
              f"p{p:g} {tail:.6g} (n={len(values)})")
    if ctx.trace:
        for name, (value, unit, samples) in sorted(res.layer.items()):
            print(f"  {name} = {value:.6g} {unit} (n={samples})")
        print(f"spans: {os.path.relpath(span_file, harness.ROOT)}")
    for p in res.problems:
        print(f"CHECK FAILED: {p}")
    correct = res.failed == 0 and res.attempted > 0
    print(json.dumps({"correct": correct, "attempted": res.attempted,
                      "failed": res.failed,
                      "metrics": _metrics(res, spec, ctx.trace)}))
    return 0 if correct else 1


def run_all(args) -> int:
    """Each workload in its own process and JVM, strictly one at a time."""
    traces = (0, 1) if args.trace is None else (args.trace,)
    merged, ok, attempted, failed = {}, True, 0, 0
    for trace in traces:
        for w in WORKLOADS:
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", w,
                   "--seed", str(args.seed), "--seconds", str(args.seconds),
                   "--trace", str(trace)] + (["--smoke"] if args.smoke else [])
            print(f"== {w} trace={trace}", flush=True)
            proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
            lines = proc.stdout.strip().splitlines()
            for ln in lines[:-1]:
                print(ln)
            try:
                out = json.loads(lines[-1])
            except (IndexError, json.JSONDecodeError):
                print(f"{w}: no result (exit {proc.returncode})")
                ok = False
                continue
            ok &= proc.returncode == 0 and out["correct"]
            attempted += out["attempted"]
            failed += out["failed"]
            for k, v in out["metrics"].items():
                merged[f"{w}.{k}"] = v
    print(json.dumps({"correct": ok, "attempted": attempted,
                      "failed": failed, "metrics": merged}))
    return 0 if ok else 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS + ("all",), default="all")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None,
                    help="measured time per run (default: BENCHMARK.json)")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=None,
                    help="1 = traced run (per-layer metrics); default 0 for "
                         "one workload, both for all")
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs: a functional check, not a measurement")
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(harness.ROOT, harness.PACKAGE)):
        print(f"{harness.PACKAGE} is not in {harness.ROOT}: nothing to "
              "benchmark", file=sys.stderr)
        return 2
    if args.seconds is None:
        args.seconds = load_spec()["run_seconds"]
    if args.workload == "all":
        return run_all(args)
    if args.trace is None:
        args.trace = 0
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
