"""Benchmark entry point.

    python3 perfbench/run.py --workload stream_flagship --seed 1 --seconds 10 --trace 0

Runs one workload in this fresh process, checks its outputs and prints
a report, then, as the last line of standard output, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end metrics; with ``--trace 1`` they are the
per-layer metrics of a traced run (event log on, spans recorded), which
also reports its own end-to-end metrics as ``traced.*`` so the tracing
overhead shows against an untraced run.

Every file the run writes stays under ``.perfbench/`` at the root of
the checkout; the work directory is removed at exit, the report and
spans stay in ``.perfbench/out/``. Exits non-zero without printing a
result when the engine cannot be imported or a workload cannot run.
"""

from __future__ import annotations

import argparse
import gc
import importlib
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import harness  # noqa: E402

WORKLOADS = ("stream_flagship", "curation_dedup")

#: End-to-end metrics every workload prints (name -> unit).
END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "latency_p50_ms": "ms",
    "latency_p90_ms": "ms",
    "throughput_per_s": "1/s",
}

#: Per-layer metrics every traced run prints (name -> unit).
PER_LAYER = {
    "session.start_s": "s",
    "driver.build_ms_p50": "ms",
    "exec.ms_p50": "ms",
    "exec.jobs_per_op": "count",
    "exec.stages_per_op": "count",
    "exec.tasks_per_op": "count",
    "exec.task_cpu_ms_per_op": "ms",
    "exec.task_run_ms_per_op": "ms",
    "exec.gc_ms_per_op": "ms",
    "exec.shuffle_write_bytes_per_op": "bytes",
    "exec.spill_bytes_per_op": "bytes",
    "exec.input_bytes_per_op": "bytes",
    "functions.persisted_frames_per_op": "count",
    **{f"traced.{k}": v for k, v in END_TO_END.items()},
}


def execute(workload: str, seed: int, seconds: float, trace: bool,
            smoke: bool = False) -> tuple[dict, harness.Context]:
    """Run one workload end to end; return (result object, context)."""
    base = os.path.join(ROOT, ".perfbench")
    workdir = os.path.join(base, f"{workload}-{seed}-{os.getpid()}")
    ctx = harness.Context(workload, seed, seconds, trace, workdir, smoke=smoke)
    os.makedirs(workdir, exist_ok=True)
    out_dir = os.path.join(base, "out")
    os.makedirs(out_dir, exist_ok=True)
    try:
        harness.spark_env(ctx)
        mod = importlib.import_module(f"perfbench.{workload}")
        rss = harness.RssSampler()
        rss.start()
        t = time.perf_counter()
        inputs = mod.generate(ctx)
        # The inputs (hundreds of thousands of event tuples for the
        # stream's checks) stay alive for the whole run; keep the
        # driver's garbage collector from walking them again and again
        # while the engine's Python callbacks run.
        gc.freeze()
        t_setup0 = time.perf_counter()
        ctx.notes["generate_s"] = round(t_setup0 - t, 3)
        mod.run(ctx, inputs, t_setup0)
        ctx.notes["run_s"] = round(time.perf_counter() - t_setup0, 3)
        ctx.metric("peak_rss_mb", rss.stop(), "MB", len(rss.peak_kb))
        ctx.notes["peak_rss_mb_by_process"] = rss.by_command()
        if trace:
            harness.finish_trace(ctx)
            ctx.tracer.dump(os.path.join(out_dir, f"{workload}-seed{seed}-spans.json"))
            ctx.notes["span_self_s"] = {
                k: round(v, 3) for k, v in sorted(ctx.tracer.self_times().items())}
    finally:
        harness.stop_jvm()
        shutil.rmtree(workdir, ignore_errors=True)

    wanted = PER_LAYER if trace else END_TO_END
    values = dict(ctx.layers) if trace else dict(ctx.metrics)
    if trace:
        values.update({f"traced.{k}": m for k, m in ctx.metrics.items()})
    missing = [k for k in wanted if k not in values]
    if missing:
        raise RuntimeError(f"{workload} did not measure {missing}")
    result = {
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {k: {"value": values[k].value, "unit": wanted[k]} for k in wanted},
    }
    report = {"workload": workload, "seed": seed, "trace": trace,
              "end_to_end": {k: vars(m) for k, m in ctx.metrics.items()},
              "layers": {k: vars(m) for k, m in ctx.layers.items()},
              "notes": ctx.notes, "errors": ctx.errors}
    with open(os.path.join(out_dir, f"{workload}-seed{seed}-trace{int(trace)}.json"), "w") as fh:
        json.dump(report, fh, indent=1, default=str)
    if trace:
        _overhead(ctx, out_dir)
    return result, ctx


def _overhead(ctx: harness.Context, out_dir: str) -> None:
    """Tracing overhead: this traced run's end-to-end metrics against the
    untraced run of the same workload and seed, when one was made."""
    path = os.path.join(out_dir, f"{ctx.workload}-seed{ctx.seed}-trace0.json")
    if not os.path.exists(path):
        return
    with open(path) as fh:
        base = json.load(fh)["end_to_end"]
    ctx.notes["tracing_overhead_pct"] = {
        k: round(100.0 * (m.value - base[k]["value"]) / base[k]["value"], 2)
        for k, m in ctx.metrics.items() if k in base and base[k]["value"]
    }


def print_report(ctx: harness.Context) -> None:
    print(f"# {ctx.workload} seed={ctx.seed} seconds={ctx.seconds} trace={int(ctx.trace)}")
    print(f"{'metric':44s} {'value':>16s} {'unit':8s} samples")
    for section, ms in (("end-to-end", ctx.metrics), ("per-layer", ctx.layers)):
        if ms and (section == "end-to-end" or ctx.trace):
            print(f"-- {section}")
            for k, m in sorted(ms.items()):
                print(f"{k:44s} {m.value:16.4f} {m.unit:8s} {m.samples}")
    for k, v in ctx.notes.items():
        print(f"-- {k}: {json.dumps(v, default=str)}")
    print(f"-- attempted={ctx.attempted} failed={ctx.failed}")
    for e in ctx.errors:
        print(f"!! {e}")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs, for the benchmark's own tests")
    args = ap.parse_args(argv)
    result, ctx = execute(args.workload, args.seed, args.seconds, bool(args.trace),
                          smoke=args.smoke)
    print_report(ctx)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
