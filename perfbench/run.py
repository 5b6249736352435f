"""Layered benchmark of the Delta engine: one command, two workloads.

    python3 perfbench/run.py --workload log_replay --seed 1 --seconds 10 --trace 0

Run from the repository root (the engine package ``delta_kernel_rs_spark``
must sit beside ``perfbench/``). Each run is one client in one Python
process driving Spark ``local[N]`` (N = min(4, CPUs)) in a closed loop:
set-up (JVM start, then ``SETUP_REPEATS`` rounds of seeded input
generation, of which the last is used), then whole cycles of the
workload's op sequence until ``--seconds`` have passed. There is no
warm-up: every run is a cold JVM, as every real job of this engine is,
so the first cycle pays JIT and plan compilation. Every op's output is
checked.

Standard output: one detail line (JSON: inputs, per-op-kind latency with
sample counts, the per-op metrics the workload issues, failed_op_ratio,
failures), then the result line:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end set. With ``--trace 1`` the loop is
traced and the metrics are the per-layer set, including the traced
``ops_per_s`` (tracing overhead: compare with the untraced run of the same
seed) and the tracer's own bookkeeping time per op. Spans of a traced run
are written to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import random
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
if HERE not in sys.path:
    sys.path.insert(0, HERE)

import harness  # noqa: E402
import metrics  # noqa: E402
import tracing  # noqa: E402

#: workload name -> the op-set modules whose cycles it runs, in order
WORKLOADS = {
    "log_replay": ("wl_log_replay",),
    "table_pipeline": ("wl_table_io", "wl_pipeline_ops"),
}
ENGINE_PACKAGE = "delta_kernel_rs_spark"
#: the driver heap; leaves most of a 15 GB box to other tenants
DRIVER_MEM = "3g"
MAX_CPUS = 4
#: input generation runs this many times; setup_s takes the median
SETUP_REPEATS = 3


class Context:
    """What a workload's functions get: the session, a private work
    directory, the seed, a seeded RNG for op parameters, and the tracer."""

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.rng = random.Random(seed)
        self.tracer = tracing.NullTracer()
        self.inputs: dict = {}


def _named_metrics(rec: harness.Recorder) -> dict:
    """Per-op metrics (e.g. snapshot_load_ms_p50),
    pooled over the op kinds that share a prefix, with sample counts."""
    pooled: dict[str, list] = {}
    for kind, samples in rec.latencies_ms.items():
        name = metrics.OP_METRICS.get(kind.split(".", 1)[0])
        if name:
            pooled.setdefault(name, []).extend(samples)
    out = {}
    for name, samples in sorted(pooled.items()):
        s = harness.summarize(samples)
        for key, value in s.items():
            if key != "n":
                out[f"{name}_{key}"] = {"value": value, "unit": "ms", "n": s["n"]}
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, ENGINE_PACKAGE)):
        print(f"{ENGINE_PACKAGE}/ not found under {root}: run from the repository root", file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    harness.configure_environment(work, root, min(MAX_CPUS, os.cpu_count() or 1), DRIVER_MEM)
    sys.path.insert(0, root)
    parts = [importlib.import_module(m) for m in WORKLOADS[args.workload]]

    t0 = time.perf_counter()
    from delta_kernel_rs_spark.session import get_spark

    spark = get_spark(app_name=f"perfbench-{args.workload}")
    try:
        spark.sparkContext.setLogLevel("ERROR")
        jvm_s = time.perf_counter() - t0
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()

        def make_cycle():
            return [op for p, s in zip(parts, states) for op in p.cycle(ctx, s)]

        inputs_s = []
        for i in range(SETUP_REPEATS):
            t1 = time.perf_counter()
            if i:
                shutil.rmtree(ctx.work)
            ctx = Context(spark, os.path.join(work, f"inputs{i}"), args.seed)
            if args.trace:
                # the cycles' ops take the tracer when they are built
                ctx.tracer = tracing.Tracer(spark)
            states = [p.setup(ctx) for p in parts]
            first_cycle = make_cycle()
            inputs_s.append(time.perf_counter() - t1)
        setup_s = jvm_s + statistics.median(inputs_s)

        if args.trace:
            ctx.tracer.install()
        rec = harness.Recorder(ctx.tracer)
        rss_base = harness.reset_python_peak_rss()
        try:
            rec.run_cycles(make_cycle, args.seconds, first_cycle)
            if args.trace:
                for p, s in zip(parts, states):
                    if hasattr(p, "finish"):
                        with ctx.tracer.paused():
                            p.finish(ctx, s)
        finally:
            if args.trace:
                ctx.tracer.uninstall()
        rss = harness.peak_rss_mb(jvm_pid)
        if args.trace:
            layer = metrics.per_layer(ctx.tracer, rec.ok_ops, rec.ops_per_s(), rss["jvm"])
            result_metrics = {k: {"value": v, "unit": metrics.PER_LAYER[k]} for k, v in layer.items()}
            out_dir = os.path.join(root, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            ctx.tracer.write(
                os.path.join(out_dir, f"trace_{args.workload}_seed{args.seed}.json"),
                {"workload": args.workload, "seed": args.seed, "per_layer": layer},
            )
        else:
            e2e = {
                "setup_s": setup_s,
                "ops_per_s": rec.ops_per_s(),
                "op_ms_p50": rec.op_ms_p50(),
            }
            result_metrics = {k: {"value": v, "unit": metrics.END_TO_END[k]} for k, v in e2e.items()}
    finally:
        harness.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    attempted, failed = rec.attempted, rec.failed
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "closed_loop_clients": 1,
        "inputs": ctx.inputs,
        "traced": bool(args.trace),
        "setup": {"jvm_s": jvm_s, "inputs_s": inputs_s},
        "measured_s": rec.elapsed_s,
        "busy_s": rec.busy_s,
        "peak_rss_mb": {**rss, "python_after_setup": rss_base},
        "op_kinds": {k: harness.summarize(v) for k, v in sorted(rec.latencies_ms.items())},
        "named_metrics": _named_metrics(rec),
        "failed_op_ratio": failed / attempted if attempted else 0.0,
        "failures": rec.failures,
    }
    for p in parts:
        if hasattr(p, "named_metrics"):
            detail["named_metrics"].update(p.named_metrics(rec))
    # how far the driver's RSS rose in the loop above its RSS after set-up:
    # the engine's driver-side memory (the tracer's spans add a little in
    # a traced run). A few MB on table_pipeline, where allocator noise
    # spreads it by 30%, so it is no bounded metric.
    detail["named_metrics"]["py_driver_loop_rss_mb"] = {"value": rss["python"] - rss_base, "unit": "MB", "n": 1}
    print(json.dumps(detail))
    print(
        json.dumps(
            {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": result_metrics}
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
