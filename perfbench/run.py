"""Run one benchmark workload and print its metrics.

From the root of a checkout of the repository::

    python3 perfbench/run.py --workload replay_then_live --seed 1 --seconds 10 --trace 0

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics``.  With ``--trace 0`` the
metrics are the end-to-end ones, measured with tracing off; with
``--trace 1`` they are the per-layer ones, and the spans are written to
``.bench_out/``.  The lines before it name every figure the run
measured, with its unit.  See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

#: size of the throwaway inputs of the warm-up pass, relative to the
#: measured ones
WARM_SCALE = 0.1


def _load_spec(root: str) -> dict:
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _workloads():
    from lake import LakeAndCuration
    from stream import ReplayThenLive

    return {w.name: w for w in (ReplayThenLive, LakeAndCuration)}


def run_workload(name: str, seed: int, seconds: float, trace: bool,
                 root: str, work: str, spec: dict) -> dict:
    from harness import (
        Run,
        log,
        peak_rss_mb,
        start_session,
        stop_session,
        vm_hwm_mb,
    )

    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    t0 = time.perf_counter()
    spark = start_session()
    session_s = time.perf_counter() - t0
    log(f"session started in {session_s:.2f} s")
    try:
        run = Run(spark, seed, seconds, work, trace)
        wl = _workloads()[name](run)

        t = time.perf_counter()
        inputs = wl.generate("measured", 1.0)
        wl.setup(inputs)
        build_s = time.perf_counter() - t
        log(f"inputs generated and built in {build_s:.2f} s")
        # every code path once, on small throwaway inputs, so the measured
        # window pays no cold JIT compilation, codegen or worker start-up
        t = time.perf_counter()
        tiny = wl.generate("warm", WARM_SCALE)
        wl.setup(tiny)
        wl.warm(tiny)
        warm_s = time.perf_counter() - t
        log(f"warm-up pass took {warm_s:.2f} s")
        shutil.rmtree(tiny["root"], ignore_errors=True)

        gc0 = run.jvm.gc_ms()
        run.jvm.reset_live()
        run.tracer.clear()
        t = time.perf_counter()
        wl.measure(inputs)
        measured_s = time.perf_counter() - t
        log(f"measured for {measured_s:.2f} s")
        gc_ms = run.jvm.gc_ms() - gc0 - run.jvm.forced_gc_ms

        e2e = wl.metrics(inputs)
        e2e["setup_s"] = session_s + build_s + warm_s
        python_mb = vm_hwm_mb(os.getpid())
        e2e["peak_live_mb"] = run.jvm.peak_live_mb + python_mb
        run.note("jvm_live_heap_mb", run.jvm.peak_live_mb, "MB")
        run.note("driver_python_hwm_mb", python_mb, "MB")
        run.note("peak_rss_mb", peak_rss_mb(spark), "MB")
        run.note("session_start_s", session_s, "s")
        run.note("inputs_and_build_s", build_s, "s")
        run.note("warm_pass_s", warm_s, "s")
        run.note("measured_s", measured_s, "s")

        wl.verify(inputs)
        log("checks done")

        if trace:
            layers = {m["name"]: 0.0 for m in spec["per_layer"]}
            layers.update(wl.layer_metrics(inputs))
            layers["session.start_s"] = session_s
            layers["jvm.gc_ms"] = float(gc_ms)
            layers["jvm.heap_used_mb"] = run.jvm.peak_live_mb
            layers["trace.spans"] = float(len(run.tracer.spans))
            layers["trace.cost_ms"] = run.tracer.cost_ns / 1e6
            for layer, ms in _self_ms_by_layer(run.tracer).items():
                key = f"self_ms.{layer}"
                if key in layers:
                    layers[key] = ms
            out_dir = os.path.join(root, ".bench_out")
            os.makedirs(out_dir, exist_ok=True)
            run.tracer.dump(os.path.join(out_dir, f"spans-{name}-{seed}.jsonl"))
            metrics = {k: layers[k] for k in layers if k in units}
        else:
            metrics = {m["name"]: e2e[m["name"]] for m in spec["end_to_end"]}

        for k, (v, unit) in sorted(run.report.items()):
            print(f"{k} {v:.6g} {unit}")
        for k in sorted(e2e):
            print(f"{k} {e2e[k]:.6g} {units[k]}")
        frac = run.failed / max(1, run.attempted)
        print(f"failed_ops_frac {frac:.6g} ratio")
        return {
            "correct": run.failed == 0,
            "attempted": run.attempted,
            "failed": run.failed,
            "metrics": {k: {"value": float(v), "unit": units[k]}
                        for k, v in metrics.items()},
        }
    finally:
        stop_session(spark)


def _self_ms_by_layer(tracer) -> dict[str, float]:
    """Self time summed per layer (span name up to its last ':')."""
    out: dict[str, float] = {}
    for name, ms in tracer.self_ms().items():
        layer = name.rsplit(":", 1)[0]
        out[layer] = out.get(layer, 0.0) + ms
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "async_stream_processing_spark")):
        print("perfbench: run from the root of a checkout of the repository "
              "(no async_stream_processing_spark/ here)", file=sys.stderr)
        return 2
    spec = _load_spec(root)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    work = os.path.join(root, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    from harness import prepare_env

    prepare_env(root, work)
    sys.path.insert(0, root)
    try:
        result = run_workload(args.workload, args.seed, args.seconds,
                              bool(args.trace), root, work, spec)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
