"""Layered benchmark of the churn lakehouse engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

One run is one process and one Spark session as local[nproc]:

1. set-up, three times: fresh seeded inputs, a session (re)start and a
   page-cache prime; ``setup_s`` is the median;
2. the workload's pass, timed (passes repeat until ``--seconds`` have
   passed; the end-to-end metrics come from the first pass);
3. the correctness checks, outside the timed region.

With ``--trace 1`` the whole run is traced (job groups counted with
``statusTracker``, an uncompressed event log, a streaming listener and
the codegen-fallback log lines) and the JSON metrics are the per-layer
ones of the first pass. Human-readable ``<workload> <metric> <value>
<unit>`` lines come first; the last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``. Per-query and
per-stage detail goes to ``.perfbench_results/`` in the checkout.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.harness import RESULTS, ROOT, Bench, median, tree_cpu_s  # noqa: E402

SETUP_REPS = 3


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def load_baseline() -> dict:
    """Untraced medians of the recorded baseline, per workload; a traced
    run reports its wall time against them as the tracing overhead."""
    try:
        with open(os.path.join(ROOT, "perfbench", "baseline.json")) as f:
            return {w: v["end_to_end"] for w, v in json.load(f)["workloads"].items()}
    except FileNotFoundError:
        return {}


def _workload(name: str, scale: str):
    if name == "iterative_barrier":
        from perfbench.mix import IterativeBarrier

        return IterativeBarrier(scale)
    if name == "lakehouse_refresh":
        from perfbench.lakehouse import LakehouseRefresh

        return LakehouseRefresh(scale)
    raise SystemExit(f"unknown workload {name!r}")


def run(args, spec: dict, out) -> dict:
    import ecom_churn_lakehouse_spark  # noqa: F401  (fail early without the program)

    end_to_end = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    per_layer = {m["name"]: m["unit"] for m in spec["per_layer"]}

    wl = _workload(args.workload, args.scale)
    bench = Bench(args.workload, args.seed, trace=bool(args.trace))
    saved_stderr = os.dup(2)
    log_fd = os.open(bench.jvm_log, os.O_WRONLY | os.O_CREAT | os.O_APPEND)
    os.dup2(log_fd, 2)  # Spark's and the pipelines' log lines go to the run log
    try:
        setup, setup_cpu, prev = [], [], None
        for rep in range(SETUP_REPS):
            t0, c0 = time.perf_counter(), tree_cpu_s(os.getpid())
            data_dir = os.path.join(bench.work, f"inputs-{rep}")
            inp = wl.prepare(data_dir, args.seed)
            bench.start()
            wl.prime(bench, inp)
            setup.append(time.perf_counter() - t0)
            setup_cpu.append(tree_cpu_s(os.getpid()) - c0)
            if prev:
                shutil.rmtree(prev, ignore_errors=True)
            prev = data_dir

        log0, t0, c0 = bench.jvm_log_offset(), time.perf_counter(), tree_cpu_s(os.getpid())
        passes = [wl.run_pass(bench, inp, 1, args.plant_defect)]
        log1, pass_cpu = bench.jvm_log_offset(), tree_cpu_s(os.getpid()) - c0
        while time.perf_counter() - t0 < args.seconds:
            passes.append(wl.run_pass(bench, inp, len(passes) + 1, args.plant_defect))
        measured_s = time.perf_counter() - t0
        mem = bench.memory_mb()
        layer, layer_detail = {}, {}
        if args.trace:
            bench.spark.stop()  # flushes the event log
            bench.spark = None
            layer, layer_detail = wl.per_layer(bench, passes[0], (log0, log1))
    finally:
        bench.shutdown()
        os.dup2(saved_stderr, 2)
        os.close(saved_stderr)
        os.close(log_fd)
        log_tail = _tail(bench.jvm_log)
        bench.cleanup()

    attempted = sum(p["attempted"] for p in passes)
    problems = [f for p in passes for f in p["failed"]]
    e2e, detail = wl.end_to_end(passes[0])
    e2e.update(setup_s=median(setup), cpu_s=pass_cpu,
               mem_mb=mem["python_peak_rss_mb"] + mem["jvm_heap_after_gc_mb"])
    detail.update(
        **mem, setup_reps_s=setup, setup_cpu_reps_s=setup_cpu, measured_s=measured_s,
        passes=len(passes),
        layer_detail=layer_detail, problems=problems[:50], spans=bench.spans.items,
        error_rate=len(problems) / attempted,
    )
    if args.trace:
        base = load_baseline().get(args.workload, {}).get("wall_s")
        detail["trace_overhead_s"] = None if base is None else e2e["wall_s"] - base["median"]
        metrics, units = {k: layer.get(k, 0.0) for k in per_layer}, per_layer
    else:
        metrics, units = {k: e2e[k] for k in end_to_end}, end_to_end
    result = {
        "correct": not problems,
        "attempted": attempted,
        "failed": len(problems),
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }
    _report(args, end_to_end, per_layer, e2e, detail, layer, result, out)
    if problems:
        print(log_tail, file=sys.stderr)
    return result


def _tail(path: str, n: int = 4000) -> str:
    try:
        with open(path, "rb") as f:
            f.seek(max(0, os.path.getsize(path) - n))
            return f.read().decode("utf-8", "replace")
    except OSError:
        return ""


def _report(args, end_to_end, per_layer, e2e, detail, layer, result, out) -> None:
    w = args.workload
    for k, unit in end_to_end.items():
        print(f"{w} {k} {e2e[k]:.6g} {unit}", file=out)
    for k, v in detail.items():
        if isinstance(v, (int, float)):
            print(f"{w} detail.{k} {v:.6g}", file=out)
    if args.trace:
        for k, unit in per_layer.items():
            print(f"{w} {k} {layer.get(k, 0):.6g} {unit}", file=out)
    for p in detail["problems"]:
        print(f"{w} FAILED {p}", file=out)
    os.makedirs(RESULTS, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    name = f"{w}-seed{args.seed}-trace{args.trace}-{stamp}-{os.getpid()}.json"
    path = os.path.join(RESULTS, name)
    with open(path, "w") as f:
        json.dump({"workload": w, "seed": args.seed, "seconds": args.seconds,
                   "end_to_end": e2e, "per_layer": layer, "detail": detail,
                   "result": result}, f, indent=1, default=str)
    print(f"{w} detail written to {os.path.relpath(path)}", file=out)


def main(argv=None) -> int:
    spec = load_spec()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=["bench", "smoke"], default="bench",
                    help="input size; smoke is the sf0.001-sized self-test")
    ap.add_argument("--plant-defect", action="store_true",
                    help="self-test: plant a wrong expected result so the check must fail")
    args = ap.parse_args(argv)
    # A terminated run still stops its JVM and removes its work dir.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    result = run(args, spec, sys.stdout)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
