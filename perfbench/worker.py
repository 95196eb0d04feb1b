"""One benchmark run in a prepared environment (started by ``run.py``).

Prints progress to stderr and, as the last line of stdout, the result
object. With ``--trace 1`` it also writes the spans, per-layer self times
and per-operation counters to ``.perfbench/out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import sys
import time

from perfbench.tracing import (SparkCounters, Tracer, install_layer_spans,
                               span_cost_s)
from perfbench.workloads import WORKLOADS, Ctx, percentile, tail

HERE = os.path.dirname(os.path.abspath(__file__))
DRIVER_LAYERS = ("engine", "listquery", "catalog", "query", "etl")


def load_spec() -> dict:
    with open(os.path.join(HERE, "workloads.json")) as fh:
        return json.load(fh)


def peak_rss_mb(sc) -> float:
    """Peak resident memory of the driver JVM plus this Python process."""
    jvm_pid = sc._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{jvm_pid}/status") as fh:
        hwm_kb = next(int(line.split()[1]) for line in fh
                      if line.startswith("VmHWM:"))
    return (hwm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024


def end_to_end(wl, setup_s: float, rss: float) -> dict[str, tuple[float, str]]:
    ops = wl.ctx.ops
    ok = sum(bool(op.ok) for op in ops)
    return {
        "setup_s": (setup_s, "s"),
        "op_p50_ms": (1000 * percentile(wl.unit_s, 0.5), "ms"),
        "throughput_per_s": (wl.work_done / wl.work_time, "1/s"),
        "peak_rss_mb": (rss, "MB"),
        "ok_ratio": (ok / len(ops), "ratio"),
    }


def per_layer(wl, tracer: Tracer, counter_s: float) -> dict[str, tuple[float, str]]:
    ops = wl.ctx.ops
    n = len(ops)
    tot = {k: sum(op.counters[k] for op in ops) for k in SparkCounters.KEYS}
    self_s = tracer.self_times()
    loads = [sp.end - sp.start for sp in tracer.spans if sp.layer == "catalog"]
    overhead = len(tracer.spans) * span_cost_s() + counter_s
    return {
        "spark.jobs_per_op": (tot["jobs"] / n, "count"),
        "spark.stages_per_op": (tot["stages"] / n, "count"),
        "spark.tasks_per_op": (tot["tasks"] / n, "count"),
        "spark.shuffle_write_bytes_per_op": (tot["shuffle_write_bytes"] / n, "bytes"),
        "spark.input_bytes_per_op": (tot["input_bytes"] / n, "bytes"),
        "spark.executor_run_ms_per_op": (tot["executor_run_ms"] / n, "ms"),
        "catalog.load_table_calls_per_op": (len(loads) / n, "count"),
        "catalog.load_table_ms": (1000 * sum(loads) / max(1, len(loads)), "ms"),
        "self_ms.driver_per_op": (
            1000 * sum(self_s.get(k, 0.0) for k in DRIVER_LAYERS) / n, "ms"),
        "self_ms.action_per_op": (1000 * self_s.get("action", 0.0) / n, "ms"),
        "traced.op_p50_ms": (1000 * percentile(wl.unit_s, 0.5), "ms"),
        "traced.op_tail_ms": (1000 * tail(wl.unit_s), "ms"),
        "trace.overhead_ms_per_op": (1000 * overhead / n, "ms"),
    }


def trace_record(wl, tracer: Tracer) -> dict:
    """Spans, self times and per-operation counters of a traced run."""
    by_kind: dict[str, dict] = {}
    for op in wl.ctx.ops:
        agg = by_kind.setdefault(op.kind, {"ops": 0, "s": 0.0})
        agg["ops"] += 1
        agg["s"] += op.latency_s
        for k, v in op.counters.items():
            agg[k] = agg.get(k, 0) + v
    by_name: dict[str, list[float]] = {}
    for sp in tracer.spans:
        by_name.setdefault(sp.name, []).append(sp.end - sp.start)
    return {
        "self_s_by_layer": tracer.self_times(),
        "counters_by_kind": by_kind,
        "span_ms_by_name": {k: {"calls": len(v), "mean_ms": 1000 * sum(v) / len(v)}
                            for k, v in by_name.items()},
        "spans": [[sp.sid, sp.parent, sp.op, sp.name, sp.layer,
                   round(sp.start, 6), round(sp.end, 6)]
                  for sp in tracer.spans],
        "span_fields": ["id", "parent", "op", "name", "layer", "start", "end"],
    }


def run(args) -> dict:
    spec = load_spec()
    cfg = spec["workloads"][args.workload]
    run_dir = os.environ["PERFBENCH_RUN_DIR"]
    cpus = int(os.environ["SPARK_GRAFT_CPUS"])
    ctx = Ctx(run_dir, args.seed, args.seconds, bool(args.trace), cpus, cfg)
    wl = WORKLOADS[args.workload](ctx)

    t0 = time.perf_counter()
    inputs = wl.generate()
    gen_s = time.perf_counter() - t0
    log(f"{wl.name}: inputs {inputs} in {gen_s:.2f}s")

    t0 = time.perf_counter()
    wl.start()
    wl.warmup()
    setup_s = time.perf_counter() - t0
    log(f"{wl.name}: set-up {setup_s:.2f}s")

    sc = wl.spark.sparkContext
    ctx.counters = SparkCounters(sc)
    tracer = Tracer() if ctx.trace else None
    if tracer:
        install_layer_spans(tracer, wl.query_names)
        ctx.tracer = tracer
    t0 = time.perf_counter()
    try:
        wl.measure()
    finally:
        if tracer:
            tracer.unpatch()
    measure_s = time.perf_counter() - t0
    log(f"{wl.name}: measured {len(ctx.ops)} ops in {measure_s:.2f}s")

    counter_s = 0.0
    if tracer:
        # counter reads ran inside the window; time one more pass to report
        # their cost as part of the tracing overhead
        t0 = time.perf_counter()
        for op in ctx.ops:
            ctx.counters.read(op.oid)
        counter_s = time.perf_counter() - t0

    t0 = time.perf_counter()
    wl.check()
    check_s = time.perf_counter() - t0
    rss = peak_rss_mb(sc)

    failed = [op for op in ctx.ops if not op.ok]
    for op in failed[:5]:
        log(f"FAILED {op.oid} {op.kind} {op.params}: "
            f"{op.error or 'wrong result'}")
    metrics = (per_layer(wl, tracer, counter_s) if tracer
               else end_to_end(wl, setup_s, rss))
    record = {
        "workload": wl.name, "seed": args.seed, "seconds": args.seconds,
        "trace": bool(tracer), "inputs": inputs, "generate_s": gen_s,
        "setup_s": setup_s, "measure_s": measure_s, "check_s": check_s,
        "attempted": len(ctx.ops), "failed": len(failed),
        "fail_ratio": len(failed) / len(ctx.ops),
        "metrics": {k: v for k, (v, _) in metrics.items()},
        "detail": wl.detail,
    }
    if tracer:
        record.update(trace_record(wl, tracer))
    out_dir = os.path.join(os.getcwd(), ".perfbench", "out")
    os.makedirs(out_dir, exist_ok=True)
    name = f"{wl.name}-seed{args.seed}{'-trace' if tracer else ''}.json"
    with open(os.path.join(out_dir, name), "w") as fh:
        json.dump(record, fh, default=str)
    log(f"{wl.name}: record in .perfbench/out/{name}; " + ", ".join(
        f"{k}={v:.4g}" for k, v in sorted(wl.detail.items())
        if isinstance(v, (int, float))))
    wl.spark.stop()
    return {
        "correct": not failed,
        "attempted": len(ctx.ops),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    result = run(ap.parse_args(argv))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
