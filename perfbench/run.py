"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload arco_ingest --seed 1 --seconds 30 --trace 0

``--trace 0`` prints every end-to-end metric of ``BENCHMARK.json``;
``--trace 1`` runs the workload twice, untraced and then with span
wrappers and status-store tagging, and prints every per-layer metric
(metrics a workload does not exercise read 0). The last line of stdout
is the JSON result; a readable report goes to stderr. The exit code is
1 when an output check failed and 2 when the program is missing.
"""

from __future__ import annotations

import argparse
import importlib
import json
import sys
import time
from contextlib import nullcontext
from pathlib import Path

if __package__ in (None, ""):
    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    __package__ = "perfbench"

from perfbench import env  # noqa: E402
from perfbench.tracing import Tracer  # noqa: E402

WORKLOADS = {
    "arco_ingest": "ingest",
    "api_mix": "api",
}
SETUP_REPS = 3
LAYERS = ("bench", "sources", "catalog", "plans", "operators", "queries",
          "serving", "http_server")


def declared_metrics() -> tuple[dict, dict]:
    with open(env.ROOT / "BENCHMARK.json") as fh:
        spec = json.load(fh)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def end_to_end(wl, ops, setup_s: float, mem: dict) -> dict[str, float]:
    from perfbench.workloads import median, percentile

    lat = [op.latency_s for op in ops]
    good = [op for op in ops if op.ok and op.latency_s < wl.LIMIT_S]
    return {
        "setup_s": setup_s,
        "rss_mb": mem["mean_mb"],
        "op_p50_ms": median(lat) * 1e3,
        "op_p95_ms": percentile(lat, 0.95) * 1e3,
        "ops_per_s": len(good) / wl.busy_seconds(ops),
    }


def spark_layer(counters: dict, op_ids: list[str], busy_s: float,
                cpus: int) -> dict[str, float]:
    """Status-store counters of the traced ops, per op; the busy ratio is
    task time over (time spent in the ops x cores)."""
    from perfbench.status_store import FIELDS

    tot = dict.fromkeys(FIELDS, 0.0)
    for op_id in op_ids:
        for k, v in counters.get(op_id, {}).items():
            tot[k] += v
    n = max(len(op_ids), 1)
    return {
        "spark.jobs_per_op": tot["jobs"] / n,
        "spark.stages_per_op": tot["stages"] / n,
        "spark.tasks_per_op": tot["tasks"] / n,
        "spark.task_s": tot["task_s"] / n,
        "spark.jvm_cpu_s": tot["jvm_cpu_s"] / n,
        "spark.non_jvm_s": (tot["task_s"] - tot["jvm_cpu_s"]) / n,
        "spark.shuffle_write_mb": tot["shuffle_write_bytes"] / 2**20 / n,
        "spark.shuffle_read_mb": tot["shuffle_read_bytes"] / 2**20 / n,
        "spark.spill_mb": tot["spill_bytes"] / 2**20 / n,
        "spark.core_busy_ratio": tot["task_s"] / (busy_s * cpus),
        "spark.failed_tasks": tot["failed_tasks"],
    }


def per_layer(wl, ctx, session, tracer, untraced, traced, mem):
    from perfbench.status_store import StageCounters
    from perfbench.tracing import layer_self_s
    from perfbench.workloads import median

    op_spans = [s for s in tracer.spans if s["layer"] != "spark"]
    n_ops = max(len(traced), 1)
    self_s = layer_self_s(op_spans)
    out = spark_layer(StageCounters(ctx.spark).by_group(),
                      [op.id for op in traced],
                      sum(op.latency_s for op in traced), ctx.cpus)
    out.update({f"self.{layer}_s": self_s.get(layer, 0.0) / n_ops
                for layer in LAYERS})
    out["self.spark_s"] = session.start_s
    out["mem.jvm_rss_mb"] = mem["jvm_mb"]
    out["mem.pyworker_rss_mb"] = mem["pyworker_mb"]
    out["trace.spans"] = len(tracer.spans)
    out["trace.overhead_ms"] = (median([op.latency_s for op in traced])
                                - median([op.latency_s for op in untraced])) * 1e3
    out.update(wl.layer_metrics(traced, tracer))
    return out


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    from perfbench.workloads import Ctx, by_kind, median

    e2e_units, layer_units = declared_metrics()
    host_before = env.host_stamp()
    workdir = env.Workdir(workload, seed)
    mod = importlib.import_module(f"perfbench.workloads.{WORKLOADS[workload]}")
    tracer = Tracer() if trace else None
    session = sampler = None
    try:
        with tracer.span("session.get_spark", "spark") if trace else nullcontext():
            session = env.Session(env.nproc())
        sampler = env.MemorySampler(session.jvm_pid)
        ctx = Ctx(session.spark, seed, workdir, session.cpus)
        wl = mod.Workload(ctx)
        reps = []
        for rep in range(SETUP_REPS):
            t0 = time.perf_counter()
            wl.generate(rep)
            reps.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        wl.warm_up()
        warm_s = time.perf_counter() - t0
        setup_s = session.start_s + median(reps) + warm_s
        # start the timed ops from a collected heap: otherwise they pay
        # for the warm-up's garbage, and the RSS inherits the heap
        # the warm-up grew
        session.spark.sparkContext._jvm.java.lang.System.gc()
        sampler.reset()

        if not trace:
            ops = wl.measure(seconds)
            mem = sampler.stop()
            metrics = end_to_end(wl, ops, setup_s, mem)
            units = e2e_units
        else:
            untraced = wl.measure(seconds / 2)
            wl.trace(tracer)
            try:
                traced = wl.measure(seconds / 2, tracer)
            finally:
                tracer.restore()
            mem = sampler.stop()
            ops = untraced + traced
            metrics = per_layer(wl, ctx, session, tracer, untraced, traced,
                                mem)
            units = layer_units
        report = mod.summary(ops)
        report["op_ms"] = {kind: [round(x * 1e3) for x in lat]
                           for kind, lat in by_kind(ops).items()}
    finally:
        if sampler is not None:
            sampler.stop()
        if session is not None:
            session.close()
        workdir.close()

    unknown = set(metrics) - set(units)
    if unknown:
        raise KeyError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    result = {
        "correct": not any(op.wrong for op in ops),
        "attempted": len(ops),
        "failed": sum(not op.ok for op in ops),
        "metrics": {name: {"value": float(metrics.get(name, 0.0)), "unit": unit}
                    for name, unit in units.items()},
    }
    meta = {"workload": workload, "seed": seed, "seconds": seconds,
            "trace": trace, "host_before": host_before,
            "setup": {"session_s": session.start_s, "generate_s": reps,
                      "warm_up_s": warm_s},
            "host_after": env.host_stamp(), "report": report,
            "errors": sorted({op.error for op in ops if op.error})[:20]}
    if trace:
        out_dir = env.ROOT / ".bench_out"
        out_dir.mkdir(exist_ok=True)
        tracer.write(str(out_dir / f"trace-{workload}-s{seed}.json"),
                     {**meta, "metrics": result["metrics"]})
    return {"result": result, "meta": meta}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    try:
        env.require_package()
    except env.MissingProgram as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 2
    out = run(args.workload, args.seed, args.seconds, bool(args.trace))
    result, meta = out["result"], out["meta"]
    for name, m in result["metrics"].items():
        print(f"{name:32s} {m['value']:14.4f} {m['unit']}", file=sys.stderr)
    print(json.dumps(meta, default=str), file=sys.stderr)
    sys.stdout.flush()
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
