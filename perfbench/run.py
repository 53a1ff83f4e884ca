"""Benchmark entry point.

    python3 perfbench/run.py --workload <crawl_deep|frontier_kernel|curate_docs>
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Prints one context line (``{"perfbench": ...}``:
machine, named metrics with units, exact counts, checks) and, last, the
result line ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1`` the
per-layer ones; a traced run also writes its spans to
``.perfbench_work/runs/<run>/trace.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

E2E_UNITS = {"setup_s": "s", "items_per_s": "1/s", "step_p50_s": "s", "peak_rss_mb": "MB"}
LAYER_UNITS = {
    "session.jvm_start_s": "s",
    "session.worker_warm_s": "s",
    "step.spark_jobs": "count",
    "step.spark_stages": "count",
    "step.spark_tasks": "count",
    "step.driver_self_s": "s",
    "spark.task_s": "s",
    "spark.jvm_gc_s": "s",
    "spark.shuffle_write_bytes": "B",
    "spark.shuffle_read_bytes": "B",
    "trace.step_p50_s": "s",
    "gates.schedule_s": "s",
    "gates.scheduled_rows": "count",
    "seen.dedup_s": "s",
    "seen.merge_s": "s",
    "seen.fresh_rows": "count",
    "seen.bloom_positives": "count",
    "seen.bloom_positive_ratio": "ratio",
    "seen.bloom_fp_ratio": "ratio",
    "seen.shard_bytes": "B",
    "spans.pages": "count",
    "spans.pages_per_s": "pages/s",
    "superstep.resume_s": "s",
    "dedup.exact_s": "s",
    "dedup.near_dup_s": "s",
    "repetition.gate_s": "s",
    "storage.files_written": "count",
    "storage.bytes_written": "B",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "anycrawl_spark", "__init__.py")):
        print("perfbench: the anycrawl_spark package is not in this checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    return run(args, WORKLOADS[args.workload])


def run(args, workload) -> int:
    from perfbench import harness, trace
    from perfbench.harness import Env

    env = Env(args.workload, args.seed, bool(args.trace))
    steal0 = harness.cpu_steal_s()
    error = None
    out = tracer = None
    try:
        env.start()
        tracer = trace.Tracer(env.spark, env.run_id)
        out = workload(env, tracer, args.seconds)
    except Exception:  # report the run as failed, with its traceback
        error = traceback.format_exc()
        print(error, file=sys.stderr)
    finally:
        peak_rss_mb = env.stop()
    steal = harness.cpu_steal_s() - steal0
    calibration = harness.cpu_calibration()

    ctx = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "nproc": env.nproc, "driver_heap": env.heap,
        "cpu_calibration_s": calibration, "cpu_steal_s": steal,
        "peak_rss": env.rss.peak_detail if env.rss else {},
        "setup": env.timings, "error": error,
    }
    if out is None:
        attempted, failed, metrics = 1, 1, {}
    else:
        attempted, failed = max(out.attempted, 1), out.failed
        ctx["ops_failed_frac"] = {"value": failed / attempted, "unit": "ratio"}
        ctx["items"] = {"value": out.items, "unit": out.item_unit}
        ctx["named"] = {k: {"value": v, "unit": u} for k, (v, u) in out.named.items()}
        ctx["phases_s"] = phases(tracer)
        ctx["counts"] = out.counts
        ctx["counts_repeat"] = harness.check_counts_repeat(env, out.counts)
        if args.trace:
            log = trace.read_event_log(os.path.join(env.dir, "eventlog"))
            trace.attribute(tracer, log)
            metrics, spill = layer_metrics(env, tracer, out)
            ctx["spark_spill_bytes_per_step"] = spill
            ctx["layer"] = {k: {"value": v, "unit": u} for k, (v, u) in out.layer.items()}
            tracer.write(os.path.join(env.dir, "trace.json"), {"context": ctx})
            ctx["trace_file"] = os.path.relpath(os.path.join(env.dir, "trace.json"), ROOT)
        else:
            metrics = {
                "setup_s": env.timings["setup_s"],
                "items_per_s": out.items_per_s,
                "step_p50_s": harness.median(out.step_walls),
                "peak_rss_mb": peak_rss_mb,
            }
    env.cleanup()
    units = LAYER_UNITS if args.trace else E2E_UNITS
    print(json.dumps({"perfbench": ctx}, default=str))
    print(json.dumps({
        "correct": error is None and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics.get(k, 0.0), "unit": u} for k, u in units.items()},
    }))
    return 0


def phases(tracer) -> dict:
    """Seconds spent in each top-level span (input generation, steps,
    checks), summed by name: where a run's time went."""
    out: dict[str, float] = {}
    for s in tracer.spans:
        if s["parent"] is None:
            out[s["name"]] = out.get(s["name"], 0.0) + s["end"] - s["start"]
    return out


def layer_metrics(env, tracer, out):
    """The per-layer metrics every workload reports, per closed-loop step."""
    from perfbench import trace
    from perfbench.harness import median

    steps = [s for s in tracer.spans if s["name"] == out.step_name]
    n = max(len(steps), 1)
    sums = {"task_s": 0.0, "gc_s": 0.0, "shuffle_write": 0, "shuffle_read": 0, "spill": 0}
    driver_self = []
    for st in steps:
        sub = trace.subtree(tracer, st)
        jobs = [iv for s in sub for iv in s["job_intervals"]]
        driver_self.append(st["end"] - st["start"] - trace.union(
            [(max(a, st["start"]), min(b, st["end"])) for a, b in jobs if b > st["start"]]))
        for s in sub:
            for k in sums:
                sums[k] += s["spark"][k]
    per_step = lambda k: sum(c[k] for c in out.step_counts) / n  # noqa: E731
    m = {
        "session.jvm_start_s": env.timings["session.jvm_start_s"],
        "session.worker_warm_s": env.timings["session.worker_warm_s"],
        "step.spark_jobs": per_step("jobs"),
        "step.spark_stages": per_step("stages"),
        "step.spark_tasks": per_step("tasks"),
        "step.driver_self_s": median(driver_self),
        "spark.task_s": sums["task_s"] / n,
        "spark.jvm_gc_s": sums["gc_s"] / n,
        "spark.shuffle_write_bytes": sums["shuffle_write"] / n,
        "spark.shuffle_read_bytes": sums["shuffle_read"] / n,
        "trace.step_p50_s": median(out.step_walls),
    }
    for k in LAYER_UNITS:
        if k not in m:
            m[k] = float(out.layer[k][0] if k in out.layer else out.layer_counts.get(k, 0))
    return m, sums["spill"] / n


if __name__ == "__main__":
    sys.exit(main())
