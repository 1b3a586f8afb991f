#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload analyze_mix --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. Each workload is a closed loop: one client
in one process drives Spark local[N] (N = min(4, cores)). The last line of
stdout is one JSON object {correct, attempted, failed, metrics}: with
--trace 0 the end-to-end metrics, with --trace 1 the per-layer metrics of a
run whose layer boundaries are wrapped in spans. The line before it holds
the run's context (host speed, load, steal, session conf, sample counts,
check results). See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import common  # noqa: E402

WORKLOADS = ("analyze_mix", "suite_heavy")

SOR_PHASES = {
    "sor.collect_relations_ms": "sor.collect_relations",
    "sor.build_tree_ms": "sor.build_tree",
    "sor.walk_ms": "sor.walk",
    "sor.plan_json_wait_ms": "sor.plan_json_wait",
    "sor.emit_ms": "sor.emit",
}

# every per-layer metric, printed by every workload; a layer a workload does
# not exercise reads 0 there (e.g. no Spark job runs inside an analyze_mix op)
PER_LAYER_UNITS = {
    "session.start_s": "s",
    "queries.construct_s": "s",
    "queries.construct_jobs": "count",
    "engine.jobs": "count",
    "engine.stages": "count",
    "engine.tasks": "count",
    "engine.exchanges": "count",
    "engine.driver_gap_s": "s",
    "engine.exec_cpu_s": "s",
    "engine.exec_run_s": "s",
    "engine.gc_s": "s",
    "engine.shuffle_write_bytes": "bytes",
    "engine.input_bytes": "bytes",
    "pyudf.nodes": "count",
    "pyudf.worker_cpu_s": "s",
    "xcheck.oracle_s": "s",
    "sor.generate_ms": "ms",
    **dict.fromkeys(SOR_PHASES, "ms"),
    "sor.memo_hit_rate": "ratio",
    "sor.fallback_rate": "ratio",
    "sor.kept_leaf_ratio": "ratio",
    "traced.ops_per_s": "1/s",
    "traced.latency_p50_ms": "ms",
}


def _per_layer_units() -> dict[str, str]:
    from analyze_mix import FAMILIES
    from suite_heavy import QUERIES

    units = dict(PER_LAYER_UNITS)
    units.update({f"shape.{s}_ms": "ms" for s in (*FAMILIES, "suite")})
    units.update({f"query.{q}_ms": "ms" for q in QUERIES})
    return units


def _analyzer_layer(tracer: common.Tracer, n_ops: int) -> dict[str, tuple[float, str]]:
    """sor.* means per op from the spans recorded inside timed ops."""
    self_s = tracer.self_times()
    out = {}
    for metric, span in SOR_PHASES.items():
        out[metric] = (sum(v for (_, name), v in self_s.items() if name == span) * 1e3 / n_ops, "ms")
    gens = [i for i, s in enumerate(tracer.spans) if s[0] == "sor.generate" and s[4] is not None]
    out["sor.generate_ms"] = (
        sum(tracer.spans[i][2] - tracer.spans[i][1] for i in gens) * 1e3 / n_ops,
        "ms",
    )
    # a plan-memo hit returns before the relation collectors run
    cold = {s[3] for s in tracer.spans if s[0] == "sor.collect_relations" and s[4] is not None}
    out["sor.memo_hit_rate"] = (sum(1 for i in gens if i not in cold) / len(gens) if gens else 0.0, "ratio")
    return out


def _fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    process_start = common.process_start_monotonic()
    if not os.path.isfile(os.path.join(common.ROOT, "score_spark", "__init__.py")):
        return _fail(f"no score_spark package under {common.ROOT}: run from the root of a checkout")
    sys.path.insert(0, common.ROOT)

    run_dir = os.path.join(common.WORK, f"{args.workload}-{os.getpid()}")
    try:
        return _measure(args, run_dir, process_start)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _measure(args, run_dir: str, process_start: float) -> int:
    host = {
        "load1_start": os.getloadavg()[0],
        "calibration_before_ms": common.calibration_ms(),
        "spark_cores": common.spark_cores(),
    }
    cpu0 = common.cpu_stat()
    common.prepare_environment(run_dir)
    # after prepare_environment: resolving the default imports score_spark,
    # whose xcheck module freezes its directory from the environment
    if not os.path.isfile(os.path.join(common.sf_dir(), "lineitem.parquet")):
        return _fail(f"test data not found at {common.sf_dir()} (set SCORE_SPARK_ORACLE_SF_DIR)")
    tracer = common.Tracer() if args.trace else None
    if tracer is not None:
        common.install_analyzer_tracing(tracer)
        common.install_xcheck_tracing(tracer)

    if args.workload == "analyze_mix":
        from analyze_mix import AnalyzeMix as Workload
    else:
        from suite_heavy import SuiteHeavy as Workload

    phases = {}
    t = time.monotonic()
    spark = common.start_session(run_dir, Workload.LIVE_SIZED_HEAP)
    session_s = phases["session"] = time.monotonic() - t
    first_op: list[float] = []

    def on_first_op() -> None:
        # the peak RSS reported covers the timed window only; with a heap
        # sized by live data, it starts from what set-up left live, not
        # from the heap set-up's check pass grew
        if Workload.LIVE_SIZED_HEAP:
            common.settle_rss(spark)
        common.reset_peak_rss()
        first_op.append(time.monotonic())

    try:
        if args.workload == "analyze_mix":
            wl = Workload(spark, args.seed, tracer, run_dir)
        else:
            wl = Workload(spark, args.seed, tracer)
        t = time.monotonic()
        wl.setup()
        phases["setup"] = time.monotonic() - t
        phases.update({f"setup.{k}": v for k, v in wl.phases.items()})
        wl.run(args.seconds, on_first_op)
        window_s = phases["window"] = time.monotonic() - first_op[0]
        rss_mb = common.peak_rss_mb()
        host["peak_rss_mb_by_process"] = common.peak_rss_by_process()
        host["session_conf"] = {
            k: spark.conf.get(k)
            for k in (*common.session_conf(run_dir), "spark.master", "spark.sql.shuffle.partitions",
                      "spark.sql.adaptive.enabled")
        }
    finally:
        t = time.monotonic()
        common.stop_session(spark)
        phases["stop"] = time.monotonic() - t
    host["calibration_after_ms"] = common.calibration_ms()
    host["steal_pct"] = common.steal_pct(cpu0, common.cpu_stat())

    ops = wl.ops
    failed = [o for o in ops if not o["ok"]]
    samples = wl.samples()
    latencies = [lat for lat, ok in samples if ok]
    attempted, failed_samples = len(samples), len(samples) - len(latencies)
    correct = not failed and not wl.check_errors
    if args.trace:
        layer = {"session.start_s": (session_s, "s")}
        layer.update(_analyzer_layer(tracer, len(ops)))
        layer.update(wl.per_layer())
        e2e = common.end_to_end(0.0, latencies, attempted, failed_samples, 0.0, 0.0)
        layer["traced.ops_per_s"] = (e2e["ops_per_s"]["value"], "1/s")
        layer["traced.latency_p50_ms"] = (e2e["latency_p50_ms"]["value"], "ms")
        metrics = {
            name: {"value": float(layer[name][0]) if name in layer else 0.0, "unit": unit}
            for name, unit in _per_layer_units().items()
        }
        tracer.dump(os.path.join(common.WORK, f"trace-{args.workload}-seed{args.seed}.json"))
    else:
        metrics = common.end_to_end(
            first_op[0] - process_start, latencies, attempted, failed_samples, rss_mb, wl.scan_bytes_ratio
        )
    context = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "window_s": window_s,
        "ops": len(ops),
        "ops_per_shape": Counter(o.get("shape") or o.get("name") for o in ops),
        "latency_samples": len(latencies),
        "latencies_ms": [round(x * 1e3, 3) for x in latencies],
        "check_errors": wl.check_errors,
        "op_errors": [o["error"] for o in failed if "error" in o][:5],
        "phases_s": phases,
        "host": host,
    }
    print(json.dumps({"context": context}))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed_samples, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
