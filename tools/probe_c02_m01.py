#!/usr/bin/env python
"""c02 + m01 stage-timeline probe (VERDICT r11 "Next round" #2).

c02_hash_split (net-of-floor 8.55 on a 0.011 s DuckDB denominator) and
m01_media_pipeline (2.34) are the last >2x net-of-floor bench rows never
stage-profiled. Both are MERGED multi-operator queries — c02 is three
independent subtree scans (split counts / rate sample / top-k sample)
joined by two broadcasts; m01 is a mapInPandas decode+resize summary
broadcast-joined with a frame-sample explode summary — so the q28-class
hypothesis is chain-floor dominance: the wall is mostly serialized
schedule/AQE/broadcast-materialization links whose cost is a CONSTANT of
the plan, not data-sized work. q27 (r11) taught that "plausibly floor"
gets probed, not asserted; this script is that probe.

Discipline (same as tools/probe_q27.py): one fresh session in bench
posture (UI off), warm-up, best-of-N walls through a noop sink, then ONE
timed run per query whose completed stages score_spark.profile reads from
the in-process status store. For each stage: executor run time, task count,
shuffle write; plus the serialized-gap accounting — the sum of wall gaps
between stage [submitted, completed] intervals where NO stage is running,
which is pure scheduler/AQE/broadcast latency.

Verdict criteria:
  - if sum(execRunSec) is a small fraction of wall AND the timeline is a
    chain of tiny stages with measurable inter-stage gaps, the row is
    chain-floor-dominated (close out like q28: constant links, real work
    parallelizes with data);
  - if one stage dominates executorRunTime out of proportion to its input,
    that is real waste -> fix the plan.

Usage: python tools/probe_c02_m01.py [sf_dir]    # prints one JSON report
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from score_spark import profile  # noqa: E402

RUNS = 6


def query_report(spark, build, sf_dir: str, runs: int = RUNS) -> dict:
    """Walls of ``runs`` timed noop writes after two warm ones, then the
    stage timeline of one more run."""
    for _ in range(2):  # warm: plan memoization, page cache, JIT
        build(spark, sf_dir).write.format("noop").mode("overwrite").save()
    walls = []
    for _ in range(runs):
        df = build(spark, sf_dir)
        t0 = time.monotonic()
        df.write.format("noop").mode("overwrite").save()
        walls.append(round(time.monotonic() - t0, 3))
        del df
    plan = build(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    m = profile.mark(spark)
    t0 = time.monotonic()
    build(spark, sf_dir).write.format("noop").mode("overwrite").save()
    wall = round(time.monotonic() - t0, 3)
    tl = sorted(profile.stages_since(spark, m), key=lambda r: r["launched"] or 0.0)
    return {
        "walls": walls,
        "best": min(walls),
        "median": sorted(walls)[len(walls) // 2],
        "timed_run_wall": wall,
        "n_stages": len(tl),
        "sum_execRunSec": round(sum(r["exec_run_s"] for r in tl), 3),
        "max_stage_execRunSec": round(max((r["exec_run_s"] for r in tl), default=0), 3),
        "total_shuffleWriteMB": round(sum(r["shuffle_write_bytes"] for r in tl) / 2**20, 3),
        "gap_accounting": profile.gap_accounting(tl),
        "plan_counts": {
            "exchanges": plan.count("Exchange"),
            "broadcasts": plan.count("BroadcastExchange") + plan.count("BroadcastQueryStage"),
            "scans": plan.count("FileScan") + plan.count("Scan parquet"),
            "arrow_evals": plan.count("ArrowEvalPython") + plan.count("MapInPandas"),
        },
        "stages": [
            {
                "stage": r["id"],
                "name": r["name"].split("\n")[0][:60],
                "tasks": r["tasks"],
                "execRunSec": round(r["exec_run_s"], 3),
                "shuffleWriteMB": round(r["shuffle_write_bytes"] / 2**20, 3),
            }
            for r in tl
        ],
    }


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    from score_spark.operators.multimodal import m01_media_pipeline
    from score_spark.operators.pipeline import c02_hash_split
    from score_spark.session import get_session

    spark = get_session(app_name="probe-c02-m01")

    def _warm(batches):
        yield from batches

    cpus = spark.sparkContext.defaultParallelism
    spark.range(cpus * 4, numPartitions=cpus).mapInPandas(_warm, "id long").count()

    queries = {"c02_hash_split": c02_hash_split, "m01_media_pipeline": m01_media_pipeline}
    report = {"sf_dir": sf_dir, "runs": RUNS, "queries": {}}
    for name, build in queries.items():
        report["queries"][name] = query_report(spark, build, sf_dir)
    print(json.dumps(report, indent=2))
    spark.stop()


if __name__ == "__main__":
    main()
