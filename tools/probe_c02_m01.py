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

Discipline (same as tools/probe_q27.py): one fresh session, UI enabled
(walls read slightly above bench's), warm-up, best-of-N walls through a
noop sink, then ONE timed run per query whose completed stages are diffed
around it via the UI REST API. For each stage: executorRunTime, task
count, shuffle write; plus the serialized-gap accounting — the sum of
inter-stage wall gaps where NO stage is running, which is pure scheduler/
AQE/broadcast latency.

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
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

RUNS = 6


def _rest(spark, path):
    ui = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    with urllib.request.urlopen(f"{ui}/api/v1/applications/{app}/{path}", timeout=10) as r:
        return json.load(r)


def _drain(spark):
    try:
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    except Exception:
        time.sleep(0.5)


def _parse_ts(s: str) -> float:
    # "2026-08-16T08:00:00.123GMT"
    from datetime import datetime

    return datetime.strptime(s.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f").timestamp()


def _stage_timeline(spark, before_ids):
    _drain(spark)
    stages = [s for s in _rest(spark, "stages?status=complete") if s["stageId"] not in before_ids]
    stages.sort(key=lambda s: s["firstTaskLaunchedTime"])
    rows = []
    for s in stages:
        rows.append(
            {
                "stage": s["stageId"],
                "name": s["name"].split("\n")[0][:60],
                "tasks": s["numCompleteTasks"],
                "execRunSec": round(s.get("executorRunTime", 0) / 1000, 3),
                "shuffleWriteMB": round(s.get("shuffleWriteBytes", 0) / 2**20, 3),
                "t0": _parse_ts(s["firstTaskLaunchedTime"]),
                "t1": _parse_ts(s["completionTime"]),
            }
        )
    return rows


def _gap_accounting(rows):
    """Wall intervals covered by NO running stage = scheduler/AQE/broadcast
    links. Merge stage [t0, t1] windows, sum the holes."""
    if not rows:
        return {"covered_sec": 0.0, "gap_sec": 0.0, "span_sec": 0.0, "n_gaps": 0}
    iv = sorted((r["t0"], r["t1"]) for r in rows)
    merged = [list(iv[0])]
    for a, b in iv[1:]:
        if a <= merged[-1][1]:
            merged[-1][1] = max(merged[-1][1], b)
        else:
            merged.append([a, b])
    covered = sum(b - a for a, b in merged)
    span = merged[-1][1] - merged[0][0]
    gaps = [merged[i + 1][0] - merged[i][1] for i in range(len(merged) - 1)]
    return {
        "covered_sec": round(covered, 3),
        "gap_sec": round(sum(gaps), 3),
        "span_sec": round(span, 3),
        "n_gaps": len(gaps),
        "gaps": [round(g, 3) for g in gaps],
    }


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    from score_spark.operators.multimodal import m01_media_pipeline
    from score_spark.operators.pipeline import c02_hash_split
    from score_spark.session import get_session

    spark = get_session(
        app_name="probe-c02-m01",
        extra_conf={"spark.ui.enabled": "true", "spark.ui.port": "4062"},
    )

    def _warm(batches):
        yield from batches

    cpus = spark.sparkContext.defaultParallelism
    spark.range(cpus * 4, numPartitions=cpus).mapInPandas(_warm, "id long").count()

    queries = {"c02_hash_split": c02_hash_split, "m01_media_pipeline": m01_media_pipeline}
    report = {"sf_dir": sf_dir, "runs": RUNS, "queries": {}}
    for name, build in queries.items():
        for _ in range(2):  # warm: plan memoization, page cache, JIT
            build(spark, sf_dir).write.format("noop").mode("overwrite").save()
        walls = []
        for _ in range(RUNS):
            df = build(spark, sf_dir)
            t0 = time.monotonic()
            df.write.format("noop").mode("overwrite").save()
            walls.append(round(time.monotonic() - t0, 3))
            del df
        plan = build(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        before = {s["stageId"] for s in _rest(spark, "stages?status=complete")}
        t0 = time.monotonic()
        build(spark, sf_dir).write.format("noop").mode("overwrite").save()
        wall = round(time.monotonic() - t0, 3)
        tl = _stage_timeline(spark, before)
        acct = _gap_accounting(tl)
        report["queries"][name] = {
            "walls": walls,
            "best": min(walls),
            "median": sorted(walls)[len(walls) // 2],
            "timed_run_wall": wall,
            "n_stages": len(tl),
            "sum_execRunSec": round(sum(r["execRunSec"] for r in tl), 3),
            "max_stage_execRunSec": round(max((r["execRunSec"] for r in tl), default=0), 3),
            "total_shuffleWriteMB": round(sum(r["shuffleWriteMB"] for r in tl), 3),
            "gap_accounting": acct,
            "plan_counts": {
                "exchanges": plan.count("Exchange"),
                "broadcasts": plan.count("BroadcastExchange") + plan.count("BroadcastQueryStage"),
                "scans": plan.count("FileScan") + plan.count("Scan parquet"),
                "arrow_evals": plan.count("ArrowEvalPython") + plan.count("MapInPandas"),
            },
            "stages": [
                {k: v for k, v in r.items() if k not in ("t0", "t1")} for r in tl
            ],
        }
    print(json.dumps(report, indent=2))
    spark.stop()


if __name__ == "__main__":
    main()
