#!/usr/bin/env python
"""q27 two-stage-UDAF probe (VERDICT r10 "Next round" #1).

q27's r10 restructure (one-stage pandas grouped-agg UDAF -> per-(key, pid)
partials + mergeable combine) is the scale-correct shape — it bounds the
evaluator's memory by one input partition's share of a key instead of the
whole key's column. But the same round its wall moved 0.295 -> 0.425 s and
its net-of-floor ratio (4.19) became the only >2x row never probed. This
script decomposes that +0.13 s with the same interleaved-A/B + stage-
timeline discipline that closed q03/q28/d02:

  arm A = the pre-r10 ONE-STAGE shape (identical results, unbounded
          evaluator) rebuilt inline;
  arm B = the shipped two-stage q27 (score_spark.queries.relational).

Interleaved A/B/A/B... in ONE fresh session (so host-regime drift hits both
arms equally), best-of-N per arm, noop sink, AQE on — bench posture, UI off
included: the stage timeline comes from the in-process status store
(score_spark.profile).

Usage: python tools/probe_q27.py  [sf_dir]   # prints one JSON report
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np
import pandas as pd
import pyspark.sql.functions as F  # noqa: N812

from score_spark import profile

RUNS_PER_ARM = 6


def _stage_timeline(spark, mark):
    stages = sorted(profile.stages_since(spark, mark), key=lambda r: r["launched"] or 0.0)
    return [
        {
            "stage": r["id"],
            "name": r["name"].split("\n")[0][:60],
            "tasks": r["tasks"],
            "execRunSec": round(r["exec_run_s"], 3),
            "launched": r["launched"],
            "completed": r["completed"],
            "shuffleWriteMB": round(r["shuffle_write_bytes"] / 2**20, 2),
        }
        for r in stages
    ]


def arm_one_stage(spark, sf_dir):
    """Pre-r10 q27: single pandas grouped-agg over the whole key (evaluator
    buffers the ENTIRE group's column — the shape r10 removed)."""
    from score_spark.io import load_table, presentation_sort

    @F.pandas_udf("double")
    def geomean(v: pd.Series) -> float:
        return float(np.exp(np.log(v).mean()))

    @F.pandas_udf("long")
    def n_rows(v: pd.Series) -> int:
        return len(v)

    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_totalprice") > 0) & ~F.isnan("o_totalprice")
    )
    return (
        o.groupBy("o_orderpriority")
        .agg(F.round(geomean("o_totalprice"), 2).alias("geomean_price"),
             n_rows("o_totalprice").alias("n_orders"))
        .transform(presentation_sort, "o_orderpriority")
    )


def arm_two_stage(spark, sf_dir):
    from score_spark.queries.relational import q27_udaf_geomean

    return q27_udaf_geomean(spark, sf_dir)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    from score_spark.session import get_session

    spark = get_session(app_name="probe-q27")

    def _warm(batches):
        yield from batches

    cpus = spark.sparkContext.defaultParallelism
    spark.range(cpus * 4, numPartitions=cpus).mapInPandas(_warm, "id long").count()

    arms = {"one_stage": arm_one_stage, "two_stage": arm_two_stage}
    # results must MATCH — the probe is meaningless if the arms differ
    a = sorted(map(str, arm_one_stage(spark, sf_dir).collect()))
    b = sorted(map(str, arm_two_stage(spark, sf_dir).collect()))
    assert a == b, f"arm results differ:\n{a}\n{b}"

    walls: dict[str, list[float]] = {k: [] for k in arms}
    plans: dict[str, dict] = {}
    for i in range(RUNS_PER_ARM):
        for name, build in arms.items():
            df = build(spark, sf_dir)
            t0 = time.monotonic()
            df.write.format("noop").mode("overwrite").save()
            walls[name].append(round(time.monotonic() - t0, 3))
            if i == 0:
                plan = df._jdf.queryExecution().executedPlan().toString()
                plans[name] = {
                    "n_exchanges": plan.count("Exchange"),
                    "n_pandas_aggs": plan.count("AggregateInPandas"),
                }
            del df
            spark.catalog.clearCache()
            spark._jvm.System.gc()

    # stage timeline: one fresh timed run per arm, stages diffed around it
    timelines = {}
    for name, build in arms.items():
        m = profile.mark(spark)
        t0 = time.monotonic()
        build(spark, sf_dir).write.format("noop").mode("overwrite").save()
        wall = round(time.monotonic() - t0, 3)
        tl = _stage_timeline(spark, m)
        timelines[name] = {"wall": wall, "stages": tl}

    report = {
        "sf_dir": sf_dir,
        "runs_per_arm": RUNS_PER_ARM,
        "walls": walls,
        "best": {k: min(v) for k, v in walls.items()},
        "median": {k: sorted(v)[len(v) // 2] for k, v in walls.items()},
        "plans": plans,
        "timelines": timelines,
    }
    print(json.dumps(report, indent=2))
    spark.stop()


if __name__ == "__main__":
    main()
