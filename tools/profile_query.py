#!/usr/bin/env python
"""Where registry queries spend their wall time: best-of-N noop-write walls
and the engine profile of the fastest run, read in-process from Spark's
status stores through score_spark.profile.

Queries come from ``score_spark.queries.QUERIES``, memoized as bench.py sees
them: a memoized query reuses its built plan on later reps, while the 11
``_NO_MEMO`` queries run their construction jobs (counts, checkpoints,
xcheck writes) again on every rep. Each rep's wall covers build plus noop
write, as in bench.py and perfbench's ``suite_heavy``. Per query the report
gives:

  walls, best, median  the timed reps (seconds)
  construct_jobs       jobs the fastest rep ran while the query was built
  summary              profile.summary of that rep: jobs, stages, tasks,
                       executor sums, exchanges, pyudf_nodes, driver_gap_s
  gap_accounting       profile.gap_accounting of its stages
  stages               one row per completed stage, in launch order

Usage:
  python tools/profile_query.py <query> [<query> ...] [--sf DIR] [--reps N] [--conf k=v ...]
  python tools/profile_query.py q01_pricing_summary h01_time_rollup --sf /path/to/sf0.001 --reps 1

``--sf`` defaults to $SPARK_GRAFT_SF_DIR, bench.py's data directory. ``--conf``
sets session options at session start (for example
``spark.io.compression.codec=zstd``); called in-process on a running session,
``main`` uses that session, refuses ``--conf`` and never stops it.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from score_spark import profile  # noqa: E402


def run_query(spark, build, reps: int) -> dict:
    """``reps`` timed runs of ``build()`` written to the noop sink: the walls,
    and the profile of the fastest run, each read from a job mark taken
    before its build. After every run the cache is cleared and the JVM
    collects, as bench.py does between queries, so one run's checkpoint
    blocks do not show up as GC in the next."""
    walls, best = [], None
    for _ in range(reps):
        m = profile.mark(spark)
        t0 = time.monotonic()
        df = build()
        construct_jobs = profile.mark(spark) - m
        df.write.format("noop").mode("overwrite").save()
        wall = time.monotonic() - t0
        del df
        walls.append(round(wall, 3))
        if best is None or wall < best[0]:
            stages = sorted(profile.stages_since(spark, m), key=lambda r: r["launched"] or 0.0)
            summary = {k: round(v, 3) for k, v in profile.summary(spark, m, wall).items()}
            best = (wall, construct_jobs, summary, stages)
        gc.collect()
        spark.catalog.clearCache()
        spark._jvm.System.gc()
    _, construct_jobs, summary, stages = best
    return {
        "walls": walls,
        "best": min(walls),
        "median": round(statistics.median(walls), 3),
        "construct_jobs": construct_jobs,
        "summary": summary,
        "gap_accounting": profile.gap_accounting(stages),
        "stages": [dict(r, name=r["name"].split("\n")[0][:60]) for r in stages],
    }


def main(argv: list[str] | None = None) -> dict:
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    from score_spark.queries import QUERIES
    from score_spark.session import get_session

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("queries", nargs="+", metavar="query")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR"), help="testdata directory")
    ap.add_argument("--reps", type=int, default=5, help="timed runs per query (default 5)")
    ap.add_argument("--conf", action="append", default=[], metavar="k=v", help="session option")
    args = ap.parse_args(argv)
    unknown = [q for q in args.queries if q not in QUERIES]
    if unknown:
        ap.error(f"unknown queries: {unknown}")
    if args.sf is None:
        ap.error("pass --sf or set SPARK_GRAFT_SF_DIR")
    if args.reps < 1:
        ap.error("--reps must be at least 1")
    if any("=" not in kv for kv in args.conf):
        ap.error("--conf takes k=v")
    conf = dict(kv.split("=", 1) for kv in args.conf)

    load1 = round(os.getloadavg()[0], 2)  # before the session adds its own load
    created = SparkContext._active_spark_context is None
    if created:
        spark = get_session(app_name="profile-query", extra_conf=conf)

        def _warm(batches):  # fork the Python workers outside the timed reps
            yield from batches

        cpus = spark.sparkContext.defaultParallelism
        spark.range(cpus * 4, numPartitions=cpus).mapInPandas(_warm, "id long").count()
    elif conf:
        ap.error("--conf applies at session start; this process already runs a session")
    else:
        spark = SparkSession.active()
    try:
        return {
            "sf_dir": args.sf,
            "reps": args.reps,
            "conf": conf,
            "cpus": spark.sparkContext.defaultParallelism,
            "load1_start": load1,
            "queries": {
                q: run_query(spark, lambda q=q: QUERIES[q](spark, args.sf), args.reps)
                for q in args.queries
            },
        }
    finally:
        if created:
            spark.stop()


if __name__ == "__main__":
    print(json.dumps(main(), indent=2))
