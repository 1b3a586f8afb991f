#!/usr/bin/env python
"""Stage-timeline decomposition of the biggest sf1 net-of-floor bench rows.

The r13 end-to-end sf1 bench (SCALE.md "End-to-end wall-clock at sf1",
SF1_BENCH_r13.json) put the first wall-clock ratio on the 10x-the-gate-SF
decade and left three rows carrying most of the comparable-set gap: q28
(4.7 s, net 19x), q04 (2.9 s, net 44x), q03 (2.0 s, net 24x). The sf0.1
versions of these rows were all probed to chain floor in earlier rounds —
this probe re-runs the SAME stage-timeline discipline at sf1 to show where
the wall goes once real data sits under the plan: how much is executor
work (parallelizes with cluster width), how much is serialized
scheduler/AQE/broadcast links (the constant a cluster amortizes), and
whether any stage's executor time is out of proportion to its input
(actual waste -> fix the plan).

Reuses the probe_c02_m01 instrument (query_report: best-of-N walls, then
one run's stage timeline and gap accounting from score_spark.profile).
Usage:

    python tools/probe_sf1_top_rows.py [sf_dir] [query ...]

defaults: sf_dir=.scale_fixtures/sf1, queries=q28/q04/q03 + w01 (the
stateful control row).
"""

from __future__ import annotations

import json
import os
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)
sys.path.insert(0, os.path.join(_REPO, "tools"))

import probe_c02_m01 as P  # noqa: E402  (the shared instrument)

RUNS = 5
DEFAULT_QUERIES = (
    "q28_column_profile",
    "q04_order_priority_semi",
    "q03_shipping_priority",
    "w01_session_windows",
)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.path.join(_REPO, ".scale_fixtures/sf1")
    names = sys.argv[2:] or list(DEFAULT_QUERIES)

    from score_spark.queries import QUERIES
    from score_spark.session import get_session

    unknown = [n for n in names if n not in QUERIES]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        sys.exit(2)

    spark = get_session(app_name="probe-sf1-top-rows")

    def _warm(batches):
        yield from batches

    cpus = spark.sparkContext.defaultParallelism
    spark.range(cpus * 4, numPartitions=cpus).mapInPandas(_warm, "id long").count()

    try:
        load1 = round(os.getloadavg()[0], 2)
    except OSError:
        load1 = None
    report = {"sf_dir": sf_dir, "runs": RUNS, "load1_start": load1, "queries": {}}
    for name in names:
        rep = P.query_report(spark, QUERIES[name], sf_dir, RUNS)
        rep["plan_counts"].pop("arrow_evals")
        report["queries"][name] = rep
    print(json.dumps(report, indent=2))
    spark.stop()


if __name__ == "__main__":
    main()
