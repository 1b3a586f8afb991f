"""score_spark.profile against the benchmark's own status-store reader
(perfbench.common.EngineReader), on one query that runs a shuffle, a
broadcast join and a pandas UDF; plus the two edges of the job window: a
mark taken after the query, and a job id the store has evicted."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from types import SimpleNamespace

import pyspark.sql.functions as F  # noqa: N812
import pytest
from py4j.protocol import Py4JJavaError

from score_spark import profile

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_KEYS = ("jobs", "stages", "tasks", "exchanges", "pyudf_nodes", "shuffle_write_bytes", "driver_gap_s")


def _query(spark):
    @F.pandas_udf("long")
    def plus_one(v):
        return v + 1

    big = spark.range(0, 20_000, numPartitions=4).withColumn("k", F.col("id") % 50)
    small = spark.range(50).select(F.col("id").alias("k"), (F.col("id") * 2).alias("w"))
    return (
        big.join(F.broadcast(small), "k")
        .withColumn("p", plus_one("id"))
        .groupBy("k")
        .agg(F.sum("p").alias("s"), F.max("w").alias("w"))
    )


def _cross_check() -> None:
    """Both readers on one run of _query, in a fresh session: EngineReader
    starts by walking job ids from 0 and stops at the first one the store
    has evicted, so in the long-lived test session it would read nothing."""
    from perfbench.common import EngineReader
    from score_spark.session import get_session

    spark = get_session(app_name="profile-cross-check", master="local[2]", shuffle_partitions=4)
    reader = EngineReader(spark)
    m = profile.mark(spark)
    t0 = time.monotonic()
    _query(spark).write.format("noop").mode("overwrite").save()
    wall = time.monotonic() - t0
    ours = profile.summary(spark, m, wall)
    theirs = reader.read(wall)
    rows = profile.stages_since(spark, m)
    print(json.dumps({"ours": ours, "theirs": theirs, "rows": rows}))
    spark.stop()


def test_summary_matches_engine_reader():
    r = subprocess.run(
        [sys.executable, "-c", "from tests.test_profile import _cross_check; _cross_check()"],
        capture_output=True, text=True, cwd=_REPO, timeout=300,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    out = json.loads(r.stdout.strip().splitlines()[-1])
    ours, theirs, rows = out["ours"], out["theirs"], out["rows"]
    assert {k: ours[k] for k in _KEYS} == pytest.approx({k: theirs[k] for k in _KEYS}, abs=1e-6)
    # the query really has each part the readers must see
    assert ours["exchanges"] >= 2 and ours["pyudf_nodes"] >= 1 and ours["shuffle_write_bytes"] > 0
    assert len(rows) == ours["stages"]
    assert all(r["submitted"] <= r["launched"] <= r["completed"] for r in rows)


def test_mark_after_the_query_yields_no_stages(spark):
    _query(spark).write.format("noop").mode("overwrite").save()
    after = profile.mark(spark)
    assert profile.stages_since(spark, after) == []
    assert profile.summary(spark, after, 0.0)["jobs"] == 0


class _Stage:
    def __init__(self, sid):
        self.sid = sid

    def __getattr__(self, name):  # every numeric metric reads 1
        return lambda: 1

    def status(self):
        return SimpleNamespace(toString=lambda: "COMPLETE")

    def name(self):
        return f"stage {self.sid}"

    def submissionTime(self):  # noqa: N802 (the Scala name)
        when = SimpleNamespace(getTime=lambda: 1000 * self.sid)
        return SimpleNamespace(isDefined=lambda: True, get=lambda: when)

    firstTaskLaunchedTime = completionTime = submissionTime  # noqa: N815


def test_evicted_job_is_skipped_not_stopped_at():
    jobs = {0: "0", 2: "2,3"}  # job 1 was evicted from the store

    def job(job_id):
        if job_id not in jobs:
            raise Py4JJavaError("NoSuchElementException", SimpleNamespace(_target_id="o1"))
        return SimpleNamespace(stageIds=lambda: SimpleNamespace(mkString=lambda sep: jobs[job_id]))

    store = SimpleNamespace(job=job, lastStageAttempt=_Stage)
    sc = SimpleNamespace(
        listenerBus=lambda: SimpleNamespace(waitUntilEmpty=lambda: None),
        statusStore=lambda: store,
        dagScheduler=lambda: SimpleNamespace(nextJobId=lambda: 3),
    )
    spark = SimpleNamespace(sparkContext=SimpleNamespace(_jsc=SimpleNamespace(sc=lambda: sc)))
    assert [r["id"] for r in profile.stages_since(spark, 0)] == [0, 2, 3]
    assert [r["id"] for r in profile.stages_since(spark, 1)] == [2, 3]
