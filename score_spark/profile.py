"""Per-query engine telemetry, read in-process from Spark's status stores.

Job ids are sequential, so the work of a query is every job from a mark
taken before it up to the next job id after it, whichever thread submitted
it. The stores are fed by the listener bus whether or not the Spark UI runs
(``get_session`` turns it off), so nothing here needs the UI or its REST API.

    m = profile.mark(spark)
    df.write.format("noop").mode("overwrite").save()
    rows = profile.stages_since(spark, m)    # one dict per completed stage
"""

from __future__ import annotations

import re

from py4j.protocol import Py4JJavaError

_EXCHANGE = re.compile(r"(?<![A-Za-z])(?:Broadcast)?Exchange \(\d+\)")
_PYUDF = re.compile(r"(?<![A-Za-z])\w*(?:Python|InPandas|InArrow)\w* \(\d+\)")
_SUMS = ("tasks", "exec_cpu_s", "exec_run_s", "gc_s", "input_bytes", "shuffle_write_bytes")


def mark(spark) -> int:
    """The id the next submitted job will get."""
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def _ids(scala_seq) -> list[int]:
    text = scala_seq.mkString(",")  # one py4j call for the whole collection
    return [int(x) for x in text.split(",")] if text else []


def _epoch_s(opt) -> float | None:
    return opt.get().getTime() / 1e3 if opt.isDefined() else None


def _read(spark, mark: int) -> tuple[list[int], list[dict]]:
    """(ids of the jobs found from ``mark`` on, one row per COMPLETE stage
    of those jobs). Skipped stages (a job whose parent stage's shuffle output
    is reused lists it under a new id, never run) are left out."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    store = sc.statusStore()
    jobs, rows = [], []
    for job_id in range(mark, sc.dagScheduler().nextJobId()):
        try:
            stage_ids = _ids(store.job(job_id).stageIds())
        except Py4JJavaError:  # evicted (spark.ui.retainedJobs); later ids are still there
            continue
        jobs.append(job_id)
        for sid in stage_ids:
            st = store.lastStageAttempt(sid)
            if st.status().toString() != "COMPLETE":
                continue
            rows.append({
                "id": sid,
                "name": st.name(),
                "tasks": st.numTasks(),
                "exec_run_s": st.executorRunTime() / 1e3,
                "exec_cpu_s": st.executorCpuTime() / 1e9,
                "gc_s": st.jvmGcTime() / 1e3,
                "input_bytes": st.inputBytes(),
                "shuffle_read_bytes": st.shuffleReadBytes(),
                "shuffle_write_bytes": st.shuffleWriteBytes(),
                "submitted": _epoch_s(st.submissionTime()),
                "launched": _epoch_s(st.firstTaskLaunchedTime()),
                "completed": _epoch_s(st.completionTime()),
            })
    return jobs, rows


def stages_since(spark, mark: int) -> list[dict]:
    """One row per COMPLETE stage of every job from ``mark`` to now; times
    are epoch seconds."""
    return _read(spark, mark)[1]


def _merged(rows: list[dict]) -> list[list[float]]:
    """The union of the stages' [submitted, completed] intervals."""
    merged: list[list[float]] = []
    for a, b in sorted((r["submitted"], r["completed"]) for r in rows
                       if r["submitted"] is not None and r["completed"] is not None):
        if merged and a <= merged[-1][1]:
            merged[-1][1] = max(merged[-1][1], b)
        else:
            merged.append([a, b])
    return merged


def gap_accounting(rows: list[dict]) -> dict:
    """Wall time covered by some stage, and the holes between stages where
    none ran (scheduler, AQE re-planning, broadcast links)."""
    merged = _merged(rows)
    gaps = [merged[i + 1][0] - merged[i][1] for i in range(len(merged) - 1)]
    return {
        "covered_sec": round(sum(b - a for a, b in merged), 3),
        "gap_sec": round(sum(gaps), 3),
        "span_sec": round(merged[-1][1] - merged[0][0], 3) if merged else 0.0,
        "n_gaps": len(gaps),
        "gaps": [round(g, 3) for g in gaps],
    }


def _plans(spark, jobs: list[int]) -> list[str]:
    """Final physical plan trees of the SQL executions that ran any of
    ``jobs``: walk back from the newest execution until one that ran only
    older jobs."""
    sql = spark._jsparkSession.sharedState().statusStore()
    count = sql.executionsCount()
    if not jobs or not count:
        return []
    wanted, plans = set(jobs), []
    for ex_id in range(sql.executionsList(count - 1, 1).head().executionId(), -1, -1):
        ex = sql.execution(ex_id)
        if not ex.isDefined():
            break
        ran = _ids(ex.get().jobs().keys())
        if ran and max(ran) < min(wanted):
            break
        if wanted.intersection(ran):
            tree = ex.get().physicalPlanDescription().split("\n\n", 1)[0]
            plans.append(tree.split("== Initial Plan ==", 1)[0])
    return plans


def summary(spark, mark: int, wall_s: float) -> dict[str, float]:
    """Engine totals of the jobs from ``mark`` on: jobs, stages, tasks,
    executor sums, exchanges and Python-UDF nodes of their plans, and
    driver_gap_s, the part of ``wall_s`` that no stage covered."""
    jobs, rows = _read(spark, mark)
    out = {k: float(sum(r[k] for r in rows)) for k in _SUMS}
    plans = _plans(spark, jobs)
    out["jobs"] = float(len(jobs))
    out["stages"] = float(len(rows))
    out["exchanges"] = float(sum(len(_EXCHANGE.findall(p)) for p in plans))
    out["pyudf_nodes"] = float(sum(len(_PYUDF.findall(p)) for p in plans))
    out["driver_gap_s"] = max(0.0, wall_s - sum(b - a for a, b in _merged(rows)))
    return out
