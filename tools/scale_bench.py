#!/usr/bin/env python
"""One-off empirical scaling point for the heavy LLM-pipeline operators
(VERDICT r6 "Next round" #8): generate synthetic documents/embeddings
corpora at 1x (sf0.1-shaped: 5k docs / 2k vectors) and 10x with the SAME
deterministic generator and the SAME planted-duplicate RATE, run
d02/d03/d05/s05/c05-shaped pipelines on each, and report wall-clock plus
per-stage maxima (input bytes, shuffle write) from the in-process status
store (score_spark.profile) — the
"does the 100 TB design claim survive a measured 10x?" check.

Generator notes (why not replicate the testdata 10x): exact replication
multiplies every document by K copies, which grows the near-dup PAIR graph
by K^2 per cluster — a quadratic artifact of the scaling method, not of the
operators. Instead documents are drawn from a fixed vocabulary via seeded
hashes with an exact-duplicate planted every 50th row (content-linear), so
duplicate structure grows linearly with N and wall-clock ratios are
attributable to the engine.

s05's GATE config (8x8 bands, threshold 0.3 — tuned non-vacuous for the tiny
gate corpus, see s05's docstring) is deliberately NOT used here: wide bands
at low threshold on random vectors are inherently quadratic in candidates.
The scale run uses the production family (4 tables x 16 planes, threshold
0.9) that the docstring prescribes for real dedup — the point of this file
is the at-scale posture.

Usage: python tools/scale_bench.py            # writes SCALE.md + prints JSON
"""

from __future__ import annotations

import json
import os
import shutil
import sys

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

import pyspark.sql.functions as F  # noqa: N812
from pyspark.sql import DataFrame, SparkSession

from tools.profile_query import run_query

WORK_DIR = os.environ.get("SCORE_SPARK_SCALE_DIR", os.path.join(REPO_ROOT, ".scale_fixtures"))
SEED = 7
BASE_DOCS = 5_000  # sf0.1-shaped
BASE_VECS = 2_000
BASE_EVENTS = 100_000  # sf0.1-shaped: 100k events / 1.5k users / 30 days
BASE_USERS = 1_500
FACTOR = 10


def gen_documents(spark: SparkSession, n_docs: int) -> DataFrame:
    """Deterministic synthetic documents: 20-79 words from a 2000-word
    vocabulary via seeded xxhash64; every 50th row (id % 50 == 1) is an
    EXACT copy of its predecessor — a 2% planted-duplicate rate that scales
    linearly with N."""
    return (
        spark.range(n_docs)
        .selectExpr(
            "id AS doc_id",
            "CASE WHEN id % 50 = 1 AND id > 0 THEN id - 1 ELSE id END AS _base",
        )
        .selectExpr(
            "doc_id",
            f"array_join(transform(sequence(1, CAST(pmod(xxhash64(_base, {SEED}), 60) + 20 AS INT)),"
            f" j -> concat('w', pmod(xxhash64(_base, j, {SEED}), 2000))), ' ') AS text",
            "concat('src', pmod(doc_id, 7)) AS source",
        )
    )


def gen_embeddings(spark: SparkSession, n_vecs: int, dim: int = 64) -> DataFrame:
    """Deterministic synthetic embeddings (uniform in [-1, 1] per dim) with
    the same 2% exact-duplicate planting as documents."""
    return (
        spark.range(n_vecs)
        .selectExpr(
            "id AS vec_id",
            "CASE WHEN id % 50 = 1 AND id > 0 THEN id - 1 ELSE id END AS _base",
        )
        .selectExpr(
            "vec_id",
            f"transform(sequence(0, {dim - 1}),"
            f" d -> CAST(pmod(xxhash64(_base, d, {SEED}), 2001) / 1000.0 - 1.0 AS FLOAT)) AS embedding",
        )
    )


def gen_events(spark: SparkSession, n_events: int, n_users: int) -> DataFrame:
    """Deterministic synthetic events shaped like sf0.1's events table
    (100k rows / 1.5k users / 30 days / 5 event types incl. click and
    purchase). Scaling multiplies EVENTS AND USERS together — per-user
    density (sessions, funnel depth, as-of right-side run length) stays
    constant, which is how real traffic grows; scaling events onto a fixed
    user set would quadratically inflate per-key state instead and charge
    the operators for a skew artifact of the generator."""
    span_us = 30 * 24 * 3600 * 1_000_000
    base_us = 1_704_067_200_000_000  # 2024-01-01 UTC
    return (
        spark.range(n_events)
        .selectExpr(
            "id AS event_id",
            f"pmod(xxhash64(id, 1, {SEED}), {n_users}) AS user_id",
            f"timestamp_micros({base_us} + pmod(xxhash64(id, 2, {SEED}), {span_us})) AS ts",
            f"element_at(array('click','view','purchase','scroll','share'),"
            f" CAST(pmod(xxhash64(id, 3, {SEED}), 5) + 1 AS INT)) AS event_type",
            f"CAST(pmod(xxhash64(id, 4, {SEED}), 10000) AS DOUBLE) / 100 AS value",
        )
    )


def _materialize(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").parquet(path)


def _run_op(spark: SparkSession, build, runs: int = 3) -> dict:
    """Best-of-N wall-clock for build() -> noop write (profile_query.run_query:
    the cache is cleared and the JVM collects between runs, or d02/d05's
    eager checkpoints pile up and a later op measured 810 executor-sec of GC
    thrash as work), plus per-stage maxima and summed executor run time over
    the stages of the best run. Executor time is the primary SCALING metric
    on this host: wall-clock of sub-10s runs moves 2-3x with VM steal
    between back-to-back identical runs (observed), while summed executor
    time tracks the work actually done."""
    r = run_query(spark, build, runs)
    stages = r["stages"]
    return {
        "sec": r["best"],
        "max_stage_input_mb": round(max((s["input_bytes"] for s in stages), default=0) / 2**20, 1),
        "max_stage_shuffle_write_mb": round(
            max((s["shuffle_write_bytes"] for s in stages), default=0) / 2**20, 1
        ),
        "executor_sec": round(sum(s["exec_run_s"] for s in stages), 2),
        "gc_sec": round(sum(s["gc_s"] for s in stages), 2),
        "n_stages": len(stages),
    }


def ops(spark: SparkSession, docs_path: str, embs_path: str, events_path: str):
    from score_spark.operators.asof import asof_join
    from score_spark.operators.dedup import (
        duplicate_clusters,
        minhash_lsh_pairs,
        minhash_signature_col,
        ngram_jaccard_pairs,
        shingle_arrays,
    )
    from score_spark.operators.pipeline import chunk_documents, pack_token_stream
    from score_spark.operators.rollup import time_rollup
    from score_spark.operators.similarity import lsh_pair_candidates, near_dup_pairs_lsh
    from score_spark.streaming.windows import conversion_attribution_batch, session_stats

    docs = lambda: spark.read.parquet(docs_path)  # noqa: E731
    embs = lambda: spark.read.parquet(embs_path)  # noqa: E731
    events = lambda: spark.read.parquet(events_path)  # noqa: E731

    def d02():
        return ngram_jaccard_pairs(docs(), n=3, threshold=0.03, max_doc_freq=50, eager=True)

    def d03():
        d = docs()
        sh = shingle_arrays(d, n=3)
        sigs = sh.select("doc_id", minhash_signature_col("_shs", 16).alias("sig"))
        return minhash_lsh_pairs(d, n_hashes=16, bands=8, sigs=sigs)

    def d05():
        pairs = ngram_jaccard_pairs(docs(), n=3, threshold=0.03, max_doc_freq=50, eager=True)
        labels = duplicate_clusters(pairs)
        return (
            labels.groupBy(F.col("label").alias("cluster_id"))
            .agg(F.count(F.lit(1)).alias("n_docs"), F.min("node").alias("survivor"))
        )

    def s05():
        e = embs()
        cand = lsh_pair_candidates(e, n_tables=4, n_planes=16)
        return near_dup_pairs_lsh(e, threshold=0.9, cand=cand)

    def c05():
        chunks = chunk_documents(docs(), chunk_size=32, overlap=8)
        return pack_token_stream(chunks, budget=512, n_shards=8)

    # --- stateful / window family (VERDICT r7 #7): same work-ratio
    # methodology over the events corpus; these are the operators whose
    # per-key STATE (session buffers, funnel windows, as-of right rows,
    # sketch registers) is the at-scale risk rather than pair explosion
    def w01():
        return session_stats(
            events().repartitionByRange("user_id"), gap="30 minutes"
        ).sortWithinPartitions("user_id", "session_start")

    def w04():
        return (
            conversion_attribution_batch(events(), horizon_minutes=30)
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n_conversions"), F.round(F.sum("value"), 2).alias("v"))
        )

    def h01():
        # shippable sketch path only (r8 re-bill): hour sketches raw ids
        # once, day unions hour sketches
        return time_rollup(events(), grains=("hour", "day"), uniq_col="user_id")

    def a01():
        e = events()
        purchases = e.filter(F.col("event_type") == "purchase").select(
            "event_id", "user_id", "ts", "value"
        )
        clicks = e.filter(F.col("event_type") == "click").select(
            "user_id", "ts", F.col("event_id").alias("click_id")
        )
        return asof_join(
            purchases, clicks, on="user_id", right_value_cols=["click_id"], ranged_by_key=True
        )

    def z01():
        # the z-order WRITE path (k01's heavy half, r9): quantile-sketch
        # pass over the cluster keys, Arrow-searchsorted bucketize, Morton
        # interleave, range exchange, parquet write — then a read-back scan
        # so the op ends in a DataFrame like every other. The write is a
        # REAL parquet write (noop can't exercise the committer); work
        # should scale ~linearly since the sketch pass is one extra raw
        # scan and the range exchange shuffles each row once.
        from score_spark.sinks import write_zordered

        path = os.path.join(WORK_DIR, "z01_zorder.parquet")
        write_zordered(
            events().select("event_id", "user_id", "value"),
            path,
            ("user_id", "value"),
            bits_per_dim=8,
            relative_error=0.01,
        )
        return spark.read.parquet(path)

    return {
        "d02": d02, "d03": d03, "d05": d05, "s05": s05, "c05": c05,
        "w01": w01, "w04": w04, "h01": h01, "a01": a01, "z01": z01,
    }


# relational queries measured over the DRIVER's TPC-H-shaped testdata at two
# scale factors (sf0.01 -> sf0.1 is a true 10x of every table) — no synthetic
# generator needed, and unlike the dedup corpora there is no pair-graph
# replication artifact to avoid (VERDICT r9 "Next round" #2: the sf0.1 bench
# is floor-dominated and proves nothing about growth; these rows do).
RELATIONAL_QUERIES = (
    "q03_shipping_priority",
    "q05_regional_revenue",
    "q09_window_suite",
    "q28_column_profile",
)
SF_1X = os.environ.get("SCORE_SPARK_SCALE_SF1", "/root/testdata/sf0.01")
SF_10X = os.environ.get("SCORE_SPARK_SCALE_SF10", "/root/testdata/sf0.1")

# second-decade (100x) point: the ops whose 10x work ratios were the
# highest, plus d05 (its counted <=2M-edge driver tier is the bound worth
# watching at 100x) — one decade can hide super-linear terms behind
# constants
DEEP_FACTOR = 100
DEEP_OPS = ("d02", "d03", "d05")


def relational_ops(spark: SparkSession, sf_dir: str):
    import __spark_entry__ as entry

    qs = entry.queries()
    return {
        name.split("_")[0]: (lambda q=qs[name]: q(spark, sf_dir))
        for name in RELATIONAL_QUERIES
    }


def _deep_worker(argv: list[str]) -> None:
    """Fresh-process measurement of the second-decade ops (r10): the first
    deep cells were measured LAST in the main harness session and carried
    its accumulated GC/memory state — d02 read 38.9/23.9 across two runs
    while a fresh-session same-plan A/B measured 9.7 (BASELINE.md probe).
    Both decade legs now run in this clean subprocess so the ratio compares
    like against like."""
    docs_10x, docs_100x, embs, events, out_json, ops_csv = argv
    from score_spark.session import get_session

    spark = get_session(app_name="score-spark-scale-deep")

    def _warm(batches):
        yield from batches

    cpus = spark.sparkContext.defaultParallelism
    spark.range(cpus * 4, numPartitions=cpus).mapInPandas(_warm, "id long").count()
    out: dict[str, dict] = {}
    for label, docs_path in (("10x", docs_10x), (f"{DEEP_FACTOR}x", docs_100x)):
        built = ops(spark, docs_path, embs, events)
        for name in ops_csv.split(","):
            out.setdefault(name, {})[label] = _run_op(spark, built[name], runs=2)
    with open(out_json, "w") as f:
        json.dump(out, f)
    spark.stop()


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--deep-worker":
        _deep_worker(sys.argv[2:])
        return

    from score_spark.session import get_session

    spark = get_session(app_name="score-spark-scale")

    def _warm(batches):
        yield from batches

    cpus = spark.sparkContext.defaultParallelism
    spark.range(cpus * 4, numPartitions=cpus).mapInPandas(_warm, "id long").count()

    parts = set(
        os.environ.get("SCORE_SPARK_SCALE_PARTS", "ops,relational,deep").split(",")
    )

    report: dict[str, dict] = {}
    paths: dict[str, tuple[str, str, str]] = {}
    if "ops" in parts or "deep" in parts:
        for label, factor in (("1x", 1), (f"{FACTOR}x", FACTOR)):
            docs_path = os.path.join(WORK_DIR, f"documents_{label}.parquet")
            embs_path = os.path.join(WORK_DIR, f"embeddings_{label}.parquet")
            events_path = os.path.join(WORK_DIR, f"events_{label}.parquet")
            _materialize(gen_documents(spark, BASE_DOCS * factor), docs_path)
            _materialize(gen_embeddings(spark, BASE_VECS * factor), embs_path)
            _materialize(gen_events(spark, BASE_EVENTS * factor, BASE_USERS * factor), events_path)
            paths[label] = (docs_path, embs_path, events_path)
            rows = {
                "docs": spark.read.parquet(docs_path).count(),
                "vecs": spark.read.parquet(embs_path).count(),
                "events": spark.read.parquet(events_path).count(),
            }
            all_ops = ops(spark, docs_path, embs_path, events_path)
            wanted = (
                all_ops
                if "ops" in parts
                # deep-only run still needs the 10x leg of its two ops for
                # the second-decade ratio (and their 1x leg is ~free)
                else {k: all_ops[k] for k in DEEP_OPS}
            )
            results = {}
            for name, build in wanted.items():
                results[name] = _run_op(spark, build)
            report[label] = {"rows": rows, "ops": results}

    summary = {}
    for name in report.get("1x", {}).get("ops", {}):
        a, b = report["1x"]["ops"][name], report[f"{FACTOR}x"]["ops"][name]
        summary[name] = {
            "sec_1x": a["sec"],
            f"sec_{FACTOR}x": b["sec"],
            "wall_ratio": round(b["sec"] / a["sec"], 2) if a["sec"] else None,
            "executor_sec_1x": a["executor_sec"],
            f"executor_sec_{FACTOR}x": b["executor_sec"],
            "gc_sec_1x": a["gc_sec"],
            f"gc_sec_{FACTOR}x": b["gc_sec"],
            "work_ratio": round(b["executor_sec"] / a["executor_sec"], 2)
            if a["executor_sec"]
            else None,
            f"max_stage_input_mb_{FACTOR}x": b["max_stage_input_mb"],
            f"max_stage_shuffle_write_mb_{FACTOR}x": b["max_stage_shuffle_write_mb"],
        }

    # --- deep point (r10): a SECOND decade for the two highest-work-ratio
    # dedup ops (d02 4.85, d03 6.12 at 10x) — band counts and the doc-freq
    # cap are constants that can hide super-linear terms at one decade.
    deep_summary: dict[str, dict] = {}
    if "deep" in parts:
        label = f"{DEEP_FACTOR}x"
        docs_deep = os.path.join(WORK_DIR, f"documents_{label}.parquet")
        _materialize(gen_documents(spark, BASE_DOCS * DEEP_FACTOR), docs_deep)
        # embeddings/events unused by the deep ops — reuse the 10x fixtures
        docs_10x, embs_10x, events_10x = paths[f"{FACTOR}x"]
        # both decade legs measured in a FRESH subprocess session (see
        # _deep_worker): the in-session 10x cells above carry ~70 prior
        # measurements of session state, and the first deep runs proved
        # that state moves executor time by 2-4x on the heaviest op
        out_json = os.path.join(WORK_DIR, "deep_worker.json")
        import subprocess

        subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--deep-worker",
             docs_10x, docs_deep, embs_10x, events_10x, out_json,
             ",".join(DEEP_OPS)],
            check=True,
        )
        with open(out_json) as f:
            worker = json.load(f)
        for name in DEEP_OPS:
            ten = worker[name]["10x"]
            r = worker[name][label]
            deep_summary[name] = {
                f"sec_{FACTOR}x": ten["sec"],
                f"sec_{DEEP_FACTOR}x": r["sec"],
                f"executor_sec_{FACTOR}x": ten["executor_sec"],
                f"executor_sec_{DEEP_FACTOR}x": r["executor_sec"],
                # work growth across the SECOND decade; linear == 10
                "decade2_work_ratio": round(r["executor_sec"] / ten["executor_sec"], 2)
                if ten["executor_sec"]
                else None,
                "max_stage_input_mb": r["max_stage_input_mb"],
                "max_stage_shuffle_write_mb": r["max_stage_shuffle_write_mb"],
                "gc_sec": r["gc_sec"],
            }
        os.remove(out_json)
        shutil.rmtree(docs_deep, ignore_errors=True)

    # --- relational queries (r10): the driver's TPC-H-shaped testdata at
    # sf0.01 -> sf0.1 is a true 10x of every table; no generator needed.
    rel_report: dict[str, dict] = {}
    rel_summary: dict[str, dict] = {}
    if "relational" in parts:
        for label, sf_dir in (("1x", SF_1X), (f"{FACTOR}x", SF_10X)):
            results = {}
            for name, build in relational_ops(spark, sf_dir).items():
                results[name] = _run_op(spark, build)
            rel_report[label] = {"sf_dir": sf_dir, "ops": results}
        for name in rel_report["1x"]["ops"]:
            a, b = rel_report["1x"]["ops"][name], rel_report[f"{FACTOR}x"]["ops"][name]
            rel_summary[name] = {
                "sec_1x": a["sec"],
                f"sec_{FACTOR}x": b["sec"],
                "wall_ratio": round(b["sec"] / a["sec"], 2) if a["sec"] else None,
                "executor_sec_1x": a["executor_sec"],
                f"executor_sec_{FACTOR}x": b["executor_sec"],
                "work_ratio": round(b["executor_sec"] / a["executor_sec"], 2)
                if a["executor_sec"]
                else None,
                f"max_stage_input_mb_{FACTOR}x": b["max_stage_input_mb"],
                f"max_stage_shuffle_write_mb_{FACTOR}x": b["max_stage_shuffle_write_mb"],
            }

    out = {"base_docs": BASE_DOCS, "base_vecs": BASE_VECS, "base_events": BASE_EVENTS,
           "base_users": BASE_USERS, "cpus": cpus, "factor": FACTOR, "deep_factor": DEEP_FACTOR,
           "detail": report, "summary": summary,
           "deep_summary": deep_summary,
           "relational_detail": rel_report, "relational_summary": rel_summary}
    print(json.dumps(out, indent=2))
    _write_md(out)
    spark.stop()
    # delete only the fixture paths this run created — WORK_DIR comes from an
    # env var, and rmtree of the whole directory would destroy pre-existing
    # unrelated contents if the var points at a shared location (review r7)
    for label in ("1x", f"{FACTOR}x"):
        for base in ("documents", "embeddings", "events"):
            shutil.rmtree(
                os.path.join(WORK_DIR, f"{base}_{label}.parquet"), ignore_errors=True
            )
    shutil.rmtree(os.path.join(WORK_DIR, "z01_zorder.parquet"), ignore_errors=True)
    try:
        os.rmdir(WORK_DIR)  # only removes it when empty
    except OSError:
        pass


_DEEP_CAVEAT = """Reading the 100x time cells (full probe + r10 addendum in
BASELINE.md 'd02 second-decade probe'): an interleaved A/B
showed this host's CPU-TIME regime itself swings up to ~2.8x
between identical runs at this data size (hot-stage
executorCpuTime 965 -> 285 s, cpu ~= run), so absolute
executor-sec at 100x is regime noise. The reliable decade-2
evidence is (a) byte/cardinality metrics, stable across every
run: max stage input exactly 10x the 10x leg, shuffle write
12x on 10x data, output pairs exactly the planted-duplicate
rate (1000 -> 10001); and (b) the same-session back-to-back
same-plan pair, 75.2 -> 731.3 executor-sec = 9.7 (linear).
AQE legitimately broadcasts the capped shingle exchanges at
10x and correctly keeps the shuffle plan at 100x — no plan
change warranted.

The rest of the ops table (w01/w04/h01/a01/s05/c05/z01) got its
second decade in r11 (BASELINE.md 'Stateful/window + ANN + sink
second decade'): all sub-linear in CPU, bytes ~10x where
data-linear; one real finding — s05's candidate exchange grows
quadratically at FIXED plane count (intrinsic LSH behavior;
k ~ log2(n) is the production posture, docstrings corrected).

d02 also carries a THIRD decade (r11, BASELINE.md 'd02 THIRD
decade'): 500k -> 5M docs with max stage input exactly 10.00x,
shuffle 9.995x, output at the planted rate, wall sub-linear.

d03's third decade (500k -> 5M docs, BASELINE.md 'd03 third
decade'): shuffle byte-exact linear (9.99x), wall linear
(10.2x), CPU 13.1x with spill onset at 32 static partitions —
the w01 partition-width mechanism; minhash band keys are
64-bit tuples, so candidates track content, not C(n,2).

w01's third decade (10M -> 100M events, BASELINE.md 'w01 third
decade') adds the partition-width lesson: the session's static
shuffle width (= local cores) spills a 3 GB window sort at 100M
rows; widening to bytes/128MB cuts CPU 3.1x, and the remaining
growth is single-box bandwidth saturation — cardinality and
shuffle bytes stay exactly linear (10.00x / 10.19x).

h01's third decade (10M -> 100M events, BASELINE.md 'h01 third
decade'): shuffle bytes and output rows CONSTANT across 10x the
events (0.2 MB / 750 rows at both scales), wall flat — the HLL
sketch exchange is bucket-bounded by design.

z01's third decade (BASELINE.md 'z01 third decade'): bytes and
rows exactly 10x, zero spill; the width A/B is a NEGATIVE result
(encode-shaped stages don't respond to partition width — the
lever is for sort-shaped stages only).

w04/c05's third decades (BASELINE.md 'w04 / c05 third decades'):
c05 clean linear; w04's bytes linear with a 54x CPU cell that the
width A/B (32 -> 256 partitions, zero spill both arms) cut 3.1x —
the w01 mechanism in the PRE-spill cache regime. Every ops-table
operator now carries a probed second decade; most carry a third.

a01's third decade (10M -> 100M events, BASELINE.md 'a01 third
decade'): rows/shuffle exactly 10.00x/10.15x, zero spill, CPU
1.36x (still overhead-dominated — the as-of's streaming
sort-merge bounds per-task memory by merge buffers).

d05's cell decomposes the same way (r11 probe, BASELINE.md
'd05 second-decade probe'): its mining half IS d02, and the
clustering step measured alone is linear in every primary
metric — edges/labels exactly 10x, clustering-stage maxima
~10x, min-label ROUND COUNT constant at 2 (planted clusters
are diameter-1), per-round executor ~linear — with both
tiers schedule-floor-dominated at these edge counts."""


def _write_md(out: dict) -> None:
    factor = out["factor"]
    lines = [
        "# SCALE — measured 10x scaling points (r7 dedup/ANN; r8 stateful/window family; r9 z-order write path; r10 d02/d03 second decade + relational queries)",
        "",
        f"Synthetic corpora from `tools/scale_bench.py` (deterministic seeded",
        f"generator, 2% planted exact-duplicate rate so duplicate structure is",
        f"content-linear — see the module docstring for why naive replication",
        f"would be a quadratic strawman): 1x = {out['base_docs']} docs /",
        f"{out['base_vecs']} vectors / {out.get('base_events', 0)} events over "
        f"{out.get('base_users', 0)} users (sf0.1-shaped), {factor}x = "
        f"{out['base_docs'] * factor} / {out['base_vecs'] * factor} / "
        f"{out.get('base_events', 0) * factor}. Events and users scale TOGETHER",
        "so per-user density (session length, funnel depth, as-of run length)",
        "stays constant — real-traffic growth, not per-key state inflation.",
        f"local[{out['cpus']}], best-of-3 per op, noop sink. s05 runs the production LSH",
        "family (4x16 bands, threshold 0.9), not the gate-corpus family —",
        "rationale in the module docstring. w01 = session windows, w04 =",
        "stateful funnel twin, h01 = hour->day rollup with the HLL sketch",
        "channel, a01 = bucketed as-of join, z01 = z-order clustered WRITE",
        "(quantile sketch + Morton bucketize + range exchange + real parquet",
        "write + read-back scan — k01's heavy half).",
        "",
        f"| op | 1x wall | {factor}x wall | wall ratio | 1x executor | {factor}x executor "
        f"| work ratio | max stage input ({factor}x) | max stage shuffle write ({factor}x) |",
        "|---|---|---|---|---|---|---|---|---|",
    ]
    for name, s in out["summary"].items():
        lines.append(
            f"| {name} | {s['sec_1x']} s | {s[f'sec_{factor}x']} s | {s['wall_ratio']} "
            f"| {s['executor_sec_1x']} s | {s[f'executor_sec_{factor}x']} s | {s['work_ratio']} "
            f"| {s[f'max_stage_input_mb_{factor}x']} MB "
            f"| {s[f'max_stage_shuffle_write_mb_{factor}x']} MB |"
        )
    lines += [
        "",
        f"work ratio (summed executor run time over the op's stages) is the",
        f"primary scaling metric: wall-clock of sub-10 s runs on this host moves",
        f"2-3x between identical back-to-back runs (VM steal), while executor",
        f"time tracks work done. A work ratio at or below ~{factor} means the",
        "operator's work grew at most linearly with the data (well below the",
        "factor = the 1x run is dominated by per-query constants). Stage maxima",
        "bound per-task memory pressure: no stage ballooned past its input and",
        "no OOM/spill was observed.",
    ]
    deep = out.get("deep_summary") or {}
    if deep:
        dfct = out["deep_factor"]
        lines += [
            "",
            f"## Second decade ({factor}x -> {dfct}x) — d02 / d03 (r10)",
            "",
            f"The heaviest dedup ops get a second decade ({out['base_docs'] * dfct}",
            "docs, same generator and planted-duplicate rate; best-of-2).",
            "BOTH legs (10x and 100x) are measured in a FRESH subprocess",
            "session: the first deep cells ran LAST in the main harness",
            "session and its accumulated GC/memory state moved d02's cell",
            "38.9 -> 23.9 between identical runs, while a fresh-session",
            "same-plan A/B measured 9.7 (full probe: BASELINE.md 'd02",
            "second-decade probe'). `decade2 work ratio` is executor time",
            "at 100x over 10x — linear = 10:",
            "",
            f"| op | {factor}x wall | {dfct}x wall | {factor}x executor | {dfct}x executor "
            f"| decade2 work ratio | max stage input ({dfct}x) | max stage shuffle write ({dfct}x) | gc ({dfct}x) |",
            "|---|---|---|---|---|---|---|---|---|",
        ]
        for name, s in deep.items():
            lines.append(
                f"| {name} | {s[f'sec_{factor}x']} s | {s[f'sec_{dfct}x']} s "
                f"| {s[f'executor_sec_{factor}x']} s | {s[f'executor_sec_{dfct}x']} s "
                f"| {s['decade2_work_ratio']} | {s['max_stage_input_mb']} MB "
                f"| {s['max_stage_shuffle_write_mb']} MB | {s['gc_sec']} s |"
            )
        lines += ["", *(ln for ln in _DEEP_CAVEAT.splitlines())]
    rel = out.get("relational_summary") or {}
    if rel:
        lines += [
            "",
            "## Relational queries — sf0.01 -> sf0.1 (r10)",
            "",
            "The driver's TPC-H-shaped testdata at two scale factors is a true",
            "10x of every table (no synthetic generator, no replication",
            "artifact). These rows are the growth evidence the sf0.1 bench",
            "cannot give (it is floor-dominated, net-of-floor ~0.1). The",
            "SECOND decade (sf0.1 -> sf1 via disjoint key-shifted replication)",
            "is probed in BASELINE.md 'Relational second decade (r11)': all",
            "four walls sub-linear, bytes linear under constant plans, q03's",
            "broadcast->shuffle transition identified and correct; a THIRD",
            "decade (sf1 -> sf10, BASELINE.md 'Relational third decade') shows",
            "bytes linear, zero spill, and q05 crossing the same transition",
            "exactly one decade after q03 — threshold-ordered, as AQE intends.",
            "q03 =",
            "c⋈o⋈l agg top-10, q05 = 6-way dim chain, q09 = window suite,",
            "q28 = column profiling (bounded rank-selection percentiles; its",
            "constant ~9-job broadcast chain is the BASELINE.md r10 probe).",
            "",
            f"| query | sf0.01 wall | sf0.1 wall | wall ratio | sf0.01 executor | sf0.1 executor "
            f"| work ratio | max stage input (sf0.1) | max stage shuffle write (sf0.1) |",
            "|---|---|---|---|---|---|---|---|---|",
        ]
        for name, s in rel.items():
            lines.append(
                f"| {name} | {s['sec_1x']} s | {s[f'sec_{factor}x']} s | {s['wall_ratio']} "
                f"| {s['executor_sec_1x']} s | {s[f'executor_sec_{factor}x']} s | {s['work_ratio']} "
                f"| {s[f'max_stage_input_mb_{factor}x']} MB "
                f"| {s[f'max_stage_shuffle_write_mb_{factor}x']} MB |"
            )
    lines += [
        "",
        "One real finding from building this harness: without the bench's",
        "inter-query cleanup (drop refs + System.gc() so the ContextCleaner",
        "reaps localCheckpoint blocks), d02/d05's eager checkpoints accumulate",
        "and a later op measured 810 executor-sec — 13x its isolated cost —",
        "as pure GC thrash. The production lesson is encoded in the harness",
        "comment: long-lived sessions running checkpointing operators must",
        "release checkpoint lineage between jobs or pay for it in every",
        "subsequent stage.",
    ]
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "SCALE.md"), "w") as f:
        f.write("\n".join(lines) + "\n")


if __name__ == "__main__":
    main()
