#!/usr/bin/env python
"""sf1-scale probes for optimization round 14 (VERDICT r13 items 4-6).

Subcommands (argv[1]):
  d02abab  — ABAB the persisted-exploded-shingle-table variant of the d02
             self-join against the current form (VERDICT #4: both sides
             re-explode from the cached array table; measure at a scale
             where the explode dominates the chain floor).
  d04skew  — chunk-bucket cardinality histogram for the d04 wide-leg chunk
             join at sf1 (VERDICT #5: salting only with a measured skew
             trigger).
  codec    — lz4 vs zstd shuffle codec on the d02 pair miner + d04 wide
             hamming join at sf1 (VERDICT #6 / guide §2.3): wall + shuffle
             bytes of every completed stage (score_spark.profile), fresh
             session per codec.

Usage: python tools/probe_r14_sf1.py <cmd> [sf_dir]
Default sf_dir: <repo>/.scale_fixtures/sf1
"""

from __future__ import annotations

import gc
import json
import os
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

import pyspark.sql.functions as F  # noqa: E402

RUNS = 3


def _session(name, extra=None):
    from score_spark.session import get_session

    spark = get_session(app_name=name, extra_conf=extra)
    spark.read.parquet(os.path.join(_sf_dir(), "region.parquet")).count()
    return spark


def _sf_dir() -> str:
    return sys.argv[2] if len(sys.argv) > 2 else os.path.join(_REPO, ".scale_fixtures", "sf1")


def _noop(df) -> float:
    t0 = time.monotonic()
    df.write.format("noop").mode("overwrite").save()
    return round(time.monotonic() - t0, 3)


def _d02_pipeline(d, persist_g: bool):
    """The d02 miner body (ngram_jaccard_pairs, hash_ids=True) with the
    exploded+capped shingle table optionally persisted so the self-join's
    two sides read ONE explode+freq-join pass instead of re-deriving it."""
    from score_spark.operators.dedup import shingle_arrays, shingle_table

    sh0 = shingle_arrays(d, 3).persist()
    caches = [sh0]
    sizes = sh0.select("doc_id", F.size("_shs").alias("sz"))
    g = shingle_table(max_doc_freq=50, shingle_df=sh0, hash_ids=True)
    if persist_g:
        g = g.persist()
        caches.append(g)
    inter = (
        g.select("sh", F.col("doc_id").alias("d1"))
        .join(g.select("sh", F.col("doc_id").alias("d2")), "sh")
        .filter(F.col("d1") < F.col("d2"))
        .groupBy("d1", "d2")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    s1 = sizes.select(F.col("doc_id").alias("d1"), F.col("sz").alias("sz1"))
    s2 = sizes.select(F.col("doc_id").alias("d2"), F.col("sz").alias("sz2"))
    res = (
        inter.join(s1, "d1")
        .join(s2, "d2")
        .select(
            "d1",
            "d2",
            F.round(F.col("inter") / (F.col("sz1") + F.col("sz2") - F.col("inter")), 4).alias("jac"),
        )
        .filter(F.col("jac") >= 0.03)
    )
    return res, caches


def d02abab() -> None:
    from score_spark.io import load_table

    spark = _session("probe-r14-d02abab")
    d = load_table(spark, _sf_dir(), "documents")
    out = {"sf_dir": _sf_dir(), "runs": {}}
    for variant in ("cur", "persist_g"):
        out["runs"][variant] = []
    for _ in range(RUNS):
        for variant in ("cur", "persist_g"):
            spark.catalog.clearCache()
            gc.collect()
            spark._jvm.System.gc()
            t0 = time.monotonic()
            res, caches = _d02_pipeline(d, persist_g=(variant == "persist_g"))
            res.write.format("noop").mode("overwrite").save()
            wall = round(time.monotonic() - t0, 3)
            for c in caches:
                c.unpersist()
            out["runs"][variant].append(wall)
            print(f"{variant}: {wall}", file=sys.stderr)
    for v, walls in out["runs"].items():
        out[f"best_{v}"] = min(walls)
    print(json.dumps(out, indent=2))
    spark.stop()


def d04skew() -> None:
    from score_spark.io import load_table
    from score_spark.operators.dedup import (
        _chunk_keys,
        recommended_simhash_bits,
        simhash,
    )
    from score_spark.operators.similarity import corpus_count

    spark = _session("probe-r14-d04skew")
    d = load_table(spark, _sf_dir(), "documents")
    n_docs = corpus_count(d)
    bits = max(64, recommended_simhash_bits(n_docs, max_hamming=3))
    sigs = simhash(d, n_bits=bits).persist()
    sigs.count()
    chunk_structs = ", ".join(
        f"named_struct('chunk_id', {c}, 'chunk', {e})"
        for c, e in enumerate(_chunk_keys("simhash", bits, 4, 63))
    )
    chunks = sigs.select(F.expr(f"explode(array({chunk_structs}))").alias("cc")).select(
        "cc.chunk_id", "cc.chunk"
    )
    occ = chunks.groupBy("chunk_id", "chunk").agg(F.count(F.lit(1)).alias("n"))
    # per-chunk-id occupancy stats + global histogram of bucket sizes
    stats = (
        occ.groupBy("chunk_id")
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.max("n").alias("max_bucket"),
            F.expr("percentile_approx(n, 0.5)").alias("median_bucket"),
            F.avg("n").alias("mean_bucket"),
            F.sum(F.col("n") * (F.col("n") - 1) / 2).alias("candidate_pairs"),
        )
        .orderBy("chunk_id")
        .collect()
    )
    hist = (
        occ.groupBy("n").agg(F.count(F.lit(1)).alias("buckets")).orderBy("n").collect()
    )
    sigs.unpersist()
    print(
        json.dumps(
            {
                "sf_dir": _sf_dir(),
                "n_docs": n_docs,
                "auto_bits": bits,
                "per_chunk": [r.asDict() for r in stats],
                "bucket_size_histogram": [r.asDict() for r in hist],
            },
            indent=2,
            default=str,
        )
    )
    spark.stop()


def codec() -> None:
    from score_spark import profile
    from score_spark.io import load_table
    from score_spark.operators.dedup import (
        hamming_pairs,
        recommended_simhash_bits,
        simhash,
    )

    out = {"sf_dir": _sf_dir(), "codecs": {}}
    for cdc in ("lz4", "zstd"):
        spark = _session(f"probe-r14-codec-{cdc}", {"spark.io.compression.codec": cdc})
        d = load_table(spark, _sf_dir(), "documents")
        from score_spark.operators.similarity import corpus_count

        bits = max(64, recommended_simhash_bits(corpus_count(d), max_hamming=3))
        rec = {"d02_pairs": [], "d04_wide": []}
        for _ in range(RUNS):
            spark.catalog.clearCache()
            gc.collect()
            spark._jvm.System.gc()
            res, caches = _d02_pipeline(d, persist_g=False)
            rec["d02_pairs"].append(_noop(res))
            for c in caches:
                c.unpersist()
            rec["d04_wide"].append(
                _noop(hamming_pairs(simhash(d, n_bits=bits), max_hamming=3, n_bits=bits))
            )
        stages = profile.stages_since(spark, 0)  # every job of this fresh session
        rec["total_shuffle_write_bytes"] = sum(s["shuffle_write_bytes"] for s in stages)
        rec["total_shuffle_read_bytes"] = sum(s["shuffle_read_bytes"] for s in stages)
        rec["best_d02"] = min(rec["d02_pairs"])
        rec["best_d04"] = min(rec["d04_wide"])
        out["codecs"][cdc] = rec
        print(f"{cdc}: {rec}", file=sys.stderr)
        spark.stop()
    print(json.dumps(out, indent=2))


if __name__ == "__main__":
    cmd = sys.argv[1] if len(sys.argv) > 1 else ""
    if cmd == "d02abab":
        d02abab()
    elif cmd == "d04skew":
        d04skew()
    elif cmd == "codec":
        codec()
    else:
        sys.exit(f"unknown subcommand {cmd!r}; use d02abab | d04skew | codec")
