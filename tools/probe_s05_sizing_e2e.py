"""End-to-end payoff of recommended_lsh_planes: near_dup_pairs_lsh at 200k
vectors with the gate family's k=16 vs the helper's k — identical output,
~5x wall (BASELINE.md "Stateful/window + ANN + sink second decade").
Usage: python tools/probe_s05_sizing_e2e.py"""
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from score_spark import profile  # noqa: E402


def main() -> None:
    from score_spark.operators.similarity import near_dup_pairs_lsh, recommended_lsh_planes
    from score_spark.session import get_session
    from tools.scale_bench import gen_embeddings

    spark = get_session(app_name="probe-s05-e2e")

    def _warm(b):
        yield from b

    cpus = spark.sparkContext.defaultParallelism
    spark.range(cpus * 4, numPartitions=cpus).mapInPandas(_warm, "id long").count()

    n = 200_000
    emb = gen_embeddings(spark, n).localCheckpoint(eager=True)
    k_rec = recommended_lsh_planes(n)
    print(f"recommended k for n={n}: {k_rec}", file=sys.stderr)
    out = {}
    # None = the r12 DEFAULT path (no caller intervention): n_planes derives
    # from the cached corpus count inside lsh_pair_candidates — must land the
    # same k_rec-class plan and identical output to the explicit k_rec arm
    for k in (16, k_rec, None):
        best = None
        for _ in range(2):
            m = profile.mark(spark)
            t0 = time.monotonic()
            pairs = near_dup_pairs_lsh(emb, threshold=0.9, n_tables=4, n_planes=k)
            n_pairs = pairs.count()
            wall = round(time.monotonic() - t0, 2)
            new = profile.stages_since(spark, m)
            rec = {"wall": wall, "pairs": n_pairs,
                   "cpu_sec": round(sum(s["exec_cpu_s"] for s in new), 1),
                   "max_shuffle_mb": round(max((s["shuffle_write_bytes"] for s in new), default=0) / 2**20, 1)}
            if best is None or rec["wall"] < best["wall"]:
                best = rec
            spark.catalog.clearCache()
            spark._jvm.System.gc()
        label = "default(auto)" if k is None else f"k={k}"
        out[label] = best
        print(f"{label}: {best}", file=sys.stderr)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
