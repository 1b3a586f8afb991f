#!/usr/bin/env python
"""Candidate-volume growth probes behind BASELINE.md "Stateful/window + ANN
+ sink second decade" (r11): direct counts proving (a) banded-LSH
candidates grow as p*C(n,2) at fixed plane count and the k ~ log2(n)
prescription restores the budget with planted recall intact, and (b)
SimHash chunk blocking compares Theta(n^2/2^w) candidates at fixed chunk
width while its OUTPUT stays exactly linear.

Usage: python tools/probe_lsh_growth.py [s05|d04|all]
"""

from __future__ import annotations

import json
import sys

sys.path.insert(0, __import__("os").path.dirname(__import__("os").path.dirname(
    __import__("os").path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: N812


def probe_s05(spark, out):
    from score_spark.operators.similarity import lsh_pair_candidates
    from tools.scale_bench import BASE_VECS, gen_embeddings

    for n, k in ((BASE_VECS * 10, 16), (BASE_VECS * 100, 16),
                 (BASE_VECS * 100, 20), (BASE_VECS * 100, 23)):
        emb = gen_embeddings(spark, n).localCheckpoint(eager=True)
        cand = lsh_pair_candidates(emb, n_tables=4, n_planes=k)
        n_cand = cand.count()
        # planted exact duplicates (i-1, i) for i % 50 == 1: identical
        # vectors collide in every table at any k — recall must be 100%
        planted = cand.filter(
            (F.col("v2") - F.col("v1") == 1) & (F.col("v2") % 50 == 1)
        ).count()
        expect = len([i for i in range(n) if i % 50 == 1 and i > 0])
        out[f"s05:n={n},k={k}"] = {
            "candidates": n_cand, "planted": f"{planted}/{expect}"
        }
        print(f"[lsh] {list(out)[-1]}: {out[list(out)[-1]]}", file=sys.stderr)
        spark.catalog.clearCache()
        spark._jvm.System.gc()


def probe_d04(spark, out):
    from score_spark.operators.dedup import hamming_pairs, simhash
    from tools.scale_bench import BASE_DOCS, gen_documents

    for factor in (10, 100):
        n = BASE_DOCS * factor
        docs = gen_documents(spark, n).localCheckpoint(eager=True)
        sigs = simhash(docs).localCheckpoint(eager=True)
        pairs = hamming_pairs(sigs, max_hamming=3)
        n_pairs = pairs.count()
        planted = pairs.filter(
            (F.col("d2") - F.col("d1") == 1) & (F.col("d2") % 50 == 1)
        ).count()
        expect = len([i for i in range(n) if i % 50 == 1 and i > 0])
        out[f"d04:{factor}x"] = {"docs": n, "pairs": n_pairs,
                                 "planted": f"{planted}/{expect}"}
        print(f"[lsh] {list(out)[-1]}: {out[list(out)[-1]]}", file=sys.stderr)
        spark.catalog.clearCache()
        spark._jvm.System.gc()


def main() -> None:
    which = sys.argv[1] if len(sys.argv) > 1 else "all"
    from score_spark.session import get_session

    spark = get_session(app_name="probe-lsh-growth")
    out: dict = {}
    if which in ("s05", "all"):
        probe_s05(spark, out)
    if which in ("d04", "all"):
        probe_d04(spark, out)
    print(json.dumps(out, indent=2))
    spark.stop()


if __name__ == "__main__":
    main()
