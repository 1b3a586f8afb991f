#!/usr/bin/env python
"""End-to-end SimHash width-law demonstration (r12 — the d04 analog of r11's
tools/probe_s05_sizing_e2e.py, closing VERDICT r11 #4's "ship it as code"
with a measured win).

The r11 growth probe measured hamming_pairs' chunk join comparing
Theta(n^2 / 2^w) candidates at FIXED chunk width: ~36x CPU on 10x docs at
500k docs / 16-bit chunks (~7.6 docs per bucket). recommended_simhash_bits
now sizes the signature so chunks carry ~2*log2(n) bits. This probe runs
BOTH widths at the 500k-doc corpus the law was measured at and reports:

  - bucket-occupancy compare volume: sum over (chunk, bucket) of C(cnt, 2),
    computed with the EXACT production chunk-key expressions
    (dedup._chunk_keys) — the direct count of candidate pairs the join
    must popcount;
  - wall + executor CPU for the full pairs pipeline (signature + join +
    exact filter), best of N;
  - planted recall: gen_documents plants an exact duplicate every 50 ids —
    distance-0 pairs MUST be found at any width (identical signatures
    collide in every chunk), so recall is comparable across widths even
    though wider signatures legitimately classify random near-boundary
    pairs differently.

NOTE the two widths are different FUNCTIONS of the corpus (64-bit vs
152-bit Hamming space), so total pair counts may differ on random
near-threshold pairs; the planted distance-0 set is the width-invariant
recall yardstick.

Usage: python tools/probe_d04_sizing_e2e.py [n_docs] [runs] [analytic_fixed]
       "analytic_fixed" skips the fixed-width JOIN (at 5M docs it would
       popcount ~1.4e9 candidate pairs — the blow-up itself) and reports
       its compare volume analytically; the sized arm still runs fully.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: N812

from score_spark import profile


def compare_volume(spark, sigs, exprs) -> int:
    """sum over (chunk_id, bucket) of C(cnt, 2) — the exact number of
    candidate pairs the blocking join compares (before the id< filter
    halves it and distinct dedups)."""
    total = 0
    for e in exprs:
        occ = (
            sigs.selectExpr(f"{e} AS b")
            .groupBy("b")
            .count()
            .selectExpr("CAST(sum(count * (count - 1) / 2) AS BIGINT) AS v")
            .first()["v"]
        )
        total += int(occ or 0)
    return total


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 500_000
    runs = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    analytic_fixed = len(sys.argv) > 3 and sys.argv[3] == "analytic_fixed"
    from score_spark.operators.dedup import (
        _chunk_keys,
        hamming_pairs,
        recommended_simhash_bits,
        simhash,
    )
    from score_spark.session import get_session
    from tools.scale_bench import gen_documents

    spark = get_session(app_name="probe-d04-sizing")
    docs = gen_documents(spark, n_docs).localCheckpoint(eager=True)
    planted_expect = len([i for i in range(n_docs) if i % 50 == 1 and i > 0])
    rec_bits = recommended_simhash_bits(n_docs, max_hamming=3)
    arms = {"fixed_63": 63, f"sized_{rec_bits}": rec_bits}
    report = {"n_docs": n_docs, "runs": runs, "recommended_bits": rec_bits, "arms": {}}

    for name, bits in arms.items():
        sigs = simhash(docs, n_bits=bits).localCheckpoint(eager=True)
        # the fixed arm's long signature runs with n_bits=None: the full
        # 64-bit partition
        exprs = (
            _chunk_keys("simhash", 64, 4, 64)
            if bits <= 63
            else _chunk_keys("simhash", bits, 4, 63)
        )
        vol = compare_volume(spark, sigs, exprs)
        if analytic_fixed and bits <= 63:
            report["arms"][name] = {
                "n_bits": bits,
                "chunk_bits": 16,
                "compare_volume_pairs": vol,
                "join_skipped": "analytic_fixed: the blow-up itself",
            }
            print(f"[d04-sizing] {name}: {report['arms'][name]}", file=sys.stderr)
            sigs.unpersist()
            continue
        walls, cpu_s = [], []
        for _ in range(runs):
            m = profile.mark(spark)
            t0 = time.monotonic()
            pairs = hamming_pairs(sigs, max_hamming=3, n_bits=bits if bits > 63 else None)
            n_pairs = pairs.count()
            walls.append(round(time.monotonic() - t0, 3))
            cpu_s.append(sum(r["exec_cpu_s"] for r in profile.stages_since(spark, m)))
        planted = (
            hamming_pairs(sigs, max_hamming=3, n_bits=bits if bits > 63 else None)
            .filter((F.col("d2") - F.col("d1") == 1) & (F.col("d2") % 50 == 1))
            .count()
        )
        report["arms"][name] = {
            "n_bits": bits,
            "chunk_bits": bits // 4 if bits > 63 else 16,
            "compare_volume_pairs": vol,
            "walls": walls,
            "best_wall": min(walls),
            "exec_cpu_sec": [round(c, 2) for c in cpu_s],
            "pairs_out": n_pairs,
            "planted_recall": f"{planted}/{planted_expect}",
        }
        print(f"[d04-sizing] {name}: {report['arms'][name]}", file=sys.stderr)
        sigs.unpersist()
    a, b = report["arms"]["fixed_63"], report["arms"][f"sized_{rec_bits}"]
    report["volume_reduction_x"] = round(
        a["compare_volume_pairs"] / max(1, b["compare_volume_pairs"]), 1
    )
    if "best_wall" in a and "best_wall" in b:
        report["wall_speedup_x"] = round(a["best_wall"] / b["best_wall"], 2)
    print(json.dumps(report, indent=2))
    spark.stop()


if __name__ == "__main__":
    main()
