#!/usr/bin/env python
"""Materialize an sf1-shaped TPC-H replica from the driver's sf0.1 testdata
(VERDICT r10 "Next round" #5).

DuckDB's TPC-H generator cannot install offline (`INSTALL tpch` needs
extensions.duckdb.org; verified in-sandbox), so the relational second decade
uses disjoint key-shifted replication instead: K copies of customer /
orders / lineitem / supplier / part, copy k shifting every key column by
k * (max_key + 1). This preserves exactly what a true scale-up preserves:

  - join fan-out: each shifted copy is a disjoint subgraph, so every
    customer keeps its order count, every order its line count, every
    part/supplier its lineitem references — per-key density constant;
  - region/nation stay fixed (5/25 rows), as in dbgen at every SF: the
    per-nation row density grows with SF, which is the real at-scale skew;
  - value distributions (dates, prices, flags) are copied unchanged.

What it can NOT exercise: new distinct values (group cardinality of
non-key columns stays constant — fine for the probed queries, whose group
keys are flags/priorities/nations with fixed domains at every SF).

Usage: python tools/gen_sf_replica.py [src_sf_dir] [dst_dir] [K]
       defaults: the sf0.1 testdata dir, <checkout>/.scale_fixtures/sf1, 10
"""

from __future__ import annotations

import os
import sys

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

import pyspark.sql.functions as F  # noqa: N812

# key columns to shift per table: (table, {col: key_family})
SHIFTS = {
    "customer": {"c_custkey": "cust"},
    "orders": {"o_orderkey": "order", "o_custkey": "cust"},
    "lineitem": {"l_orderkey": "order", "l_partkey": "part", "l_suppkey": "supp"},
    "supplier": {"s_suppkey": "supp"},
    "part": {"p_partkey": "part"},
    # non-relational tables (r12, VERDICT r11 #6 — hash-match at sf1 needs
    # them): values are copied VERBATIM under shifted keys, so duplicate
    # groups / near-dup structure / per-user event streams replicate as
    # disjoint subgraphs. Duplicate-pair counts grow ~quadratically in K by
    # construction (every cross-copy text/vector pair is an exact match) —
    # that is fine for a correctness pass (both engines see identical data)
    # and the oracles stay tractable at K=10 (50k docs / 20k vectors).
    "documents": {"doc_id": "doc"},
    "embeddings": {"vec_id": "vec"},
    "events": {"event_id": "event", "user_id": "user"},
}
COPY_UNCHANGED = ("region", "nation")


def replicate(spark, src: str, dst: str, k: int) -> dict:
    # one stride per key FAMILY (shared across tables so foreign keys keep
    # pointing at the matching shifted copy)
    strides: dict[str, int] = {}
    for table, cols in SHIFTS.items():
        df = spark.read.parquet(f"{src}/{table}.parquet")
        for col, fam in cols.items():
            m = df.agg(F.max(col)).collect()[0][0]
            strides[fam] = max(strides.get(fam, 0), int(m) + 1)
    report = {"strides": strides, "k": k, "rows": {}}
    for table in COPY_UNCHANGED:
        df = spark.read.parquet(f"{src}/{table}.parquet")
        df.write.mode("overwrite").parquet(f"{dst}/{table}.parquet")
        report["rows"][table] = df.count()
    for table, cols in SHIFTS.items():
        df = spark.read.parquet(f"{src}/{table}.parquet")
        copies = spark.range(k).withColumnRenamed("id", "_k")
        out = df.crossJoin(copies)
        for col, fam in cols.items():
            out = out.withColumn(col, F.col(col) + F.col("_k") * F.lit(strides[fam]))
        out = out.drop("_k").repartition(32)
        out.write.mode("overwrite").parquet(f"{dst}/{table}.parquet")
        report["rows"][table] = spark.read.parquet(f"{dst}/{table}.parquet").count()
    return report


def main() -> None:
    src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    dst = sys.argv[2] if len(sys.argv) > 2 else os.path.join(REPO_ROOT, ".scale_fixtures", "sf1")
    k = int(sys.argv[3]) if len(sys.argv) > 3 else 10

    from score_spark.session import get_session

    spark = get_session(app_name="gen-sf-replica")
    import json

    print(json.dumps(replicate(spark, src, dst, k), indent=2))
    spark.stop()


if __name__ == "__main__":
    main()
