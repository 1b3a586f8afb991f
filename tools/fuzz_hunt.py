#!/usr/bin/env python
"""Offline prune-fuzz hunt: run the three test_properties fuzz invariants at
a much larger example budget than the in-suite settings (which are sized for
CI wall-clock, not hunting). Usage:

    python tools/fuzz_hunt.py [n_single] [n_multi] [n_map] [n_sql] [n_stream] [n_grammar]

A budget of 0 skips that invariant (hunt a single one cheaply).

Reuses the EXACT inner test functions (strategies, pipeline builders, and
the upstream-crash policy included) — only max_examples and the fixtures'
location differ, so a bug found here is a bug the suite's fuzz would
eventually find, and any engine INTERNAL_ERROR lands in the same committed
corpus (tests/upstream_bugs/corpus.jsonl).

The hunt runs with SCORE_SPARK_SOR_RAISE unset, as production does, and
prints per invariant how many analyses ran and how many fell back to full
schemas. Every analysis in those tests asserts it did not fall back, so a
fallback also falsifies its example.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


def main() -> int:
    n_single = int(sys.argv[1]) if len(sys.argv) > 1 else 300
    n_multi = int(sys.argv[2]) if len(sys.argv) > 2 else 150
    n_map = int(sys.argv[3]) if len(sys.argv) > 3 else 100
    n_sql = int(sys.argv[4]) if len(sys.argv) > 4 else 150
    n_stream = int(sys.argv[5]) if len(sys.argv) > 5 else 60
    n_grammar = int(sys.argv[6]) if len(sys.argv) > 6 else 120

    os.environ.pop("SCORE_SPARK_SOR_RAISE", None)
    import tests.test_properties as tp
    from score_spark.schema_on_read.generator import SchemaOnRead
    from tests.fixtures_nested import (
        CRAZY_MAP_SCHEMA,
        SAMPLE_SCHEMA,
        crazy_fuzz_rows,
        prune_fuzz_rows,
    )
    from score_spark.session import get_session

    spark = get_session(
        app_name="fuzz-hunt",
        shuffle_partitions=8,
    )
    base = tempfile.mkdtemp(prefix="fuzz_hunt_")

    # mirror the session fixtures (tests/test_properties.py) into tmp dirs
    def write_pair(rows, schema, stem):
        pq, js = f"{base}/{stem}.parquet", f"{base}/{stem}.json"
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("overwrite").parquet(pq)
        with open(js, "w") as f:
            json.dump(rows, f, indent=1, default=str)
        return {"parquet": pq, "json": js}

    fuzz_paths = write_pair(prune_fuzz_rows(), SAMPLE_SCHEMA, "fuzz")
    # zero-FILE directory — the empty-relation branch draw (r10) needs it
    fuzz_paths["empty"] = f"{base}/empty_dir"
    os.makedirs(fuzz_paths["empty"], exist_ok=True)
    crazy_paths = write_pair(crazy_fuzz_rows(), CRAZY_MAP_SCHEMA, "crazy")

    generate = SchemaOnRead.generate.__func__
    counts = {"ran": 0, "fell_back": 0}

    def counted(cls, df):
        sor = generate(cls, df)
        counts["ran"] += 1
        counts["fell_back"] += sor.error is not None
        return sor

    SchemaOnRead.generate = classmethod(counted)

    def hunt(name, inner, kw, n):
        cfg = settings(max_examples=n, deadline=None,
                       suppress_health_check=list(HealthCheck))
        runner = cfg(given(data=st.data())(
            lambda data: inner(spark=spark, data=data, **kw)
        ))
        print(f"[hunt] {name}: {n} examples ...", flush=True)
        runner()
        print(f"[hunt] {name}: OK", flush=True)

    failures = 0
    jobs = [
        ("single_source", tp.test_pruned_reread_equals_full_for_random_plans,
         {"fuzz_paths": fuzz_paths}, n_single),
        ("multi_source", tp.test_pruned_reread_equals_full_for_random_multi_source_plans,
         {"fuzz_paths": fuzz_paths}, n_multi),
        ("map_plans", tp.test_pruned_reread_equals_full_for_random_map_plans,
         {"crazy_fuzz_paths": crazy_paths}, n_map),
        ("sql_surface", tp.test_pruned_reread_equals_full_for_random_sql_plans,
         {"fuzz_paths": fuzz_paths}, n_sql),
        ("streaming", tp.test_streaming_pruned_schema_equals_batch_for_random_plans,
         {"fuzz_paths": fuzz_paths}, n_stream),
        ("expr_grammar", tp.test_pruned_reread_equals_full_for_expression_grammar,
         {"fuzz_paths": fuzz_paths}, n_grammar),
        ("map_grammar", tp.test_pruned_reread_equals_full_for_map_grammar,
         {"crazy_fuzz_paths": crazy_paths}, n_grammar),
    ]
    for name, test_fn, kw, n in jobs:
        if n <= 0:  # 0 = skip the invariant (hunt a single one cheaply)
            print(f"[hunt] {name}: skipped", flush=True)
            continue
        counts.update(ran=0, fell_back=0)
        try:
            hunt(name, test_fn.hypothesis.inner_test, kw, n)
        except Exception as ex:  # hypothesis re-raises the falsifying failure
            failures += 1
            print(f"[hunt] {name}: FALSIFIED\n{ex}", flush=True)
        print(f"[hunt] {name}: {counts['ran']} analyses, {counts['fell_back']} fell back", flush=True)
    shutil.rmtree(base, ignore_errors=True)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
