#!/usr/bin/env python
"""Degenerate-input sweep: every queries() entry over ZERO-ROW tables
(default) or a head-N slice of the real sf tables (``N`` as argv[1]).

At 100 TB scale empty inputs are routine — an empty partition, a filter
that matches nothing, a day with no events — and tiny inputs exercise the
tie-break/interpolation edges (one event per user, single-element
percentiles, joins that match nothing). Every gated query must run (not
crash) and agree with its DuckDB oracle when one exists. Exits nonzero on
any crash or divergence.

Usage: python tools/probe_degenerate_inputs.py        # zero rows
       python tools/probe_degenerate_inputs.py 1      # first row of each table
       python tools/probe_degenerate_inputs.py 100    # first 100 rows
       python tools/probe_degenerate_inputs.py skew   # adversarial skew:
           every event belongs to ONE user, half the documents share one
           text, half the embeddings share one vector — identical parquet
           to both engines, so any divergence is a real tie-break or
           semantics finding, and the hot-key paths (sessionization,
           as-of, dedup clustering) run against their worst case
       python tools/probe_degenerate_inputs.py unicode  # adversarial text:
           emoji / RTL / zero-width / combining marks / very long lines
           spliced into documents.text and events.props — the text
           operators' regex/length/split semantics must agree between
           engines on content the generated fixtures never produce
       python tools/probe_degenerate_inputs.py extremes  # numeric edges:
           NaN / +-Inf / -0.0 / 1e300 spliced into events.value — sum,
           round, ordering and window paths must agree on IEEE edge cases
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pyarrow.parquet as pq

from score_spark.io import TABLES
from tools.driver_sim import canon

SRC = os.environ.get("SPARK_GRAFT_SCHEMA_SRC", "/root/testdata/sf0.001")


def main() -> int:
    base = tempfile.mkdtemp(prefix="degenerate_")
    # xcheck-channel oracles resolve their materialization path at IMPORT
    # time from this env (sf-tagged); without it DuckDB would read STALE
    # sf0.01 channels from earlier gate runs (first run of this probe did
    # exactly that — p01/d04/h01 false mismatches)
    os.environ["SCORE_SPARK_ORACLE_SF_DIR"] = base
    import __spark_entry__ as entry_mod
    from score_spark.session import get_session

    spark = get_session(
        app_name="probe-degenerate",
        shuffle_partitions=8,
    )
    mode = sys.argv[1] if len(sys.argv) > 1 else "0"
    con = duckdb.connect()
    for t in TABLES:
        if mode == "skew":
            table = pq.read_table(f"{SRC}/{t}.parquet")
            import pyarrow as pa

            if t == "events":
                ones = pa.array([1] * len(table), table.schema.field("user_id").type)
                table = table.set_column(table.schema.get_field_index("user_id"), "user_id", ones)
            elif t == "documents" and len(table) > 1:
                col = table.column("text").to_pylist()
                first = col[0]
                dup = [first if i % 2 == 0 else v for i, v in enumerate(col)]
                table = table.set_column(
                    table.schema.get_field_index("text"), "text",
                    pa.array(dup, table.schema.field("text").type))
            elif t == "embeddings" and len(table) > 1:
                col = table.column("embedding").to_pylist()
                first = col[0]
                dup = [first if i % 2 == 0 else v for i, v in enumerate(col)]
                table = table.set_column(
                    table.schema.get_field_index("embedding"), "embedding",
                    pa.array(dup, table.schema.field("embedding").type))
        elif mode == "unicode":
            table = pq.read_table(f"{SRC}/{t}.parquet")
            import pyarrow as pa

            ADV = [
                "emoji \U0001f600\U0001f680 mixed",
                "rtl العربية text",
                "zero​width‌join‍er",
                "combining áé marks",
                "cjk 漢字カタカナ",
                "long " + "x" * 5000,
                "nul-ish  controls",
                "quotes '\" and \\\\ backslashes",
            ]
            if t == "documents" and len(table):
                col = table.column("text").to_pylist()
                spliced = [ADV[i % len(ADV)] + " " + (v or "") if i % 3 == 0 else v for i, v in enumerate(col)]
                table = table.set_column(
                    table.schema.get_field_index("text"), "text",
                    pa.array(spliced, table.schema.field("text").type))
            elif t == "events" and len(table):
                col = table.column("props").to_pylist()
                # props is JSON: keep it parseable but unicode-laden
                import json as _json

                spliced = [
                    _json.dumps({"u": ADV[i % len(ADV)]}) if i % 4 == 0 else v
                    for i, v in enumerate(col)
                ]
                table = table.set_column(
                    table.schema.get_field_index("props"), "props",
                    pa.array(spliced, table.schema.field("props").type))
        elif mode == "extremes":
            table = pq.read_table(f"{SRC}/{t}.parquet")
            import pyarrow as pa

            if t == "events" and len(table):
                col = table.column("value").to_pylist()
                EDGE = [float("nan"), float("inf"), float("-inf"), -0.0, 1e300, 5e-324]
                spliced = [EDGE[i % len(EDGE)] if i % 5 == 0 else v for i, v in enumerate(col)]
                table = table.set_column(
                    table.schema.get_field_index("value"), "value",
                    pa.array(spliced, table.schema.field("value").type))
        elif int(mode) > 0:
            table = pq.read_table(f"{SRC}/{t}.parquet").slice(0, int(mode))
        else:
            table = pq.read_schema(f"{SRC}/{t}.parquet").empty_table()
        pq.write_table(table, f"{base}/{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{base}/{t}.parquet')")

    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    # ENGINE divergence on empty input, verified with minimal repros
    # (r11): Spark returns ZERO rows for rollup/cube/GROUPING SETS over an
    # empty relation (the Expand feeds no input rows to the keyed
    # aggregate), while DuckDB follows the SQL standard's empty grouping
    # set and emits the grand-total row — even though Spark's own PLAIN
    # global aggregate on the same empty frame returns one row. The gate
    # never produces empty tables, so the oracle pair is sound there; on
    # empty input the pair is expected to differ exactly this way.
    known_divergent = {"q17_rollup_cube", "q24_grouping_sets"}
    failures = 0
    for name, fn in queries.items():
        try:
            spark_pdf = canon(fn(spark, base).toPandas())
        except Exception as ex:
            failures += 1
            print(f"[degenerate] {name:30s} CRASH: {type(ex).__name__}: {str(ex)[:140]}", flush=True)
            continue
        if name in oracles:
            try:
                duck_pdf = canon(con.execute(oracles[name]).fetchdf())
            except Exception as ex:
                failures += 1
                print(f"[degenerate] {name:30s} ORACLE-CRASH: {type(ex).__name__}: {str(ex)[:120]}", flush=True)
                continue
            if not spark_pdf.equals(duck_pdf):
                if name in known_divergent and len(spark_pdf) == 0:
                    print(f"[degenerate] {name:30s} KNOWN-DIVERGENT (spark 0 rows, duck {len(duck_pdf)} grand-total rows)", flush=True)
                    continue
                failures += 1
                print(f"[degenerate] {name:30s} MISMATCH spark={len(spark_pdf)} duck={len(duck_pdf)}", flush=True)
                print("  spark:", spark_pdf.to_dict("records")[:4], flush=True)
                print("  duck:", duck_pdf.to_dict("records")[:4], flush=True)
                continue
        print(f"[degenerate] {name:30s} OK ({len(spark_pdf)} rows)", flush=True)
    print(f"[degenerate] {len(queries) - failures}/{len(queries)} OK", flush=True)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
