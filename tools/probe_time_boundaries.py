#!/usr/bin/env python
"""Boundary-semantics probe for the time operators (r11 leg 2).

The session_window find (Spark MERGES events exactly `gap` apart; the w01
oracle's `>=` was latent-wrong) showed the sf gate cannot see exact-boundary
semantics: generated event timestamps never land exactly on a window edge,
an interval endpoint, or an as-of tie. This probe synthesizes an events
table whose rows sit EXACTLY on those boundaries and re-runs the driver
compare (Spark leg vs the query's own DuckDB oracle) for every time-shaped
gate query that needs only the events table: a01 (as-of tie: click at
purchase ts must match per <=), j01 (interval endpoints: >= start, < end),
j02 (horizon boundary: click exactly 30 min before the purchase is IN),
q23 (tumbling edges: an event exactly on the hour opens the NEXT bucket),
w01 (session exact-gap: merges — the r11 fix), w03 (dedup + tumbling edge).

Any mismatch is a real boundary-semantics divergence between the Spark
implementation and its oracle. Exits nonzero on mismatch.

Usage: python tools/probe_time_boundaries.py
"""

from __future__ import annotations

import datetime as dt
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from tools.driver_sim import canon  # one canonicalizer, same as the gate


def build_events(spark, path: str) -> None:
    H = dt.datetime(2024, 1, 1, 0, 0, 0)
    s = dt.timedelta(seconds=1)
    m = dt.timedelta(minutes=1)
    rows = []
    eid = 0

    def ev(ts, user, typ, value):
        nonlocal eid
        eid += 1
        rows.append((eid, ts, user, typ, value, "{}"))

    # deterministic "busy hours" for j01: hours 0..4 get strictly
    # decreasing filler counts (ties impossible)
    for h in range(5):
        for i in range(20 - 2 * h):
            ev(H + dt.timedelta(hours=h, minutes=2, seconds=i), 100 + h, "view", 1.0)
    # j01 boundary rows around hour-0's interval [00:30, 01:30)
    ev(H + dt.timedelta(minutes=30), 201, "view", 5.0)              # == start: IN
    ev(H + dt.timedelta(minutes=90), 202, "view", 7.0)              # == end: OUT
    ev(H + dt.timedelta(minutes=90) - s, 203, "view", 9.0)          # end-1s: IN
    ev(H + dt.timedelta(minutes=30) - s, 204, "view", 11.0)         # start-1s: OUT
    # a01 as-of tie + j02 horizon boundary
    T = H + dt.timedelta(hours=2, minutes=10)
    ev(T, 301, "click", 0.0); ev(T, 301, "purchase", 10.0)          # tie: click matches
    ev(T, 302, "click", 0.0); ev(T + 30 * m, 302, "purchase", 20.0) # exactly horizon: pair IN
    ev(T, 303, "click", 0.0); ev(T + 30 * m + s, 303, "purchase", 30.0)  # beyond: no pair
    ev(T + s, 304, "purchase", 40.0)                                 # no prior click
    # q23 tumbling edge: exactly on the hour -> next bucket
    ev(H + dt.timedelta(hours=6), 401, "view", 1.5)
    ev(H + dt.timedelta(hours=6) - s, 402, "view", 2.5)
    # w01 exact-gap sessions (30 min gap): merge at ==gap, split at gap+1s
    B = H + dt.timedelta(hours=8)
    ev(B, 501, "view", 1.0); ev(B + 30 * m, 501, "view", 1.0)
    ev(B, 502, "view", 1.0); ev(B + 30 * m + s, 502, "view", 1.0)
    # pyarrow writer, naive microsecond timestamps — the real testdata's
    # physical shape (a Spark writer stores isAdjustedToUTC=true, which
    # round-trips tz-AWARE into pandas and diverges from the gate's shape)
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = list(zip(*rows))
    table = pa.table(
        {
            "event_id": pa.array(cols[0], pa.int64()),
            "ts": pa.array(cols[1], pa.timestamp("us")),
            "user_id": pa.array(cols[2], pa.int64()),
            "event_type": pa.array(cols[3], pa.string()),
            "value": pa.array(cols[4], pa.float64()),
            "props": pa.array(cols[5], pa.string()),
        }
    )
    pq.write_table(table, f"{path}/events.parquet")


def main() -> int:
    import __spark_entry__ as entry_mod
    from score_spark.session import get_session

    spark = get_session(
        app_name="probe-time-boundaries",
        shuffle_partitions=8,
    )
    base = tempfile.mkdtemp(prefix="time_boundaries_")
    build_events(spark, base)

    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    targets = [
        "a01_purchase_attribution",
        "j01_busy_window_join",
        "j02_click_purchase_pairs",
        "q23_event_time_buckets",
        "w01_session_windows",
        "w03_dedup_counts",
        # funnel horizon: a click exactly 30 min before its purchase is a
        # conversion in both engines (user 302); 30 min + 1 s is not (303)
        "w04_conversion_funnel",
    ]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{base}/events.parquet')"
    )
    failures = 0
    for name in targets:
        spark_pdf = canon(queries[name](spark, base).toPandas())
        duck_pdf = canon(con.execute(oracles[name]).fetchdf())
        ok = spark_pdf.equals(duck_pdf)
        if not ok:
            failures += 1
            print(f"[time-boundaries] {name:28s} MISMATCH", flush=True)
            print("  spark:", spark_pdf.to_dict("records")[:6], flush=True)
            print("  duckdb:", duck_pdf.to_dict("records")[:6], flush=True)
        else:
            print(f"[time-boundaries] {name:28s} OK ({len(spark_pdf)} rows)", flush=True)
    print(f"[time-boundaries] {len(targets) - failures}/{len(targets)} OK", flush=True)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
