"""Gate tooling tests: the driver_sim dtype comparator (VERDICT r8 #3).

The r8 h01 red shipped because the sim's canon() stringified every dtype
before hashing — a TIMESTAMP vs TIMESTAMP WITH TIME ZONE (or int64 vs
float64) skew hashed green in the sim while the driver's strict schema
compare went red. dtype_skews() compares DECLARED types (Spark schema vs
DuckDB relation .types) before canonicalization; these tests pin the exact
r8 failure shape: DuckDB's ``AT TIME ZONE 'UTC'`` applied to a naive
TIMESTAMP (the driver's reading of Spark's tz=UTC parquet) yields
TIMESTAMPTZ, which the sim must now flag.
"""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO_ROOT, "tools"))

from driver_sim import dtype_skews  # noqa: E402


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    yield c
    c.close()


def test_flags_timestamptz_vs_spark_timestamp(spark, con):
    """The r8 h01 class: the pre-fix oracle's `naive AT TIME ZONE 'UTC'`
    produces TIMESTAMP WITH TIME ZONE in the driver's reader — declared-type
    compare must go red even though canon() would stringify both the same."""
    sdf = spark.sql("SELECT TIMESTAMP '2024-01-01 00:00:00' AS bucket_start, CAST(1 AS BIGINT) AS n")
    bad = con.sql(
        "SELECT TIMESTAMP '2024-01-01 00:00:00' AT TIME ZONE 'UTC' AS bucket_start, "
        "CAST(1 AS BIGINT) AS n"
    )
    skews = dtype_skews(sdf, bad)
    assert skews == ["bucket_start: spark timestamp vs duckdb TIMESTAMP WITH TIME ZONE"]


def test_green_on_matching_primitives(spark, con):
    sdf = spark.sql(
        "SELECT TIMESTAMP '2024-01-01 00:00:00' AS ts, CAST(1 AS BIGINT) AS n, "
        "CAST(0.5 AS DOUBLE) AS v, 'x' AS s, true AS b"
    )
    ok = con.sql(
        "SELECT TIMESTAMP '2024-01-01 00:00:00' AS ts, CAST(1 AS BIGINT) AS n, "
        "CAST(0.5 AS DOUBLE) AS v, 'x' AS s, true AS b"
    )
    assert dtype_skews(sdf, ok) == []


def test_flags_int_vs_float_skew(spark, con):
    """The other silent class: an oracle that sums into DOUBLE where Spark
    emits BIGINT renders '1.0' vs '1' at the driver but identically after
    the sim's round(6)/astype(str) canon."""
    sdf = spark.sql("SELECT CAST(1 AS BIGINT) AS n")
    bad = con.sql("SELECT CAST(1 AS DOUBLE) AS n")
    assert dtype_skews(sdf, bad) == ["n: spark bigint vs duckdb DOUBLE"]


def test_int_width_skew_tolerated_but_hugeint_flagged(spark, con):
    """Width-only integer skews pass (the driver's r8 gate passed q09/t01
    with spark int vs duckdb BIGINT — integers render identically), but
    HUGEINT — DuckDB's sum(INT) result type — fetches as float64 and must
    stay flagged (the SKILL.md gotcha that DOES ship red)."""
    sdf = spark.sql("SELECT CAST(1 AS INT) AS n")
    assert dtype_skews(sdf, con.sql("SELECT CAST(1 AS BIGINT) AS n")) == []
    assert dtype_skews(sdf, con.sql("SELECT CAST(1 AS HUGEINT) AS n")) == [
        "n: spark int vs duckdb HUGEINT"
    ]


def test_h01_oracle_est_normalization_is_reader_invariant(con):
    """The r9 fix mechanism: make_timestamp(epoch_us(x)) yields the same
    plain-TIMESTAMP UTC wall time whether the reader typed the Spark-written
    tz=UTC parquet as naive TIMESTAMP or TIMESTAMPTZ, independent of the
    session TimeZone — unlike `AT TIME ZONE 'UTC'`, which converts in
    OPPOSITE directions for the two readings."""
    prior = con.execute("SELECT current_setting('TimeZone')").fetchone()[0]
    con.execute("SET TimeZone='America/New_York'")
    try:
        rel = con.sql(
            "SELECT make_timestamp(epoch_us(TIMESTAMP '2024-01-01 10:00:00')) AS a, "
            "       make_timestamp(epoch_us(TIMESTAMPTZ '2024-01-01 10:00:00+00')) AS b"
        )
        assert [str(t) for t in rel.types] == ["TIMESTAMP", "TIMESTAMP"]
        row = rel.fetchone()
        assert row[0] == row[1]
        assert str(row[0]) == "2024-01-01 10:00:00"
    finally:
        # restore the connection's PRIOR tz, not a hardcoded UTC — the
        # fixture is module-scoped and later tests must see what they
        # started with (review r9)
        con.execute(f"SET TimeZone='{prior}'")


def test_bench_history_ratios_filtering(tmp_path):
    """The r10 trailing-median gate reads only VALID sf0.1 lines of this
    host's core count: lines marked invalid (contaminated by concurrent
    load), small-SF iteration runs, lines of another host (or of no host:
    unstamped), blank lines, and partial lines from killed runs are all
    skipped, in order."""
    import sys

    sys.path.insert(0, REPO_ROOT)
    import bench

    p = tmp_path / "hist.jsonl"
    p.write_text(
        '{"ratio": 1.5, "sf": 0.1}\n'          # unstamped: belongs to no host
        '{"ratio": 1.4, "sf": 0.1, "cpus_host": 32, "cpus_run": 32}\n'
        "\n"
        '{"ratio": 9.9, "sf": 0.01}\n'          # small-SF: excluded
        '{"ratio": 3.0, "sf": 0.1, "invalid": "ran under load"}\n'  # excluded
        # reduced-core scaling probe (driver's local[N<host] leg): excluded —
        # its ratio measures the core count, not the code (found live r13:
        # a local[8] probe at ratio 1.34 moved the gate median 1.22 -> 1.27)
        '{"ratio": 1.34, "sf": 0.1, "cpus_host": 32, "cpus_run": 8}\n'
        # full-core line WITH the stamp: included (cpus_run == cpus_host)
        '{"ratio": 1.2, "sf": 0.1, "cpus_host": 32, "cpus_run": 32}\n'
        # another host's full-core run: its ratio measures that host
        '{"ratio": 1.1, "sf": 0.1, "cpus_host": 4, "cpus_run": 4}\n'
        '{"ratio": 1.8, "sf": 0.1'              # partial line: skipped
    )
    assert bench._history_ratios(32, str(p)) == [1.4, 1.2]
    assert bench._history_ratios(4, str(p)) == [1.1]
    # median-of-3 window over valid ratios + the current run
    import statistics

    window = (bench._history_ratios(32, str(p)) + [2.5])[-3:]
    assert statistics.median(window) == 1.4


def test_bench_committed_artifacts_written_at_sf01_only(tmp_path, monkeypatch):
    """BYTES.json and BASELINE_DUCKDB.json are committed sf0.1 numbers: a
    fast-iteration run at another SF must leave them alone and keep its
    reports in BENCH_LOCAL.json instead."""
    import json
    import sys

    sys.path.insert(0, REPO_ROOT)
    import bench

    monkeypatch.setattr(bench, "_ROOT", str(tmp_path))
    kept: dict = {}
    for name in ("BYTES.json", "BASELINE_DUCKDB.json"):
        bench._keep_artifact(name, {"sf": 0.01}, 0.01, kept)
        assert not (tmp_path / name).exists()
    assert kept == {"BYTES.json": {"sf": 0.01}, "BASELINE_DUCKDB.json": {"sf": 0.01}}
    bench._keep_artifact("BYTES.json", {"sf": 0.1}, 0.1, kept)
    assert json.loads((tmp_path / "BYTES.json").read_text()) == {"sf": 0.1}


def test_bench_resolve_cpus_defaults_to_host(monkeypatch):
    """An unset $SPARK_GRAFT_CPUS must resolve to the HOST core count, not a
    literal 32 (ADVICE r13): on a non-32-core host the literal default made
    every unconfigured run a "reduced-core probe" (cpus_run != cpus_host),
    silently exempting it from the 2x gate and the median window forever.
    The host count is the session factory's (the affinity mask), so the
    bench's master and get_session()'s default can never disagree."""
    import sys

    sys.path.insert(0, REPO_ROOT)
    import bench
    from score_spark.session import _default_cpus

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert bench._resolve_cpus() == str(_default_cpus())
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "8")
    assert bench._resolve_cpus() == "8"
    # empty string counts as unset, not as a literal core count
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "")
    assert bench._resolve_cpus() == str(_default_cpus())


def test_bench_compact_stdout_line_fits_driver_tail_buffer():
    """BENCH_r09/r10's `parsed` was null because the full nested report
    (~4.5 kB) overflowed the driver's ~2 kB stdout tail buffer (VERDICT r10
    "What's wrong" #2, second flag). The stdout projection must carry the
    spec-required fields and stay under the buffer for the 50-query registry."""
    import json
    import sys

    sys.path.insert(0, REPO_ROOT)
    import bench

    from score_spark.queries import QUERIES

    # worst-case-shaped per-query dict: real registry keys, 3-decimal values
    result = {
        "metric": "total_query_wall_clock",
        "value": 123.456,
        "unit": "sec",
        "queries": {name: 12.345 for name in QUERIES},
        "sf": 0.1,
        "duckdb_baseline": {"spark_vs_duckdb_ratio": 1.29},
        "trailing_median_ratio_3": 1.41,
        "leg_times": {
            "d04_simhash": {"classic64": 12.345, "wideauto": 12.345},
            "s05_near_dup_lsh": {"tuned8x8": 12.345, "auto": 12.345},
        },
        "load1_start": 12.34,
        # worst case for length: a contaminated run carries the full
        # invalid-reason string in the stdout line too (the driver keeps
        # ONLY this line, so the marker must survive into BENCH_rN.json)
        "steal_pct": 4.77,
    }
    line = bench._compact_line(result)
    assert len(line) < 1900, f"compact line {len(line)} bytes risks tail truncation"
    parsed = json.loads(line)
    for field in ("metric", "value", "unit", "queries", "sf"):
        assert field in parsed
    assert len(parsed["queries"]) == len(QUERIES)
    assert parsed["spark_vs_duckdb_ratio"] == 1.29
    assert parsed["steal_pct"] == 4.77 and "load1_start 12.34" in parsed["invalid"]

    steal_only = json.loads(bench._compact_line({**result, "load1_start": 0.1}))
    assert "steal_pct 4.77" in steal_only["invalid"]
    clean = bench._compact_line({**result, "load1_start": 0.1, "steal_pct": 0.4})
    assert "invalid" not in json.loads(clean)


def test_bench_gate_single_run_step_regression_fails_first_run():
    """ADVICE r10: the median gate alone needs up to 3 gated runs to trip a
    genuine step regression (first post-regression window holds two
    pre-change ratios). A single run >= 2.5 must FAIL unconditionally, while
    drift-band singles (<= 2.0) and borderline medians keep their old tiers."""
    import sys

    sys.path.insert(0, REPO_ROOT)
    import bench

    # step regression, first run: window median still healthy
    assert bench._gate_level(3.1, 1.4) == "FAIL_SINGLE"
    # sustained creep: median gate
    assert bench._gate_level(1.9, 2.1) == "FAIL_MEDIAN"
    # drift-band single over 2.0 but under 2.5: WARN, not FAIL
    assert bench._gate_level(2.05, 1.5) == "WARN"
    assert bench._gate_level(1.7, 1.85) == "WARN"
    # healthy
    assert bench._gate_level(1.3, 1.35) is None
    # missing baseline (duckdb error path): no crash, no verdict on ratio
    assert bench._gate_level(None, None) is None


# ---------------------------------------------------- ulp-class mismatches


def test_classify_mismatch_ulp_boundary_flip():
    """The sf1 q05/q19 shape, automated: a 2dp sum column off by exactly one
    granule (0.01) on 2 of 25 rows, every other column identical -> ulp-class
    with the delta reported."""
    import pandas as pd
    from driver_sim import classify_mismatch

    a = pd.DataFrame(
        {
            "nation": [f"N{i:02d}" for i in range(25)],
            "revenue": [round(4.6e8 + i * 1000 + 0.93, 2) for i in range(25)],
        }
    )
    e = a.copy()
    e.loc[3, "revenue"] += 0.01
    e.loc[17, "revenue"] -= 0.01
    deltas, is_ulp = classify_mismatch(a, e)
    assert is_ulp
    # float64 noise at 4.6e8 magnitude: the delta lands within an ulp of the
    # granule, not exactly on it
    assert set(deltas) == {"revenue"} and abs(deltas["revenue"] - 0.01) < 1e-6


def test_classify_mismatch_real_divergences_stay_real():
    """Integer counts off by one, decimal columns off by >1 granule, a
    rounding-MODE bug flipping half the rows, and a string diff must all
    stay non-ulp (the guard exists so 'ulp-class' can never absorb a logic
    bug)."""
    import pandas as pd
    from driver_sim import classify_mismatch

    base = pd.DataFrame(
        {
            "k": [f"K{i}" for i in range(20)],
            "n": list(range(20)),
            "amt": [round(i + 0.25, 2) for i in range(20)],
        }
    )
    off_count = base.copy()
    off_count.loc[5, "n"] += 1  # integer-granule column: any delta is real
    assert classify_mismatch(base, off_count)[1] is False

    off_two = base.copy()
    off_two.loc[5, "amt"] += 0.02  # two granules
    assert classify_mismatch(base, off_two)[1] is False

    mode_bug = base.copy()
    mode_bug.loc[::2, "amt"] += 0.01  # half the rows: rounding-mode class
    assert classify_mismatch(base, mode_bug)[1] is False

    str_diff = base.copy()
    str_diff.loc[5, "k"] = "ZZ"
    assert classify_mismatch(base, str_diff)[1] is False

    assert classify_mismatch(base, base.iloc[:-1])[1] is False  # shape skew


def test_granularity_inference():
    """2dp sums at 5e8 magnitude infer 0.01 despite float64 noise; integers
    infer 1.0; unrounded doubles infer nothing."""
    import pandas as pd
    from driver_sim import _granularity

    assert _granularity(pd.Series([4.6e8 + 0.93, 5.49e8 + 0.44])) == 0.01
    assert _granularity(pd.Series([1.0, 7.0, 1500.0])) == 1.0
    assert _granularity(pd.Series([0.4321, 0.5])) == 0.0001
    assert _granularity(pd.Series([1 / 3])) is None


def test_classify_mismatch_tolerates_float_noise_on_the_granule():
    """The live sf1 q19 shape: a one-granule (0.01) flip on a 1.4e8-scale sum
    round-trips through float64 as 0.01000002 — the noise allowance must
    scale with the VALUE's magnitude (ulp ~3e-8 there), not the granule, or
    the classifier rejects its own motivating case."""
    import pandas as pd
    from driver_sim import classify_mismatch

    a = pd.DataFrame(
        {
            "p_brand": [f"Brand#{i}" for i in range(25)],
            "promo_revenue": [round(1.4e8 + i * 1e5 + 0.49, 2) for i in range(25)],
            "total_revenue": [round(8.2e8 + i * 1e5 + 0.14, 2) for i in range(25)],
        }
    )
    e = a.copy()
    e.loc[5, "promo_revenue"] = round(e.loc[5, "promo_revenue"] - 0.01, 2)
    e.loc[22, "total_revenue"] = round(e.loc[22, "total_revenue"] + 0.01, 2)
    deltas, is_ulp = classify_mismatch(a, e)
    assert is_ulp
    assert set(deltas) == {"promo_revenue", "total_revenue"}
    # two granules stays real even with the magnitude-scaled allowance
    e2 = a.copy()
    e2.loc[5, "promo_revenue"] += 0.02
    assert classify_mismatch(a, e2)[1] is False


def test_classify_mismatch_null_divergence_stays_real():
    """review r12: (a - e) is NaN where one side is NULL and .max() SKIPS
    NaN — without an explicit NaN-mask comparison a wrong-NULL logic bug
    records no delta and would be certified ulp-class. Matched NaN positions
    are equality and stay eligible."""
    import numpy as np
    import pandas as pd
    from driver_sim import classify_mismatch

    a = pd.DataFrame({"k": list("abcdefgh"), "v": [round(i + 0.25, 2) for i in range(8)]})
    e = a.copy()
    e.loc[2, "v"] = np.nan  # oracle NULL where spark has a value
    deltas, is_ulp = classify_mismatch(a, e)
    assert is_ulp is False

    # both sides NULL in the same place: equality — a one-granule flip
    # elsewhere still classifies
    a2, e2 = a.copy(), a.copy()
    a2.loc[2, "v"] = np.nan
    e2.loc[2, "v"] = np.nan
    e2.loc[5, "v"] = round(e2.loc[5, "v"] + 0.01, 2)
    assert classify_mismatch(a2, e2)[1] is True


def test_classify_mismatch_aligns_on_identity_columns():
    """ADVICE r12: when the differing float column sorts alphabetically
    BEFORE the identity columns, canon()'s all-column row sort reorders the
    frames on a one-granule flip and a positional diff blows the deltas up,
    mislabeling a true ulp flip as a real mismatch. classify_mismatch must
    re-align on the non-numeric columns first."""
    import pandas as pd
    from driver_sim import canon, classify_mismatch

    a = pd.DataFrame(
        {
            "amount": [round(100.0 + i * 7 + 0.25, 2) for i in range(10)] + [121.25, 121.26],
            "zone": [f"Z{i:02d}" for i in range(10)] + ["ZB", "ZA"],
        }
    )
    e = a.copy()
    # flip ZA's amount DOWN one granule onto ZB's value: canon's
    # (amount, zone) sort then orders (121.25, ZA) before (121.25, ZB) in e
    # but (121.25, ZB) before (121.26, ZA) in a — positionally the zones
    # disagree and the old positional diff labeled the flip a real mismatch
    e.loc[11, "amount"] = 121.25
    ca, ce = canon(a), canon(e)
    # the canon sort really does misalign positionally (the ADVICE scenario)
    assert list(ca["zone"]) != list(ce["zone"])
    deltas, is_ulp = classify_mismatch(ca, ce)
    assert is_ulp, deltas
    assert set(deltas) == {"amount"} and abs(deltas["amount"] - 0.01) < 1e-6


def test_bench_history_load_auto_invalidation(tmp_path):
    """VERDICT r12 #1: same-code ratios swung 1.16-1.86 in one day on this
    host, and the contaminated runs were exactly those started right after
    a long pytest pass (load ~7 draining). The history line must stamp the
    start-of-run loadavg + cpu count, auto-mark above-threshold runs
    invalid, and the trailing-median reader must then skip them — no human
    hand-marking in the loop."""
    import sys

    sys.path.insert(0, REPO_ROOT)
    import bench

    base = {
        "value": 30.0,
        "sf": 0.1,
        "duckdb_baseline": {"spark_vs_duckdb_ratio": 1.5, "n_queries": 39},
        "cpus_host": 32,
    }
    idle = bench._history_line({**base, "load1_start": 0.4})
    assert "invalid" not in idle
    assert idle["load1_start"] == 0.4 and idle["cpus_host"] == 32

    hot = bench._history_line({**base, "load1_start": 7.2})
    assert "load1_start 7.2" in hot["invalid"]

    unknown = bench._history_line({**base, "load1_start": None})
    assert "invalid" not in unknown  # no loadavg reading: don't invent one

    # the threshold is min(4.0, 0.125 x host cores): the same external load
    # is a larger share of fewer cores, so a 4-core host gates at 0.5, and
    # more cores never lift it past 4.0
    few = {**base, "cpus_host": 4}
    assert "load1_start 0.6 > 0.5" in bench._history_line({**few, "load1_start": 0.6})["invalid"]
    assert "invalid" not in bench._history_line({**few, "load1_start": 0.4})
    assert "load1_start 4.5 > 4.0" in bench._run_invalid(4.5, None, 128)

    # the reader skips the auto-marked line exactly like hand-marked ones
    import json

    p = tmp_path / "hist.jsonl"
    p.write_text(
        json.dumps({**idle, "ratio": 1.5}) + "\n"
        + json.dumps({**hot, "ratio": 3.2}) + "\n"
        + json.dumps({**idle, "ratio": 1.4}) + "\n"
    )
    assert bench._history_ratios(32, str(p)) == [1.5, 1.4]


def test_bench_steal_pct():
    """r13: per-run hypervisor steal%% in the history line — two same-code
    idle benches (load 0.0 both) measured ratios 1.53 and 1.80; loadavg
    cannot see VM steal, /proc/stat can. Pure math here; the live read is
    exercised by any bench run."""
    import sys

    sys.path.insert(0, REPO_ROOT)
    import bench

    assert bench._steal_pct((100, 10_000), (150, 20_000)) == 0.5
    assert bench._steal_pct(None, (1, 2)) is None
    assert bench._steal_pct((1, 2), None) is None
    assert bench._steal_pct((1, 100), (1, 100)) is None  # no elapsed jiffies
    live = bench._cpu_stat()
    assert live is None or (live[0] >= 0 and live[1] > 0)
    # steal above threshold auto-invalidates the line (r13: the stamped
    # distribution showed idle runs cluster <= 1% while the 2.64% outlier
    # printed the session's worst ratio); below-threshold steal is recorded
    # but does not invalidate; missing steal never invents a verdict
    hot = bench._history_line({"steal_pct": 3.14, "sf": 0.1})
    assert hot["steal_pct"] == 3.14 and "steal_pct 3.14" in hot["invalid"]
    ok = bench._history_line({"steal_pct": 0.9, "sf": 0.1})
    assert "invalid" not in ok
    assert "invalid" not in bench._history_line({"steal_pct": None, "sf": 0.1})
    # load trips first when both are hot (reason precedence is load)
    both = bench._history_line({"load1_start": 9.0, "steal_pct": 5.0, "sf": 0.1})
    assert "load1_start 9.0" in both["invalid"]


def test_bench_duckdb_view_pattern_globs_directory_tables(tmp_path):
    """The baseline must register replicated scale fixtures (Spark-written
    DIRECTORY tables, tools/gen_sf_replica.py) the same way driver_sim
    does — a bare directory path makes DuckDB's read_parquet fail, which
    previously limited bench.py to the flat-file driver testdata and kept
    the end-to-end ratio unmeasurable at sf1."""
    import sys

    sys.path.insert(0, REPO_ROOT)
    import bench

    (tmp_path / "lineitem.parquet").mkdir()  # Spark-written directory table
    (tmp_path / "region.parquet").write_bytes(b"")  # flat-file table
    assert bench._duckdb_view_pattern(str(tmp_path), "lineitem") == (
        f"{tmp_path}/lineitem.parquet/*.parquet"
    )
    assert bench._duckdb_view_pattern(str(tmp_path), "region") == f"{tmp_path}/region.parquet"
