"""Property-based tests (hypothesis) for the custom operators whose
correctness argument is algorithmic rather than a single worked example:
random inputs, independent reference implementations (numpy / pandas /
brute force) as the oracle.

Example counts are kept small (each example runs Spark jobs); the goal is
shrinking counter-examples for boundary bugs (ties, empty groups, exact
rank hits, skewed keys), not statistical volume.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from hypothesis import HealthCheck, assume, given, settings
from hypothesis import strategies as st

SETTINGS = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


# --------------------------------------------------------- exact percentiles

values = st.lists(
    st.floats(min_value=-1e6, max_value=1e6, allow_nan=False, width=32),
    min_size=1,
    max_size=40,
)
groups_data = st.dictionaries(st.sampled_from(["a", "b", "c"]), values, min_size=1)
percentile = st.floats(min_value=0.0, max_value=1.0, allow_nan=False)


@SETTINGS
@given(data=groups_data, p=percentile, use_bounds=st.booleans())
def test_percentiles_match_numpy_linear(spark, data, p, use_bounds):
    """quantile_cont == numpy's 'linear' interpolation, per group, for any
    data (ties, negatives, single values) and any p — in both the computed
    stats mode and the covering-bounds mode."""
    from score_spark.operators.profiling import exact_percentiles_by_group

    rows = [(g, float(v)) for g, vs in data.items() for v in vs]
    df = spark.createDataFrame(rows, ["g", "v"])
    bounds = None
    if use_bounds:
        allv = [v for _, v in rows]
        bounds = (min(allv) - 1.0, max(allv) + 1.0)
    got = {
        r["g"]: r["q"]
        for r in exact_percentiles_by_group(
            df, "g", "v", {"q": p}, round_dp=4, bounds=bounds
        ).collect()
    }
    for g, vs in data.items():
        want = float(np.quantile(np.array(vs, dtype=np.float64), p, method="linear"))
        assert abs(got[g] - want) <= 10**-4 + 1e-9 * abs(want), (g, got[g], want)


values_with_nan = st.lists(
    st.one_of(
        st.floats(min_value=-1e6, max_value=1e6, allow_nan=False, width=32),
        st.just(float("nan")),
    ),
    min_size=1,
    max_size=40,
)
groups_nan_data = st.dictionaries(
    st.sampled_from(["a", "b", "c"]), values_with_nan, min_size=1
)


@SETTINGS
@given(data=groups_nan_data, p=percentile)
def test_percentiles_ignore_nan_like_nanquantile(spark, data, p):
    """NaN values mixed into groups are excluded like quantile_cont /
    numpy's nanquantile (the exact ADVICE r5 failure mode: NaN sorts
    greatest in ORDER BY but poisons the bucket arithmetic, so it must be
    filtered, not ranked — VERDICT r6 #7 asked for this property). A group
    that is ALL NaN produces no percentile row at all."""
    from score_spark.operators.profiling import exact_percentiles_by_group

    rows = [(g, float(v)) for g, vs in data.items() for v in vs]
    df = spark.createDataFrame(rows, ["g", "v"])
    got = {
        r["g"]: r["q"]
        for r in exact_percentiles_by_group(df, "g", "v", {"q": p}, round_dp=4).collect()
    }
    for g, vs in data.items():
        arr = np.array(vs, dtype=np.float64)
        if np.all(np.isnan(arr)):
            assert g not in got or got[g] is None
        else:
            want = float(np.nanquantile(arr, p, method="linear"))
            assert abs(got[g] - want) <= 10**-4 + 1e-9 * abs(want), (g, got[g], want)


# --------------------------------------------------------------- as-of join

asof_rows = st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 1000), st.integers(0, 100)),
    min_size=0,
    max_size=30,
)


@SETTINGS
@given(left=asof_rows, right=asof_rows, buckets=st.sampled_from([None, 4]))
def test_asof_join_matches_pandas_merge_asof(spark, left, right, buckets):
    """asof semantics (most recent right_ts <= left_ts per key) == pandas
    merge_asof(direction='backward') for any key/time layout, with and
    without the skew-escape time_buckets path."""
    from score_spark.operators.asof import asof_join

    # dedup right rows on (k, ts) up front: at a duplicate right timestamp
    # the window last() winner is an unspecified tie (Spark's sort is not
    # guaranteed stable), so the property is only well-defined on unique
    # (k, ts) right rows — keep the max rv as the deterministic survivor
    rdedup: dict = {}
    for k, t, v in right:
        rdedup[(k, t)] = max(v, rdedup.get((k, t), v))
    right = [(k, t, v) for (k, t), v in sorted(rdedup.items())]
    ldf = spark.createDataFrame(
        [(k, t, v) for k, t, v in left] or [(0, 0, 0)], ["k", "ts", "lv"]
    )
    rdf = spark.createDataFrame(
        [(k, t, v) for k, t, v in right] or [(99, 0, 0)], ["k", "ts", "rv"]
    )
    got = (
        asof_join(ldf, rdf, on="k", right_value_cols=["rv"], time_buckets=buckets)
        .select("k", "ts", "lv", "rv_right")
        .toPandas()
        .sort_values(["k", "ts", "lv"])
        .reset_index(drop=True)
    )
    lp = pd.DataFrame([(k, t, v) for k, t, v in left] or [(0, 0, 0)], columns=["k", "ts", "lv"])
    rp = pd.DataFrame(
        [(k, t, v) for k, t, v in right] or [(99, 0, 0)], columns=["k", "ts", "rv"]
    )
    want = (
        pd.merge_asof(
            lp.sort_values("ts", kind="stable"),
            rp.sort_values("ts", kind="stable"),
            on="ts",
            by="k",
            direction="backward",
            allow_exact_matches=True,
        )
        .sort_values(["k", "ts", "lv"])
        .reset_index(drop=True)
    )
    got_rv = [None if pd.isna(x) else int(x) for x in got["rv_right"]]
    want_rv = [None if pd.isna(x) else int(x) for x in want["rv"]]
    assert got_rv == want_rv, (got_rv, want_rv)


# ------------------------------------------------------------- hamming pairs

sigs_strategy = st.lists(
    st.integers(min_value=0, max_value=(1 << 63) - 1), min_size=0, max_size=12, unique=True
)


@SETTINGS
@given(sigs=sigs_strategy, max_h=st.integers(0, 6))
def test_hamming_pairs_equals_brute_force(spark, sigs, max_h):
    """Chunk-blocked candidate generation must return EXACTLY the pairs
    within max_h bits — the pigeonhole bound guarantees full recall, the
    post-filter full precision."""
    from score_spark.operators.dedup import hamming_pairs

    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(sigs)] or [(0, 0)], ["doc_id", "simhash"]
    )
    got = {
        (r["d1"], r["d2"])
        for r in hamming_pairs(df, max_hamming=max_h).collect()
    }
    data = list(enumerate(sigs)) or [(0, 0)]
    want = {
        (i, j)
        for ii, (i, a) in enumerate(data)
        for (j, b) in data[ii + 1:]
        if bin(a ^ b).count("1") <= max_h
    }
    assert got == want


# ---------------------------------------------------------- session windows

events_strategy = st.lists(
    st.tuples(st.integers(0, 2), st.integers(0, 10_000)),
    min_size=1,
    max_size=25,
)


@SETTINGS
@given(events=events_strategy)
def test_session_windows_match_gaps_and_islands(spark, events):
    """Spark's session_window (30 s gap) == the classic gaps-and-islands
    rewrite computed independently in Python, for any per-user event layout
    incl. exact-boundary gaps. Boundary semantics proven by execution on
    4.1.2 (r11, the fuzz drew events exactly `gap` apart for the first
    time): an event landing exactly at the previous session's end MERGES
    — each event spans [t, t+gap) and touching intervals merge — so a new
    session starts only when the delta is STRICTLY GREATER than the gap."""
    import datetime as dt

    from score_spark.streaming.windows import session_stats

    base = dt.datetime(2024, 1, 1)
    rows = [(u, base + dt.timedelta(seconds=s), 1.0) for u, s in events]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    got = {
        (r["user_id"], r["session_start"], r["n_events"])
        for r in session_stats(df, gap="30 seconds").collect()
    }
    want = set()
    by_user: dict[int, list[int]] = {}
    for u, s in events:
        by_user.setdefault(u, []).append(s)
    for u, ts in by_user.items():
        ts.sort()
        start, n, prev = ts[0], 0, None
        for t in ts:
            if prev is not None and t - prev > 30:
                want.add((u, base + dt.timedelta(seconds=start), n))
                start, n = t, 0
            n += 1
            prev = t
        want.add((u, base + dt.timedelta(seconds=start), n))
    assert got == want


# ------------------------------------------------------------ token packing

chunk_rows = st.lists(
    st.tuples(st.integers(0, 20), st.integers(0, 3), st.integers(1, 200)),
    min_size=1,
    max_size=30,
    unique_by=lambda t: (t[0], t[1]),
)


@SETTINGS
@given(rows=chunk_rows, budget=st.integers(8, 512), n_shards=st.sampled_from([1, 3]))
def test_sequence_packing_conserves_tokens_and_respects_offsets(spark, rows, budget, n_shards):
    """Packing invariants for any chunk stream: (a) total tokens conserved
    across packs per shard, (b) pack ids are the exact floor(offset/budget)
    sequence a serial walk of the (id, chunk_idx)-ordered stream produces."""
    from score_spark.operators.pipeline import pack_token_stream

    df = spark.createDataFrame(rows, ["doc_id", "chunk_idx", "n_words"])
    got = {
        (r["shard"], r["pack_id"]): (r["n_chunks"], r["pack_tokens"])
        for r in pack_token_stream(df, budget=budget, n_shards=n_shards).collect()
    }
    want: dict = {}
    for shard in range(n_shards):
        stream = sorted((d, c, n) for d, c, n in rows if d % n_shards == shard)
        off = 0
        for _, _, n in stream:
            pack = off // budget
            k = (shard, pack)
            nc, nt = want.get(k, (0, 0))
            want[k] = (nc + 1, nt + n)
            off += n
    assert got == want


# -------------------------------------------------------------- doc chunking

doc_strategy = st.lists(
    st.tuples(
        st.integers(0, 5),
        st.lists(st.sampled_from(["w%d" % i for i in range(9)]), min_size=1, max_size=25),
    ),
    min_size=1,
    max_size=6,
    unique_by=lambda t: t[0],
)


@SETTINGS
@given(docs=doc_strategy, chunk_size=st.integers(2, 8), overlap=st.integers(0, 3))
def test_chunking_reconstructs_documents(spark, docs, chunk_size, overlap):
    """De-overlapping consecutive chunks must reproduce every document's
    exact word stream — no word lost, duplicated, or reordered, for any
    (chunk_size, overlap) with overlap < chunk_size."""
    if overlap >= chunk_size:
        overlap = chunk_size - 1
    from score_spark.operators.pipeline import chunk_documents

    df = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in docs], ["doc_id", "text"]
    )
    out = (
        chunk_documents(df, chunk_size=chunk_size, overlap=overlap)
        .orderBy("doc_id", "chunk_idx")
        .collect()
    )
    stride = chunk_size - overlap
    by_doc: dict[int, list[str]] = {}
    for r in out:
        words = r["chunk_text"].split(" ")
        keep = words if r["chunk_idx"] == 0 else words[overlap:]
        by_doc.setdefault(r["doc_id"], []).extend(keep)
    want = {i: ws for i, ws in docs}
    assert by_doc == want


@settings(max_examples=8, deadline=None)
@given(
    n_rows=st.integers(min_value=0, max_value=120),
    n_strata=st.integers(min_value=1, max_value=4),
    k=st.integers(min_value=1, max_value=15),
)
def test_stratified_topk_matches_reference_semantics(spark, n_rows, n_strata, k):
    """Property: stratified_topk_sample == 'k smallest (md5(id), id) per
    stratum' computed independently in Python, for any shape — including
    strata smaller than k and the empty frame."""
    import hashlib

    from score_spark.operators.pipeline import stratified_topk_sample

    rows = [(i * 7 + 1, f"s{i % n_strata}") for i in range(n_rows)]
    df = spark.createDataFrame(rows, "doc_id long, source string") if rows else (
        spark.createDataFrame([], "doc_id long, source string")
    )
    got = {(r.source, r.doc_id) for r in stratified_topk_sample(df, ("source",), k=k).collect()}
    expect = set()
    for s in {src for _, src in rows}:
        ranked = sorted(
            (hashlib.md5(str(i).encode()).hexdigest(), i) for i, src in rows if src == s
        )[:k]
        expect |= {(s, i) for _, i in ranked}
    assert got == expect


# ------------------------------------------- prune-analyzer plan fuzz (r8)
#
# VERDICT r7 #8: the r7 review found three silent-wrong analyzer cases by
# hand (output-under-Sort skeletonization, set-op compared-field pruning,
# CTERelationRef misbinding). The invariant that catches the whole class:
# for ANY composed query Q, re-running Q over a reader restricted to the
# derived read-schema must return row-for-row the same result as over the
# full schema. This fuzz generates random filter/explode/project/agg/sort
# compositions over a nulls-and-empties-rich nested fixture and asserts
# exactly that — with NO best-effort fallback (a schema that breaks the
# rebuilt query fails the test; `prune()`'s fallback would hide it).

import json as _json

import pyspark.sql.functions as F
import pytest


@pytest.fixture(scope="session")
def fuzz_paths(spark, tmp_path_factory):
    """Nested fixture with nulls, empty arrays, absent branches, and dup
    rows — 2-row sample.parquet can't distinguish 'pruned away' from
    'never there' for every branch; this one can. Rows come from the shared
    builder so the offline hunt (tools/fuzz_hunt.py) explores the exact
    same input space."""
    from tests.fixtures_nested import SAMPLE_SCHEMA, prune_fuzz_rows

    base = tmp_path_factory.mktemp("prune_fuzz")
    rows = prune_fuzz_rows()
    pq = str(base / "fuzz.parquet")
    js = str(base / "fuzz.json")
    spark.createDataFrame(rows, SAMPLE_SCHEMA).coalesce(1).write.mode("overwrite").parquet(pq)
    with open(js, "w") as f:
        _json.dump(rows, f, indent=1, default=str)
    # zero-FILE directory (not a zero-row parquet): the empty-relation
    # identity class (r9 review) — reads as 0 rows under an explicit schema
    empty = str(base / "empty_dir")
    _os.makedirs(empty, exist_ok=True)  # module-level `import os as _os`
    return {"parquet": pq, "json": js, "empty": empty}


_FUZZ_PREDICATES = [
    ("long_pos", lambda d: d.filter(F.col("someLong") > 0)),
    ("bool_true", lambda d: d.filter(F.col("someBoolean"))),
    ("str_or_null", lambda d: d.filter(F.col("someStr").isNull() | (F.col("someStr") != "zzz"))),
    ("struct_col1", lambda d: d.filter(F.col("struct.col1").isNotNull())),
    ("child_col2", lambda d: d.filter(F.col("nestedStruct.childStruct.col2") >= 0)),
    # whole-complex-value comparison in a filter: the r9 require-operands
    # class — the compared struct/array must stay full even when only some
    # children are otherwise touched (self-compare is NULL-sensitive, so
    # keep NULL rows explicitly)
    ("cplx_self_eq", lambda d: d.filter(
        (F.col("someComplexArray") == F.col("someComplexArray"))
        | F.col("someComplexArray").isNull())),
    # whole-STRUCT equality in a filter (r10 generative coverage of the r9
    # review class: comparisons require full operands even when only some
    # subfields are otherwise projected)
    ("struct_self_eq", lambda d: d.filter(
        (F.col("struct") == F.col("struct")) | F.col("struct").isNull())),
    # HOF lambda field access as a BARE filter condition — the r11
    # _walk_hof class: the collection must keep the lambda-accessed
    # element fields (before the fix, exists() here skeletonized
    # someComplexArray to array<struct<>>)
    ("hof_exists_col1", lambda d: d.filter(
        F.exists("someComplexArray", lambda x: x["col1"] > 0))),
    ("hof_agg_col2", lambda d: d.filter(
        F.expr("aggregate(someComplexArray, 0L, (acc, x) -> acc + x.col2) > 3"))),
]

_FUZZ_EXPLODES = [
    ("complex", "someComplexArray"),
    ("subarr", "struct.subArray"),
    ("strarr", "someStrArray"),
    ("aoca", "someArrayOfComplexArrays"),
    ("aoa", "someArrayOfArrays"),
]

# (name, expr builder, groupable, numeric)
_FUZZ_BASE_FIELDS = [
    ("someStr", lambda: F.col("someStr"), True, False),
    ("someLong", lambda: F.col("someLong"), True, True),
    ("someDouble", lambda: F.col("someDouble"), False, True),
    ("someBoolean", lambda: F.col("someBoolean"), True, False),
    ("struct_col1", lambda: F.col("struct.col1"), True, True),
    ("whole_struct", lambda: F.col("struct"), False, False),
    ("child_col2", lambda: F.col("nestedStruct.childStruct.col2"), False, True),
    ("ns_str", lambda: F.col("nestedStruct.str"), True, False),
    ("str_array", lambda: F.col("someStrArray"), False, False),
    ("complex_whole", lambda: F.col("someComplexArray"), False, False),
    # F.get (NULL on out-of-bounds), not [..]: ANSI mode throws on indexing
    # an empty array, and the fixture has empty someComplexArray rows
    ("complex0_col2", lambda: F.get("someComplexArray", 0)["col2"], False, True),
    ("aoa_01", lambda: F.get(F.get("someArrayOfArrays", 0), 1), False, True),
    ("sub_array", lambda: F.col("struct.subArray"), False, False),
    # HOF projections (r11 _walk_hof class): transform's alias binds to the
    # lambda BODY (read schema narrows to col2); filter is
    # element-PRESERVING (its output carries the original elements whole,
    # so downstream requires must reach the full element struct)
    ("hof_t_col2", lambda: F.transform("someComplexArray", lambda x: x["col2"]), False, False),
    ("hof_f_elems", lambda: F.filter("someComplexArray", lambda x: x["col1"] > 0), False, False),
    # branch-value + UpdateFields projections (r11 classes): when() with no
    # otherwise carries a NULL-literal branch (fixed shape -> full-require
    # leg); withField's result is the base struct plus the new field
    ("bv_when_struct", lambda: F.when(F.col("someBoolean"), F.col("struct")), False, False),
    ("uf_withfield", lambda: F.col("struct").withField("zz", F.col("someLong")), False, False),
    # constructed struct (r11 StructSynthNode class): descents route by the
    # CONSTRUCTED names; whole-value require fans to every mapped source
    ("cns_struct", lambda: F.struct(F.col("nestedStruct").alias("i"), F.col("someLong").alias("n")), False, False),
    ("carr_two_srcs", lambda: F.array(F.col("nestedStruct.childStruct"), F.get("someComplexArray", 0)), False, False),
]

_FUZZ_EXPLODE_FIELDS = {
    "complex": [
        ("ex_complex_col1", lambda: F.col("ex_complex.col1"), True, True),
        ("ex_complex", lambda: F.col("ex_complex"), False, False),
    ],
    "subarr": [("ex_subarr", lambda: F.col("ex_subarr"), True, True)],
    "strarr": [("ex_strarr", lambda: F.col("ex_strarr"), True, False)],
    "aoca": [
        ("ex_aoca_col2", lambda: F.col("ex_aoca.col2"), False, False),
        ("ex_aoca_col3", lambda: F.col("ex_aoca.col3"), True, True),
    ],
    "aoa": [("ex_aoa", lambda: F.col("ex_aoa"), False, False)],
    # dependent explode of an exploded struct's array field (ex_aoca.col2,
    # array<long>) — drawn only when the "aoca" explode precedes it
    "aoca_chain": [("ex_aoca_chain", lambda: F.col("ex_aoca_chain"), True, True)],
    # inline_outer(someComplexArray) emits one top-level column PER element
    # field (r10 generative coverage of the r9 Inline per-field aliasing
    # class) — names are the element's own field names
    "inline": [
        ("in_col1", lambda: F.col("col1"), True, True),
        ("in_col2", lambda: F.col("col2"), False, True),
    ],
}


def _canon_rows(df) -> list[str]:
    return sorted(
        _json.dumps(r.asDict(recursive=True), sort_keys=True, default=str)
        for r in df.collect()
    )


# ---------------------------------------------- upstream-engine-bug policy
#
# VERDICT r8 #2: the fuzz found a plan whose FULL-schema leg crashes inside
# Spark itself (GenerateExec codegen fails to bind a NestedColumnAliasing
# `_extract_*` alias — INTERNAL_ERROR, upstream, not an analyzer defect)
# while the pruned re-read executes fine. The invariant needs an explicit
# policy for that case: record the plan to a committed corpus, prove the
# pruned leg still runs, and assume() past the example — the fuzz keeps
# hunting OUR bugs without going red on Spark's. The known example is
# pinned separately (test_pruned_read_survives_upstream_generate_codegen_hole)
# so the workaround itself is regression-tested.

import os as _os

_UPSTREAM_CORPUS = _os.path.join(
    _os.path.dirname(_os.path.abspath(__file__)), "upstream_bugs", "corpus.jsonl"
)


def _record_upstream_bug(plan: dict, error: str, pruned_leg_ok: bool) -> None:
    """Append (deduped by plan) to the upstream-bug corpus so every engine
    INTERNAL_ERROR the fuzz skips leaves an auditable artifact."""
    entry = {
        "plan": plan,
        "error": error[:400],
        "pruned_leg_ok": pruned_leg_ok,
        "spark": "4.1.2",
    }

    def _key(p: dict) -> str:
        # the derived schema is diagnostic output, not part of the plan
        # identity — keying on it would re-append the same plan whenever
        # the analyzer's output formatting changes
        return _json.dumps({k: v for k, v in p.items() if k != "pruned_schema"},
                           sort_keys=True)

    def _keys_on_disk():
        # tolerate malformed lines (truncated append from a killed run):
        # a corpus parse error must never turn an upstream-bug SKIP into a
        # hard failure — worst case the entry is re-appended
        try:
            with open(_UPSTREAM_CORPUS) as f:
                for ln in f:
                    if ln.strip():
                        try:
                            yield _key(_json.loads(ln)["plan"])
                        except Exception:
                            continue
        except FileNotFoundError:
            return

    key = _key(plan)
    _os.makedirs(_os.path.dirname(_UPSTREAM_CORPUS), exist_ok=True)
    if key in set(_keys_on_disk()):
        return
    with open(_UPSTREAM_CORPUS, "a") as f:
        f.write(_json.dumps(entry, sort_keys=True) + "\n")


def _generate(df):
    """SchemaOnRead.generate that fails the example on a fallback: with the
    raise switch off (tools/fuzz_hunt.py) a walker failure would otherwise
    return full schemas and pass the pruned-equals-full check."""
    from score_spark.schema_on_read.generator import SchemaOnRead

    sor = SchemaOnRead.generate(df)
    assert sor.error is None, f"analysis fell back to full schemas: {sor.error}"
    return sor


def _assert_pruned_matches_full(pruned_df, full_df, plan: dict) -> None:
    """The fuzz invariant, with the upstream-crash policy: if the FULL
    (reference) leg dies on a Spark INTERNAL_ERROR, that is an engine bug
    the analyzer cannot cause — record it, check the pruned leg executes
    (our read schemas routinely WORK AROUND these holes by removing the
    nested-aliasing opportunity), and skip the example. Any other full-leg
    failure, and any pruned-leg failure when full succeeds, stays a hard
    test failure."""
    try:
        full_rows = _canon_rows(full_df)
    except Exception as ex:
        if "INTERNAL_ERROR" in str(ex):
            try:
                _canon_rows(pruned_df)
                pruned_ok = True
            except Exception:
                pruned_ok = False
            _record_upstream_bug(plan, str(ex), pruned_ok)
            assume(False)
        raise
    assert _canon_rows(pruned_df) == full_rows, f"pruned re-read diverged; plan={plan}"


@settings(max_examples=50, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(data=st.data())
def test_pruned_reread_equals_full_for_random_plans(spark, fuzz_paths, data):
    from tests.fixtures_nested import SAMPLE_SCHEMA

    fmt = data.draw(st.sampled_from(["parquet", "json"]), label="format")
    preds = data.draw(
        st.lists(st.sampled_from(_FUZZ_PREDICATES), max_size=2,
                 unique_by=lambda p: p[0]),
        label="filters",
    )
    explodes = data.draw(
        st.lists(st.sampled_from(_FUZZ_EXPLODES), max_size=2,
                 unique_by=lambda e: e[0]),
        label="explodes",
    )
    # chained (dependent) explode — the ref test :449-472 shape: exploding
    # an already-EXPLODED struct's array field. ex_aoca.col2 is the one
    # array-typed field reachable only through an explode in this fixture.
    chain_aoca = any(n == "aoca" for n, _ in explodes) and data.draw(
        st.booleans(), label="chain_explode"
    )
    if chain_aoca:
        explodes = list(explodes) + [("aoca_chain", "ex_aoca.col2")]
    # Inline is a MULTI-column generator (one output per element field) —
    # the r9 per-field aliasing class; drawn independently of the explodes
    do_inline = data.draw(st.booleans(), label="inline")
    if do_inline:
        explodes = list(explodes) + [("inline", "someComplexArray")]
    candidates = list(_FUZZ_BASE_FIELDS)
    for name, _ in explodes:
        candidates += _FUZZ_EXPLODE_FIELDS[name]
    fields = data.draw(
        st.lists(st.sampled_from(candidates), min_size=1, max_size=4,
                 unique_by=lambda f: f[0]),
        label="projection",
    )
    do_window = data.draw(st.booleans(), label="window")
    # explicit ROWS frame on the window (ref :1126-1159's frame class).
    # Only min() rides the frame: a running min ordered BY the aggregated
    # column is per-row deterministic under ties, unlike count/sum whose
    # prefix values depend on tie order while other projected columns differ
    use_frame = do_window and data.draw(st.booleans(), label="rows_frame")
    do_agg = data.draw(st.booleans(), label="aggregate")
    do_dedup = data.draw(st.booleans(), label="dedup")
    do_sort = data.draw(st.booleans(), label="sort")
    # CollectMetrics (df.observe) carries its aggregates in an expression
    # FIELD — the r10 under-keep class, now drawn generatively
    do_observe = data.draw(st.booleans(), label="observe")

    def pipeline(df):
        from pyspark.sql.window import Window

        for _, fn in preds:
            df = fn(df)
        for name, col in explodes:
            if name == "inline":
                df = df.select("*", F.inline_outer(F.col(col)))
            else:
                df = df.withColumn(f"ex_{name}", F.explode_outer(F.col(col)))
        df = df.select(*[fn().alias(name) for name, fn, _, _ in fields])
        if do_observe:
            # metric over the first projected column: min() routes through
            # the value-comparison set, so a struct/array metric operand
            # must stay full (r10 CollectMetrics class)
            df = df.observe(
                "fz_obs", F.count(F.lit(1)).alias("fz_n"),
                F.min(df.columns[0]).alias("fz_min"),
            )
        gcols = [n for n, _, g, _ in fields if g]
        ncols = [n for n, _, _, num in fields if num]
        # window stage: partition/order keys are mandatory-full in the
        # analyzer; partitioning by whole_struct exercises that rule on a
        # complex column. min/count over Spark's default RANGE frame are
        # value-determined, so ties can't make the compare flaky.
        wpart = (gcols or (["whole_struct"] if any(n == "whole_struct" for n, *_ in fields) else []))
        if do_window and wpart:
            w = Window.partitionBy(wpart[0])
            if ncols:
                ow = w.orderBy(ncols[0])
                if use_frame:
                    ow = ow.rowsBetween(Window.unboundedPreceding, Window.currentRow)
                df = df.withColumn("w_min", F.min(ncols[0]).over(ow))
            else:
                df = df.withColumn("w_min", F.count(F.lit(1)).over(w))
        if do_agg and gcols:
            aggs = [F.count(F.lit(1)).alias("cnt")]
            if ncols:
                aggs.append(F.min(ncols[0]).alias("mn"))
            if "w_min" in df.columns:
                aggs.append(F.max("w_min").alias("mx_w"))
            if any(n == "whole_struct" for n, *_ in fields):
                # min over a STRUCT orders by every field — the r9
                # require-operands class applied to aggregates
                aggs.append(F.min("whole_struct").alias("mn_s"))
            df = df.groupBy(*gcols[:1]).agg(*aggs)
        if do_dedup:
            df = df.dropDuplicates()
        if do_sort:
            df = df.orderBy(df.columns[0])
        return df

    path = fuzz_paths[fmt]

    def read(schema):
        r = spark.read.schema(schema)
        if fmt == "json":
            return r.option("multiLine", "true").json(path)
        return r.parquet(path)

    full_df = pipeline(read(SAMPLE_SCHEMA))
    pruned_schema = _generate(full_df).for_paths(path)
    pruned_df = pipeline(read(pruned_schema))
    _assert_pruned_matches_full(pruned_df, full_df, {
        "test": "single_source", "format": fmt,
        "filters": [n for n, _ in preds],
        "explodes": [n for n, _ in explodes],
        "projection": [n for n, *_ in fields],
        "window": do_window, "rows_frame": bool(use_frame), "agg": do_agg,
        "observe": do_observe,
        "dedup": do_dedup, "sort": do_sort,
        "pruned_schema": pruned_schema.simpleString(),
    })


def test_pruned_read_survives_upstream_generate_codegen_hole(spark, fuzz_paths):
    """Pinned from the fuzz's r8 falsifying example (now in
    tests/upstream_bugs/corpus.jsonl): on Spark 4.1.2, a full-schema read
    with two explode_outer generators plus a nested-field projection makes
    NestedColumnAliasing introduce `_extract_*` aliases that GenerateExec
    fails to bind — `[INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND] Could not find
    _extract_str#...` at execution. The schema-on-read PRUNED re-read of the
    identical query executes fine: the minimal reader schema leaves nothing
    for the nested-aliasing rule to extract, so the broken plan shape never
    forms. That makes the pruned path a working WORKAROUND for the upstream
    hole — pinned here so a regression in our read-schema derivation that
    re-exposes the crash turns the suite red. If a future Spark fixes the
    bug, both legs run and must agree row-for-row. Report text:
    tools/UPSTREAM_SPARK_BUG.md."""
    from tests.fixtures_nested import SAMPLE_SCHEMA

    def pipeline(df):
        df = df.withColumn("ex_subarr", F.explode_outer(F.col("struct.subArray")))
        df = df.withColumn("ex_aoca", F.explode_outer(F.col("someArrayOfComplexArrays")))
        return df.select(
            F.col("nestedStruct.childStruct.col2").alias("child_col2"),
            F.col("nestedStruct.str").alias("ns_str"),
            F.col("ex_subarr").alias("ex_subarr"),
            F.col("ex_aoca.col2").alias("ex_aoca_col2"),
        )

    path = fuzz_paths["parquet"]
    full_df = pipeline(spark.read.schema(SAMPLE_SCHEMA).parquet(path))
    pruned_schema = _generate(full_df).for_paths(path)
    pruned_df = pipeline(spark.read.schema(pruned_schema).parquet(path))
    pruned_rows = _canon_rows(pruned_df)  # the workaround leg must execute
    assert len(pruned_rows) > 0
    try:
        full_rows = _canon_rows(full_df)
    except Exception as ex:  # the upstream hole, still present in 4.1.2
        assert "INTERNAL_ERROR" in str(ex), f"unexpected full-leg failure: {ex}"
        return
    assert pruned_rows == full_rows  # upstream fixed: the invariant must hold


@settings(max_examples=30, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(data=st.data())
def test_pruned_reread_equals_full_for_random_multi_source_plans(spark, fuzz_paths, data):
    """The multi-relation half of the fuzz invariant: random set-ops
    (union / intersect / except — the r7 compared-field pruning class),
    equi-joins across a parquet source and a JSON source of the same
    shape, and CTE-through-temp-view plans (the CTERelationRef class).
    Both sources get their own derived read schema; the rebuilt query must
    match row-for-row. The parquet branch optionally goes through .cache()
    (ref :1162-1188's InMemoryRelation class) — the analyzer must trace
    THROUGH the cached plan to the file relation beneath."""
    from tests.fixtures_nested import SAMPLE_SCHEMA

    shape = data.draw(
        st.sampled_from(["union", "unionByName", "intersect", "except", "join", "cte"]),
        label="shape",
    )
    cache_a = data.draw(st.booleans(), label="cache_parquet_branch")
    fields = data.draw(
        st.lists(st.sampled_from(_FUZZ_BASE_FIELDS), min_size=1, max_size=3,
                 unique_by=lambda f: f[0]),
        label="projection",
    )
    preds_a = data.draw(
        st.lists(st.sampled_from(_FUZZ_PREDICATES), max_size=1), label="filters_a"
    )
    preds_b = data.draw(
        st.lists(st.sampled_from(_FUZZ_PREDICATES), max_size=1), label="filters_b"
    )
    do_agg = data.draw(st.booleans(), label="aggregate")
    # bare mode: NO per-branch Project before the union — positional
    # whole-row set-ops leave untouched branches' trie nodes pending, the
    # class where a branch-local filter touch must materialize-and-mirror
    # into the sibling branches (r8 review find, fixed in
    # _merge_setop_groups; unionByName always inserts Projects, masking it)
    bare_union = shape == "union" and data.draw(st.booleans(), label="bare_union")
    # empty-relation branch (r10 generative coverage of the r9 identity
    # class): the second source becomes a ZERO-FILE parquet directory — the
    # empty relation must keep its own identity (never shadow the real one
    # under for_paths) and the set-op/join must still match row-for-row.
    # cte never reads the second source, so the draw is meaningless there.
    empty_b = shape != "cte" and data.draw(st.booleans(), label="empty_branch")
    b_path = fuzz_paths["empty"] if empty_b else fuzz_paths["json"]

    def read(which, schema):
        r = spark.read.schema(schema)
        if which == "json":
            if empty_b:
                return r.parquet(fuzz_paths["empty"])
            return r.option("multiLine", "true").json(fuzz_paths["json"])
        return r.parquet(fuzz_paths["parquet"])

    cached_frames = []

    def pipeline(schema_pq, schema_js):
        a, b = read("parquet", schema_pq), read("json", schema_js)
        for _, fn in preds_a:
            a = fn(a)
        for _, fn in preds_b:
            b = fn(b)
        if cache_a:
            a = a.cache()
            cached_frames.append(a)
        sel = lambda d: d.select(*[fn().alias(name) for name, fn, _, _ in fields])  # noqa: E731
        if shape == "union":
            if bare_union:
                df = a.union(b).select(*[fn().alias(name) for name, fn, _, _ in fields])
            else:
                df = sel(a).union(sel(b))
        elif shape == "unionByName":
            df = sel(a).unionByName(sel(b))
        elif shape == "intersect":
            df = sel(a).intersect(sel(b))
        elif shape == "except":
            df = sel(a).exceptAll(sel(b))
        elif shape == "join":
            left = a.select(F.col("someLong").alias("k"),
                            *[fn().alias(f"l_{name}") for name, fn, _, _ in fields])
            right = b.select(F.col("someLong").alias("k"),
                             *[fn().alias(f"r_{name}") for name, fn, _, _ in fields])
            df = left.join(right, "k")
        else:  # cte: temp view over the parquet source, SQL WITH on top
            sel(a).createOrReplaceTempView("fuzz_cte_v")
            cols = ", ".join(name for name, _, _, _ in fields)
            df = spark.sql(
                f"WITH c AS (SELECT {cols} FROM fuzz_cte_v) SELECT {cols} FROM c"
            )
        if do_agg:
            gcols = [c for c in df.columns if not c.endswith("struct")][:1]
            if gcols:
                df = df.groupBy(*gcols).agg(F.count(F.lit(1)).alias("cnt"))
        return df

    full_df = pipeline(SAMPLE_SCHEMA, SAMPLE_SCHEMA)
    sor = _generate(full_df)

    def derived(path):
        try:
            return sor.for_paths(path)
        except KeyError:
            # ONLY the single-source cte shape legitimately never reads the
            # JSON file; for every two-source shape a missing relation IS
            # the regression this fuzz exists to catch (review r8: a
            # blanket fallback would mask a lost relation and trivially
            # pass), so re-raise
            if shape == "cte" and path == fuzz_paths["json"]:
                return SAMPLE_SCHEMA
            raise

    try:
        pruned_df = pipeline(derived(fuzz_paths["parquet"]), derived(b_path))
        _assert_pruned_matches_full(pruned_df, full_df, {
            "test": "multi_source", "shape": shape, "cache": cache_a,
            "filters_a": [n for n, _ in preds_a],
            "filters_b": [n for n, _ in preds_b],
            "projection": [n for n, *_ in fields], "agg": do_agg,
            "bare_union": bare_union, "empty_branch": empty_b,
        })
    finally:
        for c in cached_frames:
            c.unpersist()


# ------------------------------------------------- SQL-surface fuzz (r9)
#
# The §2B SQL constructs (LATERAL VIEW explode, named WINDOW clauses,
# GROUP BY ordinals, CTEs over temp views) each have a golden, but the
# API-built fuzzes above never exercise the SQL parser's plan shapes —
# SubqueryAlias/View wrappers, SQL-generated Generate nodes, ordinal
# resolution, WindowSpecReference. Same invariant: rebuild the temp view on
# the derived read schema and the SQL query must return row-for-row the
# same result.

_SQL_FIELDS = [
    # (alias, SQL expression, groupable, numeric)
    ("someStr", "someStr", True, False),
    ("someLong", "someLong", True, True),
    ("someBoolean", "someBoolean", True, False),
    ("struct_col1", "`struct`.col1", True, True),
    ("child_col2", "nestedStruct.childStruct.col2", True, True),
    ("ns_str", "nestedStruct.str", True, False),
    ("whole_struct", "`struct`", False, False),
    ("str_array", "someStrArray", False, False),
]

_SQL_EXPLODES = {
    # name -> (LATERAL VIEW source, generated alias, extra fields)
    "strarr": ("someStrArray", "ex_str",
               [("ex_str", "ex_str", True, False)]),
    "complex": ("someComplexArray", "ex_c",
                [("ex_c_col1", "ex_c.col1", True, True)]),
    "subarr": ("`struct`.subArray", "ex_sub",
               [("ex_sub", "ex_sub", True, True)]),
}

_SQL_PREDICATES = [
    "someLong > 0",
    "someBoolean",
    "(someStr IS NULL OR someStr != 'zzz')",
    "`struct`.col1 IS NOT NULL",
    # bare HOF condition — the r11 lambda-binding class on the SQL surface
    "exists(someComplexArray, x -> x.col1 > 0)",
    # field access THROUGH a branch-value head — resolves via the
    # require-children backstop (r11 branch-value class, SQL surface)
    "coalesce(`struct`, `struct`).col1 IS NOT NULL",
    # field access through a CONSTRUCTED struct (r11 StructSynthNode class)
    "named_struct('a', nestedStruct, 'b', someStr).a.str IS NOT NULL",
]


@settings(max_examples=30, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(data=st.data())
def test_pruned_reread_equals_full_for_random_sql_plans(spark, fuzz_paths, data):
    from tests.fixtures_nested import SAMPLE_SCHEMA

    fmt = data.draw(st.sampled_from(["parquet", "json"]), label="format")
    explodes = data.draw(
        st.lists(st.sampled_from(sorted(_SQL_EXPLODES)), max_size=2, unique=True),
        label="explodes",
    )
    candidates = list(_SQL_FIELDS)
    for e in explodes:
        candidates += _SQL_EXPLODES[e][2]
    fields = data.draw(
        st.lists(st.sampled_from(candidates), min_size=1, max_size=4,
                 unique_by=lambda f: f[0]),
        label="projection",
    )
    pred = data.draw(st.sampled_from([None] + _SQL_PREDICATES), label="where")
    mode = data.draw(
        st.sampled_from(["plain", "group", "window", "cte", "join2", "union2",
                         "inline", "stack", "subq_in", "subq_scalar",
                         "subq_case", "subq_join"]),
        label="mode",
    )

    lateral = " ".join(
        f"LATERAL VIEW OUTER explode({_SQL_EXPLODES[e][0]}) t_{e} AS {_SQL_EXPLODES[e][1]}"
        for e in explodes
    )
    where = f" WHERE {pred}" if pred else ""
    sel = ", ".join(f"{expr} AS {name}" for name, expr, _, _ in fields)
    gfields = [(n, e) for n, e, g, _ in fields if g]
    nfields = [(n, e) for n, e, _, num in fields if num]
    # two-view SQL modes use base (non-exploded) fields only — LATERAL VIEW
    # on a joined/unioned FROM is a different construct than these draws
    base_fields = [f for f in fields if not f[0].startswith("ex_")] or [_SQL_FIELDS[0]]

    if mode == "join2":
        # SQL inner equi-join across the parquet view and the json view —
        # the cross-source two-relation class (ref :920-946, :1246-1275)
        # through the PARSER (vs the API-built multi-source fuzz above)
        sel_a = ", ".join(f"a.{expr} AS a_{name}" for name, expr, _, _ in base_fields)
        sel_b = ", ".join(f"b.{expr} AS b_{name}" for name, expr, _, _ in base_fields[:2])
        q = (f"SELECT a.someLong AS k, {sel_a}, {sel_b} "
             f"FROM fuzz_sql_v a JOIN fuzz_sql_v2 b ON a.someLong = b.someLong")
    elif mode == "union2":
        # per-branch projection + an ASYMMETRIC branch filter: the first
        # branch's WHERE must prune per-branch without leaking into the
        # second view's schema (the per-branch pruning class, ref :559-603)
        sel_u = ", ".join(f"{expr} AS {name}" for name, expr, _, _ in base_fields)
        q = (f"SELECT {sel_u} FROM fuzz_sql_v{where} "
             f"UNION ALL SELECT {sel_u} FROM fuzz_sql_v2")
    elif mode == "group" and gfields:
        gname, gexpr = gfields[0]
        aggs = "count(1) AS cnt"
        if nfields:
            aggs += f", min({nfields[0][1]}) AS mn"
        # GROUP BY ordinal — the resolved-ordinal class (ref :736-803)
        q = (f"SELECT {gexpr} AS {gname}, {aggs} "
             f"FROM fuzz_sql_v {lateral}{where} GROUP BY 1")
    elif mode == "window":
        # named WINDOW clause (ref :339-359); min over the default RANGE
        # frame is value-determined, so someLong ties stay deterministic
        q = (f"SELECT {sel}, min(someLong) OVER w AS w_min "
             f"FROM fuzz_sql_v {lateral}{where} "
             f"WINDOW w AS (PARTITION BY someBoolean ORDER BY someLong)")
    elif mode == "cte":
        names = ", ".join(n for n, *_ in fields)
        # ORDER BY ordinal in the outer select exercises Sort-over-CTE
        # (mandatory-full order keys even for complex first columns)
        q = (f"WITH c AS (SELECT {sel} FROM fuzz_sql_v {lateral}{where}) "
             f"SELECT {names} FROM c ORDER BY 1")
    elif mode == "inline":
        # LATERAL VIEW inline: a multi-column generator through the PARSER
        # (r10 generative coverage of the r9 Inline per-field aliasing
        # class); project one generated field + the drawn base fields
        base_sel = ", ".join(
            f"{expr} AS {name}" for name, expr, _, _ in base_fields)
        q = (f"SELECT {base_sel}, t_in.col1 AS in_col1, t_in.col2 AS in_col2 "
             f"FROM fuzz_sql_v "
             f"LATERAL VIEW OUTER inline(someComplexArray) t_in{where}")
    elif mode == "stack":
        # stack() resolves to an UNKNOWN generator for the analyzer — the
        # over-keep backstop class (r9 review); both stacked expressions
        # must survive in the read schema
        q = (f"SELECT someStr, "
             f"stack(2, someLong, nestedStruct.childStruct.col2) AS sv "
             f"FROM fuzz_sql_v{where}")
    elif mode == "subq_in":
        # whole-struct IN (subquery): the r10 subquery-plan class — the
        # inner plan lives in an expression FIELD and its output is
        # value-compared, so `struct` must stay full on BOTH sides
        q = (f"SELECT {sel} FROM fuzz_sql_v {lateral} "
             f"WHERE `struct` IN (SELECT `struct` FROM fuzz_sql_v)"
             + (f" AND {pred}" if pred else ""))
    elif mode == "subq_case":
        # IN-subquery nested inside a CASE WHEN projection (not a WHERE):
        # the subquery expression reaches the walker through the Project's
        # conditional columns rather than a Filter condition (r10)
        q = (f"SELECT {sel}, CASE WHEN `struct` IN "
             f"(SELECT `struct` FROM fuzz_sql_v) THEN 1 ELSE 0 END AS flag "
             f"FROM fuzz_sql_v {lateral}{where}")
    elif mode == "subq_join":
        # correlated EXISTS inside a JOIN CONDITION — the subquery rides
        # the Join node's mandatory condition walk (r10)
        q = ("SELECT a.someLong AS k FROM fuzz_sql_v a JOIN fuzz_sql_v b "
             "ON a.someLong = b.someLong AND EXISTS "
             "(SELECT 1 FROM fuzz_sql_v i "
             " WHERE i.nestedStruct.childStruct.col2 = a.someLong)")
    elif mode == "subq_scalar":
        # scalar subquery over the same view: inner plan visited, precise
        # subfield pruning (r10)
        q = (f"SELECT {sel}, "
             f"(SELECT min(nestedStruct.childStruct.col2) FROM fuzz_sql_v) AS m "
             f"FROM fuzz_sql_v {lateral}{where}")
    else:
        q = f"SELECT {sel} FROM fuzz_sql_v {lateral}{where}"

    path = fuzz_paths[fmt]
    other = "json" if fmt == "parquet" else "parquet"

    def read(which, schema):
        r = spark.read.schema(schema)
        p = fuzz_paths[which]
        return (r.option("multiLine", "true").json(p) if which == "json"
                else r.parquet(p))

    def run(schema_main, schema_other=None):
        read(fmt, schema_main).createOrReplaceTempView("fuzz_sql_v")
        if schema_other is not None:
            read(other, schema_other).createOrReplaceTempView("fuzz_sql_v2")
        return spark.sql(q)

    if mode in ("join2", "union2"):
        full_df = run(SAMPLE_SCHEMA, SAMPLE_SCHEMA)
        sor = _generate(full_df)
        pruned_main = sor.for_paths(path)
        pruned_df = run(pruned_main, sor.for_paths(fuzz_paths[other]))
        pruned_simple = pruned_main.simpleString()
    else:
        full_df = run(SAMPLE_SCHEMA)
        pruned_main = _generate(full_df).for_paths(path)
        pruned_df = run(pruned_main)
        pruned_simple = pruned_main.simpleString()
    _assert_pruned_matches_full(pruned_df, full_df, {
        "test": "sql_surface", "format": fmt, "sql": q,
        "pruned_schema": pruned_simple,
    })


# map / deep-repeated-struct fuzz over the crazy fixture: the map-value
# class (keys never pruned), chained explodes, and deep GetArrayStructFields
# paths — the shapes the reference's crazy.json e2e suite exercises

_CRAZY_FIELDS = [
    ("someStr", lambda: F.col("someStr"), True),
    ("map_whole", lambda: F.col("mapOfArray"), False),
    ("map_key_val1", lambda: F.get(F.col("mapOfArray")["someKey"], 0)["val1"], True),
    ("map_key_val3", lambda: F.get(F.col("mapOfArray")["otherKey"], 0)["val3"], True),
    ("just_a_string", lambda: F.col("crazyStruct.justAString"), True),
    ("repeated_whole", lambda: F.col("crazyStruct.repeatedStuff"), False),
    ("repeated_bools", lambda: F.col("crazyStruct.repeatedStuff.justABool"), False),
    # NOTE no dotted innerField1 here: repeatedStuff.anotherRepeatedStuff is
    # array<array<struct>> and a further dotted field is an invalid index op
    # in Spark — that path is reachable only through an explode (below)
    ("repeated_long_arrays", lambda: F.col("crazyStruct.repeatedStuff.longArray"), False),
]

_CRAZY_EXPLODES = [
    ("rep", "crazyStruct.repeatedStuff"),
    ("mapval", "mapOfArray.someKey"),
]

_CRAZY_EXPLODE_FIELDS = {
    "rep": [
        ("ex_rep_bool", lambda: F.col("ex_rep.justABool"), True),
        ("ex_rep_longs", lambda: F.col("ex_rep.longArray"), False),
        ("ex_rep_inner2", lambda: F.col("ex_rep.anotherRepeatedStuff.innerField2"), False),
    ],
    "mapval": [
        ("ex_mapval_val2", lambda: F.col("ex_mapval.val2"), True),
        ("ex_mapval", lambda: F.col("ex_mapval"), False),
    ],
}


@pytest.fixture(scope="session")
def crazy_fuzz_paths(spark, tmp_path_factory):
    """crazy-schema rows with an absent map key, empty repeatedStuff, and
    NULL branches — written as parquet and multiline JSON. Rows from the
    shared builder (see fuzz_paths)."""
    from tests.fixtures_nested import CRAZY_MAP_SCHEMA, crazy_fuzz_rows

    rows = crazy_fuzz_rows()
    base = tmp_path_factory.mktemp("crazy_fuzz")
    pq = str(base / "crazy.parquet")
    js = str(base / "crazy.json")
    spark.createDataFrame(rows, CRAZY_MAP_SCHEMA).coalesce(1).write.mode("overwrite").parquet(pq)
    with open(js, "w") as f:
        _json.dump(rows, f, indent=1, default=str)
    return {"parquet": pq, "json": js}


@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(data=st.data())
def test_pruned_reread_equals_full_for_random_map_plans(spark, crazy_fuzz_paths, data):
    from tests.fixtures_nested import CRAZY_MAP_SCHEMA

    fmt = data.draw(st.sampled_from(["parquet", "json"]), label="format")
    explodes = data.draw(
        st.lists(st.sampled_from(_CRAZY_EXPLODES), max_size=2, unique_by=lambda e: e[0]),
        label="explodes",
    )
    candidates = list(_CRAZY_FIELDS)
    for name, _ in explodes:
        candidates += _CRAZY_EXPLODE_FIELDS[name]
    fields = data.draw(
        st.lists(st.sampled_from(candidates), min_size=1, max_size=4,
                 unique_by=lambda f: f[0]),
        label="projection",
    )
    filter_on_map = data.draw(st.booleans(), label="filter_on_map")
    do_agg = data.draw(st.booleans(), label="aggregate")

    def pipeline(df):
        if filter_on_map:
            df = df.filter(
                F.col("mapOfArray").isNull()
                | F.get(F.col("mapOfArray")["someKey"], 0)["val1"].isNotNull()
                | F.lit(True)
            )
        for name, col in explodes:
            df = df.withColumn(f"ex_{name}", F.explode_outer(F.col(col)))
        df = df.select(*[fn().alias(name) for name, fn, _ in fields])
        if do_agg:
            gcols = [n for n, _, g in fields if g]
            if gcols:
                df = df.groupBy(*gcols[:1]).agg(F.count(F.lit(1)).alias("cnt"))
        return df

    path = crazy_fuzz_paths[fmt]

    def read(schema):
        r = spark.read.schema(schema)
        if fmt == "json":
            return r.option("multiLine", "true").json(path)
        return r.parquet(path)

    full_df = pipeline(read(CRAZY_MAP_SCHEMA))
    pruned_schema = _generate(full_df).for_paths(path)
    pruned_df = pipeline(read(pruned_schema))
    _assert_pruned_matches_full(pruned_df, full_df, {
        "test": "map_plans", "format": fmt,
        "explodes": [n for n, _ in explodes],
        "projection": [n for n, *_ in fields],
        "filter_on_map": filter_on_map, "agg": do_agg,
        "pruned_schema": pruned_schema.simpleString(),
    })


# ------------------------------------------------- streaming prune fuzz (r11)
#
# VERDICT r10 "Next round" #6: the streaming schema-on-read pattern (derive
# the pruned schema from the BATCH twin over the same path, hand it to
# readStream.schema — README "STREAMING sources") was example-tested only.
# This dimension draws random pipelines from the same strategy tables as the
# batch fuzz, restricted to streaming-executable shapes (no window/sort;
# aggregation runs in complete mode), and checks PRUNE-EQUIVALENCE: the
# streamed result over the pruned schema equals the batch result over the
# full schema. That covers both halves of the pattern — the derivation (a
# wrong schema changes rows or breaks analysis) and streaming's acceptance
# of the derived schema.

_STREAM_FUZZ_SEQ = [0]  # memory-sink table names must be unique per example


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(data=st.data())
def test_streaming_pruned_schema_equals_batch_for_random_plans(spark, fuzz_paths, data):
    import shutil
    import tempfile

    from tests.fixtures_nested import SAMPLE_SCHEMA
    from score_spark.streaming.windows import run_stream_once

    preds = data.draw(
        st.lists(st.sampled_from(_FUZZ_PREDICATES), max_size=2,
                 unique_by=lambda p: p[0]),
        label="filters",
    )
    explodes = data.draw(
        st.lists(st.sampled_from(_FUZZ_EXPLODES), max_size=2,
                 unique_by=lambda e: e[0]),
        label="explodes",
    )
    candidates = list(_FUZZ_BASE_FIELDS)
    for name, _ in explodes:
        candidates += _FUZZ_EXPLODE_FIELDS[name]
    fields = data.draw(
        st.lists(st.sampled_from(candidates), min_size=1, max_size=3,
                 unique_by=lambda f: f[0]),
        label="projection",
    )
    do_agg = data.draw(st.booleans(), label="aggregate")

    def pipeline(df):
        for _, fn in preds:
            df = fn(df)
        for name, col in explodes:
            df = df.withColumn(f"ex_{name}", F.explode_outer(F.col(col)))
        df = df.select(*[fn().alias(name) for name, fn, _, _ in fields])
        gcols = [n for n, _, g, _ in fields if g]
        ncols = [n for n, _, _, num in fields if num]
        if do_agg and gcols:
            aggs = [F.count(F.lit(1)).alias("cnt")]
            if ncols:
                aggs.append(F.min(ncols[0]).alias("mn"))
            df = df.groupBy(*gcols[:1]).agg(*aggs)
        return df

    path = fuzz_paths["parquet"]
    batch_df = pipeline(spark.read.schema(SAMPLE_SCHEMA).parquet(path))
    pruned_schema = _generate(batch_df).for_paths(path)

    plan = {
        "test": "streaming", "filters": [n for n, _ in preds],
        "explodes": [n for n, _ in explodes],
        "projection": [n for n, *_ in fields], "agg": do_agg,
        "pruned_schema": pruned_schema.simpleString(),
    }
    try:
        want = _canon_rows(batch_df)
    except Exception as ex:
        # same upstream-crash policy as the batch fuzz: the full-schema
        # reference leg dying on a Spark INTERNAL_ERROR is an engine bug
        if "INTERNAL_ERROR" in str(ex):
            _record_upstream_bug(plan, str(ex), pruned_leg_ok=False)
            assume(False)
        raise

    _STREAM_FUZZ_SEQ[0] += 1
    table = f"fz_stream_{_STREAM_FUZZ_SEQ[0]}"
    ck = tempfile.mkdtemp(prefix="fz_stream_ck_")
    try:
        # aggregation needs complete mode (no event-time watermark here);
        # map-only pipelines stream in append mode — both production shapes
        mode = "complete" if (do_agg and any(g for _, _, g, _ in fields)) else "append"
        q = run_stream_once(
            spark, path, pipeline, pruned_schema,
            checkpoint=ck, table_name=table, output_mode=mode,
        )
        q.awaitTermination(120)
        got = _canon_rows(spark.table(table))
    finally:
        shutil.rmtree(ck, ignore_errors=True)
        spark.catalog.dropTempView(table)
    assert got == want, f"streamed pruned result diverged from batch; plan={plan}"


# ----------------------------------------------- typed expression grammar

# The r11 leg-2 sweep fixed ten expression-channel loss classes found by
# hand probes; this dimension NESTS those constructs generatively. A typed
# grammar over {STRUCT, ARRSTRUCT, PRIM, BOOL} draws a SPEC TREE first
# (plain tuples — drawn exactly once), then a deterministic builder turns
# the spec into a Column for EACH leg, so the full and pruned pipelines are
# construction-identical. Any composition whose pruned re-read diverges
# from the full read is a real bug by the repo's contract.

_GRAMMAR = {
    "STRUCT": (["childstruct", "complex0"],
               ["coalesce_s", "when_s", "withfield", "struct_ctor", "elem_at", "elem_at_map"]),
    "ARRSTRUCT": (["complexarray"],
                  ["carr", "concat_a", "hof_filter", "slice_a", "when_a", "map_values_m"]),
    # no map leaf in the fixture: every MAP is CONSTRUCTED (create_map over
    # a fixed literal key — map_concat is deliberately absent, duplicate
    # keys throw under the default EXCEPTION dedup policy)
    "MAP": ([], ["cmap", "tvals"]),
    "PRIM": (["somelong", "litlong", "structcol1"],
             ["hof_agg", "size_a", "json_len", "elem_field"]),
    "BOOL": (["somebool", "longpos"],
             ["hof_exists", "json_contains", "struct_self_eq2"]),
}

_GRAMMAR_ARITY = {
    # op -> child categories (children drawn recursively at depth-1)
    "coalesce_s": ("STRUCT", "STRUCT"), "when_s": ("BOOL", "STRUCT", "STRUCT"),
    "withfield": ("STRUCT", "PRIM"), "struct_ctor": ("PRIM", "PRIM"),
    "elem_at": ("ARRSTRUCT",),
    "carr": ("STRUCT", "STRUCT"), "concat_a": ("ARRSTRUCT", "ARRSTRUCT"),
    "hof_filter": ("ARRSTRUCT",), "slice_a": ("ARRSTRUCT",), "when_a": ("BOOL", "ARRSTRUCT", "ARRSTRUCT"),
    "hof_agg": ("ARRSTRUCT",), "size_a": ("ARRSTRUCT",), "json_len": ("STRUCT",), "elem_field": ("ARRSTRUCT",),
    "hof_exists": ("ARRSTRUCT",), "json_contains": ("STRUCT",), "struct_self_eq2": ("STRUCT",),
    "map_values_m": ("MAP",), "cmap": ("STRUCT",), "tvals": ("MAP",),
    "elem_at_map": ("MAP",),
}


def _draw_spec(data, depth: int, cat: str):
    leaves, ops = _GRAMMAR[cat]
    choices = list(leaves) + (list(ops) if depth > 0 else [])
    if not choices:  # MAP has no leaf in the fixture: terminate via cmap
        return ("cmap", _draw_spec(data, 0, "STRUCT"))
    pick = data.draw(st.sampled_from(choices), label=f"{cat}@{depth}")
    if pick in leaves:
        return (pick,)
    return (pick,) + tuple(_draw_spec(data, depth - 1, c) for c in _GRAMMAR_ARITY[pick])


def _build_spec(spec):
    op, args = spec[0], [(_build_spec(s)) for s in spec[1:]]
    if op == "childstruct":
        return F.col("nestedStruct.childStruct")
    if op == "complex0":
        return F.get("someComplexArray", 0)
    if op == "coalesce_s":
        return F.coalesce(*args)
    if op == "when_s" or op == "when_a":
        return F.when(args[0], args[1]).otherwise(args[2])
    if op == "withfield":
        return args[0].withField("col2", args[1])
    if op == "struct_ctor":
        return F.struct(args[0].alias("col1"), args[1].alias("col2"))
    if op == "elem_at":
        return F.get(args[0], 0)
    if op == "complexarray":
        return F.col("someComplexArray")
    if op == "carr":
        return F.array(*args)
    if op == "concat_a":
        return F.concat(*args)
    if op == "hof_filter":
        return F.filter(args[0], lambda x: x["col1"].isNotNull())
    if op == "slice_a":
        return F.slice(args[0], 1, 2)
    if op == "somelong":
        return F.col("someLong")
    if op == "litlong":
        return F.lit(7).cast("long")
    if op == "structcol1":
        return F.col("struct.col1")
    if op == "hof_agg":
        return F.aggregate(args[0], F.lit(0).cast("long"),
                           lambda acc, x: acc + F.coalesce(x["col2"], F.lit(0)))
    if op == "size_a":
        return F.size(args[0]).cast("long")
    if op == "json_len":
        return F.length(F.to_json(args[0])).cast("long")
    if op == "elem_field":
        return F.get(args[0], 0)["col1"]
    if op == "somebool":
        return F.col("someBoolean")
    if op == "longpos":
        return F.col("someLong") > 0
    if op == "hof_exists":
        return F.exists(args[0], lambda x: x["col1"] > 0)
    if op == "json_contains":
        return F.to_json(args[0]).contains("1")
    if op == "struct_self_eq2":
        return args[0] == args[0]
    if op == "map_values_m":
        return F.map_values(args[0])
    if op == "cmap":
        return F.create_map(F.lit("k0"), args[0])
    if op == "tvals":
        return F.transform_values(args[0], lambda k, v: F.coalesce(v, v))
    if op == "elem_at_map":
        return F.element_at(args[0], F.lit("k0"))
    raise AssertionError(f"unknown op {op}")


@settings(max_examples=60, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(data=st.data())
def test_pruned_reread_equals_full_for_expression_grammar(spark, fuzz_paths, data):
    from tests.fixtures_nested import SAMPLE_SCHEMA

    depth = data.draw(st.integers(1, 4), label="depth")
    out_cat = data.draw(st.sampled_from(["STRUCT", "ARRSTRUCT", "PRIM"]), label="out_cat")
    consumers = ["whole", "field"] + (["explode"] if out_cat == "ARRSTRUCT" else [])
    consume = data.draw(st.sampled_from(consumers), label="consumer")
    with_filter = data.draw(st.booleans(), label="filter")
    bool_spec = _draw_spec(data, depth, "BOOL") if with_filter else None
    out_spec = _draw_spec(data, depth, out_cat)

    def pipeline(df):
        if bool_spec is not None:
            df = df.filter(_build_spec(bool_spec))
        df = df.select(_build_spec(out_spec).alias("e"), "someStr")
        if consume == "field" and out_cat == "STRUCT":
            return df.select("someStr", F.col("e")["col1"].alias("v"))
        if consume == "field" and out_cat == "ARRSTRUCT":
            return df.select("someStr", F.get("e", 0)["col1"].alias("v"))
        if consume == "field":  # PRIM
            return df.select("someStr", (F.col("e") + 1).alias("v"))
        if consume == "explode":
            return df.select("someStr", F.explode_outer("e").alias("x")).select("someStr", "x.col1")
        return df

    path = fuzz_paths["parquet"]

    def read(schema):
        return spark.read.schema(schema).parquet(path)

    full_df = pipeline(read(SAMPLE_SCHEMA))
    pruned_schema = _generate(full_df).for_paths(path)
    pruned_df = pipeline(read(pruned_schema))
    _assert_pruned_matches_full(pruned_df, full_df, {
        "test": "expression_grammar", "depth": depth, "out_cat": out_cat,
        "consumer": consume, "filter_spec": repr(bool_spec),
        "out_spec": repr(out_spec),
        "pruned_schema": pruned_schema.simpleString(),
    })


# ------------------------------------------ real-map expression grammar

# Same spec-tree method over the CRAZY fixture, with a REAL map column as
# the MAP leaf (the sample grammar can only construct maps): compositions
# of map_values/element_at/map_filter/transform_values over
# map<string, array<struct>> plus HOF/branch/ctor productions on the
# val-struct shape.

_MGRAM = {
    "MAP": (["mapofarray"], ["mfilter", "tvals_m"]),
    "ARRSTRUCT": (["elem_k"], ["flat_vals", "concat_m", "hof_filter_m", "when_m"]),
    "STRUCT": (["arr0"], ["coalesce_m", "withfield_m"]),
    "PRIM": (["val3", "litl"], ["agg_m", "size_m"]),
    "BOOL": (["has_key"], ["exists_m", "eq_m"]),
}
_MGRAM_ARITY = {
    "mfilter": ("MAP",), "tvals_m": ("MAP",),
    "flat_vals": ("MAP",), "concat_m": ("ARRSTRUCT", "ARRSTRUCT"),
    "hof_filter_m": ("ARRSTRUCT",), "when_m": ("BOOL", "ARRSTRUCT", "ARRSTRUCT"),
    "coalesce_m": ("STRUCT", "STRUCT"), "withfield_m": ("STRUCT", "PRIM"),
    "arr0": ("ARRSTRUCT",),
    "agg_m": ("ARRSTRUCT",), "size_m": ("ARRSTRUCT",),
    "exists_m": ("ARRSTRUCT",), "eq_m": ("STRUCT",),
}


def _mdraw(data, depth, cat):
    leaves, ops = _MGRAM[cat]
    # arr0 is leaf-listed for STRUCT but takes a child; draw its child too
    choices = list(leaves) + (list(ops) if depth > 0 else [])
    pick = data.draw(st.sampled_from(choices), label=f"m{cat}@{depth}")
    arity = _MGRAM_ARITY.get(pick, ())
    return (pick,) + tuple(_mdraw(data, max(depth - 1, 0) if pick != "arr0" else 0, c) for c in arity)


def _mbuild(spec):
    op, args = spec[0], [_mbuild(s) for s in spec[1:]]
    if op == "mapofarray":
        return F.col("mapOfArray")
    if op == "mfilter":
        return F.map_filter(args[0], lambda k, v: F.size(v) >= 0)
    if op == "tvals_m":
        return F.transform_values(args[0], lambda k, v: F.filter(v, lambda e: e["val1"].isNotNull() | e["val1"].isNull()))
    if op == "elem_k":
        return F.element_at(F.col("mapOfArray"), F.lit("k1"))
    if op == "flat_vals":
        return F.flatten(F.map_values(args[0]))
    if op == "concat_m":
        return F.concat(*args)
    if op == "hof_filter_m":
        return F.filter(args[0], lambda e: e["val3"].isNotNull())
    if op == "when_m":
        return F.when(args[0], args[1]).otherwise(args[2])
    if op == "arr0":
        return F.get(args[0], 0)
    if op == "coalesce_m":
        return F.coalesce(*args)
    if op == "withfield_m":
        return args[0].withField("val3", args[1])
    if op == "val3":
        return F.get(F.element_at(F.col("mapOfArray"), F.lit("k1")), 0)["val3"]
    if op == "litl":
        return F.lit(3).cast("long")
    if op == "agg_m":
        return F.aggregate(args[0], F.lit(0).cast("long"), lambda a, e: a + F.coalesce(e["val3"], F.lit(0)))
    if op == "size_m":
        return F.size(args[0]).cast("long")
    if op == "has_key":
        return F.col("mapOfArray").isNotNull()
    if op == "exists_m":
        return F.exists(args[0], lambda e: e["val3"] > 0)
    if op == "eq_m":
        return args[0] == args[0]
    raise AssertionError(op)


@settings(max_examples=40, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(data=st.data())
def test_pruned_reread_equals_full_for_map_grammar(spark, crazy_fuzz_paths, data):
    from tests.fixtures_nested import CRAZY_MAP_SCHEMA

    depth = data.draw(st.integers(1, 3), label="depth")
    out_cat = data.draw(st.sampled_from(["MAP", "ARRSTRUCT", "STRUCT", "PRIM"]), label="out_cat")
    with_filter = data.draw(st.booleans(), label="filter")
    bool_spec = _mdraw(data, depth, "BOOL") if with_filter else None
    out_spec = _mdraw(data, depth, out_cat)

    def pipeline(df):
        if bool_spec is not None:
            df = df.filter(_mbuild(bool_spec))
        return df.select(_mbuild(out_spec).alias("e"), "someStr")

    path = crazy_fuzz_paths["parquet"]
    full_df = pipeline(spark.read.schema(CRAZY_MAP_SCHEMA).parquet(path))
    pruned_schema = _generate(full_df).for_paths(path)
    pruned_df = pipeline(spark.read.schema(pruned_schema).parquet(path))
    _assert_pruned_matches_full(pruned_df, full_df, {
        "test": "map_grammar", "depth": depth, "out_cat": out_cat,
        "filter_spec": repr(bool_spec), "out_spec": repr(out_spec),
        "pruned_schema": pruned_schema.simpleString(),
    })
