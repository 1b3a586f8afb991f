"""Semantic tests for the approximate dedup operators (the oracle-checkable
ones are covered by test_relational's registry sweep): planted near-duplicates
must be found."""

from __future__ import annotations

import pytest
import pyspark.sql.functions as F

from score_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_candidate_pairs,
)

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches the "
    "bird in the tall green tree near the old stone wall by the river bank"
)


@pytest.fixture(scope="module")
def planted(spark):
    near = BASE.replace("green tree", "blue tree")  # one-token perturbation
    rows = [
        (0, BASE),
        (1, BASE),  # exact copy
        (2, near),  # near duplicate
        (3, "completely different content about spark query engines and shuffles and joins and aggregates over columnar parquet files"),
        (4, "yet another unrelated document mentioning embeddings vectors similarity search clustering and large language model training data"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup_keeps_lowest_id(planted):
    kept = exact_dedup(planted).select("doc_id").orderBy("doc_id")
    assert [r.doc_id for r in kept.collect()] == [0, 2, 3, 4]


def test_ngram_jaccard_finds_planted_pair(planted):
    pairs = {(r.d1, r.d2): r.jac for r in ngram_jaccard_pairs(planted, threshold=0.5).collect()}
    assert pairs[(0, 1)] == 1.0
    assert (0, 2) in pairs and pairs[(0, 2)] > 0.7
    assert (0, 3) not in pairs


def test_minhash_lsh_finds_planted_pair(planted):
    pairs = {(r.d1, r.d2): r.est_jaccard for r in minhash_lsh_pairs(planted, n_hashes=16, bands=8).collect()}
    assert pairs[(0, 1)] == 1.0  # identical docs agree on every minhash
    assert (0, 2) in pairs and pairs[(0, 2)] >= 0.5
    assert (3, 4) not in pairs


def test_simhash_near_for_planted_far_for_unrelated(planted):
    pairs = {(r.d1, r.d2): r.hamming for r in simhash_candidate_pairs(planted, max_hamming=63).collect()}
    assert pairs[(0, 1)] == 0
    assert pairs[(0, 2)] <= 10
    assert all(h > 10 for (a, b), h in pairs.items() if b in (3, 4) and a in (0, 1, 2))


def test_ngram_jaccard_aqe_broadcasts_small_inputs_at_runtime(planted, spark):
    """The other half of the unhinted-join contract (VERDICT r2 'Next round'
    #5): at small scale AQE must convert the freq/sizes joins to runtime
    broadcasts using MEASURED sizes (session default
    adaptive.autoBroadcastJoinThreshold=64m) — the bounded mechanism that
    replaced r1's unbounded hints. Large inputs exceed the threshold and
    stay shuffle joins; the hint-free logical plan is pinned in the test
    above."""
    df = ngram_jaccard_pairs(planted, threshold=0.5)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" in plan or "BroadcastQueryStage" in plan, plan


def test_ngram_jaccard_plan_has_no_broadcast_hints(planted, spark):
    """VERDICT r1 'What's wrong' #1: freq/sizes grow with the corpus, so the
    operator must not HINT them broadcast. With both broadcast thresholds
    forced off, any BroadcastExchange in the executed plan can only come from
    an explicit hint — there must be none. (AQE is still free to broadcast
    at runtime when sizes are genuinely small; that path is disabled here.)"""
    keys = (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    )
    saved = {k: spark.conf.get(k, None) for k in keys}
    try:
        for k in keys:
            spark.conf.set(k, "-1")
        df = ngram_jaccard_pairs(planted, threshold=0.5)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastExchange" not in plan, plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_hamming_pairs_pigeonhole_scales_with_max_hamming(spark):
    """ADVICE r1 medium: r1's fixed 4-chunk blocking silently dropped pairs at
    distance 4..10. Chunks now scale to max_hamming+1, so blocking must find
    EVERY pair within the bound — verified against brute force."""
    import itertools

    from score_spark.operators.dedup import hamming_pairs

    sigs = [
        (0, 0b0),
        (1, 0b11111),             # d(0,1) = 5
        (2, 0b11111111),          # d(0,2) = 8, d(1,2) = 3
        (3, (1 << 40) | 0b1),     # d(0,3) = 2
        (4, (1 << 62) - 1),       # far from everything low
    ]
    df = spark.createDataFrame(sigs, ["doc_id", "simhash"])
    for max_h in (2, 5, 8):
        got = {
            (r.d1, r.d2): r.hamming
            for r in hamming_pairs(df, max_hamming=max_h).collect()
        }
        want = {}
        for (i, a), (j, b) in itertools.combinations(sigs, 2):
            d = bin(a ^ b).count("1")
            if d <= max_h:
                want[(i, j)] = d
        assert got == want, f"max_hamming={max_h}: {got} != {want}"


def test_duplicate_clusters_transitive_and_isolated(spark):
    """A~B and B~C must land in one cluster even though A!~C (transitive
    chain), an isolated pair forms its own cluster, and labels are the
    component minimum (the canonical survivor)."""
    from score_spark.operators.dedup import duplicate_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], ["d1", "d2"]
    )
    want = {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}
    # both tiers must agree: driver union-find and distributed propagation
    got_driver = {r.node: r.label for r in duplicate_clusters(pairs).collect()}
    got_dist = {r.node: r.label for r in duplicate_clusters(pairs, driver_threshold=0).collect()}
    assert got_driver == want
    assert got_dist == want


def test_duplicate_clusters_long_chain_converges(spark):
    """A 12-node path graph needs ~diameter rounds of label propagation —
    proves the loop's convergence detection, not just near-clique inputs."""
    from score_spark.operators.dedup import duplicate_clusters

    pairs = spark.createDataFrame([(i, i + 1) for i in range(12)], ["d1", "d2"])
    got = {r.node: r.label for r in duplicate_clusters(pairs, driver_threshold=0).collect()}
    assert got == {i: 0 for i in range(13)}


def test_shingle_table_drop_singletons_is_pair_neutral(spark):
    """drop_singletons removes doc-freq-1 shingles from the pair-generation
    table (they can never co-occur) but must leave ngram_jaccard_pairs'
    OUTPUT identical — the r14 shuffle-bytes guard's equivalence proof as a
    test, on a corpus where singletons actually exist."""
    import pyspark.sql.functions as F

    from score_spark.operators.dedup import ngram_jaccard_pairs, shingle_table

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over a lazy dog entirely"),
            (2, "the quick brown fox jumps over a sleepy cat entirely"),
            (3, "completely unrelated singleton text with unique words only"),
        ],
        ["doc_id", "text"],
    )
    g_all = shingle_table(docs, max_doc_freq=None)
    g_nosingle = shingle_table(docs, max_doc_freq=None, drop_singletons=True)
    freq = {
        r.sh: r.n
        for r in g_all.groupBy("sh").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert any(n == 1 for n in freq.values()), "fixture must contain singletons"
    kept = {r.sh for r in g_nosingle.select("sh").distinct().collect()}
    assert kept == {sh for sh, n in freq.items() if n >= 2}
    # end-to-end: the pair output is identical because singletons never pair
    pairs = sorted(
        (r.d1, r.d2, r.jac)
        for r in ngram_jaccard_pairs(docs, threshold=0.01, max_doc_freq=50).collect()
    )
    assert pairs and pairs[0][:2] == (1, 2)
    # doc 3 (all-singleton shingles vs the others) must not appear
    assert all(3 not in (d1, d2) for d1, d2, _ in pairs)


def test_duplicate_clusters_probe_boundary_and_duplicate_edges(spark):
    """r14 internals change: the driver tier fetches up to driver_threshold
    PAIR rows with one limit+collect instead of counting a deduped
    bidirectional edge table. Duplicate and reversed pair rows must not
    change the labels in either tier, and the threshold boundary must pick
    the documented tier: <= threshold pair rows -> driver union-find,
    threshold+1 -> distributed propagation (identical labels either way)."""
    from score_spark.operators.dedup import duplicate_clusters

    rows = [(1, 2), (2, 1), (1, 2), (2, 3), (10, 11), (10, 11)]
    pairs = spark.createDataFrame(rows, ["d1", "d2"])
    want = {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)}
    # exactly at the row budget: driver tier (limit not exhausted)
    at = {(r.node, r.label) for r in duplicate_clusters(pairs, driver_threshold=len(rows)).collect()}
    # one under the row budget: distributed tier
    under = {(r.node, r.label) for r in duplicate_clusters(pairs, driver_threshold=len(rows) - 1).collect()}
    assert at == under == want


def test_duplicate_clusters_raises_on_non_convergence(spark):
    """Exhausting max_iter on a component with diameter > max_iter must fail
    loudly, not return split labels — this tier is the at-scale path where no
    oracle runs (ADVICE r4)."""
    import pytest

    from score_spark.operators.dedup import duplicate_clusters

    pairs = spark.createDataFrame([(i, i + 1) for i in range(12)], ["d1", "d2"])
    with pytest.raises(RuntimeError, match="did not converge"):
        duplicate_clusters(pairs, driver_threshold=0, max_iter=2).collect()


def test_hamming_pairs_full_recall_at_large_bounds(spark):
    """Pigeonhole recall must hold for max_hamming >= 8 (review r7: the old
    uniform chunk layout shifted past bit 63, where Java >>> wraps, aliasing
    high chunks onto low ones — a distance-8 pair with one differing bit per
    byte was missed entirely)."""
    from score_spark.operators.dedup import hamming_pairs

    # one bit per byte differs: hamming(a, b) == 8 exactly
    rows = [(0, 0), (1, 0x0101010101010101)]
    df = spark.createDataFrame(rows, "doc_id long, simhash long")
    got = hamming_pairs(df, max_hamming=8).collect()
    assert [(r.d1, r.d2, r.hamming) for r in got] == [(0, 1, 8)]
    # and a spread of bounds on a worst-case evenly-spread difference
    for d in (9, 15, 31, 63):
        step = 64 // d
        sig = sum(1 << (i * step) for i in range(d) if i * step < 64)
        df2 = spark.createDataFrame([(0, 0), (1, sig)], "doc_id long, simhash long")
        res = hamming_pairs(df2, max_hamming=d).collect()
        assert len(res) == 1 and res[0].hamming == bin(sig).count("1"), (d, res)


def test_duplicate_clusters_string_ids_and_tier_equivalence(spark):
    """Both tiers must accept the same inputs and produce identical labels —
    the driver tier's hardcoded 'node long' schema rejected string ids the
    distributed tier handles (review r7)."""
    from score_spark.operators.dedup import duplicate_clusters

    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], "d1 string, d2 string"
    )
    drv = {(r.node, r.label) for r in duplicate_clusters(pairs).collect()}
    dist = {(r.node, r.label) for r in duplicate_clusters(pairs, driver_threshold=0).collect()}
    assert drv == dist == {("a", "a"), ("b", "a"), ("c", "a"), ("x", "x"), ("y", "x")}


def test_minhash_lsh_pairs_rejects_bad_bands(spark):
    import pytest

    from score_spark.operators.dedup import minhash_lsh_pairs

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="bands"):
        minhash_lsh_pairs(df, n_hashes=16, bands=32)
    with pytest.raises(ValueError, match="bands"):
        minhash_lsh_pairs(df, n_hashes=16, bands=5)


def test_exact_jaccard_duplicate_pairs_not_inflated(spark):
    """Duplicate (d1,d2) rows in the candidate frame double-counted every
    shared shingle through the intersection joins: a twice-listed pair
    scored exact_jac 1.0 instead of 0.3333 (review r9, confirmed by
    execution). Each INPUT row still comes back, correctly scored."""
    from score_spark.operators.dedup import exact_jaccard_for_pairs

    docs = spark.createDataFrame(
        [(1, "w1 w2 w3 w4"), (2, "w1 w2 w3 w5")], ["doc_id", "text"]
    )
    pairs = spark.createDataFrame([(1, 2), (1, 2)], ["d1", "d2"])
    out = exact_jaccard_for_pairs(pairs, docs, n=3).collect()
    assert len(out) == 2
    assert all(abs(r["exact_jac"] - 0.3333) < 1e-9 for r in out), out


def test_minhash_lsh_drops_empty_shingle_docs(spark):
    """Docs with fewer than n tokens have EMPTY shingle sets -> all-NULL
    minhash signatures -> one shared bucket in every band: m short docs
    produced C(m,2) spurious candidate pairs (review r9, confirmed by
    execution). They can never be n-gram near-dups; none may appear."""
    from score_spark.operators.dedup import minhash_lsh_pairs

    docs = spark.createDataFrame(
        [(1, "a b"), (2, "x"), (3, "q r"),
         (4, "alpha beta gamma delta epsilon"),
         (5, "one two three four five six")],
        ["doc_id", "text"],
    )
    got = {(r["d1"], r["d2"]) for r in minhash_lsh_pairs(docs, n_hashes=16, bands=8).collect()}
    short = {1, 2, 3}
    assert not any(a in short or b in short for a, b in got), got


def test_exact_dedup_keeps_all_null_text_rows(spark):
    """NULL-content rows are unknown, not equal: md5(NULL) grouped them all
    into one 'duplicate' cluster and silently deleted all but one
    (review r9)."""
    from score_spark.operators.dedup import exact_dedup

    df = spark.createDataFrame(
        [(1, None), (2, None), (3, "same"), (4, "same")],
        "doc_id bigint, text string",
    )
    kept = sorted(r.doc_id for r in exact_dedup(df).collect())
    assert kept == [1, 2, 3], kept  # both NULLs kept; 4 deduped against 3


def test_simhash_null_text_emits_no_signature(spark):
    """Documented contract: similarity of unknown content is undefined, so
    NULL-text docs never enter the Hamming candidate space."""
    from score_spark.operators.dedup import simhash

    df = spark.createDataFrame(
        [(1, None), (2, "some text here")], "doc_id bigint, text string"
    )
    ids = {r.doc_id for r in simhash(df).collect()}
    assert ids == {2}, ids


def test_recommended_simhash_bits_law():
    """VERDICT r11 #4: d04's width prescription as code — chunk width
    w ~ 2*log2(n), (max_hamming + 1) chunks, mirroring
    recommended_lsh_planes. Must reproduce the measured operating point:
    the 500k-doc probe showed ~7.6 docs per fixed 16-bit bucket (~36x CPU
    on 10x docs); 2*log2(5e5) ~ 38-bit chunks hold ~constant occupancy."""
    from score_spark.operators.dedup import recommended_simhash_bits

    assert recommended_simhash_bits(500_000, max_hamming=3) == 4 * 38
    # floor: tiny corpora still get non-degenerate 8-bit buckets
    assert recommended_simhash_bits(10, max_hamming=3) == 4 * 8
    # cap: one 64-bit word per chunk is the ceiling
    assert recommended_simhash_bits(10**12, max_hamming=3) == 4 * 63
    # monotone in corpus size
    assert recommended_simhash_bits(5_000_000) >= recommended_simhash_bits(500_000)
    # total width never exceeds the 8-word aggregate bound
    assert recommended_simhash_bits(10**12, max_hamming=63) <= 504
    # floor regime (4 x 8 = 32 bits) still fits a single long signature
    assert recommended_simhash_bits(10, max_hamming=3) <= 63
    # the returned width is ALWAYS one simhash() accepts: past the
    # one-bit-per-chunk point the helper must refuse loudly, not hand back
    # a width the aggregate builder rejects with a confusing bound error
    import pytest as _pytest

    for mh in (62, 63, 100, 503):
        assert 1 <= recommended_simhash_bits(10**9, max_hamming=mh) <= 504
    with _pytest.raises(ValueError, match="chunks"):
        recommended_simhash_bits(10**9, max_hamming=504)
    with _pytest.raises(ValueError, match=">= 0"):
        recommended_simhash_bits(1000, max_hamming=-1)


def test_simhash_wide_word0_is_classic_signature(spark):
    """Word 0 of a wide signature draws from the same xxhash64(tok) bits as
    the classic 63-bit signature — the wide path is a strict extension."""
    from score_spark.operators.dedup import simhash

    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "epsilon zeta eta theta iota")],
        "doc_id bigint, text string",
    )
    classic = {r.doc_id: r.simhash for r in simhash(df).collect()}
    wide = {r.doc_id: r.simhash for r in simhash(df, n_bits=152).collect()}
    assert all(len(v) == 3 for v in wide.values())  # ceil(152/63) words
    assert {k: v[0] for k, v in wide.items()} == classic
    # last word uses only 152 - 126 = 26 bits
    assert all(0 <= v[2] < (1 << 26) for v in wide.values())
    import pytest as _pytest

    with _pytest.raises(ValueError):
        simhash(df, n_bits=505)


def test_hamming_pairs_wide_full_recall_planted(spark):
    """Pigeonhole recall over multi-word signatures: plant pairs at exact
    distances around the bound by flipping bits of random 3-word (189-bit)
    signatures — every pair within max_hamming must surface with its exact
    distance, every pair beyond it must not."""
    import random

    from score_spark.operators.dedup import hamming_pairs

    rng = random.Random(12)

    def flip(sig, positions):
        out = list(sig)
        for p in positions:
            out[p // 63] ^= 1 << (p % 63)
        return out

    base = [rng.randrange(1 << 63) & ((1 << 63) - 1) for _ in range(3)]
    rows = [(0, base)]
    # ids 1..6 at distances 1..6 from base, far from each other's flips
    for d in range(1, 7):
        rows.append((d, flip(base, rng.sample(range(189), d))))
    # a far outlier
    rows.append((99, [rng.randrange(1 << 63) for _ in range(3)]))
    df = spark.createDataFrame(rows, "doc_id bigint, simhash array<bigint>")
    import itertools

    for max_h in (1, 3, 5):
        got = {
            (r.d1, r.d2): r.hamming
            for r in hamming_pairs(df, max_h, "doc_id", "simhash").collect()
        }
        want = {}
        for (i, a), (j, b) in itertools.combinations(rows, 2):
            dist = sum(bin(x ^ y).count("1") for x, y in zip(a, b))
            if dist <= max_h:
                want[(i, j)] = dist
        assert got == want, f"max_hamming={max_h}: {got} != {want}"


def test_simhash_candidate_pairs_wide_end_to_end(planted, spark):
    """The adaptive path end-to-end: n_bits=None derives the width from the
    corpus count; exact-duplicate texts are still distance 0 and unrelated
    texts stay far, at ANY signature width (per-bit hashes are independent,
    so wide signatures separate unrelated docs at least as well)."""
    from score_spark.operators.dedup import (
        recommended_simhash_bits,
        simhash_candidate_pairs,
    )

    n_docs = planted.count()
    bits = recommended_simhash_bits(n_docs, max_hamming=3)
    pairs = {
        (r.d1, r.d2): r.hamming
        for r in simhash_candidate_pairs(planted, max_hamming=3, n_bits=None).collect()
    }
    wide = {
        (r.d1, r.d2): r.hamming
        for r in simhash_candidate_pairs(planted, max_hamming=3, n_bits=max(bits, 152)).collect()
    }
    # docs 0 and 1 are byte-identical -> distance 0 at every width
    assert pairs[(0, 1)] == 0
    assert wide[(0, 1)] == 0
    # unrelated docs never collide within 3 bits at >= 32-bit widths
    assert all({a, b} <= {0, 1, 2} for (a, b) in wide)


def test_hamming_pairs_wide_explicit_n_bits_152(spark):
    """The chunk partition must cover the REAL signature width: for a
    152-bit signature in 3 words, padding the partition to 189 bits would
    leave the last chunk with 11 real bits + 37 constant zeros — an
    effective 2^11-bucket hot chunk. With n_bits passed through, chunks are
    4 x 38 real bits (some spanning word boundaries) and recall at the
    bound is exact."""
    import itertools
    import random

    from score_spark.operators.dedup import hamming_pairs

    rng = random.Random(5)

    def rand_sig():
        return [rng.randrange(1 << 63), rng.randrange(1 << 63), rng.randrange(1 << 26)]

    def flip(sig, positions):
        out = list(sig)
        for p in positions:
            out[p // 63] ^= 1 << (p % 63)
        return out

    base = rand_sig()
    rows = [(0, base)]
    for d in range(1, 6):
        rows.append((d, flip(base, rng.sample(range(152), d))))
    rows.append((99, rand_sig()))
    df = spark.createDataFrame(rows, "doc_id bigint, simhash array<bigint>")
    got = {
        (r.d1, r.d2): r.hamming
        for r in hamming_pairs(df, 3, "doc_id", "simhash", n_bits=152).collect()
    }
    want = {}
    for (i, a), (j, b) in itertools.combinations(rows, 2):
        dist = sum(bin(x ^ y).count("1") for x, y in zip(a, b))
        if dist <= 3:
            want[(i, j)] = dist
    assert got == want, f"{got} != {want}"
    # n_bits inconsistent with the real signature width fails loudly — at
    # EXECUTION, via a JVM assert fused into the chunk projection (review
    # r12: the eager .first() probe that used to catch this construction-
    # time forced the whole signature aggregation once just to read an
    # array length; a declared width must not cost a job)
    import pytest as _pytest

    for bad in (126, 60, 200):
        with _pytest.raises(Exception, match="inconsistent with signature width"):
            hamming_pairs(df, 3, "doc_id", "simhash", n_bits=bad).collect()


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(data=st.data())
def test_hamming_pairs_wide_matches_bruteforce_property(spark, data):
    """Property form of the wide-recall goldens (VERDICT r11 #4): for random
    word counts, real widths, corpora, and bounds, the multi-word chunk
    join must return EXACTLY the brute-force pair set with exact distances
    — pigeonhole recall (no pair within the bound missed) and the popcount
    filter (no pair beyond it kept), including boundary-spanning chunks."""
    import itertools

    from score_spark.operators.dedup import hamming_pairs

    rng = data.draw(st.randoms(use_true_random=False))
    n_words = data.draw(st.integers(min_value=2, max_value=4))
    n_bits = data.draw(
        st.integers(min_value=63 * (n_words - 1) + 1, max_value=63 * n_words)
    )
    max_h = data.draw(st.integers(min_value=0, max_value=8))
    n_base = data.draw(st.integers(min_value=2, max_value=6))

    def rand_sig():
        out = []
        for w in range(n_words):
            width = min(63, n_bits - 63 * w)
            out.append(rng.randrange(1 << width))
        return out

    def flip(sig, positions):
        out = list(sig)
        for p in positions:
            out[p // 63] ^= 1 << (p % 63)
        return out

    rows, nid = [], 0
    for _ in range(n_base):
        base = rand_sig()
        rows.append((nid, base))
        nid += 1
        # a few perturbations straddling the bound
        for d in {max_h, max(0, max_h - 1), max_h + 1, max_h + 2}:
            if d == 0 or d > n_bits:
                continue
            rows.append((nid, flip(base, rng.sample(range(n_bits), d))))
            nid += 1
    df = spark.createDataFrame(rows, "doc_id bigint, simhash array<bigint>")
    got = {
        (r.d1, r.d2): r.hamming
        for r in hamming_pairs(df, max_h, "doc_id", "simhash", n_bits=n_bits).collect()
    }
    want = {}
    for (i, a), (j, b) in itertools.combinations(rows, 2):
        dist = sum(bin(x ^ y).count("1") for x, y in zip(a, b))
        if dist <= max_h:
            want[(i, j)] = dist
    assert got == want, (n_words, n_bits, max_h, got, want)


def test_hamming_pairs_sized_scalar_width_matches_brute_force(spark):
    """review r12: n_bits was silently IGNORED on the scalar path — a sized
    32-bit signature was partitioned over 64 bits, handing every chunk above
    bit 31 a constant-zero key (one all-corpus bucket per dead chunk). The
    sized partition must agree exactly with brute force."""
    import random

    from score_spark.operators.dedup import hamming_pairs

    rng = random.Random(7)
    sigs = [(i, rng.getrandbits(32)) for i in range(60)]
    sigs += [(1000 + i, sigs[i][1] ^ (1 << (i % 32))) for i in range(10)]  # planted near
    df = spark.createDataFrame(sigs, "doc_id long, simhash long")
    got = {
        (r.d1, r.d2): r.hamming
        for r in hamming_pairs(df, max_hamming=3, n_bits=32).collect()
    }
    brute = {}
    for i in range(len(sigs)):
        for j in range(i + 1, len(sigs)):
            h = bin(sigs[i][1] ^ sigs[j][1]).count("1")
            if h <= 3:
                d1, d2 = sorted((sigs[i][0], sigs[j][0]))
                brute[(d1, d2)] = h
    assert got == brute


def test_scalar_chunk_exprs_partition_real_width_only():
    """Sized partitions must never shift past the declared width: 4 chunks
    over 32 bits start at 0/8/16/24, not 0/16/32/48."""
    from score_spark.operators.dedup import _chunk_keys

    exprs = _chunk_keys("s", 32, 4, 64)
    assert "shiftrightunsigned(`s`, 24)" in exprs[-1]
    for e in exprs:
        for tok in e.split("shiftrightunsigned(`s`, ")[1:]:
            assert int(tok.split(")")[0]) < 32
    # default stays the legacy full-64-bit layout (d04 gate keys unchanged)
    legacy = _chunk_keys("s", 64, 4, 64)
    assert "shiftrightunsigned(`s`, 48)" in legacy[-1]


def test_hamming_pairs_threshold_spanning_width_is_all_pairs(spark):
    """max_hamming >= n_bits: blocking cannot prune (a pair may differ in
    every real bit), so the operator falls back to the full-64-bit partition
    whose constant top bits give every pair a shared catch-all bucket —
    explicitly all-pairs, exactly what the legacy layout silently provided
    for max_hamming=63 over 63-bit signatures."""
    from score_spark.operators.dedup import hamming_pairs

    sigs = [(0, 0), (1, (1 << 32) - 1), (2, 0b1010)]  # pair (0,1) differs in ALL 32 bits
    df = spark.createDataFrame(sigs, "doc_id long, simhash long")
    got = {(r.d1, r.d2): r.hamming for r in hamming_pairs(df, max_hamming=32, n_bits=32).collect()}
    assert got == {(0, 1): 32, (0, 2): 2, (1, 2): 30}


def test_hamming_pairs_wide_empty_with_declared_width(spark):
    """With n_bits declared the wide path derives the word count WITHOUT the
    .first() probe job (review r12: the probe forced the whole signature
    aggregation once, doubling build cost) — the empty-input case must now
    flow through the join with the same output schema."""
    from score_spark.operators.dedup import hamming_pairs

    df = spark.createDataFrame([], "doc_id long, simhash array<long>")
    out = hamming_pairs(df, max_hamming=3, n_bits=126)
    assert [f.name for f in out.schema.fields] == ["d1", "d2", "hamming"]
    assert out.count() == 0


def test_hamming_pairs_scalar_declared_width_asserts(spark):
    """ADVICE r12: a scalar signature with real bits AT/ABOVE the declared
    n_bits means the declaration lied — recall survives (pigeonhole over
    the declared bits + exact popcount), but the undeclared high bits skew
    bucket balance toward the hot-bucket degeneracy the parameter exists to
    prevent. The check is fused into the chunk projection (like the wide
    path's size() assert) and must fail LOUDLY, not silently degrade."""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from score_spark.operators.dedup import hamming_pairs

    df = spark.createDataFrame(
        [(0, 1 << 40), (1, (1 << 40) | 1)], "doc_id long, simhash long"
    )
    with pytest.raises((SparkRuntimeException, Py4JJavaError), match="n_bits=32"):
        hamming_pairs(df, max_hamming=3, n_bits=32).collect()
    # a NEGATIVE long (bit 63 set) also trips a 63-bit declaration:
    # shiftrightunsigned is a logical shift, so the sign bit is a real bit
    neg = spark.createDataFrame([(0, -1), (1, -2)], "doc_id long, simhash long")
    with pytest.raises((SparkRuntimeException, Py4JJavaError), match="n_bits=63"):
        hamming_pairs(neg, max_hamming=3, n_bits=63).collect()
    # fitting signatures flow through unchanged
    ok = spark.createDataFrame([(0, 5), (1, 4)], "doc_id long, simhash long")
    got = {(r.d1, r.d2): r.hamming for r in hamming_pairs(ok, max_hamming=3, n_bits=32).collect()}
    assert got == {(0, 1): 1}


def test_d04_auto_width_spans_word():
    """VERDICT r12 #5: the d04 gate row's wide leg derives its width from
    the corpus count — this pins that at every SF the driver runs (500 docs
    at sf0.001/sf0.01, 5000 at sf0.1, ~50000 at the sf1 replica) the derived
    balanced 4-chunk layout has at least one chunk SPANNING the 63-bit word
    boundary, i.e. the multi-piece xxhash64 chunk-key branch stays live
    under the DuckDB brute-force oracle. If the fixture corpus sizes ever
    move into a non-spanning band (e.g. 84 bits, whose chunk boundary lands
    exactly on 63), this fails the suite rather than silently demoting the
    gate row to single-piece keys."""
    from score_spark.operators.dedup import (
        _chunk_keys,
        recommended_simhash_bits,
    )

    for n_docs, want_bits in ((500, 72), (5000, 100), (50000, 128)):
        bits = max(64, recommended_simhash_bits(n_docs, max_hamming=3))
        assert bits == want_bits, (n_docs, bits)
        exprs = _chunk_keys("simhash", bits, 4, 63)
        assert any("xxhash64(" in e for e in exprs), (n_docs, bits, exprs)
    # the degenerate-sweep floor also spans (chunk [48,64) crosses bit 63)
    assert any("xxhash64(" in e for e in _chunk_keys("simhash", 64, 4, 63))


def _tree(node):
    """Pre-order walk of a JVM Catalyst tree (plan or expression)."""
    out, stack = [], [node]
    while stack:
        n = stack.pop()
        out.append(n)
        ch = n.children()
        stack.extend(ch.apply(i) for i in range(ch.size()))
    return out


def _minhash_case(spark):
    from score_spark.operators.dedup import minhash_lsh_pairs

    a = list(range(100, 116))
    # doc 3 differs from docs 1/2 in bands 0-5 (2 rows per band), so it
    # collides with them in bands 6 and 7 only: agreement 4/16
    c = [-x if i < 12 else x for i, x in enumerate(a)]
    sigs = spark.createDataFrame(
        [(1, a), (2, a), (3, c), (4, [-x - 1000 for x in a])], "doc_id long, sig array<long>"
    )
    out = minhash_lsh_pairs(None, n_hashes=16, bands=8, sigs=sigs)
    return out, {(1, 2): 1.0, (1, 3): 0.25, (2, 3): 0.25}


def _hamming_long_case(spark):
    from score_spark.operators.dedup import hamming_pairs

    x = 0x2B3C4D5E6F708192
    df = spark.createDataFrame(
        [(1, x), (2, x), (3, x ^ 1), (4, ~x)], "doc_id long, simhash long"
    )
    return hamming_pairs(df, max_hamming=3), {(1, 2): 0, (1, 3): 1, (2, 3): 1}


def _hamming_array_case(spark):
    from score_spark.operators.dedup import hamming_pairs

    w = [0x1B3C4D5E6F708192, 0x3456789]
    df = spark.createDataFrame(
        [(1, w), (2, w), (3, [w[0] ^ 1, w[1]]), (4, [w[0] ^ ((1 << 63) - 1), w[1] ^ 0xFFFFFFF])],
        "doc_id long, simhash array<long>",
    )
    return hamming_pairs(df, max_hamming=3, n_bits=100), {(1, 2): 0, (1, 3): 1, (2, 3): 1}


def _lsh_case(spark):
    from score_spark.operators.similarity import lsh_pair_candidates

    v = [0.3, -1.2, 0.7, 2.0, -0.4, 1.1, -0.9, 0.5]
    emb = spark.createDataFrame(
        [(1, v), (2, v), (3, [-x for x in v])], "vec_id long, embedding array<double>"
    )
    out = lsh_pair_candidates(emb, n_tables=4, n_planes=4, dim=8)
    return out.withColumnRenamed("v1", "d1").withColumnRenamed("v2", "d2"), {(1, 2): None}


@pytest.mark.parametrize(
    "case",
    [_minhash_case, _hamming_long_case, _hamming_array_case, _lsh_case],
    ids=["minhash", "hamming_long", "hamming_array", "lsh"],
)
def test_band_pairs_kernel_contract(spark, case):
    """Every blocking pair miner runs on ``band_pairs``, and the kernel's
    contract holds for each: a pair colliding in several bands comes out
    ONCE (identical rows collide in every band); the dedup Aggregate sees
    only the ids and the score, never the payload (signatures/vectors); and
    the bucket keys are exploded inline, so Spark infers no
    ``size(keys) > 0`` filter below the Generate — that inferred filter,
    pushed below a projected key column, re-evaluates the whole upstream
    signature expression (for d04, the SimHash aggregate) a second time."""
    out, want = case(spark)
    rows = out.collect()
    got = {(r[0], r[1]): (r[2] if len(r) > 2 else None) for r in rows}
    assert len(rows) == len(got), f"duplicate pairs: {rows}"
    assert got == want

    plan = out._jdf.queryExecution().optimizedPlan()
    dedup = next(n for n in _tree(plan) if n.nodeName() == "Aggregate")
    child = dedup.child().output()
    fed = {child.apply(i).name() for i in range(child.size())}
    assert not fed & {"_p", "sig", "simhash", "embedding"}, fed
    assert len(fed) == len(out.columns), fed

    gens = [n for n in _tree(plan) if n.nodeName() == "Generate"]
    assert len(gens) == 2  # one per self-join side
    for g in gens:
        for f in (n for n in _tree(g) if n.nodeName() == "Filter"):
            for e in _tree(f.condition()):
                assert not (
                    e.nodeName() == "GreaterThan" and e.children().apply(0).nodeName() == "Size"
                ), f"inferred size() > 0 filter below Generate: {f.condition().sql()}"
