"""Similarity-search semantics: brute force matches numpy; LSH-ANN recalls
planted neighbors."""

from __future__ import annotations

import numpy as np
import pytest
import pyspark.sql.functions as F

from score_spark.operators.similarity import ann_lsh_topk, cosine_topk


@pytest.fixture(scope="module")
def clustered(spark):
    """5 clusters x 20 vectors: cluster center + small noise — planted
    near-neighbor structure."""
    rng = np.random.default_rng(7)
    rows = []
    vid = 0
    for c in range(5):
        center = rng.standard_normal(64)
        for _ in range(20):
            v = center + 0.05 * rng.standard_normal(64)
            rows.append((vid, [float(x) for x in v], c))
            vid += 1
    return spark.createDataFrame(rows, ["vec_id", "embedding", "label"])


def test_bruteforce_matches_numpy(clustered, spark):
    data = {r.vec_id: (np.array(r.embedding), r.label) for r in clustered.collect()}
    got = cosine_topk(clustered, clustered.filter(F.col("vec_id") == 0), k=5).collect()
    q = data[0][0]

    def cos(a, b):
        return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))

    expected = sorted(
        ((cos(q, v), vid) for vid, (v, _) in data.items() if vid != 0),
        key=lambda t: (-t[0], t[1]),
    )[:5]
    assert [r.neighbor_id for r in got] == [vid for _, vid in expected]
    for r, (sim, _) in zip(got, expected):
        assert abs(r.sim - round(sim, 4)) <= 1e-4


def test_ann_recalls_planted_cluster(clustered):
    queries = clustered.filter(F.col("vec_id").isin([0, 20, 40]))
    exact = cosine_topk(clustered, queries, k=5).collect()
    approx = ann_lsh_topk(clustered, queries, k=5, n_planes=8, multi_probe=1).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    approx_sets = {}
    for r in approx:
        approx_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    recalls = [
        len(exact_sets[q] & approx_sets.get(q, set())) / len(exact_sets[q]) for q in exact_sets
    ]
    # same-cluster vectors nearly always share the LSH bucket; multi-probe
    # covers boundary flips
    assert sum(recalls) / len(recalls) >= 0.8
    # ANN must never return a wrong-cluster vector as a planted neighbor here
    labels = {r.vec_id: r.label for r in clustered.collect()}
    for r in approx:
        assert labels[r.neighbor_id] == labels[r.query_id]


def test_near_dup_pairs_lsh_finds_planted_dups(clustered, spark):
    """The scale path (LSH candidates -> exact rerank) must recover planted
    near-duplicates: same-cluster vectors sit at cosine ~0.99."""
    from score_spark.operators.similarity import (
        embedding_near_dup_pairs,
        near_dup_pairs_lsh,
    )

    exact = {
        (r.v1, r.v2)
        for r in embedding_near_dup_pairs(clustered, threshold=0.95).collect()
    }
    got = {
        (r.v1, r.v2)
        for r in near_dup_pairs_lsh(clustered, threshold=0.95).collect()
    }
    assert got <= exact  # rerank is exact: no false positives ever
    assert len(got) / len(exact) >= 0.8  # high-sim pairs share buckets


def test_multi_probe_widens_candidates(clustered):
    from score_spark.operators.similarity import lsh_candidates

    queries = clustered.filter(F.col("vec_id").isin([0, 20]))
    sets = {}
    for mp in (0, 1, 2):
        sets[mp] = {
            (r.query_id, r.neighbor_id)
            for r in lsh_candidates(clustered, queries, multi_probe=mp).collect()
        }
    assert sets[0] <= sets[1] <= sets[2]
    assert len(sets[2]) > len(sets[0])


def test_block_bound_asserts_on_missized_blocks(clustered):
    """The packed-block invariant fails loudly instead of growing rows
    unboundedly (VERDICT r1 'What's wrong' #2)."""
    from score_spark.operators.similarity import embedding_near_dup_pairs

    df = embedding_near_dup_pairs(clustered, threshold=0.9, n_blocks=1, rows_per_block=4)
    with pytest.raises(Exception, match="packed block exceeds bound"):
        df.collect()


def test_ivf_recalls_planted_clusters(clustered):
    """IVF with enough clusters must recover the planted structure: top-k
    neighbors of a cluster member are same-cluster, matching exact top-k."""
    from score_spark.operators.similarity import ivf_topk

    queries = clustered.filter(F.col("vec_id").isin([0, 20, 40]))
    exact = cosine_topk(clustered, queries, k=5).collect()
    approx = ivf_topk(clustered, queries, k=5, n_clusters=8, nprobe=2).collect()
    exact_sets, approx_sets = {}, {}
    for r in exact:
        exact_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    for r in approx:
        approx_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    recalls = [
        len(exact_sets[q] & approx_sets.get(q, set())) / len(exact_sets[q]) for q in exact_sets
    ]
    assert sum(recalls) / len(recalls) >= 0.8


def test_ivf_training_is_deterministic(clustered):
    from score_spark.operators.similarity import ivf_train_centroids

    a = ivf_train_centroids(clustered, n_clusters=8, n_iters=2)
    b = ivf_train_centroids(clustered, n_clusters=8, n_iters=2)
    assert a == b
    assert len(a) == 8 and all(len(c) == 64 for c in a)


def test_ivf_candidate_shuffle_is_ids_only(clustered):
    """Corpus-to-cluster assignment happens in the scan stage (per-row JVM
    argmin over literal centroids) — the candidate join moves only
    (query_id, neighbor_id, cluster int), never embedding vectors."""
    from score_spark.operators.similarity import ivf_candidates, ivf_train_centroids

    cents = ivf_train_centroids(clustered, n_clusters=4, n_iters=1)
    queries = clustered.filter(F.col("vec_id") == 0)
    cand = ivf_candidates(clustered, queries, cents, nprobe=2)
    assert cand.columns == ["query_id", "neighbor_id"]
    # precise check: the candidate Join's input attributes are ids + cluster
    # ints only — embedding may appear INSIDE scan-stage expressions that
    # compute the cluster id, but never as a column flowing INTO the join
    jplan = cand._jdf.queryExecution().optimizedPlan()

    def find_join(node):
        if "Join" in node.getClass().getName().rsplit(".", 1)[-1]:
            return node
        ch = node.children()
        for i in range(ch.length()):
            if (j := find_join(ch.apply(i))) is not None:
                return j
        return None

    join = find_join(jplan)
    assert join is not None
    ch = join.children()
    for i in range(ch.length()):
        out = ch.apply(i).output()
        names = [out.apply(k).name() for k in range(out.length())]
        assert all("embedding" not in n and not n.startswith("_v") for n in names), names


def test_lsh_pair_candidate_shuffle_is_ids_only(clustered):
    """The bucket join + dedup must move ONLY scalar ids — r2 shuffled both
    full embedding vectors through dropDuplicates (VERDICT r2 'What's wrong'
    #1). The candidate frame's plan must not reference the vector column at
    all above the bucket computation: its output is exactly (v1, v2) and the
    dedup aggregate groups on those two longs."""
    from score_spark.operators.similarity import lsh_pair_candidates

    cand = lsh_pair_candidates(clustered, n_tables=4, n_planes=12)
    assert cand.columns == ["v1", "v2"]
    optimized = cand._jdf.queryExecution().optimizedPlan().toString()
    # exactly one Aggregate (the dedup); it must group on the id pair, and no
    # plan node between it and the join may carry an embedding attribute
    dedup_line = next(l for l in optimized.splitlines() if "Aggregate" in l)
    assert "v1" in dedup_line and "v2" in dedup_line
    assert "embedding" not in dedup_line and "_v" not in dedup_line
    join_seen = False
    for line in optimized.splitlines():
        if "Join" in line:
            join_seen = True
        if not join_seen and "embedding" in line:
            raise AssertionError(f"vector column above the bucket join:\n{optimized}")


def test_score_candidates_sources_query_vectors_from_queries(clustered, spark):
    """Queries whose ids are absent from the corpus must still score
    (ADVICE r2 medium: r2 silently dropped them via the corpus join)."""
    from score_spark.operators.similarity import lsh_candidates, score_candidates

    # re-key the queries into an id space disjoint from the corpus
    queries = clustered.filter(F.col("vec_id") == 0).withColumn(
        "vec_id", F.col("vec_id") + 1_000_000
    )
    cand = lsh_candidates(clustered, queries, multi_probe=1)
    scored = score_candidates(cand, clustered, k=5, queries=queries).collect()
    assert len(scored) == 5  # would be 0 with corpus-sourced query vectors
    # and the neighbors are the planted cluster of the original vec_id=0
    labels = {r.vec_id: r.label for r in clustered.collect()}
    assert all(labels[r.neighbor_id] == 0 for r in scored)


def test_derived_n_blocks_bounds_block_rows(clustered):
    from score_spark.operators.similarity import embedding_near_dup_pairs

    # 100 rows / rows_per_block=16 -> 7 blocks; results must equal the exact
    # single-block answer
    small = embedding_near_dup_pairs(clustered, threshold=0.95, rows_per_block=16)
    ref = embedding_near_dup_pairs(clustered, threshold=0.95, n_blocks=1, rows_per_block=1000)
    assert {(r.v1, r.v2, r.sim) for r in small.collect()} == {
        (r.v1, r.v2, r.sim) for r in ref.collect()
    }


def test_pandas_udfs_evaluate_once_in_executed_plans(clustered):
    """Catalyst duplicates an ArrowEvalPython when a pandas-UDF output feeds
    a join key (inferred isnotnull below the projection) or a pushed-down
    filter — the whole matmul/einsum then runs twice per batch. The UDFs are
    marked nondeterministic to block that; pin the executed plans here.

    Each branch of a self-join legitimately evaluates its own UDF, so the
    bound is one ArrowEvalPython per *branch*: 2 for the banded candidate
    self-join, 1 for the rerank's cosine (threshold filter must NOT add a
    second)."""
    from score_spark.operators.similarity import lsh_pair_candidates, near_dup_pairs_lsh

    cand = lsh_pair_candidates(clustered, n_tables=2, n_planes=8)
    cand.write.format("noop").mode("overwrite").save()
    cand_plan = cand._jdf.queryExecution().executedPlan().toString()
    assert cand_plan.count("ArrowEvalPython") <= 2, cand_plan

    # truncate lineage so the rerank plan contains ONLY the rerank: the one
    # cosine eval, with the threshold filter reading its output instead of
    # instantiating a second copy
    frozen = cand.localCheckpoint(eager=True)
    pairs = near_dup_pairs_lsh(clustered, threshold=0.95, cand=frozen)
    pairs.write.format("noop").mode("overwrite").save()
    rerank_plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert rerank_plan.count("ArrowEvalPython") <= 1, rerank_plan


def test_mean_pool_embeddings_matches_numpy(spark):
    import numpy as np

    from score_spark.operators.similarity import mean_pool_embeddings

    rows = [
        (1, [1.0, 0.0, 0.0], 1.0),
        (1, [0.0, 1.0, 0.0], 3.0),
        (2, [2.0, 2.0, 2.0], 5.0),
    ]
    df = spark.createDataFrame(rows, "doc_id long, embedding array<double>, w double")

    # unweighted + normalized
    got = {r.doc_id: np.array(r.embedding) for r in mean_pool_embeddings(df).collect()}
    v1 = np.array([0.5, 0.5, 0.0]); v1 = v1 / np.linalg.norm(v1)
    assert np.allclose(got[1], v1)
    assert np.allclose(got[2], np.array([2.0, 2.0, 2.0]) / np.linalg.norm([2.0, 2.0, 2.0]))

    # weighted, un-normalized
    got = {
        r.doc_id: np.array(r.embedding)
        for r in mean_pool_embeddings(df, weight_col="w", normalize=False).collect()
    }
    assert np.allclose(got[1], (1.0 * np.array([1, 0, 0]) + 3.0 * np.array([0, 1, 0])) / 4.0)
    assert np.allclose(got[2], [2.0, 2.0, 2.0])

    # zero vector stays zero under normalize (no div-by-zero NaN)
    z = spark.createDataFrame([(9, [0.0, 0.0], 1.0)], "doc_id long, embedding array<double>, w double")
    (r,) = mean_pool_embeddings(z).collect()
    assert r.embedding == [0.0, 0.0]


def test_zero_norm_vectors_never_near_dups(spark):
    """A zero-norm embedding's cosine is NaN (undefined). numpy's NaN >= t
    is False but Spark and DuckDB order NaN ABOVE every value, so the LSH
    rerank path previously KEPT such pairs while the exact block path
    dropped them (review r9). Both paths must exclude them."""
    import pyspark.sql.functions as F

    from score_spark.operators.similarity import (
        embedding_near_dup_pairs,
        near_dup_pairs_lsh,
    )

    emb = spark.createDataFrame(
        [(1, [0.0, 0.0, 0.0]), (2, [1.0, 0.0, 0.0]), (3, [1.0, 0.01, 0.0])],
        "vec_id bigint, embedding array<double>",
    )
    exact = {(r.v1, r.v2) for r in embedding_near_dup_pairs(emb, threshold=0.4).collect()}
    cand = spark.createDataFrame([(1, 2), (1, 3), (2, 3)], ["v1", "v2"])
    lsh = {(r.v1, r.v2) for r in near_dup_pairs_lsh(emb, threshold=0.4, cand=cand).collect()}
    assert exact == {(2, 3)}, exact
    assert lsh == {(2, 3)}, lsh


def test_recommended_lsh_planes_matches_measured_regimes():
    """The r11 candidate-growth probe's sizing rule as code: expected random
    candidates are L * C(n,2) * p^k, so k must grow ~log(n). The formula
    must reproduce the two measured operating points (BASELINE.md
    "Stateful/window + ANN + sink second decade (r11)"): k=16 at n=20k gave
    ~1.2 candidates/row (the gate/scale family), and k=23 at n=200k gave
    ~0.2/row while k=20 gave ~1.1/row."""
    from score_spark.operators.similarity import recommended_lsh_planes

    # 20k corpus at ~2/row budget: the shipped 4x16 family
    assert 15 <= recommended_lsh_planes(20_000) <= 18
    # 10x corpus: ~log2(100)*0.86 ≈ +5-6 planes, landing between the
    # measured k=20 (1.1/row) and k=23 (0.2/row) points
    assert 20 <= recommended_lsh_planes(200_000) <= 23
    # growth is logarithmic: another 100x adds roughly the same increment
    assert recommended_lsh_planes(20_000_000) - recommended_lsh_planes(200_000) <= 9
    # monotone in corpus size, inverse-monotone in budget
    assert recommended_lsh_planes(1_000_000) >= recommended_lsh_planes(10_000)
    assert recommended_lsh_planes(200_000, candidates_per_row=16.0) < \
        recommended_lsh_planes(200_000, candidates_per_row=1.0)
    # degenerate corpora don't blow up
    assert recommended_lsh_planes(1) == 1
    assert recommended_lsh_planes(2, candidates_per_row=100.0) == 1


def test_lsh_operators_empty_corpus_returns_empty(spark):
    # r11 degenerate-input sweep: an EMPTY corpus crashed hyperplane-LSH
    # and banded-LSH inside embedding_dim (ValueError) instead of flowing
    # an empty result through the unchanged plan — at 100 TB an empty
    # partition or matches-nothing filter is routine, never an error.
    # empty_default supplies a placeholder width; the planes hash nothing.
    from score_spark.operators.similarity import lsh_candidates, near_dup_pairs_lsh

    emb = spark.createDataFrame([], "vec_id bigint, embedding array<double>")
    assert lsh_candidates(emb, emb).count() == 0
    assert near_dup_pairs_lsh(emb, threshold=0.9).count() == 0
    # malformed (non-empty but null/zero-width) still raises
    import pytest as _pytest

    bad = spark.createDataFrame([(1, None)], "vec_id bigint, embedding array<double>")
    from score_spark.operators.similarity import embedding_dim

    with _pytest.raises(ValueError):
        embedding_dim(bad, "embedding", empty_default=2)


def test_lsh_candidates_empty_corpus_nonempty_queries(spark, clustered):
    """ADVICE r11 (medium): an EMPTY corpus with NON-EMPTY queries derived
    the plane width from the 2-wide fallback, then hashed real-width query
    vectors through 2-wide hyperplanes — an opaque executor-side numpy
    shape mismatch. The width must come from whichever side has rows."""
    from score_spark.operators.similarity import ann_lsh_topk, lsh_candidates

    empty = spark.createDataFrame([], "vec_id bigint, embedding array<double>")
    queries = clustered.filter(F.col("vec_id") < 3)
    assert lsh_candidates(empty, queries).count() == 0
    assert ann_lsh_topk(empty, queries, k=3).count() == 0
    # and the symmetric case still flows (non-empty corpus, empty queries)
    assert lsh_candidates(clustered, empty).count() == 0


def test_n_planes_default_derives_from_corpus(spark, clustered):
    """VERDICT r11 #5: the sizing rule must be reachable WITHOUT caller
    intervention — n_planes=None (now the default) derives k from a cached
    corpus count via recommended_lsh_planes, landing the k=21-class plan
    at a 200k corpus; explicit k passes through untouched."""
    from score_spark.operators.similarity import (
        _resolve_n_planes,
        corpus_count,
        lsh_pair_candidates,
        near_dup_pairs_lsh,
    )

    big = spark.range(200_000).withColumnRenamed("id", "vec_id")
    assert 20 <= _resolve_n_planes(big, 4, None) <= 23  # the k=21-class plan
    assert _resolve_n_planes(big, 4, 16) == 16  # explicit k untouched
    # the count job is cached: second resolve touches no new Spark job
    n1 = corpus_count(big)
    assert corpus_count(big) == n1 == 200_000
    # default path end-to-end on a small corpus: tiny n -> small k -> wide
    # buckets, so planted near-dups (cluster 0's 20 vectors) still surface
    pairs = near_dup_pairs_lsh(clustered, threshold=0.95)
    got = {(r.v1, r.v2) for r in pairs.collect()}
    assert (0, 1) in got or any(v1 < 20 and v2 < 20 for v1, v2 in got)
    # and the derived-k candidate generator is self-consistent with the
    # explicit-k call at the derived value
    k = _resolve_n_planes(clustered, 4, None)
    auto = {(r.v1, r.v2) for r in lsh_pair_candidates(clustered).collect()}
    manual = {(r.v1, r.v2) for r in lsh_pair_candidates(clustered, n_planes=k).collect()}
    assert auto == manual


def test_near_dup_rerank_gather_matches_join_tier(spark, clustered, monkeypatch):
    """Both pair_cosine tiers (broadcast gather table, map-only id-pair
    cosine vs two id joins) must produce EXACTLY the same rows through both
    of its callers — same sims to the emitted 4 dp (identical float64
    einsum), same ranks — under one NULL contract: pairs whose ids are
    absent from their source drop, as an inner join drops them, and a
    zero-norm vector's undefined cosine is NULL, ranked last (a NaN that
    reached Spark would rank FIRST instead)."""
    import itertools

    from score_spark.operators import similarity
    from score_spark.operators.similarity import near_dup_pairs_lsh, score_candidates

    zero = spark.createDataFrame([(100, [0.0] * 64)], "vec_id bigint, embedding array<double>")
    corpus = clustered.select("vec_id", "embedding").unionByName(zero)
    # near-dup pairs: one source; (0, 99_999) is absent, (0|1, 100) zero-norm
    near_cand = spark.createDataFrame(
        [*itertools.combinations(range(30), 2), (0, 99_999), (0, 100), (1, 100)],
        "v1 bigint, v2 bigint",
    )
    # top-k: queries keyed outside the corpus id space (two sources), one
    # of them zero-norm; neighbor 99_999 and query 2_000_000 are absent
    queries = corpus.filter(F.col("vec_id").isin(0, 20, 100)).withColumn(
        "vec_id", F.col("vec_id") + 1_000_000
    )
    qids = [1_000_000, 1_000_020, 1_000_100, 2_000_000]
    topk_cand = spark.createDataFrame(
        [(q, n) for q in qids for n in [*range(30), 100, 99_999]],
        "query_id bigint, neighbor_id bigint",
    )

    def run():
        near = near_dup_pairs_lsh(corpus, threshold=0.9, cand=near_cand)
        topk = score_candidates(topk_cand, corpus, k=40, queries=queries)
        joins = near._jdf.queryExecution().optimizedPlan().toString().count("Join")
        joins += topk._jdf.queryExecution().optimizedPlan().toString().count("Join")
        return {tuple(r) for r in near.collect()}, {tuple(r) for r in topk.collect()}, joins

    near_g, topk_g, joins_g = run()
    # zero budget forces the join tier at call time
    monkeypatch.setattr(similarity, "GATHER_MAX_BYTES", 0)
    near_j, topk_j, joins_j = run()
    assert (joins_g, joins_j) == (0, 4)  # each call really ran its tier
    assert near_g == near_j
    assert topk_g == topk_j
    # non-vacuous: cluster 0's vectors are near-dups; absent/zero-norm drop
    assert near_g and all(v2 < 30 for _, v2, _ in near_g)
    assert {q for q, *_ in topk_g} == {1_000_000, 1_000_020, 1_000_100}
    assert all(n != 99_999 for _, n, _, _ in topk_g)
    for q in (1_000_000, 1_000_020):
        rows = sorted(r for r in topk_g if r[0] == q)
        assert len(rows) == 31 and rows[-1][1:] == (100, None, 31)  # NULL ranks last
    zq = sorted((rk, n, sim) for q, n, sim, rk in topk_g if q == 1_000_100)
    assert [(n, sim) for _, n, sim in zq] == [(n, None) for n in [*range(30), 100]]


def test_rerank_gather_table_guards(spark, clustered):
    """The gather table must refuse (-> join-tier fallback) when the corpus
    exceeds the byte budget or carries duplicate ids; when it fits, the
    table is id-sorted and dense."""
    from score_spark.operators.similarity import _gather_table

    # budget of one row < 100-row corpus -> None
    assert _gather_table(clustered, "vec_id", "embedding", 64, 64 * 8) is None
    # zero/invalid dim -> None without any job
    assert _gather_table(clustered, "vec_id", "embedding", 0, 1 << 30) is None
    # duplicate ids break the unique-gather precondition -> None
    dup = clustered.select("vec_id", "embedding").unionAll(
        clustered.select("vec_id", "embedding").limit(1)
    )
    assert _gather_table(dup, "vec_id", "embedding", 64, 1 << 30) is None
    # fits -> id-sorted ids + (n, dim) float64 matrix
    t = _gather_table(clustered, "vec_id", "embedding", 64, 1 << 30)
    assert t is not None
    ids, E = t
    assert list(ids) == sorted(ids)
    assert E.shape == (100, 64) and E.dtype == np.float64
