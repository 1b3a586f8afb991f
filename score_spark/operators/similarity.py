"""Similarity search over embedding columns (array<float>).

Two tiers, as a 100 TB design requires:
- brute-force cosine top-k: exact baseline. The query set is broadcast (it is
  small by construction); the corpus streams through one scan — no shuffle of
  the corpus at all, just a per-partition top-k then a tiny final merge.
- LSH-bucketed ANN (random hyperplanes): corpus hashed once to b-bit buckets;
  queries probe their own bucket (+ multi-probe bit-flip neighborhoods).
  Candidate set shrinks ~2^b-fold; recall tunable by n_planes/probes. The
  bucket join shuffles only bucket ids + vectors in matching buckets.
- near-dup pairs: LSH buckets generate candidates, an exact cosine pass
  reranks them (``near_dup_pairs_lsh``); the all-blocks variant
  (``embedding_near_dup_pairs``) is the exact/verification path with block
  count derived from the corpus size so per-task payloads stay bounded.

Every candidate rerank (``score_candidates`` for the LSH and IVF top-k,
``near_dup_pairs_lsh`` for near-dup pairs) scores through one kernel,
``pair_cosine``, in one of two tiers. Gather tier: when each vector source
fits ``GATHER_MAX_BYTES``, it is collected once into an id-sorted float64
table and broadcast, and the pairs are scored map-only — only the two id
longs cross the Python boundary. Join tier: otherwise (oversized corpus,
duplicate or non-integer ids) both vectors join back onto each pair by id.
Both tiers run the same float64 einsum and share one NULL contract: pairs
whose ids are absent from their source drop (inner-join semantics) and a
zero-norm vector's undefined cosine is NULL.

Per-pair dot products in the brute-force top-k (``cosine_topk``) use
zip_with + aggregate — JVM-side (no Python round-trip), though Spark
evaluates higher-order-function lambdas interpreted, not codegen'd. That is
fine for |queries| x |corpus| scoring. Row-against-matrix math (LSH
bucketing, centroid assignment/probing) and the bulk pairwise paths instead
run as Arrow-batched BLAS matmuls against a small closure-shipped matrix —
one vectorized kernel per batch beats both an interpreted per-row expression
walk and the seconds of Catalyst analysis a K x dim literal expression tree
costs.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql.window import Window

from score_spark.io import fan_out, load_table, presentation_sort
from score_spark.operators.dedup import band_pairs
from score_spark.xcheck import write_xcheck, xcheck_path


def dot(a: Column, b: Column) -> Column:
    # cast BEFORE multiplying: on array<float> inputs the lambda's x*y is a
    # FloatType product (rounded to 2^-24 relative) before the double
    # accumulation, while the DuckDB oracles (DOUBLE[] cast) and pair_cosine
    # (numpy float64) compute exact double products of the same f32 values —
    # a residual 4-dp rounding-boundary flake the r6 oracle fix was meant to
    # close (review r6 #3). float->double widening is exact, so all three
    # paths now multiply identical doubles.
    a, b = a.cast("array<double>"), b.cast("array<double>")
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    a = a.cast("array<double>")  # see dot(): float64 products, like the oracle
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


_JDF_MEMO: dict[tuple, tuple["weakref.ref", int]] = {}


def _jdf_memo(df: DataFrame, key_extra, compute) -> int | None:
    """Per-DataFrame memo of a small derived scalar (embedding width, corpus
    count): keyed by id(df._jdf) and weakref-VALIDATED on read, because a
    bare id() key could alias a freed DataFrame's recycled address and serve
    a stale value to an unrelated frame (review r7). One shared
    implementation — the hit check, insert, and eviction policy previously
    lived copy-pasted in two caches that had to evolve together (review
    r12). ``compute()`` returning None is NOT cached (the empty-frame path:
    a later non-empty frame must re-derive)."""
    import weakref

    key = (id(df._jdf), key_extra)
    hit = _JDF_MEMO.get(key)
    if hit is not None and hit[0]() is df._jdf:
        return hit[1]
    val = compute()
    if val is None:
        return None
    _JDF_MEMO[key] = (weakref.ref(df._jdf), int(val))
    if len(_JDF_MEMO) > 256:
        _JDF_MEMO.pop(next(iter(_JDF_MEMO)))
    return int(val)


def embedding_dim(df: DataFrame, vec_col: str = "embedding", empty_default: int | None = None) -> int:
    """Embedding width derived from the data. ``.first()`` runs a real (if
    tiny — one row, one column) Spark job, so the result is cached per
    (DataFrame, column): operators that derive the dim twice per call pay one
    job total, not one per use (ADVICE r2). The cache holds a WEAK reference
    and validates identity on read: a bare id() key could alias a freed
    DataFrame's recycled address and serve a stale dim to an unrelated frame
    (review r7).

    ``empty_default``: returned when the input has NO rows (r11 degenerate
    sweep: an empty corpus crashed the LSH operators instead of flowing an
    empty result through the unchanged plan — at 100 TB an empty partition
    or matches-nothing filter is routine, never an error). Any positive
    width works: the derived planes hash zero rows. NULL/zero-width rows
    still raise — that is malformed data, not emptiness."""

    def compute() -> int | None:
        row = df.select(F.size(F.col(vec_col)).alias("d")).first()
        if row is None and empty_default is not None:
            return None  # uncached: a later non-empty frame re-derives
        if row is None or row["d"] is None or row["d"] <= 0:
            raise ValueError(f"cannot derive embedding dim from column {vec_col!r}")
        return int(row["d"])

    val = _jdf_memo(df, ("dim", vec_col), compute)
    return empty_default if val is None else val


def corpus_count(df: DataFrame) -> int:
    """``df.count()`` cached per DataFrame with the same weakref-validated
    identity scheme as :func:`embedding_dim` (shared ``_jdf_memo``) —
    operators that size LSH parameters from the corpus pay ONE count job
    per frame, not one per call (VERDICT r11 #5: the sizing rule must be
    reachable by default without a per-use count)."""
    return _jdf_memo(df, "count", lambda: int(df.count()))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k neighbors per query. queries must be small (broadcast)."""
    q = F.broadcast(
        queries.select(F.col(id_col).alias(query_id_col), F.col(vec_col).alias("_qv"))
    )
    # the cross join multiplies each corpus row by |queries| dot products —
    # work scales with n_queries x dim, so keep the spread for small corpora
    pairs = q.join(fan_out(corpus, min_bytes_per_task=0), F.col(query_id_col) != F.col(id_col))
    sim = cosine(F.col("_qv"), F.col(vec_col))
    # rounded rank key — see score_candidates (review r9)
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc(F.round("_sim", 4)), F.col("neighbor_id")
    )
    return (
        pairs.select(query_id_col, F.col(id_col).alias("neighbor_id"), sim.alias("_sim"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(query_id_col, "neighbor_id", F.round("_sim", 4).alias("sim"), "rk")
    )


def _hyperplanes(n_planes: int, dim: int, seed: int = 42) -> list[list[float]]:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def recommended_lsh_planes(
    n_rows: int,
    n_tables: int = 4,
    candidates_per_row: float = 2.0,
    p_random: float = 0.55,
) -> int:
    """Planes-per-table (k) sized to the corpus — the r11 probe's sizing
    rule as code (BASELINE.md "Stateful/window + ANN + sink second decade").

    Expected random-pair candidates from banded LSH are
    ``n_tables * C(n, 2) * p_random^k``: per-pair collision probability is
    constant, so holding a per-row candidate budget requires
    ``k ~ log(n)`` — at FIXED k the candidate exchange grows quadratically
    (measured 99.2x on a 10x corpus). Solving for k:

        k = log(n_tables * (n - 1) / (2 * budget)) / log(1 / p_random)

    ``p_random`` defaults to 0.55, slightly above the idealized 0.5 for
    sign-bit hyperplanes, matching the measured collision rate on dim-64
    uniform vectors (k=23 at n=200k left ~0.2 candidates/row; k=16 at
    n=20k ~1.2/row — this formula reproduces both regimes). Recall for
    near-duplicate pairs is restored by n_tables, not k (a sim-s pair is
    missed with prob (1 - p_s^k)^L); exact duplicates collide at any k."""
    import math

    if n_rows < 2:
        return 1
    target = n_tables * (n_rows - 1) / (2.0 * candidates_per_row)
    if target <= 1:
        return 1
    return max(1, math.ceil(math.log(target) / math.log(1.0 / p_random)))


def _stack(series) -> "np.ndarray":
    """Arrow list column -> dense (batch, dim) float64 matrix."""
    return np.array(list(series), dtype=np.float64)


def lsh_bucket(vec_col: Column, planes: list[list[float]]) -> Column:
    """Sign-bit bucket id from fixed random hyperplanes (deterministic seed).

    Evaluated as one Arrow-batched matmul against the (tiny) plane matrix
    shipped in the UDF closure — sign bits of ``M @ P.T`` packed into a long.
    r2 built this as n_planes interpreted zip_with/aggregate dots over
    64-literal arrays; the expression tree alone cost seconds of analysis
    per query and every row paid an interpreted O(planes x dim) walk
    (VERDICT r2: "interpreted hyperplane dots ... the known upgrade")."""
    P = np.array(planes, dtype=np.float64)
    weights = (1 << np.arange(P.shape[0], dtype=np.int64)).astype(np.int64)

    @F.pandas_udf("long")
    def bucket(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype="int64")
        bits = _stack(v) @ P.T > 0
        return pd.Series(bits @ weights)

    # nondeterministic marker: when the bucket id becomes a join key, Spark
    # infers an isnotnull constraint below the projection and duplicates the
    # ArrowEvalPython (one eval for the never-true null filter, one for the
    # projected value). The marker keeps the matmul single-eval.
    return bucket.asNondeterministic()(vec_col)


def _probe_buckets(n_planes: int, multi_probe: int) -> list[Column]:
    """Exact bucket plus every bucket within Hamming distance ``multi_probe``
    of it — multi_probe=1 flips each single bit, multi_probe=2 adds all
    2-bit flips, etc. (r1 treated the int as a bool; ADVICE r1 finding)."""
    from itertools import combinations

    probes = [F.col("_qb")]
    for h in range(1, max(0, multi_probe) + 1):
        for bits in combinations(range(n_planes), h):
            m = 0
            for i in bits:
                m |= 1 << i
            probes.append(F.col("_qb").bitwiseXOR(F.lit(m)))
    return probes


def lsh_candidates(
    corpus: DataFrame,
    queries: DataFrame,
    n_planes: int = 8,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    multi_probe: int = 1,
) -> DataFrame:
    """Distinct (query_id, neighbor_id) candidate pairs from matching LSH
    buckets. The distinct carries only the two ids — vectors are joined back
    by the scorer, so the bucket-join shuffle stays narrow."""
    if dim is None:
        # 0 is an unambiguous "no rows" sentinel: a real zero-width vector
        # raises inside embedding_dim. With an EMPTY corpus the broadcast
        # query side still materializes through the plane matmul, so the
        # planes must match the QUERIES' width — deriving from the 2-wide
        # fallback shipped 2-wide hyperplanes against real-width query
        # vectors and died with an executor-side numpy shape mismatch
        # (ADVICE r11). Both empty -> any positive width hashes zero rows.
        dim = embedding_dim(corpus, vec_col, empty_default=0)
        if dim == 0:
            dim = embedding_dim(queries, vec_col, empty_default=2)
    planes = _hyperplanes(n_planes, dim)
    # no fan_out: bucketing is one vectorized matmul per Arrow batch, so scan
    # splits already provide the parallelism at scale, and a repartition here
    # would shuffle the full vector payload before a map-only stage
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), lsh_bucket(F.col(vec_col), planes).alias("bucket")
    )
    q0 = queries.select(
        F.col(id_col).alias("query_id"),
        lsh_bucket(F.col(vec_col), planes).alias("_qb"),
    )
    probes = _probe_buckets(n_planes, multi_probe)
    q = F.broadcast(q0.select("query_id", F.explode(F.array(*probes)).alias("bucket")).distinct())
    return (
        q.join(c, "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )


# Gather-tier budget: bytes of one vector source's dense float64 matrix.
# Each reused Python worker holds one copy of every broadcast table, so the
# per-executor cost is about budget x Python workers — modest beside one
# shuffled candidate join at the same scale.
GATHER_MAX_BYTES = 64 << 20


def _cosine_rows(A: "np.ndarray", B: "np.ndarray") -> "np.ndarray":
    """Row-wise float64 cosine; NaN where either row has zero norm."""
    return np.einsum("ij,ij->i", A, B) / (np.linalg.norm(A, axis=1) * np.linalg.norm(B, axis=1))


def _gather_table(df: DataFrame, id_col: str, vec_col: str, dim: int, max_bytes: int):
    """(ids_sorted, matrix) of one vector source for the gather tier, or None
    when it exceeds ``max_bytes`` / is empty / has duplicate, null or
    non-integer ids / ragged vectors — every None falls back to the join
    tier, which handles all of those shapes. Sized with ONE incremental
    ``limit(n+1)`` collect (the d05 driver-tier pattern): no count job, and
    at 100 TB the probe collects at most n+1 rows before bailing out."""
    if dim <= 0:
        return None
    max_rows = max_bytes // (dim * 8)
    if max_rows < 1:
        return None
    try:
        pdf = df.select(id_col, vec_col).limit(int(max_rows) + 1).toPandas()
        if len(pdf) == 0 or len(pdf) > max_rows:
            return None
        ids = pdf[id_col].to_numpy(dtype=np.int64)
        if np.unique(ids).size != ids.size:
            return None
        E = np.array(list(pdf[vec_col]), dtype=np.float64)
        if E.ndim != 2 or E.shape[1] != dim:
            return None
    except (TypeError, ValueError):
        return None
    order = np.argsort(ids)
    return ids[order], E[order]


def pair_cosine(
    pairs: DataFrame,
    left: DataFrame,
    right: DataFrame,
    left_col: str,
    right_col: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact float64 cosine of each pair: ``pairs`` (all of its columns)
    plus an unrounded ``_sim``, where ``pairs[left_col]`` names an
    ``id_col`` of ``left`` and ``pairs[right_col]`` one of ``right``.

    Gather tier: when every distinct source frame (``right is left`` counts
    once) fits ``GATHER_MAX_BYTES``, each is collected into an id-sorted
    table, broadcast once, and the pairs are scored MAP-ONLY — searchsorted
    lookups over the two id longs, 16 B/pair through the Python boundary
    instead of two full vectors (~1 KB/pair at dim 64), and no scoring
    joins. Join tier: otherwise both vectors join back by id and one
    Arrow-batched einsum scores them; this is the unbounded path, and the
    only one for oversized sources and duplicate ids.

    Both tiers compute identical sims and share one NULL contract: a pair
    whose id is null or absent from its source drops, as an inner join
    drops it, and a zero-norm vector's NaN cosine reaches Spark as NULL
    (pandas-UDF NaN converts to null at the Arrow boundary)."""
    srcs = [left] if right is left else [left, right]
    tables = []
    for src in srcs:
        dim = embedding_dim(src, vec_col, empty_default=0)
        table = _gather_table(src, id_col, vec_col, dim, GATHER_MAX_BYTES)
        if table is None:
            break
        tables.append(table)
    cols = [F.col(c) for c in pairs.columns]
    if len(tables) == len(srcs):
        bc = pairs.sparkSession.sparkContext.broadcast(tables)

        @F.pandas_udf("hit boolean, sim double")
        def gather(a: pd.Series, b: pd.Series) -> pd.DataFrame:
            (l_ids, l_E), (r_ids, r_E) = bc.value[0], bc.value[-1]

            def look(ids: "np.ndarray", v: pd.Series):
                x = v.to_numpy()
                notnull = ~pd.isna(x)  # nullable ints arrive as float with NaN holes
                x = np.where(notnull, x, 0).astype(np.int64)
                i = np.searchsorted(ids, x).clip(0, ids.size - 1)
                return i, notnull & (ids[i] == x)

            (ia, hit_a), (ib, hit_b) = look(l_ids, a), look(r_ids, b)
            return pd.DataFrame({"hit": hit_a & hit_b, "sim": _cosine_rows(l_E[ia], r_E[ib])})

        # nondeterministic marker: stops Catalyst pushing the hit filter (or
        # a caller's threshold filter) through the projection, which would
        # instantiate a second ArrowEvalPython and run the kernel twice
        g = gather.asNondeterministic()(F.col(left_col), F.col(right_col))
        return (
            pairs.select(*cols, g.alias("_g"))
            .filter(F.col("_g.hit"))
            .select(*cols, F.col("_g.sim").alias("_sim"))
        )

    @F.pandas_udf("double")
    def cos(a: pd.Series, b: pd.Series) -> pd.Series:
        if len(a) == 0:
            return pd.Series([], dtype="float64")
        return pd.Series(_cosine_rows(_stack(a), _stack(b)))

    lv = left.select(F.col(id_col).alias(left_col), F.col(vec_col).alias("_lv"))
    rv = right.select(F.col(id_col).alias(right_col), F.col(vec_col).alias("_rv"))
    sim = cos.asNondeterministic()(F.col("_lv"), F.col("_rv"))  # marker: as above
    return pairs.join(lv, left_col).join(rv, right_col).select(*cols, sim.alias("_sim"))


def score_candidates(
    cand: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    queries: DataFrame | None = None,
) -> DataFrame:
    """Exact cosine (``pair_cosine``) + per-query top-k over a (query_id,
    neighbor_id) candidate set. Neighbor vectors come from the corpus; query
    vectors come from ``queries`` when given — REQUIRED whenever the query
    set is not a subset of the corpus sharing its id space, otherwise absent
    queries are silently dropped and colliding ids score against the wrong
    vector (ADVICE r2)."""
    scored = pair_cosine(
        cand, corpus if queries is None else queries, corpus, "query_id", "neighbor_id",
        id_col, vec_col,
    )
    # rank on the ROUNDED sim: the unrounded key inherits the summation
    # algorithm (einsum pairwise vs the oracle's sequential sum), so
    # near-ties below 4 dp could rank-flip across engines; rounding the
    # key first makes the (sim, neighbor_id) order identical by
    # construction (review r9 — oracles rank the same way). A NULL sim
    # (zero-norm vector) ranks last.
    w = Window.partitionBy("query_id").orderBy(
        F.desc(F.round("_sim", 4)), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", F.round("_sim", 4).alias("sim"), "rk")
    )


def ann_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 8,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    multi_probe: int = 1,
) -> DataFrame:
    """Approximate top-k: LSH bucket candidates, then exact scoring. At scale,
    bucket the corpus ONCE (write bucket-partitioned parquet) and reuse
    across query batches."""
    cand = lsh_candidates(corpus, queries, n_planes, dim, id_col, vec_col, multi_probe)
    return score_candidates(cand, corpus, k, id_col, vec_col, queries=queries)


def _derive_n_blocks(n_rows: int, rows_per_block: int) -> int:
    return max(1, -(-n_rows // rows_per_block))


def embedding_near_dup_pairs(
    emb: DataFrame,
    threshold: float = 0.4,
    n_blocks: int | None = None,
    rows_per_block: int = 4096,
) -> DataFrame:
    """All pairs above a cosine threshold — exact, via blocked matrix multiply.

    Design: rows are hashed into n_blocks groups, each group packed into one
    row (ids + vectors); the n_blocks*(n_blocks+1)/2 block pairs fan out as a
    tiny self-join, and each task computes a dense float64 BLAS matmul over
    its two blocks (Arrow-batched mapInPandas). This replaces a row-level
    O(n^2) join whose per-pair dot ran through interpreted higher-order
    functions — ~35x faster at sf0.1 and each task stays a cache-friendly
    GEMM at any scale. Arithmetic is dot/(|a||b|) in float64, matching the
    DuckDB oracle's list_cosine_similarity to the emitted 4 decimals.

    n_blocks is derived from the corpus count (ceil(n / rows_per_block), one
    cheap count job) unless given, so packed rows stay bounded: 4096 vectors
    x 64 float64 ≈ 2 MB per block row regardless of corpus size — r1's fixed
    n_blocks=16 grew rows linearly with the corpus (VERDICT r1 finding). The
    worker asserts the bound, so a mis-sized call fails loudly, not with an
    Arrow OOM.

    The block grid is still quadratic in input size; at 100 TB this exact
    operator is the verification/rerank stage — ``near_dup_pairs_lsh`` below
    is the scale path (LSH candidates → exact rerank of only those pairs)."""
    if n_blocks is None:
        n_blocks = _derive_n_blocks(emb.count(), rows_per_block)
    hard_cap = 4 * rows_per_block  # hash skew tolerance before failing loudly
    packed = (
        emb.select(
            F.pmod(F.hash("vec_id"), F.lit(n_blocks)).alias("blk"), "vec_id", "embedding"
        )
        .groupBy("blk")
        .agg(F.collect_list(F.struct("vec_id", "embedding")).alias("rows"))
    )
    grid = (
        packed.select(F.col("blk").alias("b1"), F.col("rows").alias("r1"))
        .join(
            packed.select(F.col("blk").alias("b2"), F.col("rows").alias("r2")),
            F.col("b1") <= F.col("b2"),
        )
        .repartition(n_blocks * (n_blocks + 1) // 2)
    )

    def block_pairs(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            out_v1, out_v2, out_sim = [], [], []
            for b1, b2, r1, r2 in zip(pdf["b1"], pdf["b2"], pdf["r1"], pdf["r2"]):
                if len(r1) > hard_cap or len(r2) > hard_cap:
                    raise ValueError(
                        f"packed block exceeds bound: {max(len(r1), len(r2))} rows "
                        f"> {hard_cap}; size n_blocks/rows_per_block to the corpus"
                    )
                ids1 = np.array([r["vec_id"] for r in r1], dtype=np.int64)
                m1 = np.array([r["embedding"] for r in r1], dtype=np.float64)
                ids2 = np.array([r["vec_id"] for r in r2], dtype=np.int64)
                m2 = np.array([r["embedding"] for r in r2], dtype=np.float64)
                sims = (m1 @ m2.T) / np.outer(
                    np.linalg.norm(m1, axis=1), np.linalg.norm(m2, axis=1)
                )
                # half-away-from-zero, matching F.round and DuckDB round():
                # np.round is banker's (ties-to-even), which flips exact
                # 4-dp boundary values vs the oracle (review r9). copysign
                # passes NaN through: a zero-norm vector's undefined cosine
                # is NOT a near-dup, and NaN >= t is False below — the same
                # isnan-guarded semantics as the LSH path and the oracles.
                sims = np.copysign(np.floor(np.abs(sims) * 1e4 + 0.5) / 1e4, sims)
                if b1 == b2:
                    # same block: each unordered pair appears twice in the
                    # matrix; the id order dedups it
                    keep = ids1[:, None] < ids2[None, :]
                else:
                    # disjoint blocks: each unordered pair appears exactly
                    # once; keep all, emit in (min, max) id order
                    keep = np.ones_like(sims, dtype=bool)
                i, j = np.nonzero(keep & (sims >= threshold))
                lo = np.minimum(ids1[i], ids2[j])
                hi = np.maximum(ids1[i], ids2[j])
                out_v1.append(lo)
                out_v2.append(hi)
                out_sim.append(sims[i, j])
            if out_v1:
                yield pd.DataFrame(
                    {
                        "v1": np.concatenate(out_v1),
                        "v2": np.concatenate(out_v2),
                        "sim": np.concatenate(out_sim),
                    }
                )

    return grid.mapInPandas(block_pairs, schema="v1 long, v2 long, sim double")


def _resolve_n_planes(emb: DataFrame, n_tables: int, n_planes: int | None) -> int:
    """None -> corpus-sized band width via the measured growth law; an
    explicit k passes through untouched (VERDICT r11 #5)."""
    if n_planes is None:
        return recommended_lsh_planes(corpus_count(emb), n_tables=n_tables)
    return n_planes


def lsh_pair_candidates(
    emb: DataFrame,
    n_tables: int = 4,
    n_planes: int | None = None,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Distinct id-ordered (v1, v2) candidate pairs from banded multi-table
    LSH: ``n_tables`` independent tables of ``n_planes`` sign-bit hyperplanes
    each; two rows become candidates when they collide on ANY table's full
    k-bit key — the same OR-of-ANDs amplification, and the same banded
    self-join (``dedup.band_pairs``), as minhash banding. vs the r2
    single-table + bit-flip probing: per-table collision volume shrinks by
    2^-k while recall for high-sim pairs amplifies with L (a sim-s pair
    misses only if every table splits it: (1-p^k)^L, p = 1 - acos(s)/pi),
    and the explode fan-out is L rows instead of 1 + sum(C(k,h)) probe rows.
    All L*k sign bits come from ONE Arrow-batched matmul per input batch.
    ONLY scalar ids and band keys move through the join and the dedup —
    never the vectors, so the dedup exchange is two longs wide instead of
    two full embeddings (VERDICT r2 "What's wrong" #1).

    Sizing k with the corpus (measured, r11 second-decade probe): the
    random-pair collision probability is a PER-PAIR constant (~L * p_rand^k),
    so at FIXED (L, k) the candidate count grows ~quadratically with n —
    the probe measured the candidate exchange at 108x on a 10x corpus
    (0.4 -> 43 MB, exactly p * C(n,2)). This is intrinsic to every LSH
    family, not a plan defect: hold the false-candidate budget by growing
    k ~ log2(n) (each extra hyperplane halves random collisions, costing
    recall that one extra table restores). The exchange stays ids-only
    either way; rerank work is candidate-bounded.

    ``n_planes=None`` (the default) applies that law automatically:
    k = ``recommended_lsh_planes(corpus_count(emb), n_tables)`` — one
    cached count job, then the corpus-sized band width the r11 probe
    verified end-to-end (k=21 vs fixed k=16 at 200k vectors: 5.2x faster
    at identical output, VERDICT r11 #5). An explicit k is honored
    untouched for gate-corpus tuning and recall experiments."""
    n_planes = _resolve_n_planes(emb, n_tables, n_planes)
    if dim is None:
        dim = embedding_dim(emb, vec_col, empty_default=2)
    P = np.array(_hyperplanes(n_tables * n_planes, dim), dtype=np.float64)
    weights = (1 << np.arange(n_planes, dtype=np.int64)).astype(np.int64)
    L, k = n_tables, n_planes

    @F.pandas_udf("array<long>")
    def band_keys(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype="object")
        bits = (_stack(v) @ P.T > 0).reshape(-1, L, k)
        return pd.Series([row.tolist() for row in bits @ weights])

    # nondeterministic marker: see lsh_bucket (join-key isnotnull inference
    # would duplicate the matmul eval). no fan_out: bucketing is map-only
    # vectorized work, scan splits provide the parallelism at scale.
    return band_pairs(
        emb, id_col, band_keys.asNondeterministic()(F.col(vec_col)), names=("v1", "v2")
    )


def near_dup_pairs_lsh(
    emb: DataFrame,
    threshold: float = 0.4,
    n_tables: int = 4,
    n_planes: int | None = None,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cand: DataFrame | None = None,
) -> DataFrame:
    """The 100 TB near-dup path: banded-LSH candidate pairs, exact cosine
    rerank of ONLY those pairs. Candidate generation (band-key self-join
    over L tables) replaces the quadratic block grid — candidates are
    p*C(n,2) with a tiny per-pair constant, so k must grow ~log2(n) to hold
    the budget as the corpus scales (see lsh_pair_candidates); recall
    depends on n_tables/n_planes vs the threshold (a sim-s pair is missed
    with prob (1-p^k)^L, p = 1 - acos(s)/pi — high-sim pairs share a full
    band key in at least one table with high probability). The exact rerank
    is ``pair_cosine`` against ``emb`` — map-only over the id pairs when the
    corpus fits the gather budget, two id joins otherwise — and keeps the
    pairs whose 4-dp sim reaches ``threshold``. Pass a precomputed ``cand``
    frame (v1, v2, plus any columns that should ride along to the output)
    to rerank an externally materialized candidate set instead.

    ``n_planes=None`` (the default) sizes k to the corpus via
    ``recommended_lsh_planes`` inside ``lsh_pair_candidates`` — the scale
    path no longer requires the caller to know the candidate growth law."""
    if cand is None:
        cand = lsh_pair_candidates(emb, n_tables, n_planes, dim, id_col, vec_col)
    reranked = pair_cosine(cand, emb, emb, "v1", "v2", id_col, vec_col).select(
        *cand.columns, F.round("_sim", 4).alias("sim")
    )
    # NaN guard: a zero-norm vector's undefined cosine reaches Spark as NULL
    # from either tier (pandas-UDF NaN converts to null), and NULL >= t
    # drops it, as the exact numpy path (s02) and the oracle drop it. The
    # isnan term stays as a backstop: a NaN that did reach Spark would sort
    # ABOVE every value and pass `sim >= t` — undefined similarity is not a
    # near-duplicate in either engine (review r9).
    return reranked.filter((F.col("sim") >= threshold) & ~F.isnan("sim"))


def mean_pool_embeddings(
    df: DataFrame,
    group_col: str = "doc_id",
    vec_col: str = "embedding",
    weight_col: str | None = None,
    normalize: bool = True,
) -> DataFrame:
    """(group, pooled embedding): element-wise (weighted) mean of each
    group's vectors, optionally L2-normalized — the chunk-embeddings ->
    document-embedding reducer every retrieval/training pipeline runs after
    chunked encoding.

    Shape: ONE shuffle on the group key into an Arrow grouped-agg
    (applyInPandas) whose per-group work is a single numpy column-sum. Spark
    has no built-in element-wise SUM over array columns, and the
    posexplode alternative shuffles rows x dim scalars and needs a second
    exchange to reassemble — this moves each vector once. Groups are
    documents (many, small): per-task memory is one group's (n_chunks, dim)
    matrix, bounded by the longest document, not the corpus."""
    cols = [group_col, vec_col] + ([weight_col] if weight_col else [])

    def pool(pdf: pd.DataFrame) -> pd.DataFrame:
        M = _stack(pdf[vec_col])
        if weight_col:
            w = pdf[weight_col].to_numpy(dtype=np.float64)
            s = w.sum()
            v = (w[:, None] * M).sum(axis=0) / (s if s != 0.0 else 1.0)
        else:
            v = M.mean(axis=0)
        if normalize:
            n = np.linalg.norm(v)
            if n > 0.0:
                v = v / n
        return pd.DataFrame({group_col: [pdf[group_col].iloc[0]], vec_col: [v.tolist()]})

    gtype = df.schema[group_col].dataType.simpleString()
    return (
        df.select(*cols)
        .groupBy(group_col)
        .applyInPandas(pool, f"{group_col} {gtype}, {vec_col} array<double>")
    )


# ------------------------------------------------------------- IVF (ANN v2)


def _nearest_centroid(vec_col: Column, centroids: list[list[float]]) -> Column:
    """Index of the nearest centroid (max cosine ~ max dot over normalized
    centroids): one Arrow-batched ``argmax(M @ C.T)`` per batch, ties to the
    lower index (numpy argmax first-occurrence — same tie-break as the struct
    array_min this replaces). The K x dim centroid matrix ships in the UDF
    closure; assignment happens in the scan stage, so only the cluster int
    ever reaches a shuffle. r2's K-struct literal expression tree cost
    seconds of Catalyst analysis per query at any data size."""
    C = np.array(centroids, dtype=np.float64)

    @F.pandas_udf("int")
    def assign(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype="int32")
        return pd.Series(np.argmax(_stack(v) @ C.T, axis=1).astype(np.int32))

    # nondeterministic marker: see lsh_bucket — stops join-key isnotnull
    # inference from duplicating the argmax eval
    return assign.asNondeterministic()(vec_col)


def _nearest_centroids_probe(vec_col: Column, centroids: list[list[float]], nprobe: int) -> Column:
    """Array of the ``nprobe`` nearest centroid indices per row (stable
    argsort: ties break to the lower index, matching array_sort on (d, i)
    structs)."""
    C = np.array(centroids, dtype=np.float64)

    @F.pandas_udf("array<int>")
    def probe(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype="object")
        order = np.argsort(-(_stack(v) @ C.T), axis=1, kind="stable")[:, :nprobe]
        return pd.Series([row.astype("int32").tolist() for row in order])

    return probe.asNondeterministic()(vec_col)


def _normalize(v) -> list[float]:
    import math

    n = math.sqrt(sum(x * x for x in v)) or 1.0
    return [x / n for x in v]


def ivf_train_centroids(
    emb: DataFrame,
    n_clusters: int = 16,
    n_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_mod: int | None = None,
) -> list[list[float]]:
    """K spherical-kmeans-lite centroids, deterministically.

    Seeds = the vectors whose xxhash64(id) ranks lowest (a deterministic
    K-sample), then ``n_iters`` Lloyd iterations: per-row nearest-centroid
    assignment (Arrow-batched argmax, no join), then one vectorized
    per-cluster sum (applyInPandas over the cluster int). Each iteration
    reduces K x dim values to the driver — model fitting, same reduction
    shape as any distributed kmeans.
    At 100 TB train on a hash-sample (``sample_mod=m`` keeps ~1/m of rows):
    centroid quality needs a sample, not the corpus. Assignment runs as the
    same Arrow-batched argmax the serving path uses."""
    base = emb.select(id_col, vec_col)  # map-only kernels: no repartition needed
    if sample_mod is not None and sample_mod > 1:
        base = base.filter(F.pmod(F.xxhash64(F.col(id_col)), F.lit(sample_mod)) == 0)
    seeds = (
        base.select(id_col, vec_col, F.xxhash64(F.col(id_col)).alias("_h"))
        .orderBy("_h", id_col)
        .limit(n_clusters)
        .collect()
    )
    centroids = [_normalize(list(r[vec_col])) for r in seeds]

    def _partial_sums(batches):
        # MAP-SIDE partial (sum, count) per cluster, accumulated across the
        # partition's batches: at most K rows leave each partition, so the
        # driver collects K x n_partitions model rows. The r6 shape —
        # groupBy(_c).applyInPandas — materialized each cluster's ENTIRE
        # vector set (corpus/K rows) as one pandas frame in one task, the
        # exact unbounded-buffer hazard real distributed kmeans avoids with
        # partial aggregation (review r7).
        sums: dict[int, "np.ndarray"] = {}
        counts: dict[int, int] = {}
        for pdf in batches:
            if len(pdf) == 0:
                continue
            M = np.array(list(pdf["_v"]), dtype=np.float64)
            c = pdf["_c"].to_numpy()
            for ci in np.unique(c):
                mask = c == ci
                part = M[mask].sum(axis=0)
                key = int(ci)
                if key in sums:
                    sums[key] += part
                    counts[key] += int(mask.sum())
                else:
                    sums[key] = part
                    counts[key] = int(mask.sum())
        if sums:
            yield pd.DataFrame(
                {
                    "_c": list(sums),
                    "_s": [s.tolist() for s in sums.values()],
                    "_n": [counts[k] for k in sums],
                }
            )

    for _ in range(max(0, n_iters)):
        assigned = base.select(
            _nearest_centroid(F.col(vec_col), centroids).alias("_c"),
            F.col(vec_col).alias("_v"),
        )
        # zero shuffle: per-partition partials, final K-row reduce on the
        # driver — the model, not the data, moves
        partials = assigned.mapInPandas(_partial_sums, "_c int, _s array<double>, _n long").collect()
        by_cluster: dict[int, tuple[list[float], int]] = {}
        for r in partials:
            prev = by_cluster.get(r["_c"])
            if prev is None:
                by_cluster[r["_c"]] = (list(r["_s"]), r["_n"])
            else:
                by_cluster[r["_c"]] = (
                    [a + b for a, b in zip(prev[0], r["_s"])],
                    prev[1] + r["_n"],
                )
        centroids = [
            _normalize([x / by_cluster[i][1] for x in by_cluster[i][0]])
            if i in by_cluster
            else c  # empty cluster keeps its previous centroid
            for i, c in enumerate(centroids)
        ]
    return centroids


def ivf_candidates(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, neighbor_id) pairs from the ``nprobe`` clusters nearest to
    each query. The corpus maps to cluster ids in the scan stage (one
    Arrow-batched argmax per batch — no join, no vectors shuffled);
    candidates join on one small int key. At scale, persist the assignment
    (or write cluster-partitioned parquet) once and reuse across query
    batches."""
    assign = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        _nearest_centroid(F.col(vec_col), centroids).alias("_c"),
    )
    probes = queries.select(
        F.col(id_col).alias("query_id"),
        F.explode(_nearest_centroids_probe(F.col(vec_col), centroids, nprobe)).alias("_c"),
    )
    return (
        F.broadcast(probes)
        .join(assign, "_c")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_clusters: int = 16,
    nprobe: int = 2,
    n_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_mod: int | None = None,
) -> DataFrame:
    """IVF approximate top-k: train centroids, probe the nearest nprobe
    inverted lists, exact-score only those candidates — the centroid-based
    alternative to ``ann_lsh_topk`` (coarser, data-adaptive partitions vs
    data-oblivious hyperplanes)."""
    cents = ivf_train_centroids(corpus, n_clusters, n_iters, id_col, vec_col, sample_mod)
    cand = ivf_candidates(corpus, queries, cents, nprobe, id_col, vec_col)
    return score_candidates(cand, corpus, k, id_col, vec_col, queries=queries)


# ------------------------------------------------------------------ queries


def s01_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-5 — the ANN baseline/verifier: queries
    broadcast, the corpus streams through one scan (never shuffled),
    per-query ranks tie-broken by neighbor id. The five query vectors are
    MEAN-POOLED from the 40 lowest-id corpus vectors (8 chunks per pooled
    "document", vec_id % 5), putting ``mean_pool_embeddings``'s grouped
    Arrow column-mean under the driver's oracle (VERDICT r6 #4) — the
    chunk-embeddings -> document-embedding -> retrieve pipeline shape.
    ``q_norm`` (L2 norm of the un-normalized pooled vector) pins the mean
    itself: cosine alone is scale-invariant, so without it a sum-pooled
    (or re-weighted) vector would hash identically. Pooled ids are offset
    to 10^9 — far above any corpus vec_id at every SF (ids are dense from
    0; even sf1000 is ~2x10^7 vectors) — so the exclude-self join predicate
    never collides with a corpus id (review r7: a 1000+ offset DID collide
    at sf0.1, silently excluding corpus vectors 1000-1004 from their
    same-numbered query's candidates on both engines)."""
    emb = load_table(spark, sf_dir, "embeddings")
    chunks = emb.filter(F.col("vec_id") < 40).select(
        (F.col("vec_id") % 5 + 1_000_000_000).alias("vec_id"), "embedding"
    )
    pooled = mean_pool_embeddings(chunks, group_col="vec_id", normalize=False)
    norms = pooled.select(
        F.col("vec_id").alias("query_id"),
        F.round(
            F.sqrt(F.aggregate("embedding", F.lit(0.0), lambda a, x: a + x * x)), 4
        ).alias("q_norm"),
    )
    return (
        cosine_topk(emb, pooled, k=5)
        .join(F.broadcast(norms), "query_id")
        .transform(presentation_sort, "query_id", "rk", shuffle=True)
    )


ORACLE_S01 = """
-- emb casts FLOAT[] -> DOUBLE[] first: DuckDB computes list_cosine_similarity
-- in the list's element type, and float32 sims disagree with the Spark
-- side's float64 math at the 4-dp rounding boundary often enough to flip a
-- hash on result sets this size (observed on s05: 0.3257f vs 0.3258d)
WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding FROM embeddings),
src AS (SELECT vec_id % 5 + 1000000000 AS query_id, embedding FROM emb WHERE vec_id < 40),
pos0 AS (SELECT query_id, unnest(generate_series(1, len(embedding))) AS i, embedding
         FROM src),
pos AS (SELECT query_id, i, avg(embedding[i]) AS v FROM pos0 GROUP BY query_id, i),
pooled AS (SELECT query_id, list(v ORDER BY i) AS qv FROM pos GROUP BY query_id),
norms AS (SELECT query_id,
                 round(sqrt(list_sum(list_transform(qv, x -> x * x))), 4) AS q_norm
          FROM pooled),
scored AS (
  SELECT p.query_id, e.vec_id AS neighbor_id,
         list_cosine_similarity(p.qv, e.embedding) AS sim_raw,
         row_number() OVER (PARTITION BY p.query_id
                            ORDER BY round(list_cosine_similarity(p.qv, e.embedding), 4) DESC,
                                     e.vec_id) AS rk
  FROM pooled p JOIN emb e ON e.vec_id <> p.query_id
)
SELECT s.query_id, s.neighbor_id, round(s.sim_raw, 4) AS sim, CAST(s.rk AS INT) AS rk,
       n.q_norm
FROM scored s JOIN norms n USING (query_id)
WHERE s.rk <= 5
ORDER BY s.query_id, s.rk
"""


def s02_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All embedding pairs above cosine 0.4 via the exact blocked-BLAS path
    (bounded block rows, dense GEMM per block pair), summarized as
    count/min/max so the oracle pins the full pair set. The exact tier that
    verifies the LSH scale path (s05)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        embedding_near_dup_pairs(emb, threshold=0.4)
        .groupBy()
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.max("sim"), 4).alias("max_sim"),
            F.round(F.min("sim"), 4).alias("min_sim"),
        )
    )


ORACLE_S02 = """
WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding FROM embeddings),
pairs AS (
  SELECT a.vec_id v1, b.vec_id v2,
         -- scaled-round form (matches textstats _scaled_round, review r10):
         -- the numpy side emulates half-away-from-zero on the SCALED double
         -- (floor(abs(x)*1e4 + 0.5)/1e4), so the oracle must round the
         -- identical IEEE intermediate x*1e4 — round(sim, 4) on the
         -- unscaled double can disagree when x*1e4+0.5 lands on/just past
         -- an integer due to float error
         round(list_cosine_similarity(a.embedding, b.embedding) * 10000.0)
           / 10000.0 AS sim
  FROM emb a JOIN emb b ON a.vec_id < b.vec_id
)
SELECT count(*) AS n_pairs,
       round(max(sim), 4) AS max_sim,
       round(min(sim), 4) AS min_sim
FROM pairs WHERE sim >= 0.4 AND NOT isnan(sim)
"""


def s03_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN candidates cross-checked end-to-end: the LSH candidate pair set
    (Spark-only hyperplane family) is materialized via xcheck; BOTH engines
    then score the candidates with exact cosine from the raw embeddings and
    rank top-k — scoring, ranking, and tie-breaks are fully oracle-verified.
    Bucket recall itself is pinned vs the exact path in
    tests/test_similarity.py."""
    from score_spark.operators.dedup import unpersist_on_gc

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    cand = write_xcheck(
        lsh_candidates(emb, queries, n_planes=8, multi_probe=1), "s03_candidates", sf_dir
    )
    # queries are corpus rows (same ids, same vectors), so both sides score
    # from the corpus: one gather table. Candidate cache released on result
    # GC (persist-lifetime audit, VERDICT r13 #3)
    return unpersist_on_gc(
        score_candidates(cand, emb, k=5).transform(
            presentation_sort, "query_id", "rk", shuffle=True
        ),
        (cand,),
    )


ORACLE_S03 = f"""
WITH cand AS (SELECT * FROM read_parquet('{xcheck_path("s03_candidates")}/*.parquet')),
emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding FROM embeddings),
scored AS (
  SELECT c.query_id, c.neighbor_id,
         list_cosine_similarity(q.embedding, n.embedding) AS sim_raw,
         row_number() OVER (PARTITION BY c.query_id
                            ORDER BY round(list_cosine_similarity(q.embedding, n.embedding), 4) DESC,
                                     c.neighbor_id) AS rk
  FROM cand c
  JOIN emb q ON q.vec_id = c.query_id
  JOIN emb n ON n.vec_id = c.neighbor_id
)
SELECT query_id, neighbor_id, round(sim_raw, 4) AS sim, CAST(rk AS INT) AS rk
FROM scored WHERE rk <= 5
ORDER BY query_id, rk
"""


def s04_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-ANN cross-checked the same way as s03: the candidate pair set
    (Spark-trained centroids are engine-specific) is materialized via
    xcheck; BOTH engines exact-score the shared candidates and rank top-k.
    Centroid training determinism + recall are pinned in
    tests/test_similarity.py."""
    from score_spark.operators.dedup import unpersist_on_gc

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    cents = ivf_train_centroids(emb, n_clusters=16, n_iters=2)
    cand = write_xcheck(
        ivf_candidates(emb, queries, cents, nprobe=2), "s04_candidates", sf_dir
    )
    # queries are corpus rows (same ids, same vectors), so both sides score
    # from the corpus: one gather table. Candidate cache released on result
    # GC (persist-lifetime audit, VERDICT r13 #3)
    return unpersist_on_gc(
        score_candidates(cand, emb, k=5).transform(
            presentation_sort, "query_id", "rk", shuffle=True
        ),
        (cand,),
    )


ORACLE_S04 = f"""
WITH cand AS (SELECT * FROM read_parquet('{xcheck_path("s04_candidates")}/*.parquet')),
emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding FROM embeddings),
scored AS (
  SELECT c.query_id, c.neighbor_id,
         list_cosine_similarity(q.embedding, n.embedding) AS sim_raw,
         row_number() OVER (PARTITION BY c.query_id
                            ORDER BY round(list_cosine_similarity(q.embedding, n.embedding), 4) DESC,
                                     c.neighbor_id) AS rk
  FROM cand c
  JOIN emb q ON q.vec_id = c.query_id
  JOIN emb n ON n.vec_id = c.neighbor_id
)
SELECT query_id, neighbor_id, round(sim_raw, 4) AS sim, CAST(rk AS INT) AS rk
FROM scored WHERE rk <= 5
ORDER BY query_id, rk
"""


def s05_near_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale-path near-dup operator under the driver gate: banded-LSH
    candidate pairs (ids only through the dedup exchange) materialized via
    xcheck; BOTH engines exact-cosine the shared pairs and apply the
    threshold, so the rerank math and filtering are fully oracle-verified.
    Candidate recall vs the exact all-pairs path is pinned in
    tests/test_similarity.py.

    Family/threshold are tuned to the GATE corpus, not to real near-dups:
    the synthetic embeddings top out near sim 0.5, so r5's production-shaped
    (n_tables=4, n_planes=12, threshold 0.4) config — high-precision bands
    for sim >= 0.9 duplicates — matched an EMPTY set at sf0.01 and the hash
    check verified nothing (VERDICT r5 #2). Wider bands (8x8) + threshold
    0.3 keep every stage non-vacuously exercised (123 result pairs at
    sf0.01, 2227 at sf0.1); a real dedup run would restore narrow bands and
    a high threshold.

    TWO legs under the one oracle row (r12 leg-2, mirroring d04): the tuned
    8x8 bands above, and the DEFAULT auto-sized path (n_planes=None ->
    corpus_count -> recommended_lsh_planes, k=14 at the sf0.01 corpus) —
    so the sizing machinery a scale user hits by default executes under
    the gate every round (non-vacuous: 340 candidates / 15 pairs at
    sf0.01) and its rerank is value-checked against DuckDB on its own
    xcheck'd candidate set."""
    emb = load_table(spark, sf_dir, "embeddings")
    # the two legs' candidate pipelines are independent — persist both and
    # run the two materialization counts from a small driver pool so their
    # band joins overlap instead of paying two serialized job chains (opt
    # r13, guide §2.6; same pattern as k01's writes). The xcheck WRITES
    # stay sequential on this thread: write_xcheck bills the cache->parquet
    # copy to the oracle channel by wall-clock, and overlapping two writes
    # would double-bill the overlapped wall, flattering the query number.
    from concurrent.futures import ThreadPoolExecutor

    from score_spark.operators.dedup import unpersist_on_gc

    c1 = lsh_pair_candidates(emb, n_tables=8, n_planes=8).persist()
    c2 = lsh_pair_candidates(emb, n_tables=8, n_planes=None).persist()
    try:
        with ThreadPoolExecutor(max_workers=2) as pool:
            for f in [pool.submit(c1.count), pool.submit(c2.count)]:
                f.result()
        cand = write_xcheck(c1, "s05_candidates", sf_dir)
        cand_auto = write_xcheck(c2, "s05_candidates_auto", sf_dir)
    except BaseException:
        # error path (ADVICE r13): a failed count/write would otherwise
        # leave both candidate frames persisted for the session lifetime
        # (they only reach xcheck's unpersist-on-replace registry on
        # success)
        for f in (c1, c2):
            try:
                f.unpersist()
            except Exception:
                pass
        raise
    # one rerank over the union of both legs: one gather probe and one
    # scoring pass instead of one per leg
    both = cand.withColumn("band_config", F.lit("tuned8x8")).unionByName(
        cand_auto.withColumn("band_config", F.lit("auto"))
    )
    pairs = near_dup_pairs_lsh(emb, threshold=0.3, cand=both)
    # both candidate caches release when the consumer drops the result
    # (VERDICT r13 #2/#3: they previously stayed persisted — MEMORY_AND_DISK
    # pressure on executor storage for the rest of the job at scale)
    return unpersist_on_gc(
        pairs.select("v1", "v2", "sim", "band_config").orderBy("band_config", "v1", "v2"),
        (c1, c2),
    )


def s05_legs(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Per-leg pipelines for bench attribution (VERDICT r12 #4), mirroring
    dedup.d04_legs: the s05 gate row unions the tuned 8x8 and auto-sized
    band configs, so bench.py times each leg separately (noop sink, xcheck
    writes absent — those are oracle-channel cost) and publishes the
    seconds beside the row."""
    emb = load_table(spark, sf_dir, "embeddings")
    return {
        "tuned8x8": near_dup_pairs_lsh(
            emb, threshold=0.3, cand=lsh_pair_candidates(emb, n_tables=8, n_planes=8)
        ),
        "auto": near_dup_pairs_lsh(
            emb, threshold=0.3, cand=lsh_pair_candidates(emb, n_tables=8, n_planes=None)
        ),
    }


ORACLE_S05 = f"""
WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding FROM embeddings),
rerank AS (
  SELECT c.v1, c.v2, c.band_config,
         list_cosine_similarity(a.embedding, b.embedding) AS sim_raw
  FROM (
    SELECT v1, v2, 'tuned8x8' AS band_config
    FROM read_parquet('{xcheck_path("s05_candidates")}/*.parquet')
    UNION ALL
    SELECT v1, v2, 'auto'
    FROM read_parquet('{xcheck_path("s05_candidates_auto")}/*.parquet')
  ) c
  JOIN emb a ON a.vec_id = c.v1
  JOIN emb b ON b.vec_id = c.v2
)
SELECT v1, v2, round(sim_raw, 4) AS sim, band_config
FROM rerank
WHERE round(sim_raw, 4) >= 0.3 AND NOT isnan(sim_raw)
ORDER BY band_config, v1, v2
"""


QUERIES = {
    "s01_cosine_topk": s01_cosine_topk,
    "s02_embedding_near_dups": s02_embedding_near_dups,
    "s03_ann_lsh": s03_ann_lsh,
    "s04_ann_ivf": s04_ann_ivf,
    "s05_near_dup_lsh": s05_near_dup_lsh,
}

ORACLE = {
    "s01_cosine_topk": ORACLE_S01,
    "s02_embedding_near_dups": ORACLE_S02,
    "s03_ann_lsh": ORACLE_S03,
    "s04_ann_ivf": ORACLE_S04,
    "s05_near_dup_lsh": ORACLE_S05,
}
