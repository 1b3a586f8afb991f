"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale design (the whole point at 100 TB):
- exact: one hash-groupBy shuffle on a 16-byte key — the minimum possible.
- n-gram Jaccard: never a crossJoin. Explode distinct shingles, drop
  ultra-common shingles (doc-freq cap — they only create useless candidate
  pairs), self-join on shingle, count intersections, join sizes. The shuffle
  is bounded by shingle frequency, not by |docs|^2. No broadcast hints
  anywhere: the freq and sizes tables grow with the corpus, so the join
  strategy is left to AQE (it will broadcast only when actually small).
- Blocking pair miners share ONE banded self-join, ``band_pairs``: one
  bucket key per band, posexploded, self-joined on (band, key) with
  a.id < b.id, scored and filtered before a distinct that carries only the
  two ids and the score — never the signatures — through the shuffle.
  (similarity.lsh_pair_candidates' hyperplane tables use it too.)
- MinHash+LSH: fixed-width signature via xxhash64 with per-hash seeds; the
  bands are xxhash64 of each band's rows. Tunable (n_hashes, bands) to the
  target Jaccard threshold t ≈ (1/b)^(1/r); the score is the signature
  agreement.
- SimHash: per-bit conditional sums in ONE aggregate pass (no explode
  shuffle amplification), as a ``long`` (<= 63 bits) or an ``array<long>``
  of 63-bit words. The bands are (max_hamming + 1) balanced bit-chunks, so
  the pigeonhole guarantee holds for ANY max_hamming: a pair within
  distance d differs in <= d chunks, so with d + 1 chunks at least one
  chunk matches. One ``hamming_pairs`` serves both signature types; the
  score is the exact per-word popcount sum.

Oracle strategy for the hash-family operators (d03/d04): Spark materializes
the engine-specific intermediate (candidate pairs / signatures) through
``score_spark.xcheck`` and both engines independently recompute the exact
downstream math — Jaccard from the raw documents, Hamming from the shared
signatures — so everything deterministic is hash-checked by the driver.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.window import Window

from score_spark.functions.text import shingles, tokens
from score_spark.io import EXPLODE_BYTES_PER_TASK, fan_out, load_table
from score_spark.xcheck import write_xcheck, xcheck_path


def unpersist_on_gc(result: DataFrame, frames) -> DataFrame:
    """Tie the lifetime of intermediate caches to the RETURNED frame: when
    the consumer drops the result, every frame in ``frames`` is unpersisted.

    This replaces the r13-era ``localCheckpoint(eager=True)`` +
    immediate-unpersist pattern in the gate queries: the checkpoint existed
    only so the caches could be freed before returning, but it cost one full
    extra materialization job (compute + block store + re-read) and its AQE
    chain gaps per query run — the self-inflicted job-chain serialization
    VERDICT r13 #1 calls out. With the caches tied to the result instead,
    the pipeline materializes exactly once, in the consumer's own action
    (bench noop / driver collect), reading the shared caches directly.

    CONTRACT: the caches stay alive exactly as long as the returned frame is
    referenced. Consumers that re-execute the result get cache hits; once
    the result is garbage-collected the cached blocks are released (pinned
    by tests/test_cache_lifetimes.py). The callback holds the frames
    strongly and never the result (no cycle, so plain refcount collection
    fires it promptly)."""
    import weakref

    def _release(frames=tuple(frames)):
        for f in frames:
            try:
                f.unpersist()
            except Exception:
                pass  # session already stopped
    weakref.finalize(result, _release)
    return result


# ------------------------------------------------------------------ exact


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id row per exact content hash. One shuffle on md5.

    NULL-text rows are all KEPT (each gets a unique per-id fingerprint):
    md5(NULL) is NULL, so a plain hash partition grouped every NULL-content
    row into one "duplicate" cluster and silently deleted all but one —
    unknown content is not equal content (review r9)."""
    h = F.coalesce(
        F.md5(F.col(text_col)),
        F.concat(F.lit("__null__"), F.col(id_col).cast("string")),
    ).alias("_fp")
    ranked = df.select("*", h).withColumn(
        "_rk", F.row_number().over(Window.partitionBy("_fp").orderBy(id_col))
    )
    return ranked.filter(F.col("_rk") == 1).drop("_fp", "_rk")


# -------------------------------------------------------- n-gram Jaccard

_SHINGLE_SQL = (
    "list_distinct(list_transform(range(len(string_split(text,' ')) - 2), "
    "i -> concat_ws(' ', string_split(text,' ')[i+1], string_split(text,' ')[i+2], string_split(text,' ')[i+3])))"
)


def shingle_table(
    df: DataFrame | None = None,
    n: int = 3,
    max_doc_freq: int | None = 50,
    shingle_df: DataFrame | None = None,
    hash_ids: bool = False,
    drop_singletons: bool = False,
) -> DataFrame:
    """(doc_id, shingle) pairs, optionally dropping shingles that appear in
    more than max_doc_freq docs — the standard candidate-explosion guard.
    The freq join co-partitions on ``sh`` with downstream self-joins; no
    broadcast (freq grows with the vocabulary). Pass a (persisted)
    ``shingle_df`` from ``shingle_arrays`` to explode from the shared base
    instead of re-shingling — the ONE definition of this explode+cap
    (VERDICT r2 'What's wrong' #4: three inline copies had begun to drift).

    ``hash_ids=True`` replaces the shingle string with its xxhash64 — the
    standard 64-bit shingle identity every large-scale dedup pipeline uses
    (the string averages ~25 bytes; the freq aggregate, cap join, and any
    downstream group-by then shuffle 8-byte longs instead — measured ~2x on
    the whole d02 pipeline). Two distinct shingles collide with p ~ m^2/2^65
    (~1e-8 at a million distinct shingles); a collision can only merge two
    shingles' doc lists, nudging an intersection count by 1 — immaterial for
    dedup and absent at driver-gate scale. Use the default string identity
    when bit-exact shingle equality is required (the d03 rerank path).

    ``drop_singletons=True`` additionally drops shingles appearing in
    exactly ONE row — for consumers that use the table ONLY to generate
    co-occurrence pairs (the d1 < d2 self-join), where a doc-freq-1 shingle
    provably contributes nothing but still crosses the join exchange on
    both sides (guide §2.3: shuffle fewer bytes). The predicate rides the
    freq aggregate the cap already computes, so it is free when a cap is
    set. NOT the default: a plain (doc_id, shingle) table's consumers may
    legitimately need singleton rows (coverage stats, inverted indexes).
    The gate corpus is nearly singleton-free (~0.08%% of occurrence rows at
    sf0.1, 0 at the sf1 replica — synthetic text reuses a 27k-shingle
    vocabulary), so the bench cannot see this; Zipfian natural-corpus
    vocabularies are singleton-heavy, which is where the cut lands (opt
    r14)."""
    if shingle_df is None:
        if df is None:
            raise ValueError("need df or shingle_df")
        shingle_df = shingle_arrays(df, n)
    g = shingle_df.select("doc_id", F.explode("_shs").alias("sh"))
    if hash_ids:
        g = g.select("doc_id", F.xxhash64("sh").alias("sh"))
    if max_doc_freq is not None or drop_singletons:
        freq = g.groupBy("sh").agg(F.count(F.lit(1)).alias("_df"))
        keep = freq
        if max_doc_freq is not None:
            keep = keep.filter(F.col("_df") <= max_doc_freq)
        if drop_singletons:
            keep = keep.filter(F.col("_df") >= 2)
        g = g.join(keep.select("sh"), "sh")
    return g


def ngram_jaccard_pairs(
    df: DataFrame,
    n: int = 3,
    threshold: float = 0.05,
    max_doc_freq: int | None = 50,
    eager: bool = False,
    hash_ids: bool = True,
) -> DataFrame:
    """Exact Jaccard over word n-grams for every pair sharing >=1 (uncommon)
    shingle. Returns (d1, d2, jac).

    Pair generation is a self-join of the freq-capped, HASH-IDENTIFIED
    shingle table on the 8-byte shingle id (d1 < d2 halves the pairs). What
    makes this the scale plan rather than the r2 hazard it once was: (1) the
    doc-freq cap runs FIRST as a separate map-side-combined count aggregate,
    so a hyper-common shingle is dropped before it can fan out quadratically
    — each surviving shingle emits <= C(cap, 2) pairs; (2) after hash_ids
    the shuffled rows are (long, long) = 16 bytes, not ~25-byte strings.
    Cost accounting vs the r3 inverted-index variant (collect_list + JVM
    combination expansion): the join pays one extra shuffle of those
    16-byte rows (the two projections differ, so the exchanges are not
    reusable), but drops the nested array-of-struct allocation that
    dominated the expansion's runtime — measured 1.8x end-to-end, and the
    codegen'd join is also the shape Spark's own ML LSH uses at scale.

    The doc-freq cap stays a separate count aggregate + join (NOT a filter on
    size(collect_list)): counting partial-aggregates map-side, so a
    hyper-common shingle never materializes an unbounded doc list anywhere —
    the skew-safe order of operations at 100 TB. Join strategy is
    deliberately unhinted: freq (the shingle vocabulary) and sizes (one row
    per document) both grow linearly with the corpus, so a broadcast hint
    would OOM at scale; AQE still broadcasts them at small scale when their
    runtime size warrants it.

    eager=True materializes the (small) result via localCheckpoint and
    unpersists the shingle cache before returning — use from long-lived
    sessions (bench/driver) so the cache doesn't stay pinned across queries.
    """
    sh0 = shingle_arrays(df, n).persist()
    # sizes fall out of the array form for free — r2 re-aggregated the
    # exploded table (an extra shuffle) to count what size(_shs) already knows
    sizes = sh0.select("doc_id", F.size("_shs").alias("sz"))
    # 64-bit shingle identity (default): every shuffle from here (freq agg,
    # cap join, intersection group) carries longs, not ~25-byte strings (see
    # shingle_table docstring for the collision analysis); hash_ids=False is
    # the collision-diagnosis mode (d02_ngram_jaccard docstring).
    # drop_singletons: `g` exists here ONLY to feed the d1 < d2 self-join —
    # a doc-freq-1 shingle can never produce a pair, so dropping it is
    # result-identical (proof: inter counts rows where two DIFFERENT docs
    # share a shingle; sizes come from _shs, not g) and removes the
    # singleton fraction of the vocabulary from both sides of the join
    # exchange for free (the predicate rides the cap's freq aggregate).
    g = shingle_table(
        max_doc_freq=max_doc_freq, shingle_df=sh0, hash_ids=hash_ids, drop_singletons=True
    )
    inter = (
        g.select("sh", F.col("doc_id").alias("d1"))
        .join(g.select("sh", F.col("doc_id").alias("d2")), "sh")
        .filter(F.col("d1") < F.col("d2"))
        .groupBy("d1", "d2")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    s1 = sizes.select(F.col("doc_id").alias("d1"), F.col("sz").alias("sz1"))
    s2 = sizes.select(F.col("doc_id").alias("d2"), F.col("sz").alias("sz2"))
    res = (
        inter.join(s1, "d1")
        .join(s2, "d2")
        .select(
            "d1",
            "d2",
            F.round(F.col("inter") / (F.col("sz1") + F.col("sz2") - F.col("inter")), 4).alias("jac"),
        )
        .filter(F.col("jac") >= threshold)
    )
    if eager:
        res = res.localCheckpoint(eager=True)
        sh0.unpersist()
    else:
        # lazy path: tie the cache's unpersist to GC of the returned
        # wrapper so repeated library calls in a long-lived session don't
        # accumulate pinned corpus-sized caches (review r7). CONTRACT
        # (review r9): the persist benefit lasts only while the returned
        # wrapper object is referenced — a DataFrame DERIVED from it does
        # not keep the wrapper alive, so executing the derived frame after
        # dropping the wrapper recomputes the shingles (correct, just
        # unpersisted). Callers that branch the result should hold the
        # wrapper (or keep it alive via an attribute on their derived
        # frame, the d02 pattern) or use eager=True.
        unpersist_on_gc(res, (sh0,))
    return res


def exact_jaccard_for_pairs(
    pairs: DataFrame,
    docs: DataFrame,
    n: int = 3,
    shingle_df: DataFrame | None = None,
    sizes_df: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard computed ONLY for the given (d1, d2) pairs — the
    rerank/verify stage after a candidate filter. The shuffle is sized by the
    candidate set, not |docs|^2: pairs join the shingle table once per side.
    Pass a persisted ``shingle_df`` (doc_id, sh) and ``sizes_df``
    (doc_id, sz) to avoid re-shingling the corpus per branch (the caller owns
    their lifecycle — see ``shingle_arrays``). Any extra columns on ``pairs``
    ride through unchanged; pairs sharing no shingle get exact_jac = 0.0;
    a pair referencing a doc id ABSENT from the corpus/sizes keeps its row
    with exact_jac = NULL (review r7: the old inner size-joins silently
    DROPPED such pairs, so a rerank report over a filtered corpus
    under-counted candidates with no error)."""
    if shingle_df is None or sizes_df is None:
        base = shingle_arrays(docs, n)
        shingle_df = shingle_df if shingle_df is not None else shingle_table(
            max_doc_freq=None, shingle_df=base
        )
        sizes_df = sizes_df if sizes_df is not None else base.select(
            "doc_id", F.size("_shs").alias("sz")
        )
    g, sizes = shingle_df, sizes_df
    p = pairs
    inter = (
        # distinct FIRST: duplicate (d1, d2) rows in the candidate frame
        # would double-count every shared shingle through the joins and
        # inflate exact_jac (confirmed by execution: a twice-listed pair
        # scored 1.0 instead of 0.3333 — review r9); the final left-join
        # back onto `p` still returns one row per INPUT row
        p.select("d1", "d2").distinct()
        .join(g.alias("ga"), F.col("d1") == F.col("ga.doc_id"))
        .join(g.alias("gb"), (F.col("d2") == F.col("gb.doc_id")) & (F.col("ga.sh") == F.col("gb.sh")))
        .groupBy("d1", "d2")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    i = F.coalesce(F.col("inter"), F.lit(0))
    denom = F.col("sz1") + F.col("sz2") - i
    # size joins are LEFT so unknown ids surface as NULL exact_jac rather
    # than vanishing; a NULL sz makes denom NULL and the WHEN falls through
    # to the otherwise only when both sizes are known
    jac = (
        F.when(F.col("sz1").isNull() | F.col("sz2").isNull(), F.lit(None).cast("double"))
        .when(denom > 0, F.round(i / denom, 4))
        .otherwise(F.lit(0.0))
    )
    return (
        p.join(inter, ["d1", "d2"], "left")
        .join(sizes.select(F.col("doc_id").alias("d1"), F.col("sz").alias("sz1")), "d1", "left")
        .join(sizes.select(F.col("doc_id").alias("d2"), F.col("sz").alias("sz2")), "d2", "left")
        .select(
            *[F.col(c) for c in pairs.columns],
            jac.alias("exact_jac"),
        )
    )


# ------------------------------------------------------ banded self-join


def band_pairs(
    df: DataFrame,
    id_col: str,
    keys: Column,
    payload: str | None = None,
    score: Column | None = None,
    keep: Column | None = None,
    names: tuple[str, str] = ("d1", "d2"),
) -> DataFrame:
    """Distinct id-ordered pairs of ``df`` rows that share a bucket in ANY
    band — the one banded self-join behind every blocking pair miner
    (MinHash bands, SimHash pigeonhole chunks, hyperplane-LSH tables).

    ``keys`` is an array Column with one bucket key per band; it is
    ``posexplode``d in the same select that projects the id (``_id``) and
    the optional ``payload`` column (``_p``), and the exploded rows
    self-join on (band ``_t``, key ``_k``) with ``a._id < b._id``. ``score``
    is an aliased Column that may read ``a._p`` / ``b._p``; ``keep`` filters
    on it. Both run BEFORE the ``distinct`` that folds a pair colliding in
    several bands into one row, so only the two ids (named by ``names``)
    and the score cross the dedup exchange — never the payload, and the
    threshold first drops the random collisions that dominate the join
    output at scale (opt r13, guide §2.3). The score must be a function of
    the pair alone, or the distinct would keep one row per distinct value.

    Pass ``keys`` as the inline expression (an ``array(...)`` constructor or
    a UDF call), never as a column projected beforehand: for a generator
    over a bare column Spark infers ``size(keys) > 0`` and pushes that
    filter below the projection, which copies the key expressions — and the
    whole upstream signature computation they read, e.g. the SimHash
    aggregate's word sums — into a second, per-row evaluation."""
    cols = [F.col(id_col).alias("_id")]
    if payload is not None:
        cols.append(F.col(payload).alias("_p"))
    banded = df.select(*cols, F.posexplode(keys).alias("_t", "_k"))
    a, b = banded.alias("a"), banded.alias("b")
    pairs = a.join(
        b,
        (F.col("a._t") == F.col("b._t"))
        & (F.col("a._k") == F.col("b._k"))
        & (F.col("a._id") < F.col("b._id")),
    ).select(
        F.col("a._id").alias(names[0]),
        F.col("b._id").alias(names[1]),
        *([score] if score is not None else []),
    )
    if keep is not None:
        pairs = pairs.filter(keep)
    return pairs.distinct()


# ----------------------------------------------------------- MinHash + LSH


def shingle_arrays(df: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, _shs: array<string>) — the shingle set per document, computed
    ONCE. Persist this and derive everything downstream from it (signatures,
    the exploded (doc_id, sh) table, per-doc sizes) instead of re-shingling
    the corpus per consumer — at 100 TB the shingling pass is the same order
    as the token stream and must not run three times (VERDICT r2 finding)."""
    # shingling explodes ~wordcount rows per doc: per-byte work is ~50x a
    # plain scan, so the fan-out density floor scales down accordingly.
    # split hoisted into _toks first: the shingle slice lambda references
    # the token array once per shingle, and interpreted HOFs re-run an
    # inlined split() per reference — quadratic in doc length without the
    # hoist (see functions/text._tokens_sql)
    return (
        fan_out(df, min_bytes_per_task=EXPLODE_BYTES_PER_TASK)
        .select("doc_id", tokens("text").alias("_toks"))
        .select("doc_id", shingles(n=n, tokens_col="_toks").alias("_shs"))
    )


def minhash_signature_col(shingle_col: str, n_hashes: int = 16):
    """Signature Column from a shingle-array column (given by name / SQL
    fragment): per hash i, min over shingles of xxhash64(shingle, i).
    Entirely JVM-side HOFs, parsed once (see functions/text.py construction
    note)."""
    mins = ", ".join(
        f"array_min(transform({shingle_col}, s -> xxhash64(s, {i})))" for i in range(n_hashes)
    )
    return F.expr(f"array({mins})")


def minhash_signature(df: DataFrame, n_hashes: int = 16, n: int = 3) -> DataFrame:
    """(doc_id, sig: array<bigint>) from raw documents."""
    return shingle_arrays(df, n).select(
        "doc_id", minhash_signature_col("_shs", n_hashes).alias("sig")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    n_hashes: int = 16,
    bands: int = 8,
    n: int = 3,
    sigs: DataFrame | None = None,
) -> DataFrame:
    """Candidate pairs via banded LSH, scored by signature agreement
    (est_jaccard = matching minhashes / n_hashes). Detection threshold
    t ~ (1/bands)^(bands/n_hashes).

    est_jaccard is computed BEFORE the dedup-across-bands distinct, so the
    shuffle carries three scalar columns instead of two full signatures —
    a pair matching in k bands costs k cheap JVM comparisons, not k
    signature-array shuffles.

    Pass a precomputed ``sigs`` (doc_id, sig) — e.g. derived from a persisted
    ``shingle_arrays`` table — to skip the internal shingling pass."""
    if not 0 < bands <= n_hashes or n_hashes % bands != 0:
        # bands > n_hashes makes rows = 0 and every band key the SAME
        # constant — the banded join silently degenerates to an all-pairs
        # cross product; a non-divisor drops trailing signature values and
        # shifts the effective threshold away from what the caller computed
        # from t ~ (1/b)^(r) (review r7)
        raise ValueError(
            f"bands must divide n_hashes (got n_hashes={n_hashes}, bands={bands})"
        )
    rows = n_hashes // bands
    if sigs is None:
        sigs = minhash_signature(df, n_hashes, n)
    # docs with fewer than n tokens have EMPTY shingle sets: array_min over
    # an empty array is NULL, concat_ws skips NULLs, and every such doc
    # landed in the SAME bucket in every band — m short docs produced
    # C(m,2) spurious all-NULL-signature candidate pairs, the quadratic
    # blow-up banding exists to prevent (confirmed by execution, review
    # r9). An empty shingle set can never be an n-gram near-dup; drop.
    sigs = sigs.filter(F.col("sig")[0].isNotNull())
    keys = ", ".join(
        "xxhash64(concat_ws(',', {}))".format(
            ", ".join(f"sig[{bnd * rows + r}]" for r in range(rows))
        )
        for bnd in range(bands)
    )
    # static per-position comparison sum instead of size(filter(zip_with)):
    # n_hashes is a compile-time constant and Spark evaluates HOF lambdas
    # interpreted per candidate row, while the unrolled IF-sum is whole-stage
    # codegen — same counts, same est_jaccard (opt r13, guide §1.2/§4.1)
    agree = F.expr(" + ".join(f"IF(a._p[{i}] = b._p[{i}], 1, 0)" for i in range(n_hashes)))
    return band_pairs(
        sigs,
        "doc_id",
        F.expr(f"array({keys})"),
        payload="sig",
        score=F.round(agree / F.lit(n_hashes), 4).alias("est_jaccard"),
    )


# ----------------------------------------------------------------- SimHash


def recommended_simhash_bits(n_docs: int, max_hamming: int = 3) -> int:
    """Signature width sized to the corpus — the r11 probe's d04 width
    prescription as code (mirrors ``similarity.recommended_lsh_planes``).

    ``hamming_pairs`` compares Theta(n^2 / 2^w) candidate pairs per chunk
    (w = chunk width): random signatures collide per pair with constant
    probability 2^-w, so at FIXED width the comparison volume grows
    quadratically even though the output stays linear — the r11
    second-decade probe measured ~36x CPU on 10x docs at the fixed 64-bit
    signature's 16-bit chunks (~7.6 docs per bucket at 500k docs,
    BASELINE.md "SimHash chunk-join growth"). Holding ~constant docs per
    bucket needs 2^w ~ n^2, i.e. **w ~ 2 * log2(n) bits per chunk**, and
    pigeonhole recall at distance d needs d + 1 chunks, so the total is

        bits = (max_hamming + 1) * clamp(ceil(2 * log2(n)), 8, 63)

    (floor 8: tiny corpora still get non-degenerate buckets; cap 63: one
    64-bit word per chunk is plenty past n ~ 3e9 docs per chunk-budget).
    Feed the result to ``simhash(df, n_bits=...)`` /
    ``simhash_candidate_pairs(df, n_bits=...)``."""
    import math

    if max_hamming < 0:
        raise ValueError(f"max_hamming must be >= 0, got {max_hamming}")
    n_chunks = max_hamming + 1
    if n_chunks > _MAX_SIMHASH_BITS:
        # each pigeonhole chunk needs >= 1 bit within the signature cap —
        # beyond this the returned width would exceed what simhash() accepts
        raise ValueError(
            f"max_hamming={max_hamming} needs {n_chunks} chunks, more than the "
            f"{_MAX_SIMHASH_BITS}-bit signature cap can hold"
        )
    chunk_w = min(max(8, math.ceil(2 * math.log2(max(n_docs, 2)))), 63, _MAX_SIMHASH_BITS // n_chunks)
    return n_chunks * max(1, chunk_w)


_MAX_SIMHASH_BITS = 504  # 8 words x 63 usable bits; bounds the agg width


def simhash(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n_bits: int = 63
) -> DataFrame:
    """SimHash of the token multiset: per bit, sign of sum(+1/-1) over token
    hashes. One explode + one groupBy(id) — the aggregate is ``n_bits``
    narrow conditional sums, which Spark executes as a single hash-agg pass.

    ``n_bits <= 63`` (default 63) emits a plain ``long`` column; wider
    signatures — sized by :func:`recommended_simhash_bits` to keep the
    chunk-join candidate volume linear in the corpus — emit ``array<long>``
    of ceil(n_bits / 63) words, 63 usable bits per word (bit 63 = sign bit,
    skipped to stay in long range). Word w draws its bits from an
    independent hash ``xxhash64(tok, w)``; word 0 is ``xxhash64(tok)``, so
    the first word of a wide signature IS the classic 63-bit signature.

    NULL-text docs emit NO signature row (explode of split(NULL) yields
    nothing): content similarity of unknown content is undefined, so such
    docs never enter the Hamming candidate space — by contract, not by
    accident (review r9)."""
    if not 1 <= n_bits <= _MAX_SIMHASH_BITS:
        raise ValueError(f"n_bits must be in [1, {_MAX_SIMHASH_BITS}], got {n_bits}")
    n_words = -(-n_bits // 63)
    toks = fan_out(df, min_bytes_per_task=EXPLODE_BYTES_PER_TASK).select(  # token explode
        id_col, F.explode(F.split(F.col(text_col), " ")).alias("tok")
    )
    # hash ONCE per word in a projection: the per-bit aggregate updates each
    # embed the hash expression otherwise, and aggregate-update codegen does
    # not reliably common-subexpression-eliminate across aggregate functions
    # — that is n_bits xxhash64 evaluations per token instead of n_words
    hash_cols = [F.expr("xxhash64(tok)").alias("_h0")] + [
        F.expr(f"xxhash64(tok, {w})").alias(f"_h{w}") for w in range(1, n_words)
    ]
    hashed = toks.select(id_col, *hash_cols)
    # per-bit aggregate updates + the recombination, each authored as ONE
    # parsed SQL expression — composing them as Column objects was ~650 Py4J
    # round-trips (~1.5 s of pure construction latency per call)
    bit_sums = [
        F.expr(f"sum(IF((_h{w} & {1 << b}) != 0, 1, -1)) AS w{w}b{b}")
        for w in range(n_words)
        for b in range(min(63, n_bits - 63 * w))
    ]
    agg = hashed.groupBy(id_col).agg(*bit_sums)
    words = [
        " + ".join(f"IF(w{w}b{b} > 0, {1 << b}L, 0L)" for b in range(min(63, n_bits - 63 * w)))
        for w in range(n_words)
    ]
    if n_words == 1:
        return agg.select(id_col, F.expr(f"{words[0]} AS simhash"))
    return agg.select(
        id_col, F.expr("array({}) AS simhash".format(", ".join(f"({w})" for w in words)))
    )


def _chunk_keys(sig_col: str, n_bits: int, n_chunks: int, word_bits: int) -> list[str]:
    """Chunk-key SQL for the pigeonhole blocking: a balanced PARTITION of the
    ``n_bits`` bit space, chunk c covering global bits
    [c*n_bits//n_chunks, (c+1)*n_bits//n_chunks) — every chunk non-empty,
    every shift < 64. ``word_bits=64`` reads a scalar ``long`` signature as
    one word (``sig``); ``word_bits=63`` reads an ``array<long>`` signature
    word by word (``sig[w]``, 63 usable bits each). A chunk spanning a word
    boundary is keyed by ``xxhash64`` of its per-word segments —
    deterministic in the chunk content, so identical chunks always share a
    bucket (a 2^-64 hash collision only adds a candidate the exact popcount
    filter removes).

    The balanced layout replaced a uniform ceil-width one that shifted
    chunk starts past bit 63 for max_hamming >= 8; Spark's
    shiftrightunsigned (Java >>>) masks the shift amount to 6 bits, so the
    high chunks silently ALIASED the low ones and a pair at exactly the
    bound could be missed (review r7, confirmed by execution: sigs 0x0 vs
    0x0101010101010101 at distance 8 returned no pair). ``n_bits`` must be
    the REAL width (review r12): partitioning a 32-bit signature over 64
    bits hands every chunk above bit 31 a constant-zero key — one
    all-corpus hot bucket per dead chunk, the exact degeneracy the width
    sizing exists to avoid. Module-level so tests can measure bucket
    occupancy with the EXACT production keys (BASELINE.md "d04 width law
    shipped AND demonstrated end-to-end (r12)")."""

    def word(w: int) -> str:
        return f"`{sig_col}`" if word_bits == 64 else f"`{sig_col}`[{w}]"

    def chunk_key(c: int) -> str:
        start, end = c * n_bits // n_chunks, (c + 1) * n_bits // n_chunks
        pieces, s = [], start
        while s < end:
            w, off = divmod(s, word_bits)
            take = min(end - s, word_bits - off)
            piece = f"shiftrightunsigned({word(w)}, {off})"
            # take == 64 (max_hamming = 0 over a full long: exact-duplicate
            # blocking) masks nothing — and (1 << 64) - 1 would overflow a
            # bigint literal
            pieces.append(piece if take >= 64 else f"({piece} & {(1 << take) - 1}L)")
            s += take
        return pieces[0] if len(pieces) == 1 else f"xxhash64({', '.join(pieces)})"

    return [chunk_key(c) for c in range(n_chunks)]


def hamming_pairs(
    sigs: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    sig_col: str = "simhash",
    n_bits: int | None = None,
) -> DataFrame:
    """ALL pairs within max_hamming bits, via chunk blocking with a correct
    pigeonhole bound: the signature's ``n_bits`` splits into
    (max_hamming + 1) balanced chunks (:func:`_chunk_keys`), so any pair
    differing in <= max_hamming bits shares at least one identical chunk —
    full recall guaranteed, never an all-pairs join unless the bound spans
    the whole width. (r1 hardcoded 4 chunks, which only covers distance 3;
    ADVICE r1 finding.) The chunks are the bands of :func:`band_pairs`; the
    score is the exact distance as a static sum of per-word popcounts
    (codegen, not an interpreted zip_with/aggregate HOF — opt r13), and the
    ``<= max_hamming`` filter runs before the dedup exchange.

    One function for both signature types:

    - ``long`` (``simhash(df)``, ``n_bits <= 63``): one 64-bit word.
      ``n_bits=None`` partitions all 64 bits (always safe for externally
      built signatures); a declared ``n_bits < 64`` is checked lazily by a
      JVM assert (real bits at/above it fail the query — a negative long
      trips it too, shiftrightunsigned being a LOGICAL shift). When
      ``max_hamming >= n_bits`` blocking cannot prune (a pair may differ in
      every real bit), so the partition widens to all 64 bits, whose
      constant top bits form a shared catch-all bucket: explicitly
      all-pairs (review r12).
    - ``array<long>`` (``simhash(df, n_bits > 63)``): 63 usable bits per
      word. ``n_bits`` MUST equal the width the signatures were built with
      (``simhash_candidate_pairs`` passes it through): a larger value
      dilutes the partition with constant-zero pad bits concentrated in the
      LAST chunk (152 bits padded to 189 leaves chunk 3 with 11 real bits,
      an effective 2^11-bucket hot chunk), a smaller one breaks the
      pigeonhole guarantee. The word count follows from ``n_bits`` with no
      job, and a lazy ``size()`` assert fails the query when the arrays
      disagree (review r12: the eager probe forced the whole signature
      aggregation once just to read a length). ``n_bits=None`` probes the
      word count with one ``.first()`` job and partitions all 63 * words
      bits — the recall-safe fallback.

    Candidate volume vs corpus size (measured, r11 second-decade probe):
    the chunk-bucket join compares Theta(n^2 / 2^w) candidate pairs per
    chunk (w = chunk width) — random signatures collide per pair with
    constant probability, so at FIXED signature width the comparison
    volume grows quadratically even though the OUTPUT stays linear (probe:
    CPU ~36x on 10x docs as the 500k-doc corpus put ~7.6 docs per 16-bit
    bucket). :func:`recommended_simhash_bits` holds the budget by widening
    the signature with the corpus, w ~ 2 log2(n)."""

    def asserting(cond: str, msg: str) -> DataFrame:
        # the declared width is validated LAZILY by a JVM assert on each
        # signature row — no job, unlike the eager probe below
        return sigs.where(F.expr(f"assert_true({cond}, {msg}) IS NULL"))

    if isinstance(sigs.schema[sig_col].dataType, T.ArrayType):
        word_bits = 63
        if n_bits is not None:
            if n_bits < 1:
                raise ValueError(f"n_bits must be >= 1, got {n_bits}")
            n_words = -(-n_bits // 63)
        else:
            first = sigs.select(F.size(F.col(sig_col)).alias("n")).first()
            if first is None:  # empty input: empty output through the same schema
                id_t = sigs.schema[id_col].dataType.simpleString()
                return sigs.sparkSession.createDataFrame(
                    [], f"d1 {id_t}, d2 {id_t}, hamming int"
                )
            n_words = int(first["n"])
            n_bits = 63 * n_words
        if not 63 * (n_words - 1) < n_bits <= 63 * n_words:
            raise ValueError(
                f"n_bits={n_bits} inconsistent with {n_words}-word signatures "
                f"(must be in ({63 * (n_words - 1)}, {63 * n_words}])"
            )
        if not 0 <= max_hamming < n_bits:
            raise ValueError(f"max_hamming must be in [0, {n_bits - 1}], got {max_hamming}")
        # a missing word gives NULL chunk keys (silent recall loss)
        sigs = asserting(
            f"size(`{sig_col}`) = {n_words}",
            f"'n_bits={n_bits} inconsistent with signature width: '"
            f" || size(`{sig_col}`) || ' words, expected {n_words}'",
        )
    else:
        word_bits, n_words = 64, 1
        if not 0 <= max_hamming <= 63:
            raise ValueError(f"max_hamming must be in [0, 63], got {max_hamming}")
        if n_bits is None:
            n_bits = 64
        if not 1 <= n_bits <= 64:
            raise ValueError(f"n_bits must be in [1, 64] for a long signature, got {n_bits}")
        if max_hamming >= n_bits:
            n_bits = 64
        if n_bits < 64:
            # undeclared high bits keep recall but skew bucket balance toward
            # the hot-bucket degeneracy n_bits exists to prevent (ADVICE r12)
            sigs = asserting(
                f"shiftrightunsigned(`{sig_col}`, {n_bits}) = 0",
                f"'signature has real bits at/above declared n_bits={n_bits}: '"
                f" || hex(`{sig_col}`)",
            )
    keys = _chunk_keys(sig_col, n_bits, max_hamming + 1, word_bits)
    words = ["_p"] if word_bits == 64 else [f"_p[{w}]" for w in range(n_words)]
    hamming = F.expr(
        " + ".join(f"CAST(bit_count(a.{w} ^ b.{w}) AS INT)" for w in words)
    ).alias("hamming")
    return band_pairs(
        sigs,
        id_col,
        F.expr(f"array({', '.join(keys)})"),
        payload=sig_col,
        score=hamming,
        keep=F.col("hamming") <= max_hamming,
    )


def simhash_candidate_pairs(
    df: DataFrame, max_hamming: int = 3, n_bits: int | None = 63
) -> DataFrame:
    """SimHash the documents, then emit all pairs within max_hamming bits.

    ``n_bits=None`` sizes the signature to the corpus via
    :func:`recommended_simhash_bits` (one cached count job) — the measured
    Theta(n^2 / 2^w) chunk-join law applied automatically; the default stays
    the classic 63-bit long signature."""
    if n_bits is None:
        from score_spark.operators.similarity import corpus_count

        n_bits = recommended_simhash_bits(corpus_count(df), max_hamming)
    return hamming_pairs(simhash(df, n_bits=n_bits), max_hamming=max_hamming, n_bits=n_bits)


# ------------------------------------------------------------------ queries


def d01_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate accounting per content fingerprint: group by md5 of
    the text, keep group size and canonical (min) doc id for groups of
    duplicates. ONE hash shuffle on a 16-byte key — the minimum possible
    dedup plan at any scale."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.groupBy(F.md5("text").alias("fp"))
        .agg(F.min("doc_id").alias("keeper"), F.count(F.lit(1)).alias("n_copies"))
        .groupBy()
        .agg(
            F.count(F.lit(1)).alias("n_unique"),
            F.sum(F.col("n_copies") - 1).alias("n_dups_removed"),
            F.min("keeper").alias("first_keeper"),
        )
    )


ORACLE_D01 = """
WITH groups AS (
  -- NULL-text rows keep a unique per-id fingerprint (never dedup unknown
  -- content) — mirrors exact_dedup (review r9)
  SELECT coalesce(md5(text), '__null__' || CAST(doc_id AS VARCHAR)) AS fp,
         min(doc_id) AS keeper, count(*) AS n_copies
  FROM documents GROUP BY 1
)
SELECT count(*) AS n_unique,
       CAST(sum(n_copies - 1) AS BIGINT) AS n_dups_removed,
       min(keeper) AS first_keeper
FROM groups
"""


def duplicate_clusters(
    pairs: DataFrame,
    id1: str = "d1",
    id2: str = "d2",
    max_iter: int = 25,
    driver_threshold: int = 2_000_000,
) -> DataFrame:
    """Connected components over the near-duplicate pair graph — the step
    between pair mining (d02/d03/d04/s05) and physical dedup: docs joined by
    a transitive duplicate chain form one component, and the canonical
    survivor is the component's min id. Returns (node, label) with label =
    component min.

    Iterative min-label propagation: each round every node takes the min
    label among itself and its neighbors; labels decrease monotonically and
    converge in graph-diameter rounds (duplicate clusters are near-cliques,
    so 2-4 rounds in practice; ``max_iter`` bounds pathological chains).
    Scale posture: every frame is PAIR-graph-sized (<< corpus); each round
    is one join + one aggregate over the edge table, fully distributed —
    the driver holds only loop control and a per-round changed-count.
    localCheckpoint per round truncates lineage so the plan stays flat
    instead of doubling per iteration (the standard Spark iterative
    pattern; GraphX/GraphFrames use the same loop shape). Genuinely
    iterative, so no single SQL oracle — the driver gate uses DuckDB's
    recursive CTE to reach the same fixpoint independently (ORACLE_D05).

    Two execution tiers (same shape as the IVF operator's model-collect:
    bounded rows reach the driver, never data-scale frames): the driver
    tier fetches up to ``driver_threshold`` PAIR rows with ONE incremental
    limit+collect job and solves union-find — the pair graph is the
    near-dup REPORT, usually orders of magnitude smaller than the corpus,
    and the r13 shape (bidirectional union → distinct → localCheckpoint →
    count → collect) paid FOUR serialized job chains plus a distinct
    shuffle to reach the same 66-edge union-find at gate scale (VERDICT
    r13 #1: self-inflicted chain serialization). Union-find needs neither
    direction-doubling nor dedup — duplicate and reversed edges are
    no-ops. When the limit is exhausted (more pairs than the threshold),
    distributed min-label propagation runs with frames partitioned to the
    graph's size (a billion-edge graph still gets thousands of
    partitions); the pair pipeline is persisted across the probe so the
    probe's map-side work (and its shuffle files) is reused, not repeated.
    Both tiers produce identical labels (pinned in tests)."""
    e0 = pairs.select(F.col(id1).alias("src"), F.col(id2).alias("dst")).persist()
    head = e0.limit(max(0, driver_threshold) + 1).collect()
    if len(head) <= driver_threshold:
        e0.unpersist()
        # driver tier: union-find over the bounded, fully-fetched pair
        # list; path compression + union by attachment to the smaller root
        parent: dict = {}

        def find(x):
            r = x
            while parent.get(r, r) != r:
                r = parent[r]
            while parent.get(x, x) != x:
                parent[x], x = r, parent[x]
            return r

        for row in head:
            ra, rb = find(row.src), find(row.dst)
            if ra != rb:
                # attach the larger root under the smaller: labels must be
                # the component MIN, so the min id always stays a root
                if ra < rb:
                    parent[rb] = ra
                else:
                    parent[ra] = rb
        nodes = {r.src for r in head} | {r.dst for r in head}
        out = [(n, find(n)) for n in sorted(nodes)]
        # schema derives from the id column's actual type — a hardcoded
        # 'node long' made this tier reject string ids the distributed tier
        # accepts (review r7)
        id_type = pairs.schema[id1].dataType
        schema = T.StructType(
            [T.StructField("node", id_type, False), T.StructField("label", id_type, False)]
        )
        # pandas frame, not a plain list: with Arrow enabled the conversion
        # happens driver-side and executor tasks are pure JVM — the list
        # path ships pickled rows that every task deserializes through a
        # Python worker round trip (measured 0.33 s vs 0.065 s for the
        # 51-row result at 32 tasks; opt r13, guide §6 "Arrow for driver
        # transfers")
        import pandas as pd

        return pairs.sparkSession.createDataFrame(
            pd.DataFrame(out, columns=["node", "label"]), schema=schema
        )
    # distributed tier: NOW build the bidirectional distinct edge table the
    # propagation loop iterates over. e0 is persisted, so the probe's
    # computed partitions (and the pair pipeline's shuffle files) feed both
    # union sides from cache instead of re-running the miner; the checkpoint
    # truncates lineage for the loop exactly as before.
    edges = (
        e0.unionByName(e0.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    e0.unpersist()
    # size the iteration to the GRAPH, not the session default: pair graphs
    # are usually orders of magnitude smaller than the corpus, and each
    # propagation round otherwise schedules full-width stages over a
    # near-empty frame (measured: the loop's cost was ~all scheduling at
    # sf0.1's 66 edges). ~200k edges per partition; coalesce is narrow
    # (no shuffle) and runs on the already-checkpointed data, and a
    # billion-edge graph still gets thousands of partitions.
    n_edges = edges.count()
    parts = max(1, min(int(n_edges // 200_000) + 1, edges.sparkSession.sparkContext.defaultParallelism))
    edges = edges.coalesce(parts)
    labels = (
        edges.select("src")
        .distinct()
        .select(F.col("src").alias("node"), F.col("src").alias("label"))
        .localCheckpoint(eager=True)
        .coalesce(parts)
    )
    # max_iter + 1: a component of diameter exactly max_iter has correct
    # labels after round max_iter but needs one more round to CONFIRM
    # changed == 0 — without it a correct clustering would be aborted. Also
    # binds `changed` even for max_iter <= 0.
    for _ in range(max(0, max_iter) + 1):
        nbr = (
            edges.join(labels.withColumnRenamed("node", "_dst"), F.col("dst") == F.col("_dst"))
            .groupBy("src")
            .agg(F.min("label").alias("nlabel"))
        )
        merged = (
            labels.join(nbr.withColumnRenamed("src", "_node"), F.col("node") == F.col("_node"), "left")
            .select(
                "node",
                F.col("label").alias("_old"),
                F.least(F.col("label"), F.coalesce(F.col("nlabel"), F.col("label"))).alias("label"),
            )
            .coalesce(parts)
            .localCheckpoint(eager=True)
        )
        changed = merged.filter(F.col("label") != F.col("_old")).count()
        labels = merged.select("node", "label")
        if changed == 0:
            break
    else:
        # exhausting max_iter without converging means some component has
        # diameter > max_iter (a long duplicate chain) and the labels are a
        # WRONG, split clustering. This tier only runs above driver_threshold
        # — exactly the at-scale path with no oracle to catch it — so fail
        # loudly instead of returning partial labels (ADVICE r4).
        raise RuntimeError(
            f"min-label propagation did not converge in {max_iter} rounds "
            f"({changed} labels still changing); raise max_iter — a component's "
            "diameter exceeds the round budget"
        )
    return labels


def d02_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate asymmetry note (ADVICE r4): the engine caps doc-freq and counts
    intersections on xxhash64 shingle IDs while ORACLE_D02/ORACLE_D05 use
    exact shingle strings. A 64-bit collision between two distinct shingles
    in the corpus vocabulary (P ~ V^2/2^65, negligible at gate scale — see
    shingle_table's collision analysis) would merge their doc-freqs and could
    flip a <=50 cap decision or perturb one intersection count, surfacing as
    a hash-mismatch here rather than a flagged divergence. If this gate ever
    fails non-reproducibly across corpora, suspect a shingle collision first:
    rerun the identical pipeline on exact shingle strings with
    ``ngram_jaccard_pairs(docs, n=3, threshold=0.03, max_doc_freq=50,
    hash_ids=False)`` — a result matching the oracle confirms a collision; a
    still-mismatching one clears the hash family and points at the plan
    (VERDICT r5 #8)."""
    d = load_table(spark, sf_dir, "documents")
    # eager=False (opt r14, VERDICT r13 #1): the eager localCheckpoint paid a
    # full extra materialization job (compute + block store + re-read) per
    # run just to free the shingle cache before returning. The lazy wrapper's
    # finalize frees the cache on GC instead; the wrapper must ride on the
    # derived orderBy frame (ngram_jaccard_pairs contract) so the cache lives
    # until the consumer drops the result.
    res = ngram_jaccard_pairs(d, n=3, threshold=0.03, max_doc_freq=50, eager=False)
    out = res.orderBy("d1", "d2")
    out._score_spark_keepalive = res
    return out


ORACLE_D02 = f"""
WITH g0 AS (
  SELECT doc_id, unnest({_SHINGLE_SQL}) AS sh FROM documents
),
freq AS (SELECT sh FROM g0 GROUP BY sh HAVING count(*) <= 50),
g AS (SELECT g0.* FROM g0 JOIN freq USING (sh)),
sizes AS (SELECT doc_id, len({_SHINGLE_SQL}) AS sz FROM documents),
inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
  FROM g a JOIN g b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT d1, d2,
       round(inter / CAST(s1.sz + s2.sz - inter AS DOUBLE), 4) AS jac
FROM inter
JOIN sizes s1 ON s1.doc_id = d1
JOIN sizes s2 ON s2.doc_id = d2
WHERE round(inter / CAST(s1.sz + s2.sz - inter AS DOUBLE), 4) >= 0.03
ORDER BY d1, d2
"""


def d05_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate clusters from the d02 pair graph: connected components +
    canonical (min-id) survivor per component, summarized per cluster. The
    oracle reaches the same fixpoint via DuckDB's recursive CTE transitive
    closure — two independent algorithms, identical components."""
    d = load_table(spark, sf_dir, "documents")
    # eager=False (opt r14, VERDICT r13 #1): the pair miner no longer
    # pre-materializes through a localCheckpoint — duplicate_clusters'
    # driver tier fetches the pairs in its ONE limit+collect job (the whole
    # d05 chain is now a single job at gate scale, was four), and the
    # distributed tier persists the pair pipeline across its probe. The
    # lazy wrapper (`pairs`) stays referenced through the call, so the
    # shingle cache backs both self-join sides; it is released when this
    # function returns (the result below derives from the collected labels
    # — or, distributed, from a checkpoint — never from the shingle cache).
    pairs = ngram_jaccard_pairs(d, n=3, threshold=0.03, max_doc_freq=50, eager=False)
    labels = duplicate_clusters(pairs)
    return (
        labels.groupBy(F.col("label").alias("cluster_id"))
        .agg(F.count(F.lit(1)).alias("n_members"), F.max("node").alias("max_member"))
        .orderBy("cluster_id")
    )


# Oracle scale bound (ADVICE r4): the recursive CTE materializes full
# pairwise reachability — O(|component|^2) rows before its GROUP BY. Fine at
# the sf0.01/sf0.1 gate scales this oracle exists for; do NOT run it at
# larger SFs with big duplicate clusters (same rationale as d05's
# _BASELINE_SKIP entry in bench.py). The engine-side plan has no such
# quadratic term.
ORACLE_D05 = f"""
WITH RECURSIVE g0 AS (
  SELECT doc_id, unnest({_SHINGLE_SQL}) AS sh FROM documents
),
freq AS (SELECT sh FROM g0 GROUP BY sh HAVING count(*) <= 50),
g AS (SELECT g0.* FROM g0 JOIN freq USING (sh)),
sizes AS (SELECT doc_id, len({_SHINGLE_SQL}) AS sz FROM documents),
inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
  FROM g a JOIN g b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT d1, d2 FROM inter
  JOIN sizes s1 ON s1.doc_id = d1
  JOIN sizes s2 ON s2.doc_id = d2
  WHERE round(inter / CAST(s1.sz + s2.sz - inter AS DOUBLE), 4) >= 0.03
),
edges AS (SELECT d1 AS a, d2 AS b FROM pairs UNION SELECT d2, d1 FROM pairs),
reach(a, b) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
),
labels AS (SELECT a AS node, least(a, min(b)) AS cluster_id FROM reach GROUP BY a)
SELECT cluster_id, count(*) AS n_members, max(node) AS max_member
FROM labels
GROUP BY cluster_id
ORDER BY cluster_id
"""


def d03_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidates cross-checked against exact Jaccard: the candidate set
    (Spark-only hash family) is materialized via xcheck; BOTH engines then
    compute exact n-gram Jaccard per candidate pair from the raw documents.
    The driver hash-checks (d1, d2, est_jaccard, exact_jac) — so the scoring,
    pair-join, and exact-rerank math are all oracle-verified. LSH recall
    itself is pinned by planted-duplicate tests in tests/test_dedup.py.

    One persisted shingle-array table feeds signatures, the exploded rerank
    table, AND per-doc sizes — the corpus is shingled exactly once (r2 ran
    that pass three times; VERDICT r2 "Next round" #1)."""
    d = load_table(spark, sf_dir, "documents")
    sh = shingle_arrays(d, n=3).persist()
    # sigs persisted TOO: the banded self-join reads the signature table from
    # both sides, and a cached `sh` only deduplicates the shingling — the 16
    # array_min(transform(...)) minhash passes would still evaluate once per
    # side (measured 2x the minhash cost at 10x scale in tools/scale_bench's
    # probe). The cache is doc_count x (8B id + 16x8B sig) — tiny.
    sigs = sh.select("doc_id", minhash_signature_col("_shs", 16).alias("sig")).persist()
    cand = write_xcheck(minhash_lsh_pairs(d, n_hashes=16, bands=8, sigs=sigs), "d03_candidates", sf_dir)
    g = shingle_table(max_doc_freq=None, shingle_df=sh)
    sizes = sh.select("doc_id", F.size("_shs").alias("sz"))
    res = exact_jaccard_for_pairs(cand, d, n=3, shingle_df=g, sizes_df=sizes)
    # no localCheckpoint (opt r14, VERDICT r13 #1): the eager checkpoint
    # materialized the whole rerank once (compute + block store) and the
    # consumer's action then re-read it — a full extra serialized job chain
    # per run, paid only so the three caches could be freed before
    # returning. The rerank's lineage is shallow (joins over the cached
    # candidate/shingle tables), so the consumer's own action computes it
    # once from cache; the caches release when the result is dropped.
    out = res.select("d1", "d2", "est_jaccard", "exact_jac").orderBy("d1", "d2")
    return unpersist_on_gc(out, (sh, sigs, cand))


ORACLE_D03 = f"""
WITH cand AS (SELECT * FROM read_parquet('{xcheck_path("d03_candidates")}/*.parquet')),
g AS (SELECT doc_id, unnest({_SHINGLE_SQL}) AS sh FROM documents),
sizes AS (SELECT doc_id, len({_SHINGLE_SQL}) AS sz FROM documents),
inter AS (
  SELECT c.d1, c.d2, count(*) AS inter
  FROM cand c
  JOIN g ga ON ga.doc_id = c.d1
  JOIN g gb ON gb.doc_id = c.d2 AND gb.sh = ga.sh
  GROUP BY 1, 2
)
SELECT c.d1, c.d2, c.est_jaccard,
       CASE WHEN s1.sz + s2.sz - coalesce(i.inter, 0) > 0
            THEN round(coalesce(i.inter, 0) / CAST(s1.sz + s2.sz - coalesce(i.inter, 0) AS DOUBLE), 4)
            ELSE 0.0 END AS exact_jac
FROM cand c
LEFT JOIN inter i ON i.d1 = c.d1 AND i.d2 = c.d2
JOIN sizes s1 ON s1.doc_id = c.d1
JOIN sizes s2 ON s2.doc_id = c.d2
ORDER BY c.d1, c.d2
"""


def d04_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash signatures materialized via xcheck; Spark finds Hamming<=3
    pairs by pigeonhole chunk blocking, DuckDB by brute force over the SAME
    signatures — chunk blocking guarantees full recall at max_hamming=3, so
    the two must agree exactly (blocking correctness is itself under test,
    not just the Hamming arithmetic).

    TWO blocking paths under the one oracle row (r12 leg-2): the classic
    63-bit scalar signature AND the AUTO-SIZED wide signature —
    ``recommended_simhash_bits(corpus_count(d))``, the exact default a
    scale user hits with ``simhash_candidate_pairs(n_bits=None)`` — so the
    corpus-sizing derivation itself executes under the DuckDB brute-force
    oracle every round (VERDICT r12 #5, the s05-symmetry ask; r12 gated a
    FIXED 124-bit leg, leaving the derivation pytest-only). 72 bits at the
    500-doc gate corpus, 100 at sf0.1, 128 (three words) at sf1 — chunk
    [54,72) / [50,75) / [32,64) spans the 63-bit word boundary at each, so
    the multi-piece xxhash64 chunk-key branch stays live under the gate
    (pinned by tests/test_dedup.py::test_d04_auto_width_spans_word).
    The width is floored at 64 so degenerate one-row sweeps (where the
    sizing rule would drop to a scalar signature the classic leg already
    covers) keep the ``array<long>`` schema the oracle's list arithmetic
    reads; the oracle is word-count-generic (list_transform over len), so
    the SF-dependent word count needs no SQL change."""
    from score_spark.operators.similarity import corpus_count

    d = load_table(spark, sf_dir, "documents")
    auto_bits = max(64, recommended_simhash_bits(corpus_count(d), max_hamming=3))
    wide = write_xcheck(simhash(d, n_bits=auto_bits), "d04_simhash_wide", sf_dir)
    # word 0 of a wide signature IS the classic 63-bit signature (same
    # xxhash64(tok) bits, same per-bit sums — simhash docstring invariant,
    # pinned by test_simhash_wide_word0_is_classic_signature), so the
    # classic leg SLICES the already-materialized wide table instead of
    # paying a second full token-explode + n-bit aggregate pass over the
    # corpus (opt r13, guide §1.2: remove a whole redundant pass). The
    # xcheck file contents are value-identical to the old two-pass build.
    sigs = write_xcheck(
        wide.select("doc_id", F.col("simhash")[0].alias("simhash")), "d04_simhash", sf_dir
    )
    classic = hamming_pairs(sigs, max_hamming=3).withColumn("path", F.lit("classic64"))
    wide_p = hamming_pairs(wide, max_hamming=3, n_bits=auto_bits).withColumn(
        "path", F.lit("wideauto")
    )
    # release the two xcheck signature caches when the consumer drops the
    # result (persist-lifetime audit, VERDICT r13 #3) — previously they
    # stayed live until the next call's unpersist-on-replace
    return unpersist_on_gc(
        classic.unionByName(wide_p).orderBy("path", "d1", "d2"), (wide, sigs)
    )


def d04_legs(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Per-leg pipelines for bench attribution (VERDICT r12 #4): the gate
    row unions two blocking paths, so a regression in ONE leg averages away
    in the row's single number. bench.py times each of these once (noop
    sink) and publishes the seconds beside the row. xcheck writes are
    deliberately absent — they are oracle-channel cost, billed separately
    in the gate row — so a leg's number is pure pipeline execution."""
    from score_spark.operators.similarity import corpus_count

    d = load_table(spark, sf_dir, "documents")
    auto_bits = max(64, recommended_simhash_bits(corpus_count(d), max_hamming=3))
    return {
        "classic64": hamming_pairs(simhash(d), max_hamming=3),
        "wideauto": hamming_pairs(
            simhash(d, n_bits=auto_bits), max_hamming=3, n_bits=auto_bits
        ),
    }


# per-word popcount terms for ORACLE_D04's wide leg: word 1 always exists
# (n_bits >= 64 by the d04 floor); words 2..8 are guarded by len() so the
# same SQL covers any auto-derived width up to the 504-bit cap
_WIDE_HAMMING_SQL = "bit_count(xor(a.simhash[1], b.simhash[1])) + " + " + ".join(
    f"CASE WHEN len(a.simhash) >= {w} "
    f"THEN bit_count(xor(a.simhash[{w}], b.simhash[{w}])) ELSE 0 END"
    for w in range(2, 9)
)

ORACLE_D04 = f"""
WITH sig AS (SELECT * FROM read_parquet('{xcheck_path("d04_simhash")}/*.parquet')),
wsig AS (SELECT * FROM read_parquet('{xcheck_path("d04_simhash_wide")}/*.parquet'))
SELECT d1, d2, hamming, path FROM (
  SELECT a.doc_id AS d1, b.doc_id AS d2,
         CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming,
         'classic64' AS path
  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
  UNION ALL
  -- word-count-generic (the wide leg's auto-sized width changes word
  -- count with SF: 2 words at sf<=0.1, 3 at sf1): exact Hamming distance
  -- as the sum of per-word popcounts, one guarded term per word up to the
  -- 8-word / 504-bit signature cap (_MAX_SIMHASH_BITS). Static terms, not
  -- list_transform: the lambda form allocates a list per pair and measured
  -- 2.5x slower on the sf1-shaped brute force (23.5 s vs 9.4 s over 72M
  -- 3-word pairs), and the sf1 pass brute-forces C(50k,2) = 1.25e9 pairs
  SELECT a.doc_id, b.doc_id, CAST(({_WIDE_HAMMING_SQL}) AS INT), 'wideauto'
  FROM wsig a JOIN wsig b ON a.doc_id < b.doc_id
  WHERE ({_WIDE_HAMMING_SQL}) <= 3
)
ORDER BY path, d1, d2
"""


QUERIES = {
    "d01_exact_dedup": d01_exact_dedup,
    "d02_ngram_jaccard": d02_ngram_jaccard,
    "d05_dup_clusters": d05_dup_clusters,
    "d03_minhash_lsh": d03_minhash_lsh,
    "d04_simhash": d04_simhash,
}

ORACLE = {
    "d01_exact_dedup": ORACLE_D01,
    "d02_ngram_jaccard": ORACLE_D02,
    "d05_dup_clusters": ORACLE_D05,
    "d03_minhash_lsh": ORACLE_D03,
    "d04_simhash": ORACLE_D04,
}
