"""Persist-lifetime contract (VERDICT r13 #3): after a gate query's result
has been consumed and DROPPED by the caller, no cached blocks from that query
may stay live on the executors. The r14 pattern ties every intermediate
cache's unpersist to GC of the returned frame (``dedup.unpersist_on_gc``),
replacing the r13 eager-checkpoint-then-unpersist shape that paid an extra
materialization job per run."""

from __future__ import annotations

import gc

import pytest


def _live_persistent_rdd_ids(spark) -> set[int]:
    m = spark.sparkContext._jsc.sc().getPersistentRDDs()
    it = m.keysIterator()
    ids: set[int] = set()
    while it.hasNext():
        ids.add(int(it.next()))
    return ids


@pytest.mark.parametrize(
    "qname",
    [
        "d02_ngram_jaccard",
        "d03_minhash_lsh",
        "d04_simhash",
        "d05_dup_clusters",
        "s03_ann_lsh",
        "s04_ann_ivf",
        "s05_near_dup_lsh",
    ],
)
def test_query_releases_caches_when_result_dropped(spark, sf_dir, qname):
    from score_spark.queries import QUERIES

    gc.collect()
    before = _live_persistent_rdd_ids(spark)

    df = QUERIES[qname](spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    # while the result is referenced its backing caches MAY be live (they
    # serve re-execution); dropping it must release them. unpersist_on_gc's
    # finalize calls unpersist synchronously at collection time, so ids
    # vanish from the persistent-RDD registry immediately.
    del df
    gc.collect()
    leaked = _live_persistent_rdd_ids(spark) - before
    assert not leaked, (
        f"{qname} left cached RDDs {sorted(leaked)} live after its result was dropped"
    )


def test_unpersist_on_gc_releases_only_on_drop(spark):
    import pyspark.sql.functions as F

    from score_spark.operators.dedup import unpersist_on_gc

    base = spark.range(100).persist()
    base.count()
    out = unpersist_on_gc(base.select(F.col("id") * 2), (base,))
    gc.collect()
    # result still referenced: cache must survive
    assert base.storageLevel.useMemory
    del out
    gc.collect()
    assert not base.storageLevel.useMemory


def test_d02_cache_lives_while_derived_result_referenced(spark, sf_dir):
    """The other half of the contract, for a DERIVED result: d02 returns
    an orderBy frame built on ngram_jaccard_pairs' lazy wrapper, and the
    shingle cache is tied to that wrapper, which only the derived frame's
    ``_score_spark_keepalive`` attribute keeps alive (unpersist_on_gc rests
    on CPython refcounting). While the consumer holds the result, a full GC
    must not release the cache; dropping the result must."""
    from score_spark.queries import QUERIES

    gc.collect()
    before = _live_persistent_rdd_ids(spark)
    df = QUERIES["d02_ngram_jaccard"](spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    gc.collect()
    live = _live_persistent_rdd_ids(spark) - before
    assert live, "d02's shingle cache was released while its result is still referenced"
    del df
    gc.collect()
    assert not live & _live_persistent_rdd_ids(spark)
