"""Pin-lifecycle contract (r10 verdict #3 / next-round #5).

The dedup/sampling operators persist narrow intermediates (`_pin`)
inside the lazy plans they return.  The memory contract that makes
this safe in a long-lived library session is: Spark's CacheManager
keys cache entries by canonical plan, so calling the same operator
again with the same inputs REUSES the existing entry — the
persisted-table count is bounded by the number of distinct pinned
plans, not by the number of calls.  These tests pin that behavior,
plus the `_query_chunks` persist cleanup (the over-cap query frame is
materialized once and unpersisted on every exit path).
"""

from __future__ import annotations


def _storage_ids(spark):
    # the Java CacheManager has no public size(); materialized cache
    # entries are visible as persisted RDDs in the storage registry
    return {r.id() for r in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


def _cached_plans(spark, baseline):
    # ids already there after clearCache() are not this test's: eager
    # localCheckpoint blocks left by other operators on the shared
    # session survive clearCache() until JVM GC
    return _storage_ids(spark) - baseline


def test_repeated_token_jaccard_calls_reuse_cache_entries(spark):
    from pgloader_spark.operators.dedup import token_jaccard_clusters

    docs = [(i, f"alpha beta gamma d{i} e{i % 7}") for i in range(60)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    spark.catalog.clearCache()
    baseline = _storage_ids(spark)

    token_jaccard_clusters(df, threshold=0.8).count()
    n_first = len(_cached_plans(spark, baseline))
    assert n_first > 0  # the operator really does pin intermediates

    # same logical inputs again: CacheManager dedupes by canonical plan
    token_jaccard_clusters(df, threshold=0.8).count()
    n_second = len(_cached_plans(spark, baseline))
    assert n_second == n_first, (
        f"repeated call grew the persisted-table count "
        f"{n_first} -> {n_second}"
    )
    spark.catalog.clearCache()
    assert len(_cached_plans(spark, baseline)) == 0


def test_query_chunks_unpersists_on_every_path(spark):
    from pgloader_spark.operators.similarity import _query_chunks

    spark.catalog.clearCache()
    baseline = _storage_ids(spark)
    vecs = [(i, [float(i), 1.0]) for i in range(50)]
    qdf = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")

    # under-cap fast path
    chunks = list(_query_chunks(qdf, "vec_id", "embedding", cap=100))
    assert len(chunks) == 1 and len(chunks[0]) == 50
    assert len(_cached_plans(spark, baseline)) == 0

    # over-cap streaming path: one persisted pass, then unpersisted
    chunks = list(_query_chunks(qdf, "vec_id", "embedding", cap=8))
    assert sum(len(c) for c in chunks) == 50
    assert all(len(c) <= 8 for c in chunks)
    assert len(_cached_plans(spark, baseline)) == 0

    # over-cap rows are each seen exactly once (the probe's partitions
    # are served from cache, not recomputed into duplicates)
    ids = [r[0] for c in chunks for r in c]
    assert sorted(ids) == list(range(50))
