"""The session-scoped shared-intermediate cache must key correctly by
scale-factor directory: the driver runs entry() on sf0.001 and the
correctness gate on sf0.01 in the same session, so cross-sf cache
bleed would silently corrupt the gate."""

from __future__ import annotations


def test_cache_isolated_per_sf_dir(spark):
    import __spark_entry__ as m

    q = m.queries()["dedup_minhash_lsh"]
    # the two fixtures hold different 500-doc corpora (different md5s)
    a1 = sorted(map(tuple, q(spark, "/root/testdata/sf0.001").collect()))
    b = sorted(map(tuple, q(spark, "/root/testdata/sf0.01").collect()))
    a2 = sorted(map(tuple, q(spark, "/root/testdata/sf0.001").collect()))
    assert a1 == a2  # cache hit returns identical results
    assert a1 != b   # and never bleeds across sf dirs


def test_cache_survives_many_calls(spark):
    import __spark_entry__ as m

    q = m.queries()["text_fingerprints"]
    counts = {q(spark, "/root/testdata/sf0.001").count() for _ in range(3)}
    assert len(counts) == 1


def test_release_caches_clears_tracked_persists(spark):
    """release_caches must unpersist both the _SHARED entries and every
    track_persist intermediate, and leave queries re-runnable."""
    from boat_etl_pyspark_spark.cache import _EPHEMERAL, _SHARED, release_caches
    from boat_etl_pyspark_spark.plans import textdedup

    sf = "/root/testdata/sf0.001"
    textdedup.dedup_minhash_lsh(spark, sf).count()  # populates _SHARED + bands
    assert _SHARED or _EPHEMERAL
    released = release_caches(spark)
    assert released > 0
    assert not [k for k in _SHARED if k[0] == spark.sparkContext.applicationId]
    assert not _EPHEMERAL
    # still correct after release (pure recompute caches)
    assert textdedup.dedup_minhash_lsh(spark, sf).count() >= 0
    release_caches(spark)


def test_release_caches_clears_rank_fence(spark):
    """The global_rank correctness-fence persists must drain through
    release_caches, and the primitive must stay correct after."""
    from pyspark.sql import functions as F

    from boat_etl_pyspark_spark.cache import _EPHEMERAL, release_caches
    from boat_etl_pyspark_spark.operators.library import global_rank

    release_caches(spark)
    df = spark.range(0, 500).select(
        ((F.col("id") * 2654435761) % 997).alias("v"), "id"
    )
    before = len(_EPHEMERAL)
    ranked = global_rank(df, ["v", "id"], partitions=4)
    n = ranked.count()
    assert n == 500
    assert len(_EPHEMERAL) == before + 1
    assert release_caches(spark) >= 1
    assert not _EPHEMERAL
    assert global_rank(df, ["v", "id"], partitions=4).count() == 500
    release_caches(spark)
