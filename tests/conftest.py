import pytest


def persistent_rdd_ids(spark) -> set:
    """Ids of every RDD the SparkContext currently holds persisted
    (caches and localCheckpoints alike)."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


@pytest.fixture(scope="session")
def spark():
    from extractor_spark.spark.session import get_spark

    spark = get_spark("extractor-spark-tests", cpus=8, shuffle_partitions=8)
    yield spark
    # caller contract for lazy-returning queries with persisted
    # intermediates (LSH signatures): release before stopping, and prove
    # nothing stays pinned in executor memory.
    from extractor_spark.spark.queries import release_query_caches

    release_query_caches()
    assert len(spark.sparkContext._jsc.getPersistentRDDs()) == 0, (
        "persisted RDDs leaked past release_query_caches()"
    )
    spark.stop()
