import shutil

import pytest

N_TINY = 400  # tiny corpus size: covers dup urls, overlong titles, all langs


@pytest.fixture(scope="session")
def spark():
    from search_engine_spark.session import get_spark

    # local[SPARK_GRAFT_CPUS] (the host's cores when unset), not more
    # task threads than the host has
    s = get_spark("tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def pages_path(tmp_path_factory):
    from search_engine_spark.sources.pages import cached_pages

    return str(cached_pages(N_TINY))


@pytest.fixture(scope="session")
def pages_rows(pages_path):
    import pyarrow.parquet as pq

    return pq.read_table(pages_path).to_pylist()


@pytest.fixture(scope="session")
def oracle(pages_rows):
    from search_engine_spark.oracle.bm25_oracle import OracleIndex

    return OracleIndex(pages_rows)


@pytest.fixture(scope="session")
def catalog(spark, pages_path, tmp_path_factory):
    from search_engine_spark.operators.pipeline import run_build

    wh = tmp_path_factory.mktemp("warehouse")
    pages = spark.read.parquet(pages_path)
    # merge_factor=2 → the merge pass genuinely concatenates partial streams
    cat = run_build(spark, pages, str(wh), num_shards=8, salt_buckets=4,
                    merge_factor=2)
    yield cat
    shutil.rmtree(wh, ignore_errors=True)


@pytest.fixture(scope="session")
def packed_engine(catalog):
    from search_engine_spark.plans.wand import PackedQueryEngine

    return PackedQueryEngine.from_catalog(catalog)
