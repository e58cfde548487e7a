import pytest


_ROCKSDB_TESTS = {
    # these stop the process-wide SparkContext (the RocksDB provider is a
    # session conf, so each builds its own session); any spark test
    # collected after one would find a dead context — run them last.
    # Stable sort keeps the original order for everything else.
    "test_rocksdb_state_store_provider",
    "test_rocksdb_buffered_cep_state_metrics",
}


def pytest_collection_modifyitems(items):
    items.sort(key=lambda it: it.name in _ROCKSDB_TESTS)


@pytest.fixture(scope="session")
def spark():
    from rtfproc_spark.session import get_spark

    s = get_spark("rtfproc-tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()
