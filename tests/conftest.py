from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ohlc_spark_streaming_spark.session import build_session  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECTNESS = "/root/testdata/sf0.01"

#: The RocksDB state-store provider, for ``session.scoped_confs``.
ROCKSDB_CONFS = {
    "spark.sql.streaming.stateStore.providerClass": (
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    )
}


@pytest.fixture(scope="session")
def spark():
    spark = build_session(
        app_name="engine-tests",
        master="local[8]",
        shuffle_partitions=8,
        extra_confs={"spark.driver.memory": "8g"},
    )
    yield spark
    spark.stop()
