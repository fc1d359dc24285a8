"""get_spark's memory defaults: Tungsten execution pages live off the GC
heap, capped at half the driver heap."""

import pytest

from logmetrics_spark.session import _mem_mb


@pytest.mark.parametrize(
    "size, mb",
    [("64g", 65536), ("2011m", 2011), ("2G", 2048), ("1.5g", 1536), ("4096mb", 4096),
     ("1024", 1024), ("1048576k", 1024)],
)
def test_mem_mb(size, mb):
    assert _mem_mb(size) == mb


def test_session_execution_memory_is_off_heap(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.memory.offHeap.enabled") == "true"
    driver_mb = _mem_mb(conf.get("spark.driver.memory"))
    assert _mem_mb(conf.get("spark.memory.offHeap.size")) == driver_mb // 2
