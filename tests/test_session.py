"""Session defaults sized to the host."""

import os


def test_driver_memory_fits_the_host(spark):
    conf = spark.sparkContext.getConf().get("spark.driver.memory")
    driver = spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(conf)
    assert driver <= os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
