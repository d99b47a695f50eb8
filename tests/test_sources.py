import os

from pyspark.sql import functions as F

from pcornet_data_curation_spark.sources import (
    export_csv,
    open_table,
)


def test_open_parquet_and_catalog(spark, tmp_path):
    p = str(tmp_path / "t")
    spark.range(5).write.parquet(p)
    assert open_table(spark, p).count() == 5
    spark.range(3).createOrReplaceTempView("tiny_view")
    assert open_table(spark, "table:tiny_view").count() == 3


def test_export_csv(spark, tmp_path):
    p = str(tmp_path / "csv")
    export_csv(spark.range(4).withColumn("x", F.lit("a")), p)
    files = [f for f in os.listdir(p) if f.endswith(".csv")]
    assert len(files) == 1

