import os

from pyspark.sql import functions as F

from pcornet_data_curation_spark.sources import (
    export_csv,
    open_table,
    write_table,
)


def test_open_parquet_and_catalog(spark, tmp_path):
    p = str(tmp_path / "t")
    spark.range(5).write.parquet(p)
    assert open_table(spark, p).count() == 5
    spark.range(3).createOrReplaceTempView("tiny_view")
    assert open_table(spark, "table:tiny_view").count() == 3


def test_write_table_dynamic_partition_overwrite(spark, tmp_path):
    p = str(tmp_path / "bucketed")
    df = spark.range(10).withColumn("bucket", (F.col("id") % 2).cast("int"))
    write_table(df, p, partition_by=["bucket"])
    # rewrite ONLY bucket 0 with fewer rows; bucket 1 must survive
    df0 = spark.range(2).withColumn("bucket", F.lit(0))
    write_table(df0, p, partition_by=["bucket"])
    got = spark.read.parquet(p).groupBy("bucket").count().collect()
    counts = {r["bucket"]: r["count"] for r in got}
    assert counts == {0: 2, 1: 5}


def test_export_csv(spark, tmp_path):
    p = str(tmp_path / "csv")
    export_csv(spark.range(4).withColumn("x", F.lit("a")), p)
    files = [f for f in os.listdir(p) if f.endswith(".csv")]
    assert len(files) == 1

