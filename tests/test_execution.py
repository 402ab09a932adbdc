"""Execution policy (db_spark/execution.py): spread_scan's gate and the
lazy barrier."""
import os

from pyspark.sql import functions as F

from db_spark.execution import barrier, spread_scan


def _region(spark, sf_dir):
    # one parquet file: fewer input files than defaultParallelism
    return spark.read.parquet(os.path.join(sf_dir, "region.parquet"))


def _analyzed(df):
    return df._jdf.queryExecution().analyzed().toString()


def test_spread_scan_repartitions_small_scan(spark, sf_dir):
    par = spark.sparkContext.defaultParallelism
    df = _region(spark, sf_dir)
    assert 0 < len(df.inputFiles()) < par
    assert _analyzed(spread_scan(df)).startswith(f"Repartition {par}, true")
    keyed = _analyzed(spread_scan(df, "r_regionkey"))
    assert keyed.startswith("RepartitionByExpression [r_regionkey")
    assert f"], {par}" in keyed.splitlines()[0]


def test_spread_scan_skips_scan_with_enough_files(spark, tmp_path):
    par = spark.sparkContext.defaultParallelism
    path = str(tmp_path / "wide")
    spark.range(8 * par).repartition(par).write.parquet(path)
    df = spark.read.parquet(path)
    assert len(df.inputFiles()) >= par
    assert spread_scan(df) is df
    assert spread_scan(df, "id") is df


def test_spread_scan_skips_unknown_input_files(spark):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    assert df.inputFiles() == []
    assert spread_scan(df) is df


def test_spread_scan_skips_plans_that_already_shuffle(spark, sf_dir):
    df = _region(spark, sf_dir)
    agg = df.groupBy("r_name").agg(F.count(F.lit(1)).alias("n"))
    joined = df.join(_region(spark, sf_dir).select("r_regionkey"),
                     "r_regionkey")
    assert spread_scan(agg) is agg
    assert spread_scan(joined, "r_regionkey") is joined


def test_barrier_is_lazy_rdd_leaf(spark, sf_dir):
    sc = spark.sparkContext
    df = _region(spark, sf_dir)
    sc.setLocalProperty("spark.jobGroup.id", "barrier-lazy")
    try:
        out = barrier(df)
        assert sc.statusTracker().getJobIdsForGroup("barrier-lazy") == []
        rows = out.collect()
        assert sc.statusTracker().getJobIdsForGroup("barrier-lazy")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert _analyzed(out).startswith("LogicalRDD")
    assert sorted(map(tuple, rows)) == sorted(map(tuple, df.collect()))
