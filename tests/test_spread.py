"""__spark_entry__._spread: the read-side parallelism guard for
single-row-group parquet scans."""

import __spark_entry__ as E


def test_spread_fans_out_single_split_scan_and_runs_no_job(spark, tmp_path):
    sc = spark.sparkContext
    n = sc.defaultParallelism
    one, many = str(tmp_path / "one.parquet"), str(tmp_path / "many.parquet")
    spark.range(1000).coalesce(1).write.parquet(one)
    spark.range(1000).repartition(n).write.parquet(many)
    # reads first: parquet schema inference runs its own job
    single, split = spark.read.parquet(one), spark.read.parquet(many)
    assert single.rdd.getNumPartitions() == 1
    assert split.rdd.getNumPartitions() >= n

    group = "test-spread-probe"
    sc.setJobGroup(group, "the _spread calls only")
    try:
        spread = E._spread(single)
        kept = E._spread(split)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []

    assert spread.rdd.getNumPartitions() == n
    assert sorted(r.id for r in spread.collect()) == list(range(1000))
    assert kept is split
