"""``spread_small_input``: the partition count it decides on, and the
jobs it must not run on a scan while the caller builds its plan."""

from __future__ import annotations

from hpc_hd_textreuse_etl_spark.functions.skew import spread_small_input


def _has_round_robin(df) -> bool:
    return "RoundRobinPartitioning" in df._jdf.queryExecution().executedPlan().toString()


def test_spread_small_input_spreads_one_partition_scan(spark):
    one = spark.range(0, 1000, 1, 1).localCheckpoint().select("id")
    out = spread_small_input(one, min_parts=4)
    assert _has_round_robin(out)
    assert out.rdd.getNumPartitions() == 4
    assert sorted(r.id for r in out.collect()) == list(range(1000))


def test_spread_small_input_keeps_well_split_scan(spark, tmp_path):
    path = str(tmp_path / "split")
    spark.range(0, 1000, 1, 4).write.parquet(path)
    split = spark.read.parquet(path)
    assert spread_small_input(split, min_parts=4) is split
    ranged = spark.range(0, 1000, 1, 4)
    assert spread_small_input(ranged, min_parts=4) is ranged


def test_spread_small_input_runs_no_job_on_scan_input(spark, tmp_path):
    """Reading the partition count of a file scan or a local checkpoint
    (what the callers pass) runs no job while the plan is built."""
    sc = spark.sparkContext
    path = str(tmp_path / "scan")
    spark.range(0, 1000, 1, 1).write.parquet(path)
    scanned = spark.read.parquet(path)
    pinned = spark.range(0, 1000, 1, 1).localCheckpoint()
    for i, df in enumerate((scanned, pinned)):
        group = f"test_spread_small_input_runs_no_job-{i}"
        sc.setJobGroup(group, group)
        try:
            out = spread_small_input(df, min_parts=4)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert len(sc.statusTracker().getJobIdsForGroup(group)) == 0
        assert out.rdd.getNumPartitions() == 4
