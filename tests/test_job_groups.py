"""Jobs submitted from driver-side thread pools stay in the caller's job
group, so per-key measurement read by group sees every job a key runs."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _iceberg_fixture(spark, sf_dir, path):
    from hadoop_tools_spark.sources.iceberg import build_iceberg_fixture

    build_iceberg_fixture(spark, sf_dir, path)


def _delta_optimize(spark, sf_dir, path):
    from hadoop_tools_spark.io import load
    from hadoop_tools_spark.sources.deltalog import DeltaTable

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus")
    k = F.col("o_orderkey")
    tbl = DeltaTable.create(spark, path, orders.filter(k % 3 == 0),
                            partition_by=["o_orderstatus"])
    tbl.append(spark, orders.filter(k % 3 != 0))
    assert tbl.optimize(spark) is not None


@pytest.mark.parametrize("build", [_iceberg_fixture, _delta_optimize],
                         ids=["iceberg_fixture", "delta_optimize"])
def test_pool_jobs_keep_callers_job_group(spark, sf_dir, tmp_path, build):
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    store = jsc.statusStore()

    def job_ids():
        # ids, not a count: the store keeps at most spark.ui.retainedJobs
        # jobs, so in a long session its size stops growing
        jsc.listenerBus().waitUntilEmpty()
        jobs = store.jobsList(None)
        return {jobs.apply(i).jobId() for i in range(jobs.size())}

    group = f"pool-group-{build.__name__}"
    before = job_ids()
    sc.setJobGroup(group, "thread pool job group")
    try:
        build(spark, sf_dir, str(tmp_path / "tbl"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    submitted = job_ids() - before
    assert submitted
    assert set(sc.statusTracker().getJobIdsForGroup(group)) == submitted
