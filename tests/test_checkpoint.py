"""Resumable checkpointed writes: preemption mid-job, resume completes only
the missing partitions, output identical to a clean run; per-partition
lineage+metrics emitted (north-rule resumability requirement)."""

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F  # noqa: N812

from geowave_spark.plans import checkpoint


@pytest.fixture()
def out_dir():
    d = tempfile.mkdtemp(prefix="gw_ckpt_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _src(spark, sf_dir):
    return (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


def test_clean_write_and_load_roundtrip(spark, sf_dir, out_dir):
    df = _src(spark, sf_dir)
    summary = checkpoint.resumable_write(df, out_dir, key="o_orderkey", num_partitions=6)
    assert summary["skipped"] == 0 and summary["written"] == 6
    back = checkpoint.load(spark, out_dir)
    assert back.count() == df.count()
    assert back.agg(F.sum("o_orderkey")).first()[0] == df.agg(F.sum("o_orderkey")).first()[0]
    metrics = checkpoint.partition_metrics(out_dir)
    assert len(metrics) == summary["written"]
    assert sum(m["rows"] for m in metrics) == df.count()
    assert all({"pid", "rows", "bytes", "wall_s", "app_id", "key"} <= m.keys() for m in metrics)


def test_load_of_many_parts_starts_no_job(spark, out_dir):
    """Loading a checkpoint of more parts than Spark's parallel-listing
    threshold (32) starts no Spark job: the directory listing already
    names the files and the schema comes from one footer read on the
    driver.  The threshold is restored afterwards and every row is read."""
    key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    df = spark.range(4000).selectExpr("id", "cast(id % 13 as double) AS value")
    checkpoint.resumable_write(df, out_dir, key="id", num_partitions=40)
    before = spark.conf.get(key, None)
    sc = spark.sparkContext
    sc.setJobGroup("checkpoint-load-plan", "load build only")
    try:
        back = checkpoint.load(spark, out_dir)
        sc._jsc.sc().listenerBus().waitUntilEmpty()  # job events are async
        assert list(sc.statusTracker().getJobIdsForGroup("checkpoint-load-plan")) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert spark.conf.get(key, None) == before
    assert back.count() == 4000
    assert back.select("id").distinct().count() == 4000


def test_preempted_run_resumes_without_rework(spark, sf_dir, out_dir):
    df = _src(spark, sf_dir)
    # first attempt: partition 4 is preempted -> job fails, but earlier
    # partitions have already committed their files
    with pytest.raises(Exception, match="injected preemption|Py4JJavaError|Job aborted"):
        checkpoint.resumable_write(
            df, out_dir, key="o_orderkey", num_partitions=6, fail_partitions={4}
        )
    committed_before = checkpoint._committed(out_dir)
    assert 4 not in committed_before
    assert committed_before, "some partitions must have committed before preemption"

    # resume: completes only missing partitions
    summary = checkpoint.resumable_write(df, out_dir, key="o_orderkey", num_partitions=6)
    assert summary["skipped"] == len(committed_before)
    assert summary["written"] == 6 - len(committed_before)

    back = checkpoint.load(spark, out_dir)
    assert back.count() == df.count()
    assert sorted(r[0] for r in back.select("o_orderkey").collect()) == sorted(
        r[0] for r in df.select("o_orderkey").collect()
    )


def test_rerun_is_fully_idempotent(spark, sf_dir, out_dir):
    df = _src(spark, sf_dir)
    checkpoint.resumable_write(df, out_dir, key="o_orderkey", num_partitions=4)
    summary = checkpoint.resumable_write(df, out_dir, key="o_orderkey", num_partitions=4)
    assert summary["written"] == 0 and summary["skipped"] == 4
    assert checkpoint.load(spark, out_dir).count() == df.count()
