"""Lineage/checkpoint + resume semantics (north rule)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from osm_poi_cloud_spark.plans import lineage as ln


def _df(spark, keys):
    rows = []
    for k in keys:
        for i in range(10 * (k + 1)):
            rows.append((f"s{k}", k * 1000 + i, f"val{i}"))
    return spark.createDataFrame(pd.DataFrame(rows, columns=["shard_id", "row_id", "payload"]))


def test_resume_skips_completed_partitions(spark, tmp_path):
    out = str(tmp_path / "out")
    log = ln.LineageLog(spark, str(tmp_path / "lineage"))

    r1 = ln.run_stage_with_resume(spark, _df(spark, [0, 1, 2]), out, log, "run1", "process", "shard_id")
    assert r1 == {"skipped": 0, "processed": 3, "rows": 60}

    # restart with a superset: only the new shard is processed
    r2 = ln.run_stage_with_resume(spark, _df(spark, [0, 1, 2, 3]), out, log, "run1", "process", "shard_id")
    assert r2["skipped"] == 3 and r2["processed"] == 1 and r2["rows"] == 40

    # idempotent: third run does nothing
    r3 = ln.run_stage_with_resume(spark, _df(spark, [0, 1, 2, 3]), out, log, "run1", "process", "shard_id")
    assert r3["processed"] == 0 and r3["rows"] == 0

    # written data has every row exactly once
    written = spark.read.parquet(out)
    assert written.count() == 100
    assert written.select("row_id").distinct().count() == 100


def test_empty_partition_markers(spark, tmp_path):
    out = str(tmp_path / "out")
    log = ln.LineageLog(spark, str(tmp_path / "lineage"))
    ln.run_stage_with_resume(
        spark, _df(spark, [0]), out, log, "run1", "process", "shard_id",
        expected_keys=["s0", "s7", "s9"],
    )
    lin = log.read().toPandas()
    empty = lin[lin["row_count"] == 0]
    assert set(empty["partition_key"]) == {"s7", "s9"}  # _EMPTY analog
    # a later resume treats empty shards as done
    done = log.completed_keys("run1", "process").toPandas()
    assert set(done["partition_key"]) == {"s0", "s7", "s9"}


def test_verify_against_lineage_detects_tampering(spark, tmp_path):
    out = str(tmp_path / "out")
    log = ln.LineageLog(spark, str(tmp_path / "lineage"))
    ln.run_stage_with_resume(spark, _df(spark, [0, 1]), out, log, "run1", "process", "shard_id")

    bad = ln.verify_against_lineage(spark, out, log, "run1", "process", "shard_id")
    assert bad.count() == 0  # clean table verifies

    # corrupt one partition: append a rogue row
    spark.createDataFrame(pd.DataFrame([("s1", 999999, "rogue")], columns=["shard_id", "row_id", "payload"])) \
        .write.mode("append").partitionBy("shard_id").parquet(out)
    bad2 = ln.verify_against_lineage(spark, out, log, "run1", "process", "shard_id").toPandas()
    assert list(bad2["partition_key"]) == ["s1"]


def test_checksum_partition_order_insensitive(spark):
    df = _df(spark, [0, 1])
    a = ln.partition_summary(df, "shard_id").toPandas().sort_values("partition_key").reset_index(drop=True)
    b = ln.partition_summary(df.repartition(7), "shard_id").toPandas().sort_values("partition_key").reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)


def test_retry_after_crash_between_write_and_commit_does_not_duplicate(spark, tmp_path):
    """Simulate a crash AFTER the data write but BEFORE the lineage
    commit: the retry must overwrite the partial partition, not append a
    second copy (review finding r1-2)."""
    out = str(tmp_path / "out")
    log = ln.LineageLog(spark, str(tmp_path / "lineage"))
    df = _df(spark, [0, 1])

    # crashed attempt: files landed, lineage never committed
    (df.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
       .partitionBy("shard_id").parquet(out))
    assert spark.read.parquet(out).count() == 30

    # retry from scratch
    r = ln.run_stage_with_resume(spark, df, out, log, "run1", "process", "shard_id")
    assert r["processed"] == 2 and r["rows"] == 30
    written = spark.read.parquet(out)
    assert written.count() == 30  # not 60
    assert written.select("row_id").distinct().count() == 30


# Spark jobs of one run_stage_with_resume call at local[4], as measured:
# the first call, and a resume call (which also reads the committed keys).
JOBS_FIRST_CALL = 5
JOBS_RESUME_CALL = 7


def _lineage_files(path):
    return sorted(p.name for p in path.glob("*.parquet"))


def test_resume_write_job_budget_and_single_append(spark, tmp_path, count_jobs):
    """One call = one summary collect, one data write, ONE lineage append
    (data rows and _EMPTY rows together)."""
    out = str(tmp_path / "out")
    lineage_dir = tmp_path / "lineage"
    log = ln.LineageLog(spark, str(lineage_dir))
    r1, jobs1 = count_jobs(lambda: ln.run_stage_with_resume(
        spark, _df(spark, [0, 1]), out, log, "run1", "process", "shard_id",
        expected_keys=["s0", "s1", "s5"]))
    assert r1 == {"skipped": 0, "processed": 2, "rows": 30}
    assert jobs1 <= JOBS_FIRST_CALL, jobs1
    assert len(_lineage_files(lineage_dir)) == 1
    lin = log.read().toPandas().set_index("partition_key")["row_count"].to_dict()
    assert lin == {"s0": 10, "s1": 20, "s5": 0}

    r2, jobs2 = count_jobs(lambda: ln.run_stage_with_resume(
        spark, _df(spark, [0, 1, 2, 3]), out, log, "run1", "process", "shard_id",
        expected_keys=["s0", "s1", "s2", "s3", "s5", "s6"]))
    assert r2 == {"skipped": 3, "processed": 2, "rows": 70}
    assert jobs2 <= JOBS_RESUME_CALL, jobs2
    assert len(_lineage_files(lineage_dir)) == 2
    lin = log.read().toPandas()
    assert sorted(lin["partition_key"]) == ["s0", "s1", "s2", "s3", "s5", "s6"]
    assert spark.read.parquet(out).count() == 100
