"""Checkpoint commit path: the checksum observed on the write equals the
one read back from disk, the manifest stays readable across writers and
crashes, and a committed partition costs one Spark job."""

from __future__ import annotations

import os
from datetime import datetime, timezone

import pytest
from pyspark.sql import functions as F

from openair_spark.ops.checkpoint import (MANIFEST_SCHEMA, dataset_checksum,
                                          done_partitions, read_manifest,
                                          run_partitioned)

HASH_STAR = "coalesce(cast(sum(cast(hash(*) as bigint)) as bigint), 0) as c"


def _commit_one(spark, tmp_path, df):
    """Run one partition through run_partitioned; return its manifest row
    and the directory it wrote."""
    manifest = str(tmp_path / "manifest")
    run_partitioned(spark, ["p"], lambda pid: (df, 7), str(tmp_path / "out"), manifest)
    (row,) = read_manifest(spark, manifest).collect()
    return row, str(tmp_path / "out" / "partition_id=p")


def _on_disk(spark, out_dir):
    written = spark.read.parquet(out_dir)
    return dataset_checksum(written), written.selectExpr(HASH_STAR).first()["c"]


def test_observed_checksum_equals_read_back(spark, tmp_path):
    df = spark.createDataFrame(
        [
            ([[1.5, None], None, []], None, "a", datetime(2024, 3, 1, 12, 30)),
            (None, 7, None, None),
            ([[-0.0, 2.25e-300]], -3, "", datetime(1970, 1, 1)),
        ] * 40,
        "ring array<array<double>>, n int, s string, t timestamp",
    )
    row, out_dir = _commit_one(spark, tmp_path, df)
    (checksum, n), hash_star = _on_disk(spark, out_dir)
    assert (row["checksum"], row["output_rows"]) == (checksum, n)
    assert n == 120 and checksum == hash_star != 0
    assert row["status"] == "done" and row["input_rows"] == 7 and row["attempt"] == 1


@pytest.mark.parametrize("kind", ["range", "local"])
def test_observed_checksum_of_empty_partition(spark, tmp_path, kind):
    df = spark.range(0) if kind == "range" else spark.createDataFrame([], "a int, s string")
    row, out_dir = _commit_one(spark, tmp_path, df)
    assert (row["checksum"], row["output_rows"]) == (0, 0)
    assert _on_disk(spark, out_dir) == ((0, 0), 0)


def test_resume_reads_rows_of_the_spark_writer(spark, tmp_path):
    """Rows appended by Spark (the manifest writer of earlier releases)
    and rows committed by the driver share one directory."""
    manifest = str(tmp_path / "manifest")
    spark.createDataFrame(
        [("a", "done", 5, 5, 11, 1, datetime.now(timezone.utc)),
         ("b", "failed", 5, 0, 0, 1, datetime.now(timezone.utc))],
        MANIFEST_SCHEMA,
    ).write.mode("append").parquet(manifest)
    calls = []

    def build(pid):
        calls.append(pid)
        return spark.range(3).withColumn("pid", F.lit(pid)), 3

    out = str(tmp_path / "out")
    r1 = run_partitioned(spark, ["a", "b", "c"], build, out, manifest)
    assert r1 == {"processed": ["b", "c"], "skipped": ["a"]}
    r2 = run_partitioned(spark, ["a", "b", "c", "d"], build, out, manifest)
    assert r2 == {"processed": ["d"], "skipped": ["a", "b", "c"]}
    assert calls == ["b", "c", "d"]
    rows = read_manifest(spark, manifest).collect()
    assert sorted((r["partition_id"], r["status"]) for r in rows) == [
        ("a", "done"), ("b", "done"), ("b", "failed"), ("c", "done"), ("d", "done")]


def test_manifest_schema(spark, tmp_path):
    manifest = str(tmp_path / "manifest")
    expected = spark.createDataFrame([], MANIFEST_SCHEMA).schema
    assert read_manifest(spark, manifest).schema == expected
    run_partitioned(spark, ["x"], lambda pid: (spark.range(2), 2), str(tmp_path / "out"), manifest)
    assert read_manifest(spark, manifest).schema == expected
    assert spark.read.parquet(manifest).schema == expected


def test_resume_after_crashed_manifest_write(spark, tmp_path):
    """A crash during the first manifest write leaves a directory with no
    data file: Spark's `_temporary/` or an uncommitted `_`-prefixed temp
    file. Resume treats it as an empty manifest."""
    manifest = tmp_path / "manifest"
    os.makedirs(manifest / "_temporary" / "0")
    (manifest / "_committing-0.parquet").write_bytes(b"PAR1 cut short")
    assert done_partitions(spark, str(manifest)) == set()
    assert read_manifest(spark, str(manifest)).count() == 0
    r = run_partitioned(spark, ["a"], lambda pid: (spark.range(4), 4),
                        str(tmp_path / "out"), str(manifest))
    assert r == {"processed": ["a"], "skipped": []}
    assert [row["output_rows"] for row in read_manifest(spark, str(manifest)).collect()] == [4]


def test_one_spark_job_per_committed_partition(spark, tmp_path):
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    manifest = str(tmp_path / "manifest")
    out = str(tmp_path / "out")
    build = lambda pid: (spark.range(50).withColumn("pid", F.lit(pid)), 50)  # noqa: E731
    try:
        sc.setJobGroup("ckpt-absent", "done_partitions on a missing manifest")
        assert done_partitions(spark, manifest) == set()
        sc.setJobGroup("ckpt-run", "commit three partitions")
        run_partitioned(spark, ["a", "b", "c"], build, out, manifest)
        sc.setJobGroup("ckpt-resume", "resume: everything done")
        assert run_partitioned(spark, ["a", "b", "c"], build, out, manifest)["processed"] == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert tracker.getJobIdsForGroup("ckpt-absent") == []
    assert len(tracker.getJobIdsForGroup("ckpt-run")) == 3
    assert tracker.getJobIdsForGroup("ckpt-resume") == []
