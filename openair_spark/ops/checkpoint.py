"""Per-partition checkpoint manifest (north rule: "resumable from
checkpoint with per-partition lineage + metrics").

Model: a long job is a list of logical partitions (e.g. Iceberg
partition values or bucket ids). Each partition is processed
independently and idempotently:

  manifest row: (partition_id, status, input_rows, output_rows,
                 checksum, attempt, finished_at)

`run_partitioned` skips partitions already 'done' in the manifest
(resume), writes each partition's output to its own directory
(overwrite = idempotent retry), and commits the manifest row last —
write-then-commit ordering means a crash can only leave a partition
re-runnable, never half-recorded.

Each committed partition costs one Spark job, the data write. The
checksum and the row count are observed on that write
(`DataFrame.observe`), so nothing is read back. The checksum is an
order-insensitive wrapping SUM of per-row hashes, so lineage can be
verified without re-reading outputs in order; `dataset_checksum`
computes the same pair over what is on disk.

The driver commits the manifest row itself: one single-row parquet
file written with pyarrow under a `_`-prefixed name, which Spark and
pyarrow both skip, then renamed into place with `os.replace`. A crash
therefore leaves no half-written manifest file, only an ignored temp
file. The manifest path must be a local directory (it is read and
written with `os` and pyarrow); the partition outputs may live on any
filesystem Spark writes to. `done_partitions` runs no Spark job: a
missing manifest, or one with no data files, is empty. Rows written
by earlier Spark-appended manifests are read the same way.
"""

from __future__ import annotations

import os
import uuid
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

MANIFEST_SCHEMA = (
    "partition_id string, status string, input_rows long, output_rows long, "
    "checksum long, attempt int, finished_at timestamp"
)


def _manifest_files(manifest_path: str) -> list[str]:
    """The manifest's data files: what Spark and pyarrow would read,
    i.e. no `_`/`.`-prefixed names (Spark's `_temporary/`, `_SUCCESS`,
    `.crc` files, an uncommitted temp file)."""
    if not os.path.isdir(manifest_path):
        return []
    return sorted(
        e.path for e in os.scandir(manifest_path)
        if e.is_file() and not e.name.startswith(("_", "."))
    )


def read_manifest(spark: SparkSession, manifest_path: str) -> DataFrame:
    if not _manifest_files(manifest_path):
        return spark.createDataFrame([], MANIFEST_SCHEMA)
    return spark.read.schema(MANIFEST_SCHEMA).parquet(manifest_path)


def done_partitions(spark: SparkSession, manifest_path: str) -> set[str]:
    done = set()
    for path in _manifest_files(manifest_path):
        t = pq.read_table(path, columns=["partition_id", "status"])
        ids = t.column("partition_id").to_pylist()
        done.update(p for p, s in zip(ids, t.column("status").to_pylist()) if s == "done")
    return done


def _checksum_aggs(df: DataFrame) -> list:
    """(checksum, row count) aggregates: wrapping SUM of per-row hashes
    (sum is commutative, so row order never changes the value). The hash
    takes the columns in order, as `hash(*)` does."""
    return [
        F.coalesce(
            F.sum(F.hash(*[df[c] for c in df.columns]).cast("bigint")).cast("bigint"),
            F.lit(0),
        ).alias("c"),
        F.count(F.lit(1)).alias("n"),
    ]


def dataset_checksum(df: DataFrame) -> tuple[int, int]:
    """Order-insensitive (checksum, row count) of `df`, e.g. of a
    partition's output read back from disk."""
    row = df.agg(*_checksum_aggs(df)).collect()[0]
    return int(row["c"]), int(row["n"])


def _commit_row(manifest_path: str, row: tuple) -> None:
    """Append one manifest row as its own parquet file, atomically.
    `finished_at` is written as timestamp[us, UTC], which Spark reads
    back as its timestamp type."""
    schema = to_arrow_schema(StructType.fromDDL(MANIFEST_SCHEMA))
    table = pa.Table.from_pylist([dict(zip(schema.names, row))], schema=schema)
    os.makedirs(manifest_path, exist_ok=True)
    name = uuid.uuid4().hex
    tmp = os.path.join(manifest_path, f"_committing-{name}.parquet")
    pq.write_table(table, tmp)
    os.replace(tmp, os.path.join(manifest_path, f"part-{name}.parquet"))


def run_partitioned(spark: SparkSession, partition_ids: list[str],
                    build_partition, output_root: str, manifest_path: str,
                    attempt: int = 1) -> dict:
    """Process each partition not yet 'done'.

    build_partition(partition_id) -> (DataFrame to write, input_rows).
    Returns {'processed': [...], 'skipped': [...]} for observability.
    """
    already = done_partitions(spark, manifest_path)
    processed, skipped = [], []
    for pid in partition_ids:
        if pid in already:
            skipped.append(pid)
            continue
        df, input_rows = build_partition(pid)
        out_dir = os.path.join(output_root, f"partition_id={pid}")
        obs = Observation()
        df.observe(obs, *_checksum_aggs(df)).write.mode("overwrite").parquet(out_dir)
        metrics = obs.get
        _commit_row(manifest_path, (
            pid, "done", int(input_rows), int(metrics["n"]), int(metrics["c"]), attempt,
            datetime.now(timezone.utc)))
        processed.append(pid)
    return {"processed": processed, "skipped": skipped}
