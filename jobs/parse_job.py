"""Production job: pages -> airspace features + tile covers, checkpointed.

Run via spark-submit with the package shipped as --py-files (north
rule: "runs via spark-submit --py-files on multi-executor clusters,
checkpoints per-Iceberg-partition with lineage + row-count metrics"):

    python tools/make_pyfiles.py                      # -> dist/openair_spark.zip
    spark-submit --master local[8] \
        --py-files dist/openair_spark.zip \
        jobs/parse_job.py \
        --pages /data/pages_parquet --output /data/out \
        --buckets 16 [--synth N] [--config '{"version":"1.0"}']

The job splits the input into `--buckets` url-hash partitions (the
stand-in for Iceberg partition values), processes each independently
and idempotently through ops.checkpoint.run_partitioned, and writes:

    <output>/features/partition_id=<b>/   parsed features
    <output>/tiles/partition_id=<b>/      quadkey/S2/H3 covers
    <output>/manifest_features/           lineage: rows in/out, checksum
    <output>/manifest_tiles/

Re-running after a crash skips partitions whose manifest row is
'done' — resume is the default behavior, no flag needed. The driver
writes the manifest rows itself, so `--output` is a local path.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", help="parquet dir with the pages table")
    ap.add_argument("--synth", type=int, default=0,
                    help="generate N synthetic pages instead of --pages")
    ap.add_argument("--output", required=True)
    ap.add_argument("--buckets", type=int, default=16)
    ap.add_argument("--config", default=None, help="parser config JSON")
    ap.add_argument("--attempt", type=int, default=1)
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = SparkSession.builder.appName("openair-parse-job").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from openair_spark.ops.checkpoint import run_partitioned
    from openair_spark.ops.tiling import polygon_tiles
    from openair_spark.spark.pipeline import parse_features

    if args.synth:
        from openair_spark.spark.corpus import pages_df_dist

        pages = pages_df_dist(spark, args.synth, seed="parse-job")
    else:
        if not args.pages:
            print("either --pages or --synth is required", file=sys.stderr)
            return 2
        pages = spark.read.parquet(args.pages)

    # Iceberg-partition stand-in: stable url-hash bucket
    bucketed = pages.withColumn(
        "_bucket", F.pmod(F.xxhash64("url"), F.lit(args.buckets)))

    def build_features(pid: str):
        part = bucketed.where(F.col("_bucket") == int(pid)).drop("_bucket")
        n_in = part.count()
        return parse_features(part, args.config), n_in

    partition_ids = [str(b) for b in range(args.buckets)]
    feat_stats = run_partitioned(
        spark, partition_ids, build_features,
        output_root=f"{args.output}/features",
        manifest_path=f"{args.output}/manifest_features",
        attempt=args.attempt)

    def build_tiles(pid: str):
        feats = spark.read.parquet(f"{args.output}/features/partition_id={pid}")
        return polygon_tiles(feats), feats.count()

    tile_stats = run_partitioned(
        spark, partition_ids, build_tiles,
        output_root=f"{args.output}/tiles",
        manifest_path=f"{args.output}/manifest_tiles",
        attempt=args.attempt)

    print(json.dumps({"features": feat_stats, "tiles": tile_stats}))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
