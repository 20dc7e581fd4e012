"""Dump explain('formatted') for the round-6 touched queries.

Usage: PYTHONPATH=<tree> python tools/dump_plans.py <outdir> [suffix]

Writes <outdir>/<query>_<suffix>.txt. Run from the round-start worktree
with suffix=before and from the final tree with suffix=after; the
features/pages parquet under /tmp/spark_graft_bench must exist (any
bench run creates it).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.environ.get("PLAN_TREE",
                                  os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))


def main() -> None:
    outdir = sys.argv[1]
    suffix = sys.argv[2] if len(sys.argv) > 2 else "after"
    os.makedirs(outdir, exist_ok=True)
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = (SparkSession.builder.master("local[8]")
             .config("spark.sql.shuffle.partitions", "16")
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.driver.memory", "12g")
             .config("spark.sql.execution.arrow.pyspark.enabled", "true")
             .config("spark.ui.enabled", "false").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    from openair_spark.ops.pip import (pip_join, pip_join_shuffle,
                                       polygon_cells_at_res)
    from openair_spark.ops.h3tiles import h3_polygon_tiles
    from openair_spark.ops.tiling import polygon_tiles
    from openair_spark.queries import build_catalog
    from openair_spark.spark.pipeline import parse_features

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    pages = spark.read.parquet("/tmp/spark_graft_bench/pages_sf0.1_8000")
    feats = spark.read.parquet("/tmp/spark_graft_bench/features")
    f = feats.where(F.col("success") & (F.col("geometry_type") == "Polygon"))
    polys = f.select(
        F.concat_ws("#", "url", "airspace_idx").alias("polygon_id"), "ring")
    points = spark.range(0, 200_000).selectExpr(
        "id AS point_id",
        "(30.0e0 + (id * 40093) % 35000 / 1000.0e0) AS lat",
        "(-12.0e0 + (id * 69697) % 45000 / 1000.0e0) AS lon")

    cat = build_catalog()

    def dump(name, df):
        with open(os.path.join(outdir, f"{name}_{suffix}.txt"), "w") as fh:
            fh.write(df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted")))
        print("dumped", name, flush=True)

    dump("parse_features", parse_features(pages))
    dump("tile_cover", polygon_tiles(feats))
    dump("h3_cover", h3_polygon_tiles(feats, 5, 9))
    dump("pip_join", pip_join(points, polys))
    dump("pip_join_shuffle", pip_join_shuffle(points, polygon_cells_at_res(polys, res=7), res=7))
    for q in ["dedup_minhash_lsh", "ann_bucket_join"]:
        dump(q, cat[q].spark_fn(spark, sf_dir))
    if "dedup_canonical_url" in cat:
        dump("dedup_canonical_url", cat["dedup_canonical_url"].spark_fn(spark, sf_dir))
    spark.stop()


if __name__ == "__main__":
    main()
