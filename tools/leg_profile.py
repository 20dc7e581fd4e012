"""Per-phase profiling of the expensive bench legs (guide §1: measure
first). Runs in the engine's own session (spark/session.py::get_spark);
times each driver action inside a leg separately so the slow phase is
identified, not guessed. Usage:

  python tools/leg_profile.py pip|h3|minhash|ann [repeats]

Prints one JSON line per repeat with the phase timings.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def profile_pip(spark, sf, feats):
    """pip_run split into its driver-visible phases."""
    from pyspark.sql import functions as F

    from openair_spark.ops import pip as pip_mod
    from openair_spark.ops.pip import (MAX_RES, MIN_RES, _polygon_setup,
                                       _split_setup, pip_join)

    t: dict[str, float] = {}

    def mark(name, t0):
        t[name] = round(time.time() - t0, 3)

    f = feats.where(F.col("success") & (F.col("geometry_type") == "Polygon"))
    polys = f.select(
        F.concat_ws("#", "url", "airspace_idx").alias("polygon_id"), "ring")

    t0 = time.time()
    pp = polys.select("polygon_id", "ring").persist()
    n_edges = pp.agg(F.sum(F.size("ring") - 1).alias("e")).collect()[0]["e"]
    mark("persist_edge_agg", t0)
    t["n_edges"] = int(n_edges)

    t0 = time.time()
    setup = _polygon_setup(pp, MIN_RES, MAX_RES).toPandas()
    mark("polygon_setup", t0)
    t0 = time.time()
    rs, index_pdf = _split_setup(setup)
    mark("split_setup", t0)
    t["n_polys"] = len(rs.ids)
    t["n_index_rows"] = len(index_pdf)
    pp.unpersist()

    # full joined count (the whole leg, as bench.py times it)
    t0 = time.time()
    n_points = 2_000_000
    points = spark.range(0, n_points).selectExpr(
        "id AS point_id",
        "(30.0e0 + (id * 40093) % 35000 / 1000.0e0) AS lat",
        "(-12.0e0 + (id * 69697) % 45000 / 1000.0e0) AS lon",
    )
    n = pip_join(points, polys).count()
    mark("full_leg", t0)
    t["n_hits"] = n
    return t


def profile_h3(spark, sf, feats):
    from openair_spark.ops.h3tiles import h3_polygon_tiles
    t = {}
    t0 = time.time()
    n = h3_polygon_tiles(feats, 5, 9).count()
    t["full_leg"] = round(time.time() - t0, 3)
    t["rows"] = n
    return t


def profile_minhash(spark, sf_dir, feats):
    from openair_spark.queries import build_catalog
    cat = build_catalog()
    t = {}
    t0 = time.time()
    n = cat["dedup_minhash_lsh"].spark_fn(spark, sf_dir).count()
    t["full_leg"] = round(time.time() - t0, 3)
    t["rows"] = n
    return t


def profile_ann(spark, sf_dir, feats):
    from openair_spark.queries import build_catalog
    cat = build_catalog()
    t = {}
    t0 = time.time()
    n = cat["ann_bucket_join"].spark_fn(spark, sf_dir).count()
    t["full_leg"] = round(time.time() - t0, 3)
    t["rows"] = n
    return t


def main():
    leg = sys.argv[1]
    repeats = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from openair_spark.spark.session import get_spark

    spark = get_spark("leg-profile")
    spark.sparkContext.setLogLevel("ERROR")
    feats = spark.read.parquet("/tmp/spark_graft_bench/features")
    feats.limit(16).count()
    fn = {"pip": profile_pip, "h3": profile_h3,
          "minhash": profile_minhash, "ann": profile_ann}[leg]
    for i in range(repeats):
        t0 = time.time()
        t = fn(spark, sf_dir, feats)
        t["wall"] = round(time.time() - t0, 3)
        print(json.dumps({"leg": leg, "rep": i, **t}), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
