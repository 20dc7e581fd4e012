"""Headline benchmark. Prints ONE JSON line:

  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ...,
   "throughput": {...}}

Env: SPARK_GRAFT_SF_DIR       (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS         (default: this host's CPU count, as get_spark),
     SPARK_GRAFT_PAGES        (default scaled to sf),
     SPARK_GRAFT_BENCH_REPEATS (default 3; each leg reports its median).

The flagship pipeline (pages -> extract -> parse -> tile -> PIP join)
reads a pre-materialized parquet corpus (generated executor-parallel on
first run, cached under /tmp) so the bench measures the engine, not the
synthetic generator.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

PAGES_FOR_SF = {"sf0.001": 200, "sf0.01": 1500, "sf0.1": 8000}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 1)
    if not os.path.isdir(sf_dir):
        sys.exit(f"bench: SPARK_GRAFT_SF_DIR does not exist: {sf_dir}")
    sf_name = os.path.basename(sf_dir.rstrip("/"))
    try:
        sf = min(float(sf_name.replace("sf", "")), 1.0) if sf_name.startswith("sf") else 0.1
    except ValueError:
        sf = 0.1
    n_pages = int(os.environ.get("SPARK_GRAFT_PAGES", PAGES_FOR_SF.get(sf_name, 8000)))

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(f"openair-spark-bench-{sf_name}")
        .config("spark.sql.shuffle.partitions", str(max(int(cpus) * 2, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from openair_spark.ops.pip import pip_join
    from openair_spark.ops.tiling import polygon_tiles, tile_histogram
    from openair_spark.spark.corpus import CORPUS_VERSION, pages_df_dist
    from openair_spark.spark.pipeline import parse_features

    # ---- corpus (cached parquet, generation excluded from timings)
    corpus_path = f"/tmp/spark_graft_bench/pages_{sf_name}_{n_pages}_v{CORPUS_VERSION}"
    if not os.path.exists(os.path.join(corpus_path, "_SUCCESS")):
        pages_df_dist(spark, n_pages, seed=f"bench-{sf_name}").write.mode(
            "overwrite").parquet(corpus_path)
    pages = spark.read.parquet(corpus_path)
    # warm the JVM, python workers, and OS page cache so the recorded
    # numbers measure the engine, not cold-start noise
    pages.limit(256).select("url", "text").count()

    # Each leg runs REPEATS times and records the MEDIAN (all samples are
    # emitted in the JSON under "samples").  Shared-host VM noise produced a
    # +37% swing on byte-identical code between rounds 2 and 3; a per-leg
    # median makes the official artifact variance-resistant without needing
    # prose to explain outliers.
    repeats = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3")))

    timings: dict[str, float] = {}
    counts: dict[str, int] = {}
    samples: dict[str, list[float]] = {}

    def _run_leg(name: str, fn, t_out: dict, n_out: dict) -> None:
        leg: list[float] = []
        n = 0
        for _ in range(repeats):
            t0 = time.time()
            n = int(fn())
            leg.append(round(time.time() - t0, 3))
        samples[name] = leg
        n_out[name] = n
        t_out[name] = statistics.median(leg)

    def bench(name: str, fn) -> None:
        _run_leg(name, fn, timings, counts)

    # q1: full parse pipeline (extract -> tokenize -> geometry kernels),
    # materialized to parquet — the production shape: parse once, every
    # downstream op reads the features table instead of re-parsing
    feats_path = "/tmp/spark_graft_bench/features"

    def parse_run() -> int:
        parse_features(pages).write.mode("overwrite").parquet(feats_path)
        return spark.read.parquet(feats_path).count()

    bench("parse_features", parse_run)
    feats = spark.read.parquet(feats_path)

    # q2: compact tile covers (quadkey cover + S2/H3 ids) over features
    bench("tile_cover", lambda: polygon_tiles(feats).count())

    # q3: PIP join of a synthetic point cloud vs parsed polygons
    def pip_run() -> int:
        f = feats.where(F.col("success") & (F.col("geometry_type") == "Polygon"))
        polys = f.select(
            F.concat_ws("#", "url", "airspace_idx").alias("polygon_id"), "ring")
        n_points = min(int(2_000_000 * max(sf, 0.01) / 0.1), 20_000_000)
        points = spark.range(0, n_points).selectExpr(
            "id AS point_id",
            "(30.0e0 + (id * 40093) % 35000 / 1000.0e0) AS lat",
            "(-12.0e0 + (id * 69697) % 45000 / 1000.0e0) AS lon",
        )
        return pip_join(points, polys).count()

    bench("pip_join", pip_run)

    # q4: per-cell polygon histogram (skew diagnostic)
    bench("tile_histogram", lambda: tile_histogram(polygon_tiles(feats)).count())

    # relational + text headliners from the driver catalog
    from openair_spark.queries import build_catalog

    catalog = build_catalog()
    for name in ["block_segmentation", "broadcast_join_agg", "knn_cell_local",
                 "dedup_minhash_lsh", "embedding_topk_cosine", "quality_score"]:
        qd = catalog[name]
        bench(name, lambda qd=qd: qd.spark_fn(spark, sf_dir).count())

    total = round(sum(timings.values()), 3)

    # extra legs (NOT in the headline total — keeps `value` comparable
    # across rounds): true H3 + S2 compact covers, ANN bucket join
    extra_t: dict[str, float] = {}
    extra_n: dict[str, int] = {}

    def bench_extra(name: str, fn) -> None:
        _run_leg(name, fn, extra_t, extra_n)

    from openair_spark.ops.h3tiles import h3_polygon_tiles
    from openair_spark.ops.s2tiles import s2_polygon_tiles

    # full north-star depth (res 5-9): affordable since round 3's
    # level-batched classification (one vectorized boundary+classify
    # call per refinement level instead of per-cell Python)
    bench_extra("h3_cover", lambda: h3_polygon_tiles(feats, 5, 9).count())
    bench_extra("s2_cover", lambda: s2_polygon_tiles(feats, max_level=9).count())
    bench_extra("ann_bucket_join",
                lambda: catalog["ann_bucket_join"].spark_fn(spark, sf_dir).count())
    blocks = counts["parse_features"]
    pip_rows = counts["pip_join"]
    throughput = {
        "pages_per_sec": round(n_pages / max(timings["parse_features"], 1e-9), 1),
        "blocks_parsed_per_sec": round(blocks / max(timings["parse_features"], 1e-9), 1),
        "pip_joined_rows_per_sec": round(pip_rows / max(timings["pip_join"], 1e-9), 1),
    }
    print(json.dumps({
        "metric": "headline suite wall time (parse+tile+PIP+relational+text) on local[%s]" % cpus,
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "n_pages": n_pages,
        "rows": counts,
        "throughput": throughput,
        "extra_queries": extra_t,
        "extra_rows": extra_n,
        "repeats": repeats,
        "samples": samples,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
