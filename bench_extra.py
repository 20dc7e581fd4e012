"""Supplementary benchmarks beside the headline suite (bench.py).

  - pip_join_shuffle: the salted shuffle PIP route — the plan that
    carries the 100 TB story — timed on the same sf0.1 corpus and
    point cloud as the headline broadcast leg, with row counts.
  - pip_join_noop / pip_join_broadcast: the broadcast leg isolated with
    the noop sink (guide §1.4) so the computation is timed without the
    count() aggregate shape.
  - paragraph_dedup: one measured scale point of the CCNet-style
    boilerplate scrub over the 10x corpus (80k pages as documents).

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default: this host's CPU count, as get_spark),
     SPARK_GRAFT_BENCH_REPEATS (default 3, per-leg median).

Prints ONE JSON line: {"legs": {name: sec}, "rows": {...},
"samples": {...}, "sf": ...}.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 1)
    sf_name = os.path.basename(sf_dir.rstrip("/"))
    try:
        sf = min(float(sf_name.replace("sf", "")), 1.0) if sf_name.startswith("sf") else 0.1
    except ValueError:
        sf = 0.1
    n_pages = int(os.environ.get("SPARK_GRAFT_PAGES",
                                 {"sf0.001": 200, "sf0.01": 1500,
                                  "sf0.1": 8000}.get(sf_name, 8000)))

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(f"openair-spark-bench-extra-{sf_name}")
        .config("spark.sql.shuffle.partitions", str(max(int(cpus) * 2, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from openair_spark.ops.pip import pip_join, pip_join_shuffle, polygon_cells_at_res
    from openair_spark.queries.textops import paragraph_dedup
    from openair_spark.spark.corpus import CORPUS_VERSION, pages_df_dist
    from openair_spark.spark.pipeline import parse_features

    corpus_path = f"/tmp/spark_graft_bench/pages_{sf_name}_{n_pages}_v{CORPUS_VERSION}"
    if not os.path.exists(os.path.join(corpus_path, "_SUCCESS")):
        pages_df_dist(spark, n_pages, seed=f"bench-{sf_name}").write.mode(
            "overwrite").parquet(corpus_path)
    pages = spark.read.parquet(corpus_path)
    # keyed by corpus size (unlike bench.py's fixed path) so a 10x run
    # does not silently reuse the 8k-page feature table
    feats_path = f"/tmp/spark_graft_bench/features_{sf_name}_{n_pages}_v{CORPUS_VERSION}"
    if not os.path.exists(os.path.join(feats_path, "_SUCCESS")):
        parse_features(pages).write.mode("overwrite").parquet(feats_path)
    feats = spark.read.parquet(feats_path)
    feats.limit(64).count()

    f = feats.where(F.col("success") & (F.col("geometry_type") == "Polygon"))
    polys = f.select(
        F.concat_ws("#", "url", "airspace_idx").alias("polygon_id"), "ring")
    n_points = min(int(2_000_000 * max(sf, 0.01) / 0.1), 20_000_000)
    points = spark.range(0, n_points).selectExpr(
        "id AS point_id",
        "(30.0e0 + (id * 40093) % 35000 / 1000.0e0) AS lat",
        "(-12.0e0 + (id * 69697) % 45000 / 1000.0e0) AS lon",
    )

    repeats = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3")))
    legs: dict[str, float] = {}
    rows: dict[str, int] = {}
    samples: dict[str, list[float]] = {}

    def bench(name: str, fn) -> None:
        spark.sparkContext.setJobDescription(name)
        leg = []
        n = 0
        for _ in range(repeats):
            t0 = time.time()
            n = int(fn())
            leg.append(round(time.time() - t0, 3))
        spark.sparkContext.setJobDescription(None)
        samples[name] = leg
        rows[name] = n
        legs[name] = statistics.median(leg)

    # 1. broadcast route, counted (headline shape, for comparison)
    bench("pip_join_broadcast", lambda: pip_join(points, polys).count())

    # 2. broadcast route through the noop sink (guide §1.4: computes
    # every column of every row, no count-side pruning)
    def pip_noop() -> int:
        pip_join(points, polys).write.format("noop").mode("overwrite").save()
        return 0

    bench("pip_join_noop", pip_noop)

    # 3. salted SHUFFLE route — the beyond-broadcast 100 TB plan —
    # forced over the same polygon side (auto-derived salt)
    def pip_shuffle() -> int:
        return pip_join_shuffle(points, polygon_cells_at_res(polys, res=7), res=7).count()

    bench("pip_join_shuffle", pip_shuffle)

    # 4. paragraph_dedup scale point: the page corpus as documents
    docs = pages.select(F.col("url").alias("doc_id"), "text")
    bench("paragraph_dedup", lambda: paragraph_dedup(docs).count())

    print(json.dumps({"metric": "supplementary legs (shuffle PIP, noop "
                                "isolation, paragraph dedup)",
                      "legs": legs, "rows": rows, "samples": samples,
                      "sf": sf, "n_pages": n_pages, "n_points": n_points,
                      "repeats": repeats}))
    spark.stop()


if __name__ == "__main__":
    main()
