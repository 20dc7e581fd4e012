"""The workloads: what each sets up, what one timed sample runs, and how
each sample's output is checked.

Every sample ends in a digest sink: an order-independent aggregate over
every output column (count, and two wrapping sums of a 64-bit row hash).
It reads every column, so Catalyst prunes nothing, and it lets each
sample be compared with the others and with recorded digests.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
from pyspark.sql import functions as F

import gen

_MASK = (1 << 64) - 1


def digest(df, inexact=(), extra=()):
    """Order-independent digest of a DataFrame, plus any extra aggregates.

    Columns named in `inexact` are floating-point aggregates whose last
    bits depend on summation order; they enter the hash as a null test,
    which still makes Spark compute them."""
    cols = [F.col(c).isNotNull() if c in inexact else F.col(c) for c in df.columns]
    h = F.xxhash64(*cols)
    row = df.agg(F.count(F.lit(1)).alias("n"),
                 F.sum(h.bitwiseAND(F.lit(0xFFFFFFFF))).alias("lo"),
                 F.sum(F.shiftright(h, 32)).alias("hi"), *extra).collect()[0]
    text = f"{row['n']}:{(row['lo'] or 0) & _MASK:x}:{(row['hi'] or 0) & _MASK:x}"
    return text, row


def pages_table(rows: list[dict]) -> pa.Table:
    cols = gen.PAGE_COLUMNS + ["payload", "expect_features", "expect_error"]
    return pa.table({c: [r[c] for r in rows] for c in cols})


def _ray_cast(x: float, y: float, ring) -> bool:
    """Scalar even-odd ray cast, independent of the engine's kernels."""
    inside = False
    for (x1, y1), (x2, y2) in zip(ring[:-1], ring[1:]):
        if (y1 <= y < y2) or (y2 <= y < y1):
            if x < x1 + (y - y1) * (x2 - x1) / (y2 - y1):
                inside = not inside
    return inside


def _haversine_km(lat1, lon1, lat2, lon2):
    p1, p2 = np.radians(lat1), np.radians(lat2)
    a = (np.sin((p2 - p1) / 2) ** 2
         + np.sin(np.radians(lon2 - lon1) / 2) ** 2 * np.cos(p1) * np.cos(p2))
    return 2 * 6371.0088 * np.arctan2(np.sqrt(a), np.sqrt(1 - a))


def _dir_mb(root: str) -> float:
    total = 0
    for d, _, files in os.walk(root):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total / 1e6


class Workload:
    """One workload. `setup` prepares a session's inputs and returns a state
    dict; `sample` runs one unit of work, brackets its timed part with
    meter.start() and meter.stop(), and returns (digests, work items,
    counts); `verify` runs the independent checks once and returns a list
    of problems."""

    name = ""

    def __init__(self, seed: int, cache_dir: str, work_dir: str):
        self.seed = seed
        self.cache_dir = cache_dir
        self.work_dir = work_dir
        self.layer_counts: dict = {}

    def inputs(self) -> None:
        """Generate (or load from cache) this seed's input tables."""
        raise NotImplementedError

    def setup(self, spark) -> dict:
        raise NotImplementedError

    def sample(self, spark, st: dict, tr, meter) -> tuple[dict, int, dict]:
        raise NotImplementedError

    def verify(self, spark, st: dict) -> list[str]:
        raise NotImplementedError

    def sizes(self) -> dict:
        return {k: v for k, v in vars(type(self)).items() if k.isupper()}

    def teardown(self, st: dict) -> None:
        for df in st.get("persisted", []):
            df.unpersist(blocking=True)

    def _pages(self, tag: str, n: int, **kw) -> None:
        name = f"{tag}-s{self.seed}-n{n}"
        self.pages_path = gen.cached_dataset(
            self.cache_dir, name, lambda: pages_table(gen.make_pages(self.seed, n, tag, **kw)))

    def _truth(self) -> list[dict]:
        import pyarrow.parquet as pq

        t = pq.read_table(self.pages_path, columns=["url", "payload", "expect_features", "expect_error"])
        return t.to_pylist()


COVERS = ("ops.tiling", "ops.h3tiles", "ops.s2tiles")


def _cover_ops():
    from openair_spark.ops.h3tiles import h3_polygon_tiles
    from openair_spark.ops.s2tiles import s2_polygon_tiles
    from openair_spark.ops.tiling import polygon_tiles

    return dict(zip(COVERS, (polygon_tiles, h3_polygon_tiles, s2_polygon_tiles)))


class Pipeline(Workload):
    """The paper's batch pipeline: pages -> extract_openair ->
    parse_extracted -> features written per logical partition through
    run_partitioned (with manifest rows) -> quadkey (polygon_tiles), H3
    and S2 covers of those features, each into a digest sink."""

    name = "pipeline"
    N_PAGES = 150
    MEGA_PAGES = 2
    PARTITIONS = 2
    # samples so far over all sessions; it names each sample's output, so
    # a later session never resumes an earlier one's finished partitions
    runs = 0

    def inputs(self) -> None:
        self._pages("pipeline", self.N_PAGES, mega_pages=self.MEGA_PAGES, large_share=0.03)

    def setup(self, spark) -> dict:
        from openair_spark.spark.extract import extract_openair
        from openair_spark.spark.pipeline import parse_extracted

        pages = spark.read.parquet(self.pages_path).select(*gen.PAGE_COLUMNS)
        # warm-up: start the Python workers and load the parser in them
        parse_extracted(extract_openair(pages.limit(40))).write.format("noop").mode("overwrite").save()
        return {"pages": pages}

    def _out(self) -> str:
        return os.path.join(self.work_dir, f"pipeline-{self.runs}")

    def sample(self, spark, st, tr, meter):
        from openair_spark.ops.checkpoint import run_partitioned
        from openair_spark.spark.extract import extract_openair
        from openair_spark.spark.pipeline import parse_extracted

        self.runs += 1
        shutil.rmtree(self.work_dir, ignore_errors=True)  # earlier samples' output
        root = self._out()
        bucket = F.substring("url", -6, 6).cast("int") % self.PARTITIONS
        pids = [str(p) for p in range(self.PARTITIONS)]
        full = [F.sum(F.col("is_full").cast("long")).alias("full")]
        digests, counts, cells = {}, {}, 0
        meter.start()
        with tr.span("spark.extract"):
            extracted = extract_openair(st["pages"]).persist()
            counts["spark.extract.rows_out"] = extracted.count()
        with tr.span("spark.pipeline"):
            features = parse_extracted(extracted).persist()
            counts["spark.pipeline.rows_out"] = features.count()
        with tr.span("ops.checkpoint"):
            run_partitioned(
                spark, pids,
                lambda pid: (features.where(bucket == int(pid)), self.N_PAGES // self.PARTITIONS),
                os.path.join(root, "features"), os.path.join(root, "manifest"))
        ingest_s = meter.lap()
        for layer, op in _cover_ops().items():
            with tr.span(layer):
                d, row = digest(op(features), extra=full)
            digests[layer] = d
            cells += row["n"]
            counts[f"{layer}.rows_out"] = counts[f"{layer}.cells"] = row["n"]
            counts[f"{layer}.full_frac"] = (row["full"] or 0) / max(row["n"], 1)
        meter.stop()
        # untimed: release the caches, digest what was written
        extracted.unpersist(blocking=True)
        features.unpersist(blocking=True)
        d, row = digest(spark.read.parquet(os.path.join(root, "features")).drop("partition_id"))
        digests["ops.checkpoint"] = d
        counts.update({"ops.checkpoint.rows_out": row["n"],
                       "ops.checkpoint.bytes_written_mb": _dir_mb(root),
                       "stage.ingest_s": ingest_s, "stage.cover_s": meter.wall_s - ingest_s,
                       "stage.cover_cells": cells})
        return digests, self.N_PAGES, counts

    def verify(self, spark, st) -> list[str]:
        from openair_spark.ops.checkpoint import read_manifest
        from openair_spark.spark.extract import extract_openair

        problems = []
        truth = self._truth()
        root = self._out()
        extracted = {r["url"]: r["openair_text"] for r in
                     extract_openair(st["pages"]).select("url", "openair_text").collect()}
        expected = {t["url"]: t["payload"] for t in truth if t["payload"] is not None}
        if extracted != expected:
            problems.append(f"extract: {len(extracted)} payload pages, expected {len(expected)} "
                            "byte-identical payloads")
        written = spark.read.parquet(os.path.join(root, "features")).drop("partition_id")
        rows = written.select("url", "success", "error").collect()
        per_url: dict[str, list] = {}
        for r in rows:
            per_url.setdefault(r["url"], []).append(r)
        bad = 0
        for t in truth:
            got = per_url.get(t["url"], [])
            if t["payload"] is None:
                bad += bool(got)
            elif t["expect_error"]:
                bad += not (len(got) == 1 and not got[0]["success"]
                            and t["expect_error"] in (got[0]["error"] or ""))
            else:
                bad += not (len(got) == t["expect_features"] and all(g["success"] for g in got))
        if bad:
            problems.append(f"parse: {bad} pages whose rows differ from the generator's truth")
        man = read_manifest(spark, os.path.join(root, "manifest")).collect()
        if sorted(m["partition_id"] for m in man) != [str(p) for p in range(self.PARTITIONS)] \
                or sum(m["output_rows"] for m in man) != len(rows):
            problems.append("checkpoint: manifest rows do not match the written features")
        # every polygon of a sample, the FIR-sized ones included, gets a cover
        polys = written.where(F.col("success") & (F.col("geometry_type") == "Polygon"))
        few = polys.orderBy(F.xxhash64("url", "airspace_idx")).limit(40).unionByName(
            polys.orderBy(F.size("ring").desc()).limit(self.MEGA_PAGES)).distinct().persist()
        n_poly = few.count()
        for layer, op in _cover_ops().items():
            covered = op(few).select("url", "airspace_idx").distinct().count()
            if covered != n_poly:
                problems.append(f"{layer}: {covered} of {n_poly} sampled polygons have a cover")
        few.unpersist()
        self.layer_counts = {
            "spark.extract.payload_pages": len(extracted),
            "spark.pipeline.error_rows": sum(not r["success"] for r in rows),
        }
        return problems


class Join(Workload):
    """points x features' polygons: broadcast PIP, shuffle PIP (with a
    mega-polygon), kNN over polygon centroids, raster assignment and zonal
    statistics, each into a digest sink."""

    name = "join"
    N_PAGES = 60
    MEGA_PAGES = 1
    N_POINTS = 25_000
    K = 3
    RASTER_RES = 10
    CHECK_POLYGONS = 20
    CHECK_POINTS = 200

    def inputs(self) -> None:
        self._pages("join", self.N_PAGES, mega_pages=self.MEGA_PAGES, tail=False)
        name = f"points-s{self.seed}-n{self.N_POINTS}"
        self.points_path = gen.cached_dataset(
            self.cache_dir, name, lambda: pa.table(gen.make_points(self.seed, self.N_POINTS)))

    def setup(self, spark) -> dict:
        from openair_spark.spark.pipeline import parse_features

        pages = spark.read.parquet(self.pages_path).select(*gen.PAGE_COLUMNS)
        feats = parse_features(pages).persist()  # also starts the Python workers
        feats.count()
        st: dict = {"persisted": [feats]}
        polygons = (feats.where(F.col("success") & (F.col("geometry_type") == "Polygon"))
                    .select(F.concat_ws("#", "url", F.col("airspace_idx").cast("string"))
                            .alias("polygon_id"), "ring").persist())
        st["persisted"].append(polygons)
        poly_rows = polygons.collect()
        st["polygon_list"] = [{"polygon_id": r["polygon_id"], "ring": r["ring"]} for r in poly_rows]
        centroids = polygons.select(
            F.col("polygon_id").alias("centroid_id"),
            F.expr("aggregate(ring, 0D, (a, p) -> a + p[1]) / size(ring)").alias("lat"),
            F.expr("aggregate(ring, 0D, (a, p) -> a + p[0]) / size(ring)").alias("lon")).persist()
        self.n_centroids = centroids.count()
        st["persisted"].append(centroids)
        points = spark.read.parquet(self.points_path)
        st.update(polygons=polygons, centroids=centroids, points=points)
        return st

    def sample(self, spark, st, tr, meter):
        from openair_spark.ops.knn import knn_join
        from openair_spark.ops.pip import pip_join, pip_join_shuffle, polygon_cells_at_res
        from openair_spark.ops.raster import assign_tiles, tiles_from_points, zonal_stats

        pts = st["points"]
        pair = [F.sum(F.xxhash64("point_id", "polygon_id").bitwiseAND(F.lit(0xFFFFFFFF))).alias("pair")]
        digests, counts = {}, {}
        meter.start()
        with tr.span("ops.pip"):
            d, row = digest(pip_join(pts, st["polygons"]), extra=pair)
        digests["ops.pip"] = d
        counts["ops.pip.rows_out"] = counts["ops.pip.hits"] = row["n"]
        b_pairs = (row["n"], row["pair"])
        with tr.span("ops.pip.shuffle"):
            cells = polygon_cells_at_res(st["polygons"], res=7)
            d, row = digest(pip_join_shuffle(pts, cells, res=7).select(
                "point_id", "lat", "lon", "value", "polygon_id"), extra=pair)
        digests["ops.pip.shuffle"] = d
        counts["ops.pip.shuffle.rows_out"] = row["n"]
        digests["pip routes agree"] = str(b_pairs == (row["n"], row["pair"]))
        with tr.span("ops.knn"):
            d, row = digest(knn_join(pts, st["centroids"], k=self.K))
        digests["ops.knn"] = d
        counts["ops.knn.rows_out"] = row["n"]
        with tr.span("ops.raster"):
            tiles = tiles_from_points(pts, self.RASTER_RES)
            zonal = zonal_stats(assign_tiles(tiles, st["polygon_list"], self.RASTER_RES))
            d, row = digest(zonal, inexact=("sum_value", "avg_value"),
                            extra=[F.sum("n_tiles").alias("assigned")])
        meter.stop()
        digests["ops.raster"] = d
        counts["ops.raster.rows_out"] = row["n"]
        counts["ops.raster.assigned_rows"] = row["assigned"] or 0
        return digests, self.N_POINTS, counts

    def verify(self, spark, st) -> list[str]:
        import pyarrow.parquet as pq

        from openair_spark.ops.knn import knn_join
        from openair_spark.ops.pip import pip_join

        problems = []
        rng = np.random.default_rng([self.seed, 11])
        polys = st["polygon_list"]
        check = [polys[i] for i in rng.choice(len(polys), self.CHECK_POLYGONS, replace=False)]
        mega = max(polys, key=lambda p: len(p["ring"]))
        if mega not in check:
            check.append(mega)
        ids = [p["polygon_id"] for p in check]
        hits = pip_join(st["points"], st["polygons"].where(F.col("polygon_id").isin(ids))) \
            .select("point_id", "polygon_id").collect()
        got = {(r["point_id"], r["polygon_id"]) for r in hits}
        pts = pq.read_table(self.points_path, columns=["point_id", "lat", "lon"]).to_pydict()
        pid, lat, lon = (np.asarray(pts[c]) for c in ("point_id", "lat", "lon"))
        want = set()
        for p in check:
            ring = [tuple(v) for v in p["ring"]]
            xs, ys = [v[0] for v in ring], [v[1] for v in ring]
            m = (lon >= min(xs)) & (lon <= max(xs)) & (lat >= min(ys)) & (lat <= max(ys))
            for i in np.flatnonzero(m):
                if _ray_cast(float(lon[i]), float(lat[i]), ring):
                    want.add((int(pid[i]), p["polygon_id"]))
        if got != want:
            problems.append(f"pip: {len(got ^ want)} (point, polygon) pairs differ from a scalar "
                            f"ray cast over {len(check)} polygons")
        sample_ids = rng.choice(pid, self.CHECK_POINTS, replace=False).tolist()
        knn = knn_join(st["points"].where(F.col("point_id").isin(sample_ids)),
                       st["centroids"], k=self.K).select("point_id", "centroid_id", "rank").collect()
        got_knn = {(r["point_id"], r["rank"]): r["centroid_id"] for r in knn}
        cents = st["centroids"].collect()
        clat = np.asarray([c["lat"] for c in cents])
        clon = np.asarray([c["lon"] for c in cents])
        cid = [c["centroid_id"] for c in cents]
        bad = 0
        index = {int(p): i for i, p in enumerate(pid)}
        for p in sample_ids:
            i = index[int(p)]
            dist = _haversine_km(lat[i], lon[i], clat, clon)
            order = sorted(range(len(cid)), key=lambda j: (dist[j], cid[j]))[:self.K]
            bad += any(got_knn.get((int(p), r + 1)) != cid[j] for r, j in enumerate(order))
        if bad:
            problems.append(f"knn: {bad} of {len(sample_ids)} sampled points differ from brute force")
        return problems


WORKLOADS = {w.name: w for w in (Pipeline, Join)}
