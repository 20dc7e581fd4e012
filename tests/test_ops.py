"""Tests for spatial ops: PIP joins (broadcast + salted shuffle), kNN
(cell-local == brute force), raster assignment, checkpoint resume."""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from openair_spark.index import quadkey
from openair_spark.index.pip import points_in_ring
from openair_spark.ops.checkpoint import run_partitioned, read_manifest
from openair_spark.ops.knn import knn_bruteforce, knn_join
from openair_spark.ops.pip import pip_join, pip_join_shuffle, polygon_cells_at_res
from openair_spark.ops.raster import assign_tiles, tiles_from_points, zonal_stats
from test_textops import SF as _SF0001


def _ring(lon0, lat0, d):
    return [[lon0 - d, lat0 - d], [lon0 + d, lat0 - d], [lon0 + d, lat0 + d],
            [lon0 - d, lat0 + d], [lon0 - d, lat0 - d]]


POLYGONS = [
    {"polygon_id": "box-a", "ring": _ring(10.0, 50.0, 1.0)},
    {"polygon_id": "box-b", "ring": _ring(12.5, 50.0, 0.8)},
    {"polygon_id": "big-c", "ring": _ring(11.0, 49.0, 3.5)},
]


@pytest.fixture(scope="module")
def points(spark):
    rng = np.random.default_rng(11)
    lon = rng.uniform(5.0, 18.0, 2000)
    lat = rng.uniform(44.0, 56.0, 2000)
    rows = [(f"p{i}", float(lat[i]), float(lon[i])) for i in range(len(lat))]
    return spark.createDataFrame(rows, "point_id string, lat double, lon double").cache()


def _expected_pairs(points_rows):
    out = set()
    for poly in POLYGONS:
        ring = np.asarray(poly["ring"])
        px = np.array([r["lon"] for r in points_rows])
        py = np.array([r["lat"] for r in points_rows])
        mask = points_in_ring(px, py, ring)
        for r, ok in zip(points_rows, mask):
            if ok:
                out.add((r["point_id"], poly["polygon_id"]))
    return out


def test_pip_join_broadcast_exact(points, spark):
    rows = points.collect()
    expected = _expected_pairs(rows)
    got = {
        (r["point_id"], r["polygon_id"])
        for r in pip_join(points, POLYGONS).select("point_id", "polygon_id").collect()
    }
    assert got == expected
    assert len(got) > 0


def _polygons_df(spark, polygons):
    return spark.createDataFrame(
        [(p["polygon_id"], p["ring"]) for p in polygons],
        "polygon_id string, ring array<array<double>>")


def test_pip_join_shuffle_matches_broadcast(points, spark):
    rows = points.collect()
    expected = _expected_pairs(rows)
    cells_df = polygon_cells_at_res(_polygons_df(spark, POLYGONS), res=7)
    got = {
        (r["point_id"], r["polygon_id"])
        for r in pip_join_shuffle(points, cells_df, salt=4, res=7)
        .select("point_id", "polygon_id").collect()
    }
    assert got == expected


def test_pip_join_auto_routes_to_shuffle(points, spark):
    """The unified pip_join API (round-4 verdict seam): an over-
    threshold polygon side must route to the salted shuffle plan — no
    driver-side ring materialization — and produce the identical hit
    set the broadcast plan produces on the same data."""
    from openair_spark.ops import pip as pip_mod

    polys_df = _polygons_df(spark, POLYGONS)

    broadcast_hits = {
        (r["point_id"], r["polygon_id"])
        for r in pip_join(points, polys_df).select("point_id", "polygon_id").collect()
    }
    assert pip_mod.LAST_ROUTE == "broadcast"

    # 3 polygons x 4 edges = 12 edges; cap of 1 forces the shuffle route
    routed = pip_join(points, polys_df, max_broadcast_edges=1)
    assert pip_mod.LAST_ROUTE == "shuffle"
    shuffle_hits = {
        (r["point_id"], r["polygon_id"])
        for r in routed.select("point_id", "polygon_id").collect()
    }
    assert shuffle_hits == broadcast_hits and len(shuffle_hits) > 0
    # unified output columns regardless of route
    assert set(routed.columns) == {"point_id", "lat", "lon", "polygon_id"}


def test_knn_cell_local_matches_bruteforce(points, spark):
    rng = np.random.default_rng(5)
    cents = [(f"c{i}", float(rng.uniform(45, 55)), float(rng.uniform(6, 17)))
             for i in range(40)]
    centroids = spark.createDataFrame(cents, "centroid_id string, lat double, lon double")
    # res such that 1-ring neighborhood >> k-th neighbor distance:
    # 40 centroids over ~12 deg -> res 4 cells are 22x11 deg
    approx = knn_join(points, centroids, k=3, res=4, rings=1)
    exact = knn_bruteforce(points, centroids, k=3)
    a = {(r["point_id"], r["rank"], r["centroid_id"]) for r in approx.collect()}
    b = {(r["point_id"], r["rank"], r["centroid_id"]) for r in exact.collect()}
    assert a == b


def test_auto_salt_detects_skew(spark):
    """A hot cell (many polygons piled on one cell) must raise the
    derived salt above 1; a uniform cell set must not."""
    from openair_spark.ops.pip import auto_salt

    skewed = [(0, f"hot{i}", "[]") for i in range(64)]
    skewed += [(c, f"cold{c}", "[]") for c in range(1, 40)]
    df = spark.createDataFrame(skewed, "cell long, polygon_id string, ring_json string")
    assert auto_salt(df) > 1

    uniform = [(c, f"p{c}", "[]") for c in range(40)]
    df_u = spark.createDataFrame(uniform, "cell long, polygon_id string, ring_json string")
    assert auto_salt(df_u) == 1


def test_knn_rings2_high_latitude_exact(spark):
    """Regression: the margin's worst-latitude pad must track rings —
    with rings=2 a fixed 2-cell pad overestimated cos(worst_lat), let
    high-latitude points skip the brute-force fallback, and missed true
    neighbors across the lon-shrunken window."""
    rng = np.random.default_rng(23)
    cents = [(f"c{i}", float(rng.uniform(78, 86)), float(rng.uniform(-40, 40)))
             for i in range(60)]
    centroids = spark.createDataFrame(cents, "centroid_id string, lat double, lon double")
    pts = [(f"p{i}", float(rng.uniform(79, 85)), float(rng.uniform(-35, 35)))
           for i in range(300)]
    points = spark.createDataFrame(pts, "point_id string, lat double, lon double")
    approx = knn_join(points, centroids, k=3, res=5, rings=2)
    exact = knn_bruteforce(points, centroids, k=3)
    a = {(r["point_id"], r["rank"], r["centroid_id"]) for r in approx.collect()}
    b = {(r["point_id"], r["rank"], r["centroid_id"]) for r in exact.collect()}
    assert a == b


def _knn_rows(df):
    return sorted((r["point_id"], r["rank"], r["centroid_id"], r["dist_km"])
                  for r in df.collect())


def _assert_knn_exact(spark, pts, cents, k=3, **kw):
    points = spark.createDataFrame(pts, "point_id string, lat double, lon double")
    centroids = spark.createDataFrame(cents, "centroid_id string, lat double, lon double")
    got = knn_join(points, centroids, k=k, **kw)
    assert got.columns == ["point_id", "lat", "lon", "centroid_id", "dist_km", "rank"]
    rows = _knn_rows(got)
    assert rows == _knn_rows(knn_bruteforce(points, centroids, k=k))
    return rows


def test_knn_exact_distance_tie_breaks_on_centroid_id(spark):
    """Two centroids at one coordinate tie on distance; rank follows
    centroid_id, in the window pass and in the fallback alike."""
    cents = [("c-b", 50.0, 10.0), ("c-a", 50.0, 10.0), ("c-z", 50.5, 10.5),
             ("c-y", 48.0, 12.0)]
    pts = [("p0", 50.1, 10.1), ("p1", 49.0, 11.0)]
    for res in (None, 12):
        rows = _assert_knn_exact(spark, pts, cents, k=3, res=res)
        p0 = [r for r in rows if r[0] == "p0"]
        assert [r[2] for r in p0[:2]] == ["c-a", "c-b"]
        assert p0[0][3] == p0[1][3]


def test_knn_antimeridian_window(spark):
    """The ring window wraps in longitude: a point at lon 179.9 finds the
    centroid at -179.9 as its nearest neighbour."""
    cents = [("east", 10.0, -179.9), ("west", 10.0, 179.0), ("far", 10.0, 170.0),
             ("far2", 12.0, -175.0)]
    pts = [("p0", 10.0, 179.9), ("p1", 10.2, -179.95)]
    rows = _assert_knn_exact(spark, pts, cents, k=2, res=6)
    assert [r[2] for r in rows if r[0] == "p0"] == ["east", "west"]


def test_knn_k_larger_than_centroid_count(spark):
    cents = [("c0", 45.0, 5.0), ("c1", 46.0, 6.0), ("c2", 47.0, 7.0)]
    pts = [(f"p{i}", 44.0 + i, 4.0 + i) for i in range(5)]
    rows = _assert_knn_exact(spark, pts, cents, k=5)
    assert len(rows) == 5 * len(cents)


def test_knn_empty_centroid_set(spark):
    pts = [("p0", 50.0, 10.0), ("p1", None, 11.0)]
    assert _assert_knn_exact(spark, pts, [], k=3) == []


def test_knn_null_point_latitude(spark):
    """A point without a latitude still gets k rows: every distance is
    null, so the first k centroids in centroid_id order."""
    cents = [("c2", 45.0, 5.0), ("c0", 46.0, 6.0), ("c1", 47.0, 7.0), ("c3", 48.0, 8.0)]
    pts = [("p0", None, 5.0), ("p1", 46.5, 6.5)]
    rows = _assert_knn_exact(spark, pts, cents, k=3)
    assert [(r[1], r[2], r[3]) for r in rows if r[0] == "p0"] == [
        (1, "c0", None), (2, "c1", None), (3, "c2", None)]


def test_knn_fine_res_sends_every_point_to_fallback(spark):
    """At res 12 a ring window is ~0.13 km tall, far below any k-th
    distance, so every point takes the brute-force fallback."""
    rng = np.random.default_rng(31)
    cents = [(f"c{i}", float(rng.uniform(40, 50)), float(rng.uniform(0, 10)))
             for i in range(50)]
    pts = [(f"p{i}", float(rng.uniform(40, 50)), float(rng.uniform(0, 10)))
           for i in range(200)]
    rows = _assert_knn_exact(spark, pts, cents, k=4, res=12)
    assert len(rows) == 200 * 4


def test_raster_assignment_and_zonal(points, spark):
    pts = points.withColumn("value", F.col("lat") + F.col("lon"))
    tiles = tiles_from_points(pts, res=8, value_col="value").cache()
    assigned = assign_tiles(tiles, POLYGONS, res=8)
    got = assigned.select("tile", "polygon_id").collect()
    # verify against center-point rule
    for r in got:
        west, south, east, north = quadkey.cell_bounds(int(r["tile"]))
        cx, cy = (west + east) / 2, (south + north) / 2
        poly = next(p for p in POLYGONS if p["polygon_id"] == r["polygon_id"])
        assert points_in_ring(np.array([cx]), np.array([cy]), np.asarray(poly["ring"]))[0]
    stats = zonal_stats(assigned).collect()
    assert {r["polygon_id"] for r in stats} <= {p["polygon_id"] for p in POLYGONS}
    assert all(r["n_tiles"] > 0 for r in stats)


def test_checkpoint_resume(spark, tmp_path):
    out_root = str(tmp_path / "out")
    manifest = str(tmp_path / "manifest")
    calls = []

    def build(pid):
        calls.append(pid)
        df = spark.range(100).withColumn("partition", F.lit(pid))
        return df, 100

    r1 = run_partitioned(spark, ["a", "b"], build, out_root, manifest)
    assert r1["processed"] == ["a", "b"]
    r2 = run_partitioned(spark, ["a", "b", "c"], build, out_root, manifest)
    assert r2["skipped"] == ["a", "b"] and r2["processed"] == ["c"]
    assert calls == ["a", "b", "c"]  # a, b not re-built on resume
    m = read_manifest(spark, manifest)
    rows = {r["partition_id"]: r for r in m.collect()}
    assert set(rows) == {"a", "b", "c"}
    assert all(r["status"] == "done" and r["output_rows"] == 100 for r in rows.values())


def test_mega_polygon_skew_split_and_pip(spark):
    """Skew handling (north rule): one FIR-sized polygon is split by the
    compact cover into many bounded cells (coarse FULL interior +
    fine PARTIAL boundary), and the PIP join stays correct for points
    inside, on the far interior, and outside."""
    import numpy as np

    from openair_spark.index.cover import compact_cover
    from openair_spark.ops.pip import pip_join

    fir = [[-10.0, 35.0], [25.0, 36.0], [24.0, 64.0], [-9.0, 63.0], [-10.0, 35.0]]
    small = [[5.001, 50.001], [5.4, 50.002], [5.4, 50.4], [5.002, 50.41], [5.001, 50.001]]
    cells = compact_cover(np.asarray(fir), min_res=5, max_res=9)
    full = [c for c, f in cells if f]
    assert len(full) > 3, "FIR interior must produce coarse FULL cells"
    assert len(cells) < 4096

    pts = spark.createDataFrame(
        [("deep-inside", 50.0, 5.0), ("in-both", 50.2, 5.2),
         ("outside", 20.0, 5.0), ("west-of-fir", 50.0, -15.0)],
        "point_id string, lat double, lon double")
    hits = {(r["point_id"], r["polygon_id"])
            for r in pip_join(pts, [{"polygon_id": "fir", "ring": fir},
                                    {"polygon_id": "small", "ring": small}]).collect()}
    assert hits == {("deep-inside", "fir"), ("in-both", "fir"), ("in-both", "small")}


def test_polygon_setup_ring_set_matches_nested_constructor(spark):
    """The DataFrame route's setup (one executor pass, one row per
    polygon, the ProbeIndex's RingSet built from its ring column) builds
    the same CSR edge arrays per polygon as the nested-list constructor,
    and tolerates an empty polygon set."""
    from openair_spark.index.pip import RingSet
    from openair_spark.ops.pip import ProbeIndex, setup_table

    polys = [(pid, [[float(i), float(i)] for i in range(n)] + [[0.0, 0.0]])
             for pid, n in (("a", 4), ("b", 6), ("c", 3))]
    df = spark.createDataFrame(polys, "polygon_id string, ring array<array<double>>")
    setup = setup_table(df, 7, 9)
    assert setup.column("polygon_id").to_pylist() == ["a", "b", "c"]
    flat = ProbeIndex(setup).rs
    ref = RingSet([np.asarray(ring) for _, ring in polys])
    for i in range(len(polys)):
        assert flat.lens[i] == ref.lens[i]
        sl_f = slice(flat.starts[i], flat.starts[i] + flat.lens[i])
        sl_r = slice(ref.starts[i], ref.starts[i] + ref.lens[i])
        for attr in ("x1", "y1", "x2", "y2"):
            assert (getattr(flat, attr)[sl_f] == getattr(ref, attr)[sl_r]).all()

    empty = spark.createDataFrame([], "polygon_id string, ring array<array<double>>")
    ix = ProbeIndex(setup_table(empty, 7, 9))
    assert len(ix.rs.lens) == 0 and len(ix.rs.x1) == 0 and len(ix.keys) == 0
    assert len(ix.ids) == 0


def test_pip_join_empty_polygon_frame(points, spark):
    """An empty polygon DataFrame yields zero hits on both routes."""
    from openair_spark.ops import pip as pip_mod

    empty = spark.createDataFrame([], "polygon_id string, ring array<array<double>>")
    # zero edges exceed only a negative cap
    for cap, route in ((pip_mod.DEFAULT_MAX_BROADCAST_EDGES, "broadcast"), (-1, "shuffle")):
        hits = pip_join(points, empty, max_broadcast_edges=cap)
        assert pip_mod.LAST_ROUTE == route
        assert hits.count() == 0
        assert set(hits.columns) == {"point_id", "lat", "lon", "polygon_id"}


def test_null_and_short_rings_get_no_hits(points, spark):
    """A polygon with a null ring, or with fewer than 4 ring points, gets
    no hits; the valid polygons keep theirs on the broadcast route, the
    shuffle route and the raster assignment."""
    from openair_spark.ops import pip as pip_mod

    bad = [{"polygon_id": "null-ring", "ring": None},
           {"polygon_id": "short-ring", "ring": [[10.0, 50.0], [11.0, 50.5], [10.0, 50.0]]}]
    polys_df = _polygons_df(spark, POLYGONS + bad)
    expected = _expected_pairs(points.collect())
    for cap, route in ((pip_mod.DEFAULT_MAX_BROADCAST_EDGES, "broadcast"), (1, "shuffle")):
        hits = pip_join(points, polys_df, max_broadcast_edges=cap)
        assert pip_mod.LAST_ROUTE == route
        assert {(r["point_id"], r["polygon_id"])
                for r in hits.select("point_id", "polygon_id").collect()} == expected
    assert {(r["point_id"], r["polygon_id"])
            for r in pip_join(points, POLYGONS + bad).collect()} == expected

    tiles = tiles_from_points(points.withColumn("value", F.lit(1.0)), res=8).cache()

    def assigned(polygons):
        return {(r["tile"], r["polygon_id"])
                for r in assign_tiles(tiles, polygons, res=8).collect()}

    want = assigned(POLYGONS)
    assert want and assigned(POLYGONS + bad) == want


# the sf0.01 tables sit beside the sf0.001 ones that test_textops reads
_SF001 = os.path.join(os.path.dirname(_SF0001), "sf0.01")


@pytest.mark.skipif(not os.path.isdir(_SF001),
                    reason=f"sf0.01 test data not present at {_SF001}")
def test_pip_convex_and_raster_assign_match_duckdb_oracle(spark):
    """The declared oracle queries that run the pip_join list route and
    assign_tiles return exactly their DuckDB SQL rows at sf0.01."""
    import duckdb

    from openair_spark.queries import build_catalog

    catalog = build_catalog()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW customer AS SELECT * FROM '{_SF001}/customer.parquet'")
    for name in ("pip_convex", "raster_assign"):
        query = catalog[name]
        df = query.spark_fn(spark, _SF001)
        cols = sorted(df.columns)
        got = sorted(tuple(r[c] for c in cols) for r in df.collect())
        oracle = con.execute(query.oracle_sql)
        names = [d[0] for d in oracle.description]
        want = sorted(tuple(row[names.index(c)] for c in cols) for row in oracle.fetchall())
        assert got == want and len(got) > 0, name


def test_h3_cover_antimeridian_superset():
    """A lon-coherent ring straddling ±180 (179.5..180.5): every point
    inside must be covered — exercises the per-cell unwrap-toward-ring
    path in the classifier (cells near the seam decode to wrapped
    longitudes)."""
    import numpy as np

    from openair_spark.index import h3
    from openair_spark.ops.h3tiles import h3_cover

    ring = np.array([[179.5, -10.0], [180.5, -10.0], [180.5, -9.2],
                     [179.5, -9.2], [179.5, -10.0]])
    cover = h3_cover(ring, min_res=5, max_res=7)
    assert len(cover) > 0
    by_res: dict = {}
    for cell, res, _ in cover:
        by_res.setdefault(int(res), set()).add(int(cell))
    rng = np.random.default_rng(4)
    lons = rng.uniform(179.55, 180.45, 250)
    lats = rng.uniform(-9.95, -9.25, 250)
    max_res = max(by_res)
    for lo, la in zip(lons, lats):
        lo_wrapped = lo - 360.0 if lo > 180.0 else lo  # canonical form
        leaf = int(h3.latlng_to_cell(la, lo_wrapped, max_res))
        assert any(h3.cell_to_parent(leaf, res) in cells
                   for res, cells in by_res.items()), (lo, la)


def test_s2_cover_antimeridian_superset():
    """Same ±180-straddling ring through the S2 cover: membership is
    exact id-range containment of the point's level-30 leaf."""
    import numpy as np

    from openair_spark.index import s2
    from openair_spark.ops.s2tiles import s2_cover

    ring = np.array([[179.5, -10.0], [180.5, -10.0], [180.5, -9.2],
                     [179.5, -9.2], [179.5, -10.0]])
    cover = s2_cover(ring, max_level=9)
    assert len(cover) > 0
    cells = np.array([c for c, _, _ in cover], dtype=np.int64).astype(np.uint64)
    lo_r, hi_r = s2.range_min_max_arrays(cells)
    rng = np.random.default_rng(4)
    lons = rng.uniform(179.55, 180.45, 250)
    lats = rng.uniform(-9.95, -9.25, 250)
    lons = np.where(lons > 180.0, lons - 360.0, lons)
    leafs = np.asarray(s2.cell_id(lats, lons, s2.MAX_LEVEL),
                       dtype=np.int64).astype(np.uint64)
    for leaf in leafs:
        assert bool(((lo_r <= leaf) & (leaf <= hi_r)).any())


def test_cover_batch_per_ring_caps():
    """max_cells is per ring inside a batch group: a continent-sized
    ring sharing a group with a tiny ring must cap (partial leaves at a
    coarse res, cover stays a superset of sampled interior points)
    without affecting the tiny ring's exact cover."""
    import numpy as np

    from openair_spark.index import h3
    from openair_spark.ops.h3tiles import h3_cover, h3_cover_batch
    from openair_spark.ops.s2tiles import s2_cover, s2_cover_batch

    mega = np.array([[-10.0, 35.0], [25.0, 35.0], [25.0, 64.0],
                     [-10.0, 64.0], [-10.0, 35.0]])
    tiny = np.array([[10.0, 50.0], [10.2, 50.0], [10.2, 50.2],
                     [10.0, 50.2], [10.0, 50.0]])
    cap = 600
    mega_c, tiny_c = h3_cover_batch([mega, tiny], 5, 9, max_cells=cap)
    assert len(mega_c) <= cap + 16384  # capped (children of last level)
    assert len(tiny_c) > 0
    # tiny ring unaffected by its capped neighbor
    alone = h3_cover(tiny, 5, 9, max_cells=cap)
    assert set(map(tuple, alone.tolist())) == set(map(tuple, tiny_c.tolist()))
    # mega cover superset at sampled interior points despite the cap
    by_res: dict = {}
    for cell, res, _ in mega_c:
        by_res.setdefault(int(res), set()).add(int(cell))
    rng = np.random.default_rng(8)
    for lo, la in zip(rng.uniform(-9, 24, 150), rng.uniform(36, 63, 150)):
        leaf = int(h3.latlng_to_cell(la, lo, max(by_res)))
        assert any(h3.cell_to_parent(leaf, r) in cells
                   for r, cells in by_res.items()), (lo, la)

    mega_s, tiny_s = s2_cover_batch([mega, tiny], max_level=10, max_cells=cap)
    alone_s = s2_cover(tiny, max_level=10, max_cells=cap)
    assert sorted(tiny_s) == sorted(alone_s)
    from openair_spark.index import s2 as s2i
    cells_u = np.array([c for c, _, _ in mega_s], dtype=np.int64).astype(np.uint64)
    lo_r, hi_r = s2i.range_min_max_arrays(cells_u)
    for lo, la in zip(rng.uniform(-9, 24, 150), rng.uniform(36, 63, 150)):
        leaf = np.uint64(np.int64(s2i.cell_id(la, lo, s2i.MAX_LEVEL)))
        assert bool(((lo_r <= leaf) & (leaf <= hi_r)).any()), (lo, la)


_FEATURES_SCHEMA = ("url string, airspace_idx int, success boolean, "
                    "geometry_type string, ring array<array<double>>")


def _closed(points):
    return [list(map(float, p)) for p in points] + [list(map(float, points[0]))]


def test_tiles_operators_match_batch_covers(spark):
    """polygon_tiles, h3_polygon_tiles and s2_polygon_tiles emit, as row
    sets, exactly the batch covers of the usable rings: a FIR-sized
    ring, one straddling +-180 and one on S2 face 4 (int64 sign bit set
    in s2_cell). A null ring, a 3-point ring, success=false and a
    non-Polygon geometry give no rows; an empty input gives zero rows
    with the same schema."""
    from openair_spark.index import h3, s2
    from openair_spark.index.cover import cover_arrays
    from openair_spark.ops.h3tiles import h3_cover_batch, h3_polygon_tiles
    from openair_spark.ops.s2tiles import s2_cover_batch, s2_polygon_tiles
    from openair_spark.ops.tiling import polygon_tiles

    ang = np.linspace(0.0, np.pi, 12)
    fir = _closed([(8.0, 47.0), (11.0, 47.0)]
                  + [(9.5 + 1.5 * np.cos(a), 48.5 + 0.6 * np.sin(a)) for a in ang[1:-1]])
    antimeridian = _closed([(179.5, -10.0), (180.5, -10.0), (180.5, -9.2), (179.5, -9.2)])
    face4 = _closed([(-91.0, 10.0), (-89.5, 10.0), (-89.5, 11.2), (-91.0, 10.8)])
    assert s2.cell_id(10.5, -90.5, 10) < 0  # face 4: sign bit set
    good = [("u/fir", 0, fir), ("u/am", 3, antimeridian), ("u/face4", 7, face4)]
    rows = [(u, i, True, "Polygon", r) for u, i, r in good] + [
        ("u/null", 1, True, "Polygon", None),
        ("u/short", 2, True, "Polygon", _closed([(1.0, 1.0), (2.0, 1.0)])),
        ("u/failed", 4, False, "Polygon", fir),
        ("u/line", 5, True, "LineString", fir),
    ]
    feats = spark.createDataFrame(rows, _FEATURES_SCHEMA)
    rings = [np.asarray(r) for _, _, r in good]
    keys = [(u, i) for u, i, _ in good]

    owner, cells, fulls = cover_arrays(rings, 5, 9)
    want_q = set()
    for o, c, f in zip(owner.tolist(), cells.tolist(), fulls.tolist()):
        res = int(quadkey.decode(c)[0])
        west, south, east, north = (float(v) for v in quadkey.cell_bounds(c))
        lat, lon = (south + north) / 2.0, (west + east) / 2.0
        s2c = int(s2.cell_id(lat, lon, res + 1))
        h3r = min(max(res, 5), 9)
        want_q.add((*keys[o], c, res, f, s2c, s2.cell_token(s2c),
                    int(h3.latlng_to_cell(lat, lon, h3r)), h3r))
    got_q = {tuple(r) for r in polygon_tiles(feats).collect()}
    assert got_q == want_q and {k[:2] for k in got_q} == set(keys)

    want_h = {(*keys[o], int(c), int(r), bool(f))
              for o, cov in enumerate(h3_cover_batch(rings, 5, 9)) for c, r, f in cov}
    got_h = {tuple(r) for r in h3_polygon_tiles(feats).collect()}
    assert got_h == want_h and {k[:2] for k in got_h} == set(keys)

    want_s = {(*keys[o], s2.to_signed(c), lv, f)
              for o, cov in enumerate(s2_cover_batch(rings, 10)) for c, lv, f in cov}
    got_s = {tuple(r) for r in s2_polygon_tiles(feats).collect()}
    assert got_s == want_s and any(r[2] < 0 for r in got_s)

    empty = spark.createDataFrame([], _FEATURES_SCHEMA)
    for op, df in ((polygon_tiles, polygon_tiles(feats)),
                   (h3_polygon_tiles, h3_polygon_tiles(feats)),
                   (s2_polygon_tiles, s2_polygon_tiles(feats))):
        out = op(empty)
        assert out.count() == 0 and out.schema == df.schema
