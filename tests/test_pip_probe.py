"""Tests for the PIP probe kernel: the Python cell keys equal the Spark
SQL expression bit for bit, per-cell edge slices give the whole ring's
parity, null and NaN points get no hits on any route, the salted
shuffle route matches the broadcast route on a mega-polygon, and rings
that share a polygon_id each count on their own on every route."""

from __future__ import annotations

from collections import Counter

import numpy as np
import pytest
from pyspark.sql import functions as F

from openair_spark.index import quadkey
from openair_spark.index.cover import cover_arrays
from openair_spark.index.pip import RingSet, crossing_parity, points_in_ring
from openair_spark.ops import pip as pip_mod
from openair_spark.ops.pip import edge_slices, pip_join, pip_join_shuffle, polygon_cells_at_res
from openair_spark.ops.raster import assign_tiles, tiles_from_points
from test_ops import POLYGONS, _polygons_df, _ring

FIR = [[-10.0, 35.0], [25.0, 36.0], [24.0, 64.0], [-9.0, 63.0], [-10.0, 35.0]]


def _pairs(df):
    return sorted((r["point_id"], r["polygon_id"])
                  for r in df.select("point_id", "polygon_id").collect())


def test_cell_id_matches_spark_sql_expr(spark):
    """quadkey.cell_id (the probe kernel's keys) equals Spark's
    sql_cell_expr bit for bit at res 5-10: random coordinates, grid
    lines and their neighbouring floats, the poles and the
    antimeridian, and values outside [-90, 90] x [-180, 180]."""
    rng = np.random.default_rng(17)
    lat = [rng.uniform(-90, 90, 400)]
    lon = [rng.uniform(-180, 180, 400)]
    for r in range(5, 11):
        n = 1 << r
        g_lat = np.arange(n + 1) * (180.0 / n) - 90.0
        g_lon = np.arange(n + 1) * (360.0 / n) - 180.0
        for step in (-np.inf, None, np.inf):
            lat += [g_lat if step is None else np.nextafter(g_lat, step),
                    rng.uniform(-90, 90, n + 1)]
            lon += [rng.uniform(-180, 180, n + 1),
                    g_lon if step is None else np.nextafter(g_lon, step)]
    edge = np.array([-180.0, 180.0, -90.0, 90.0, 0.0, 200.0, -200.0, 95.0, -95.0,
                     1e300, -1e300, np.inf, -np.inf, -59.0 - 1.6953125, -59.0 + 1.6953125])
    lat.append(np.repeat(edge, len(edge)))
    lon.append(np.tile(edge, len(edge)))
    lat, lon = np.concatenate(lat), np.concatenate(lon)
    df = spark.createDataFrame(
        [(i, float(a), float(b)) for i, (a, b) in enumerate(zip(lat, lon))],
        "i long, lat double, lon double")
    res = list(range(5, 11))
    rows = df.select("i", *[F.expr(quadkey.sql_cell_expr("lat", "lon", r)).alias(f"c{r}")
                            for r in res]).orderBy("i").collect()
    assert len(rows) == len(lat)
    for r in res:
        assert np.array_equal(np.array([row[f"c{r}"] for row in rows], dtype=np.int64),
                              quadkey.cell_id(lat, lon, r)), r


def test_null_and_nan_points_get_no_hits(spark):
    """Points with a null or NaN coordinate get no hits on the broadcast
    route (list and DataFrame polygons), the shuffle route and the
    auto-routed pip_join. A box at the grid's (0, 0) corner shares the
    cell Spark's clamped arithmetic gives such points."""
    corner = {"polygon_id": "corner", "ring": _ring(-179.5, -89.5, 0.5)}
    polygons = POLYGONS + [corner]
    nan = float("nan")
    pts = spark.createDataFrame(
        [("ok", 50.0, 10.0), ("ok-corner", -89.6, -179.6),
         ("null-lat", None, 10.0), ("null-lon", 50.0, None), ("null-both", None, None),
         ("nan-lat", nan, 10.0), ("nan-lon", 50.0, nan), ("nan-both", nan, nan),
         ("nan-corner", nan, -179.6)],
        "point_id string, lat double, lon double")
    want = [("ok", "big-c"), ("ok", "box-a"), ("ok-corner", "corner")]
    polys_df = _polygons_df(spark, polygons)
    assert _pairs(pip_join(pts, polygons)) == want
    for cap, route in ((pip_mod.DEFAULT_MAX_BROADCAST_EDGES, "broadcast"), (1, "shuffle")):
        assert _pairs(pip_join(pts, polys_df, max_broadcast_edges=cap)) == want
        assert pip_mod.LAST_ROUTE == route
    for salt in (1, 3):
        got = pip_join_shuffle(pts, polygon_cells_at_res(polys_df, res=7), salt=salt)
        assert _pairs(got) == want


def _random_ring(rng, lon0, lat0, radius, n):
    ang = np.sort(rng.uniform(0, 2 * np.pi, n))
    rad = radius * rng.uniform(0.3, 1.0, n)
    ring = np.stack([lon0 + rad * np.cos(ang), lat0 + rad * np.sin(ang)], axis=1)
    return np.vstack([ring, ring[:1]])


def _slice_rings():
    rng = np.random.default_rng(29)
    rings = [_random_ring(rng, rng.uniform(-170, 170), rng.uniform(-75, 75),
                          rng.uniform(0.5, 6.0), n) for n in (5, 9, 40, 200)]
    # horizontal and vertical edges: a staircase
    rings.append(np.array([[0.0, 0.0], [4.0, 0.0], [4.0, 1.0], [3.0, 1.0], [3.0, 2.0],
                           [2.0, 2.0], [2.0, 3.0], [0.0, 3.0], [0.0, 0.0]]))
    # grid-aligned: vertices on res-5..9 cell lines, and the dyadic
    # d = 1.6953125 box around -59
    gx, gy = 360.0 / 512, 180.0 / 512
    rings.append(np.array([[-180 + 240 * gx, -90 + 100 * gy], [-180 + 260 * gx, -90 + 100 * gy],
                           [-180 + 260 * gx, -90 + 128 * gy], [-180 + 248 * gx, -90 + 112 * gy],
                           [-180 + 240 * gx, -90 + 128 * gy], [-180 + 240 * gx, -90 + 100 * gy]]))
    rings.append(np.asarray(_ring(10.0, -59.0, 1.6953125)))
    # lon-coherent across +-180, and the FIR
    rings.append(np.array([[179.5, -10.0], [180.5, -10.0], [180.5, -9.2], [179.5, -9.2],
                           [179.5, -10.0]]))
    # past the grid's west, north and south sides: points there clamp
    # into the outer cells, and an edge beyond the side can cross them
    rings.append(np.array([[-180.6, -10.0], [-179.9, -10.0], [-179.9, -9.9], [-180.1, -9.9],
                           [-180.1, -9.3], [-179.9, -9.3], [-179.9, -9.2], [-180.6, -9.2],
                           [-180.6, -10.0]]))
    polar = np.array([[10.0, 89.5], [12.0, 89.5], [12.0, 90.1], [11.0, 90.1], [11.0, 90.5],
                      [12.0, 90.5], [12.0, 90.8], [10.0, 90.8], [10.0, 89.5]])
    rings += [polar, polar * [1.0, -1.0]]
    rings.append(np.asarray(FIR))
    return rings


def test_edge_slices_match_whole_ring_parity():
    """For every point in every PARTIAL cell at res 5-9 — random points,
    the cell's corners, the ring's vertices and points on its edges —
    the crossing parity over the cell's edge slice equals points_in_ring
    over the whole ring."""
    rng = np.random.default_rng(41)
    for k, ring in enumerate(_slice_rings()):
        rs = RingSet([ring])
        t = np.array([0.0, 0.25, 1 / 3, 0.5, 0.9])[:, None, None]
        on_ring = (ring[:-1] + t * (ring[1:] - ring[:-1])).reshape(-1, 2)
        verdicts = []
        for res in range(5, 10):
            owner, cell, is_full = cover_arrays([ring], min_res=res, max_res=res)
            sel = np.flatnonzero(~is_full)
            sel = sel[np.argsort(cell[sel])]
            part = cell[sel]
            counts, eidx = edge_slices(rs, owner[sel], part)
            west, south, east, north = quadkey.cell_bounds(part)
            u = rng.uniform(0, 1, (2, len(part), 8))
            px = np.concatenate([(west + u[0].T * (east - west)).ravel(), west, east,
                                 on_ring[:, 0], [180.3, -180.3, 10.5, 10.5]])
            py = np.concatenate([(south + u[1].T * (north - south)).ravel(), south, north,
                                 on_ring[:, 1], [-9.6, -9.6, 90.3, -90.3]])
            key = quadkey.cell_id(py, px, res)
            pos = np.minimum(np.searchsorted(part, key), len(part) - 1)
            mine = part[pos] == key
            px, py, pos = px[mine], py[mine], pos[mine]
            starts = np.cumsum(counts) - counts
            sliced = crossing_parity(px, py, starts[pos], counts[pos], rs.x1[eidx],
                                     rs.y1[eidx], rs.x2[eidx], rs.y2[eidx])
            assert np.array_equal(sliced, points_in_ring(px, py, ring)), (k, res)
            verdicts.append(sliced)
        verdicts = np.concatenate(verdicts)
        assert verdicts.any() and not verdicts.all(), k


@pytest.mark.parametrize("salt", [1, 4])
def test_shuffle_salt_matches_broadcast_with_mega_polygon(spark, salt):
    """With the FIR plus the three test boxes, pip_join_shuffle with a
    pinned salt returns the broadcast route's hit set, which is the
    whole-ring ray cast's."""
    polygons = [{"polygon_id": "fir", "ring": FIR}] + POLYGONS
    rng = np.random.default_rng(53)
    lon = np.r_[rng.uniform(-15, 30, 3000), rng.normal(10.0, 0.5, 1000)]
    lat = np.r_[rng.uniform(30, 68, 3000), rng.normal(50.0, 0.5, 1000)]
    pts = spark.createDataFrame([(f"p{i}", float(a), float(b)) for i, (a, b)
                                 in enumerate(zip(lat, lon))],
                                "point_id string, lat double, lon double")
    want = sorted((f"p{i}", p["polygon_id"]) for p in polygons
                  for i in np.flatnonzero(points_in_ring(lon, lat, np.asarray(p["ring"]))))
    assert _pairs(pip_join(pts, polygons)) == want
    cells = polygon_cells_at_res(_polygons_df(spark, polygons), res=7)
    got = pip_join_shuffle(pts, cells, salt=salt, res=7)
    assert got.columns == ["cell", "point_id", "lat", "lon", "polygon_id"]
    assert _pairs(got) == want


def _ray_cast(x: float, y: float, ring) -> bool:
    """Scalar even-odd ray cast, independent of the engine's kernels."""
    inside = False
    for (x1, y1), (x2, y2) in zip(ring[:-1], ring[1:]):
        if ((y1 <= y < y2) or (y2 <= y < y1)) and x < x1 + (y - y1) * (x2 - x1) / (y2 - y1):
            inside = not inside
    return inside


def test_rings_sharing_an_id_count_separately(spark):
    """Two overlapping rings named 'p' are two input rows: a point inside
    both gets two hits, a point inside one of them one hit, on the
    broadcast route (DataFrame and list polygons), the shuffle route and
    the raster assignment. The expected multiset is a scalar ray cast
    over each input row."""
    first, second = _ring(12.0, 52.0, 2.0), _ring(14.0, 54.0, 2.0)
    polygons = [{"polygon_id": "p", "ring": first}, {"polygon_id": "p", "ring": second}]
    rng = np.random.default_rng(61)
    named = [("both", 53.0, 13.0), ("first", 51.0, 11.0), ("second", 55.0, 15.0),
             ("neither", 60.0, 20.0)]
    rows = named + [(f"r{i}", float(a), float(b)) for i, (a, b)
                    in enumerate(zip(rng.uniform(48, 58, 400), rng.uniform(8, 18, 400)))]
    pts = spark.createDataFrame(rows, "point_id string, lat double, lon double")
    want = sorted((pid, p["polygon_id"]) for pid, lat, lon in rows for p in polygons
                  if _ray_cast(lon, lat, p["ring"]))
    hits = Counter(pid for pid, _ in want)
    assert [hits[n] for n, _, _ in named] == [2, 1, 1, 0]

    polys_df = _polygons_df(spark, polygons)
    assert _pairs(pip_join(pts, polys_df)) == want
    assert pip_mod.LAST_ROUTE == "broadcast"
    assert _pairs(pip_join(pts, polygons)) == want
    for salt in (1, 3):
        got = pip_join_shuffle(pts, polygon_cells_at_res(polys_df, res=7), salt=salt)
        assert _pairs(got) == want

    res = 8
    tiles = tiles_from_points(pts.withColumn("value", F.lit(1.0)), res=res)
    ids = [r["tile"] for r in tiles.select("tile").collect()]
    west, south, east, north = quadkey.cell_bounds(np.asarray(ids, dtype=np.int64))
    centres = zip(ids, (west + east) / 2.0, (south + north) / 2.0)
    want_tiles = sorted((t, p["polygon_id"]) for t, x, y in centres for p in polygons
                        if _ray_cast(x, y, p["ring"]))
    assert len(want_tiles) > len(set(want_tiles)) > 0
    got_tiles = sorted((r["tile"], r["polygon_id"])
                       for r in assign_tiles(tiles, polygons, res=res).collect())
    assert got_tiles == want_tiles
