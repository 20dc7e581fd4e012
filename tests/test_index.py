"""Property tests for the cell indexes and covers (hypothesis-driven)."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from openair_spark.index import cover, h3, quadkey, s2
from openair_spark.index.pip import points_in_ring

lats = st.floats(min_value=-85, max_value=85, allow_nan=False)
lons = st.floats(min_value=-179.9, max_value=179.9, allow_nan=False)


@settings(max_examples=200, deadline=None)
@given(lats, lons, st.integers(min_value=1, max_value=20))
def test_s2_parent_containment(lat, lon, level):
    """cell at level L, re-derived parent at L-1 == direct cell at L-1."""
    child = s2.cell_id(lat, lon, level)
    direct_parent = s2.cell_id(lat, lon, level - 1)
    assert int(s2.parent(child, level - 1)) == int(direct_parent)
    assert int(s2.cell_level(child)) == level


@settings(max_examples=200, deadline=None)
@given(lats, lons)
def test_s2_determinism_and_face_partition(lat, lon):
    a = int(s2.cell_id(lat, lon, 12))
    b = int(s2.cell_id(lat, lon, 12))
    assert a == b
    face = (np.array(a).astype(np.uint64) >> np.uint64(61)) & np.uint64(7)
    assert 0 <= int(face) <= 5


def test_s2_known_separation():
    """Nearby points share coarse cells, far points don't."""
    berlin = s2.cell_id(52.52, 13.405, 10)
    berlin2 = s2.cell_id(52.521, 13.406, 10)
    sydney = s2.cell_id(-33.86, 151.21, 10)
    assert int(s2.parent(berlin, 7)) == int(s2.parent(berlin2, 7))
    assert int(berlin) != int(sydney)


@settings(max_examples=200, deadline=None)
@given(lats, lons, st.integers(min_value=5, max_value=9))
def test_quadkey_roundtrip(lat, lon, res):
    cell = int(quadkey.cell_id(lat, lon, res))
    west, south, east, north = quadkey.cell_bounds(cell)
    assert west <= lon <= east or np.isclose(lon, west) or np.isclose(lon, east)
    assert south <= lat <= north or np.isclose(lat, south) or np.isclose(lat, north)
    assert int(quadkey.parent(np.int64(cell), res - 1)) == int(quadkey.cell_id(lat, lon, res - 1))
    kids = quadkey.children(int(quadkey.cell_id(lat, lon, res - 1)))
    assert cell in kids


def test_quadkey_sql_expr_matches(spark=None):
    import duckdb

    rng = np.random.default_rng(7)
    lat = rng.uniform(-85, 85, 500)
    lon = rng.uniform(-180, 180, 500)
    expected = quadkey.cell_id(lat, lon, 7)
    con = duckdb.connect()
    con.execute("CREATE TABLE pts AS SELECT * FROM (SELECT unnest(?) AS lat, unnest(?) AS lon)",
                [lat.tolist(), lon.tolist()])
    got = con.execute(
        f"SELECT {quadkey.sql_cell_expr('lat', 'lon', 7)} FROM pts"
    ).fetchnumpy()
    assert np.array_equal(np.sort(expected), np.sort(list(got.values())[0].astype(np.int64)))


@settings(max_examples=60, deadline=None)
@given(lats, lons, st.integers(min_value=3, max_value=9))
def test_h3_determinism_and_center(lat, lon, res):
    """H3 property twin of the S2 test (known-value anchors live in
    tests/test_h3.py): deterministic, and the point lies within the
    cell circumradius of its center."""
    cell = int(h3.latlng_to_cell(lat, lon, res))
    assert cell == int(h3.latlng_to_cell(lat, lon, res))
    clat, clon = h3.cell_to_latlng(cell)
    # H3 edge length shrinks by sqrt(7) per res; res-0 edge ~20.0 deg arc
    circum_deg = 20.1 / (7.0 ** (res / 2.0)) * 1.3
    dlat = abs(clat - lat)
    dlon = min(abs(clon - lon), 360 - abs(clon - lon)) * np.cos(np.radians(lat))
    assert np.hypot(dlat, dlon) <= circum_deg


@settings(max_examples=40, deadline=None)
@given(lats, lons)
def test_h3_parent_and_ring(lat, lon):
    child = int(h3.latlng_to_cell(lat, lon, 9))
    par = int(h3.cell_to_parent(child, 8))
    assert h3.get_resolution(par) == 8
    assert child in h3.cell_to_children(par, 9)
    ring = h3.grid_disk(child, 1)
    assert child in ring
    assert len(ring) in (6, 7)  # 6 only for the 12 pentagons per res


def _square_ring(lon0, lat0, d):
    return [[lon0 - d, lat0 - d], [lon0 + d, lat0 - d], [lon0 + d, lat0 + d],
            [lon0 - d, lat0 + d], [lon0 - d, lat0 - d]]


def test_pip_square():
    ring = np.array(_square_ring(10.0, 50.0, 1.0))
    px = np.array([10.0, 10.9, 11.1, 8.0])
    py = np.array([50.0, 50.9, 50.0, 50.0])
    assert points_in_ring(px, py, ring).tolist() == [True, True, False, False]


@settings(max_examples=60, deadline=None)
@given(st.floats(min_value=-60, max_value=60), st.floats(min_value=-150, max_value=150),
       st.floats(min_value=0.05, max_value=2.0))
def test_cover_superset_property(lat0, lon0, d):
    """Every point inside the polygon lands in a cover cell (cover is a
    superset of the polygon)."""
    ring = np.array(_square_ring(lon0, lat0, d))
    cells = cover.compact_cover(ring, min_res=5, max_res=9)
    assert cells
    cell_set = {c for c, _ in cells}
    rng = np.random.default_rng(3)
    px = rng.uniform(lon0 - d, lon0 + d, 50)
    py = rng.uniform(lat0 - d, lat0 + d, 50)
    inside = points_in_ring(px, py, ring)
    for x, y, ok in zip(px, py, inside):
        if not ok:
            continue
        covered = False
        for res in range(5, 10):
            if int(quadkey.cell_id(y, x, res)) in cell_set:
                covered = True
                break
        assert covered, (x, y)


def test_cover_compactness():
    """A big polygon keeps interior cells coarse (some FULL cells at
    res < max)."""
    ring = np.array(_square_ring(10.0, 50.0, 4.0))
    cells = cover.compact_cover(ring, min_res=5, max_res=9)
    res_of = lambda c: int(quadkey.decode(c)[0])
    full = [c for c, f in cells if f]
    assert any(res_of(c) < 9 for c in full)
    # and the cover is not absurdly large
    assert len(cells) < 3000


def test_ringset_bulk_pip_matches_per_ring():
    """RingSet.contains (CSR bulk kernel) is bit-equal to points_in_ring
    for arbitrary star polygons and random (point, ring) pairings."""
    from openair_spark.index.pip import RingSet

    rng = np.random.default_rng(11)
    rings = {}
    for k in range(40):
        n = int(rng.integers(4, 40))
        ang = np.sort(rng.uniform(0, 2 * np.pi, n))
        cx, cy = rng.uniform(-60, 60, 2)
        r = rng.uniform(0.3, 5.0, n)
        pts = np.stack([cx + r * np.cos(ang), cy + r * np.sin(ang)], axis=1)
        rings[f"p{k}"] = np.vstack([pts, pts[:1]])
    rs = RingSet(list(rings.values()))
    px = rng.uniform(-70, 70, 4000)
    py = rng.uniform(-70, 70, 4000)
    ridx = rng.integers(0, 40, 4000)
    bulk = rs.contains(px, py, ridx)
    assert bulk.any()
    for k in range(40):
        m = ridx == k
        expected = points_in_ring(px[m], py[m], rings[f"p{k}"])
        assert (bulk[m] == expected).all(), k


def test_usable_rings_same_from_arrow_and_sequences():
    """The one ring decoder keeps only rings with >= 4 points that are
    all [lon, lat] pairs, and decodes an Arrow column, nested lists and
    2-D arrays to the same positions and coordinates."""
    import pyarrow as pa

    from openair_spark.index.pip import RING_TYPE, usable_rings

    square = [[0.0, 0.0], [1.0, 0.0], [1.0, 1.0], [0.0, 1.0], [0.0, 0.0]]
    rings = [None, square, [[0.0, 0.0], [1.0, 0.0], [0.0, 0.0]],
             [[5.0, 5.0], [6.0, 5.0, 9.0], [6.0, 6.0], [5.0, 5.0]], [],
             [[0.0, 0.0], [2.0, 0.0], [2.0, 2.0], [0.0, 0.0]]]
    want_pos = [1, 5]
    as_2d = [np.asarray(r) if r and len({len(p) for p in r}) == 1 else r for r in rings]
    for src in (rings, as_2d, pa.array(rings, RING_TYPE),
                  pa.chunked_array([pa.array(rings[:3], RING_TYPE), pa.array(rings[3:], RING_TYPE)])):
        pos, arrs = usable_rings(src)
        assert pos.tolist() == want_pos
        assert [a.tolist() for a in arrs] == [rings[i] for i in want_pos]
    pos, arrs = usable_rings(pa.array([], RING_TYPE))
    assert len(pos) == 0 and arrs == []


def test_s2_cell_tokens_match_scalar_token():
    """The Arrow token column equals cell_token per id, signed or not."""
    rng = np.random.default_rng(3)
    ids = rng.integers(-2**63, 2**63 - 1, 2000, dtype=np.int64)
    ids &= ~((np.int64(1) << rng.integers(0, 62, len(ids))) - 1)  # any trailing zeros
    ids[:3] = [0, np.int64(1) << 60, -(np.int64(1) << 62)]
    assert s2.cell_tokens(ids).to_pylist() == [s2.cell_token(int(c)) for c in ids]


def test_classify_cells_matches_cover_semantics():
    """classify_cells FULL cells lie inside the ring; OUTSIDE cells'
    centers are outside (PARTIAL is the boundary band)."""
    from openair_spark.index.cover import FULL, OUTSIDE, classify_cells

    ring = np.array(_square_ring(5.0, 47.0, 3.0))
    res = 7
    cells = []
    for lat in np.arange(42.0, 52.0, 0.7):
        for lon in np.arange(0.0, 10.0, 0.7):
            cells.append(int(quadkey.cell_id(lat, lon, res)))
    cells = np.array(sorted(set(cells)), dtype=np.int64)
    kinds = classify_cells(cells, ring)
    for cell, kind in zip(cells, kinds):
        w, s, e, n = quadkey.cell_bounds(int(cell))
        cx, cy = (w + e) / 2, (s + n) / 2
        inside = bool(points_in_ring(np.array([cx]), np.array([cy]), ring)[0])
        if kind == FULL:
            assert inside
        elif kind == OUTSIDE:
            assert not inside


def test_s2_canonical_uv_and_decode_roundtrip():
    """Canonical faceXYZtoUV: u,v bounded by the dominant axis on every
    face (a face-4 u=y/x bug once made |u| unbounded there), decode is
    the exact inverse of encode, and level-0 face tokens are the
    canonical 1/3/5/7/9/b."""
    rng = np.random.default_rng(5)
    lat = np.degrees(np.arcsin(rng.uniform(-1, 1, 2000)))
    lon = rng.uniform(-180, 180, 2000)
    x, y, z = s2.latlon_to_xyz(lat, lon)
    _, u, v = s2.xyz_to_face_uv(x, y, z)
    assert float(np.abs(u).max()) <= 1.0 + 1e-12
    assert float(np.abs(v).max()) <= 1.0 + 1e-12
    for level in (0, 4, 11):
        cells = np.unique(s2.cell_id(lat, lon, level))[:200]
        for c in cells:
            face, i, j, lv = s2.decode(int(c))
            assert lv == level
            back = int(s2.face_ij_to_cell_id(
                np.array([face]), np.array([i]), np.array([j]), level)[0])
            assert back == int(c)
            la, lo = s2.cell_center_latlon(int(c))
            assert int(s2.cell_id(np.array([la]), np.array([lo]), level)[0]) == int(c)
    assert [s2.cell_token((f << 61) | (1 << 60)) for f in range(6)] == \
        ["1", "3", "5", "7", "9", "b"]


def test_s2_children_partition_parent():
    c = int(s2.cell_id(np.array([52.5]), np.array([13.4]), 8)[0])
    kids = s2.children(c)
    lo0, hi0 = s2.range_min_max(c)
    ranges = sorted(s2.range_min_max(k) for k in kids)
    assert ranges[0][0] == lo0 and ranges[-1][1] == hi0
    assert all(ranges[q + 1][0] == ranges[q][1] + 2 for q in range(3))


def test_s2_cover_superset_and_full():
    """S2 compact cover: id-range membership covers every inside point;
    FULL cells' centers are inside; face-4 region works (regression)."""
    from openair_spark.ops.s2tiles import s2_cover

    for ring in (
        np.array([[9.5, 49.5], [11.5, 49.5], [11.5, 51.2], [9.5, 51.2], [9.5, 49.5]]),
        np.array([[-95.0, -5.0], [-85.0, -5.0], [-85.0, 5.0], [-95.0, 5.0], [-95.0, -5.0]]),
        # face-corner clip regression: this ring has no vertex on face 2
        # but its top edge clips face 2's corner region near (lon 45,
        # lat 35.26); the pole branch used to blanket-classify the whole
        # face-2 subtree OUTSIDE, leaving points near (45, 35.8) uncovered
        np.array([[40.0, 36.0], [50.0, 36.0], [50.0, 30.0], [40.0, 30.0], [40.0, 36.0]]),
    ):
        cov = s2_cover(ring, max_level=9)
        assert any(full for _, _, full in cov)
        ranges = sorted(s2.range_min_max(c) for c, _, _ in cov)
        los = np.array([r[0] for r in ranges], dtype=np.uint64)
        his = np.array([r[1] for r in ranges], dtype=np.uint64)
        rng = np.random.default_rng(3)
        w, s_, e, n = ring[:, 0].min(), ring[:, 1].min(), ring[:, 0].max(), ring[:, 1].max()
        plon = rng.uniform(w + 0.05, e - 0.05, 300)
        plat = rng.uniform(s_ + 0.05, n - 0.05, 300)
        leaves = np.asarray(s2.cell_id(plat, plon, 30), dtype=np.int64).astype(np.uint64)
        for leaf in leaves:
            i = int(np.searchsorted(los, leaf, side="right")) - 1
            assert i >= 0 and leaf <= his[i]
        from openair_spark.index.pip import points_in_ring
        fc = [s2.cell_center_latlon(c) for c, _, full in cov if full]
        if fc:
            inside = points_in_ring(np.array([p[1] for p in fc]),
                                    np.array([p[0] for p in fc]), ring)
            assert inside.all()
