"""Hypothesis property tests (SURVEY §5): DMS round-trip, rewind
idempotence, kinks-scan equivalence to the scalar formulation."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from openair_spark.core.coordinates import dec_to_dms, parse_coordinate
from openair_spark.core.geo import (
    boolean_clockwise, rewind_ring, ring_self_intersections, segment_intersection)


# one-arcsecond grid: the DMS text format is exact there
_arcsec_lat = st.integers(min_value=-89 * 3600, max_value=89 * 3600)
_arcsec_lon = st.integers(min_value=-179 * 3600, max_value=179 * 3600)


@settings(max_examples=300, deadline=None)
@given(_arcsec_lat, _arcsec_lon)
def test_dms_roundtrip_on_arcsecond_grid(lat_s, lon_s):
    lat = lat_s / 3600.0
    lon = lon_s / 3600.0
    text = f"{dec_to_dms(lat, 'lat')} {dec_to_dms(lon, 'lon')}"
    plon, plat = parse_coordinate(text)
    # parse_coordinate rounds to the parser's 5-dp contract
    assert abs(plat - lat) < 1e-5 + 1e-9
    assert abs(plon - lon) < 1e-5 + 1e-9


@settings(max_examples=200, deadline=None)
@given(st.lists(st.tuples(st.floats(-179, 179, allow_nan=False),
                          st.floats(-89, 89, allow_nan=False)),
                min_size=3, max_size=12))
def test_rewind_idempotent_and_ccw(pts):
    from hypothesis import assume

    ring = [list(p) for p in pts] + [list(pts[0])]
    # degenerate (near-zero-area) rings can read "clockwise" in BOTH
    # orientations under float shoelace — turf.booleanClockwise behaves
    # identically, so idempotence is only a property of real rings
    xs = np.array([p[0] for p in ring])
    ys = np.array([p[1] for p in ring])
    s = float(np.sum((xs[1:] - xs[:-1]) * (ys[1:] + ys[:-1])))
    assume(abs(s) > 1e-9)
    out = rewind_ring(ring)
    assert rewind_ring(out) == out        # idempotent
    if not boolean_clockwise(ring):
        assert out == ring                # CCW input untouched
    else:
        assert out == ring[::-1]


@settings(max_examples=150, deadline=None)
@given(st.lists(st.tuples(st.floats(-50, 50, allow_nan=False, width=32),
                          st.floats(-50, 50, allow_nan=False, width=32)),
                min_size=4, max_size=10))
def test_kinks_matrix_equals_scalar_loop(pts):
    ring = [list(map(float, p)) for p in pts] + [list(map(float, pts[0]))]
    nseg = len(ring) - 1
    expected = []
    for i in range(nseg):
        for k in range(i, nseg):
            if abs(i - k) == 1 or i == k or (i == 0 and k == nseg - 1):
                continue
            pt = segment_intersection(ring[i], ring[i + 1], ring[k], ring[k + 1])
            if pt is not None:
                expected.append([pt[0], pt[1]])
    got = ring_self_intersections(ring)
    assert got == expected


def test_cover_superset_and_full_soundness_random_rings():
    """Cover invariants at volume (guards the round-5 exact
    touch-crossing change): for random convex, star, and GRID-ALIGNED
    rectangle rings (vertices exactly on cell edges — the degenerate
    family), the compact cover must contain every inside sample in
    some cover cell (superset), and no outside sample may land in a
    FULL cell (soundness of the exact-PIP skip). A one-off 300-ring x
    400-point sweep passed with zero failures; this committed version
    runs 60 x 200."""
    import numpy as np

    from openair_spark.index import quadkey
    from openair_spark.index.cover import compact_cover
    from openair_spark.index.pip import points_in_ring

    rng = np.random.default_rng(123)
    for t in range(60):
        kind = t % 3
        if kind == 0:
            n = int(rng.integers(4, 12))
            ang = np.sort(rng.uniform(0, 2 * np.pi, n))
            r = rng.uniform(0.05, 2.0)
            cx, cy = rng.uniform(-170, 170), rng.uniform(-75, 75)
            ring = np.stack([cx + r * np.cos(ang), cy + 0.7 * r * np.sin(ang)], 1)
        elif kind == 1:
            res = int(rng.integers(5, 9))
            d = 180.0 / (1 << res)
            i = int(rng.integers(3, 8))
            cx = round(rng.uniform(-150, 150) / d) * d
            cy = round(rng.uniform(-60, 60) / d) * d
            ring = np.array([[cx, cy], [cx + i * d, cy],
                             [cx + i * d, cy + 2 * d], [cx, cy + 2 * d]])
        else:
            n = 10
            ang = np.linspace(0, 2 * np.pi, n, endpoint=False)
            rr = np.where(np.arange(n) % 2 == 0, 1.2, 0.4) * rng.uniform(0.1, 1.5)
            cx, cy = rng.uniform(-170, 170), rng.uniform(-70, 70)
            ring = np.stack([cx + rr * np.cos(ang), cy + rr * np.sin(ang)], 1)
        ring = np.vstack([ring, ring[:1]])
        cells = {c: f for c, f in compact_cover(ring, min_res=5, max_res=9)}
        w, s = ring[:, 0].min(), ring[:, 1].min()
        e, n_ = ring[:, 0].max(), ring[:, 1].max()
        px = rng.uniform(w, e, 200)
        py = rng.uniform(s, n_, 200)
        inside = points_in_ring(px, py, ring)
        for x, y, isin in zip(px, py, inside):
            hit_any = hit_full = False
            for res in range(5, 10):
                c = quadkey.cell_id(y, x, res)
                if c in cells:
                    hit_any = True
                    hit_full = hit_full or cells[c]
            assert not (isin and not hit_any), (t, x, y, "superset")
            assert not (hit_full and not isin), (t, x, y, "full-soundness")


def test_corner_shortcut_equals_full_corner_verification():
    """The round-6 corner_split shortcut (corner 0 alone decides FULL
    for contact-free cells) must produce covers identical to the
    belt-and-braces variant that ray-casts every remaining corner —
    over random convex / grid-aligned / star rings through BOTH the H3
    and S2 cover kernels (also verified once over the whole 9,484-ring
    bench corpus: 14,446,531 cells bit-identical)."""
    import numpy as np

    import openair_spark.ops.h3tiles as h3tiles
    import openair_spark.ops.s2tiles as s2tiles
    from openair_spark.index.pip import points_in_ring

    def full_verify_corner_split(hx1, hy1, partial, owner, rings, nv):
        m = len(partial)
        rows = np.nonzero(~partial)[0]
        all_in = np.zeros(m, dtype=bool)
        any_in = np.zeros(m, dtype=bool)
        if len(rows):
            orow = owner[rows]
            allc = np.zeros((len(rows), nv), dtype=bool)
            for ov in np.unique(orow):
                mg = orow == ov
                allc[mg] = points_in_ring(
                    hx1[rows[mg]].ravel(), hy1[rows[mg]].ravel(),
                    rings[ov]).reshape(-1, nv)
            all_in[rows] = allc.all(axis=1)
            any_in[rows] = allc.any(axis=1)
        return all_in, any_in

    rng = np.random.default_rng(7)
    rings = []
    for t in range(24):
        kind = t % 3
        if kind == 0:
            n = int(rng.integers(4, 12))
            ang = np.sort(rng.uniform(0, 2 * np.pi, n))
            r = rng.uniform(0.05, 2.0)
            cx, cy = rng.uniform(-170, 170), rng.uniform(-75, 75)
            ring = np.stack([cx + r * np.cos(ang), cy + 0.7 * r * np.sin(ang)], 1)
        elif kind == 1:
            res = int(rng.integers(5, 9))
            d = 180.0 / (1 << res)
            i = int(rng.integers(3, 8))
            cx = round(rng.uniform(-150, 150) / d) * d
            cy = round(rng.uniform(-60, 60) / d) * d
            ring = np.array([[cx, cy], [cx + i * d, cy],
                             [cx + i * d, cy + 2 * d], [cx, cy + 2 * d]])
        else:
            n = 10
            ang = np.linspace(0, 2 * np.pi, n, endpoint=False)
            rr = np.where(np.arange(n) % 2 == 0, 1.2, 0.4) * rng.uniform(0.1, 1.5)
            cx, cy = rng.uniform(-170, 170), rng.uniform(-70, 70)
            ring = np.stack([cx + rr * np.cos(ang), cy + rr * np.sin(ang)], 1)
        rings.append(np.vstack([ring, ring[:1]]))

    for mod, cover in ((h3tiles, lambda: h3tiles.h3_cover_batch(rings, 5, 7)),
                       (s2tiles, lambda: [s2tiles.s2_cover(r, max_level=8)
                                          for r in rings])):
        fast = cover()
        orig = mod.corner_split
        mod.corner_split = full_verify_corner_split
        try:
            slow = cover()
        finally:
            mod.corner_split = orig
        for a, b in zip(fast, slow):
            assert np.array_equal(np.asarray(a), np.asarray(b))


def cover_batch(rings: list, min_res: int, max_res: int, max_cells: int) -> list:
    """cover_arrays as one [(cell_id, is_full)] list per ring."""
    from openair_spark.index.cover import cover_arrays

    owner, cells, fulls = cover_arrays(rings, min_res, max_res, max_cells)
    offs = np.searchsorted(owner, np.arange(len(rings) + 1))
    return [list(zip(cells[offs[i]:offs[i + 1]].tolist(),
                     fulls[offs[i]:offs[i + 1]].tolist()))
            for i in range(len(rings))]


def test_cover_batch_matches_compact_cover():
    """cover_arrays (round-6 level-batched quadkey covers, split per
    ring by cover_batch above) must produce the same per-ring
    (cell, is_full) SET as compact_cover for random convex /
    grid-aligned / star rings — including tight max_cells caps
    (the degrade path) and flat res bands. Also verified once over the
    full 9,484-ring bench corpus at res 5-9, 7-9 and 7-7: 0 mismatches."""
    import numpy as np

    from openair_spark.index.cover import compact_cover

    rng = np.random.default_rng(11)
    rings = []
    for t in range(30):
        kind = t % 3
        if kind == 0:
            n = int(rng.integers(4, 12))
            ang = np.sort(rng.uniform(0, 2 * np.pi, n))
            r = rng.uniform(0.05, 2.0)
            cx, cy = rng.uniform(-170, 170), rng.uniform(-75, 75)
            ring = np.stack([cx + r * np.cos(ang), cy + 0.7 * r * np.sin(ang)], 1)
        elif kind == 1:
            res = int(rng.integers(5, 9))
            d = 180.0 / (1 << res)
            i = int(rng.integers(3, 8))
            cx = round(rng.uniform(-150, 150) / d) * d
            cy = round(rng.uniform(-60, 60) / d) * d
            ring = np.array([[cx, cy], [cx + i * d, cy],
                             [cx + i * d, cy + 2 * d], [cx, cy + 2 * d]])
        else:
            n = 10
            ang = np.linspace(0, 2 * np.pi, n, endpoint=False)
            rr = np.where(np.arange(n) % 2 == 0, 1.2, 0.4) * rng.uniform(0.1, 1.5)
            cx, cy = rng.uniform(-170, 170), rng.uniform(-70, 70)
            ring = np.stack([cx + rr * np.cos(ang), cy + rr * np.sin(ang)], 1)
        rings.append(np.vstack([ring, ring[:1]]))

    for lo, hi, cap in ((5, 9, 4096), (7, 9, 4096), (7, 7, 4096),
                        (5, 9, 64), (5, 8, 16)):
        batched = cover_batch(rings, lo, hi, max_cells=cap)
        for i, r in enumerate(rings):
            single = compact_cover(r, lo, hi, max_cells=cap)
            assert (set((int(c), bool(f)) for c, f in batched[i])
                    == set((int(c), bool(f)) for c, f in single)), (lo, hi, cap, i)
