"""Compact polygon covers (north rule: "tiles polygons into H3 (res 5-9)
+ S2 cells with a compact cover").

Algorithm (index-agnostic): seed with every cell whose bbox intersects
the polygon bbox at `min_res`; classify each cell FULL-INSIDE /
PARTIAL / OUTSIDE against the ring (vectorized PIP on cell corners +
edge-crossing test); keep FULL cells at their resolution (compactness),
refine PARTIAL cells to children until `max_res`, keep PARTIAL leaves.

This is also the mega-polygon splitting mechanism (north rule skew
handling): a FIR-sized ring yields many bounded cells instead of one
giant join row, and each PARTIAL leaf carries only the bbox-clipped
candidate status, so per-cell work is bounded.
"""

from __future__ import annotations

import numpy as np

from . import quadkey
from .pip import points_in_ring


def _ring_bbox(ring: np.ndarray) -> tuple[float, float, float, float]:
    return float(ring[:, 0].min()), float(ring[:, 1].min()), float(ring[:, 0].max()), float(ring[:, 1].max())


OUTSIDE, PARTIAL, FULL = 0, 1, 2


def classify_cells(cells: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Vectorized FULL/PARTIAL/OUTSIDE classification of quadkey cells
    against a closed lon/lat ring — one numpy pass for a whole cover
    frontier instead of per-cell Python.

    boundary-in-cell := any ring vertex inside the cell bbox, or any
    ring edge strictly crossing a bbox edge. No boundary + all corners
    inside -> FULL; none inside -> OUTSIDE; mixed corner verdicts with
    no detected boundary only happen when the ring grazes a cell edge
    exactly (strict crossing test + half-open corner PIP) -> PARTIAL so
    the cover stays a superset."""
    cells = np.asarray(cells, dtype=np.int64)
    m = len(cells)
    res = cells >> quadkey._RES_SHIFT
    y = (cells >> quadkey._Y_SHIFT) & quadkey._MASK
    x = cells & quadkey._MASK
    n = (1 << res).astype(np.float64)
    west = -180.0 + x * 360.0 / n
    east = -180.0 + (x + 1) * 360.0 / n
    south = -90.0 + y * 180.0 / n
    north = -90.0 + (y + 1) * 180.0 / n

    vx, vy = ring[:, 0], ring[:, 1]
    # (m,) any ring vertex inside each bbox
    vert_in = (
        (vx[None, :] >= west[:, None]) & (vx[None, :] <= east[:, None])
        & (vy[None, :] >= south[:, None]) & (vy[None, :] <= north[:, None])
    ).any(axis=1)

    x1, y1 = vx[:-1], vy[:-1]
    x2, y2 = vx[1:], vy[1:]
    crossing = np.zeros(m, dtype=bool)
    # a STRICT crossing of a cell edge implies the intersection point
    # lies in both closed bboxes, so restricting the 4-edge orientation
    # tests to bbox-overlapping (cell, segment) pairs is exact — and
    # turns the previous 16-orientation dense (m, n) evaluation into a
    # cheap 4-comparison mask plus elementwise tests on the few
    # surviving pairs (the cover classifier's hottest lines).
    sxmin, sxmax = np.minimum(x1, x2), np.maximum(x1, x2)
    symin, symax = np.minimum(y1, y2), np.maximum(y1, y2)
    overlap = ((sxmin[None, :] <= east[:, None]) & (sxmax[None, :] >= west[:, None])
               & (symin[None, :] <= north[:, None]) & (symax[None, :] >= south[:, None]))
    ci, sj = np.nonzero(overlap)
    if len(ci):
        px1, py1, px2, py2 = x1[sj], y1[sj], x2[sj], y2[sj]
        pdx, pdy = px2 - px1, py2 - py1
        hit = np.zeros(len(ci), dtype=bool)
        for ax, ay, bx, by in (
            (west, south, east, south), (east, south, east, north),
            (east, north, west, north), (west, north, west, south),
        ):
            eax, eay, ebx, eby = ax[ci], ay[ci], bx[ci], by[ci]
            edx, edy = ebx - eax, eby - eay
            d1 = edx * (py1 - eay) - edy * (px1 - eax)
            d2 = edx * (py2 - eay) - edy * (px2 - eax)
            d3 = pdx * (eay - py1) - pdy * (eax - px1)
            d4 = pdx * (eby - py1) - pdy * (ebx - px1)
            hit |= (d1 * d2 < 0) & (d3 * d4 < 0)
        crossing[ci[hit]] = True
    boundary = vert_in | crossing

    corners_x = np.concatenate([west, east, east, west])
    corners_y = np.concatenate([south, south, north, north])
    inside = points_in_ring(corners_x, corners_y, ring).reshape(4, m)
    n_in = inside.sum(axis=0)

    out = np.full(m, PARTIAL, dtype=np.int8)
    out[(~boundary) & (n_in == 4)] = FULL
    out[(~boundary) & (n_in == 0)] = OUTSIDE
    return out


def compact_cover(ring, min_res: int = 5, max_res: int = 9,
                  max_cells: int = 4096) -> list[tuple[int, bool]]:
    """Compact quadkey cover of a closed lon/lat ring.

    Returns [(cell_id, is_full)] — FULL cells may sit at any res in
    [min_res, max_res]; PARTIAL leaves are at max_res. Guaranteed
    superset of the polygon (property-tested).
    """
    ring = np.asarray(ring, dtype=np.float64)
    west, south, east, north = _ring_bbox(ring)
    seeds = set()
    for lat, lon in ((south, west), (south, east), (north, west), (north, east)):
        seeds.add(int(quadkey.cell_id(lat, lon, min_res)))
    # fill the seed rectangle at min_res
    r0, x0, y0 = quadkey.decode(int(quadkey.cell_id(south, west, min_res)))
    r1, x1, y1 = quadkey.decode(int(quadkey.cell_id(north, east, min_res)))
    for yy in range(int(y0), int(y1) + 1):
        for xx in range(int(x0), int(x1) + 1):
            seeds.add((min_res << 54) + (yy << 27) + xx)

    out: list[tuple[int, bool]] = []
    frontier = np.array(sorted(seeds), dtype=np.int64)
    while len(frontier):
        kinds = classify_cells(frontier, ring)
        if len(out) + len(frontier) > max_cells:
            # degrade gracefully: emit the remaining frontier as partial
            out.extend((int(c), False) for c in frontier[kinds != OUTSIDE])
            break
        res = (frontier >> quadkey._RES_SHIFT).astype(np.int64)
        for c in frontier[kinds == FULL]:
            out.append((int(c), True))
        at_leaf = (kinds == PARTIAL) & (res >= max_res)
        for c in frontier[at_leaf]:
            out.append((int(c), False))
        to_refine = frontier[(kinds == PARTIAL) & (res < max_res)]
        next_frontier: list[int] = []
        for cell in to_refine:
            next_frontier.extend(quadkey.children(int(cell)))
        frontier = np.array(sorted(next_frontier), dtype=np.int64)
    return out


# pair budget per classification chunk: the CSR expansion materializes
# (cells x own-ring segments) temporaries; chunking bounds peak memory
# and keeps the working set cache-sized (same rationale as
# ops/_cover_common._PAIR_BUDGET)
_PAIR_BUDGET = 4_000_000


def _classify_cells_multi(cells: np.ndarray, owner: np.ndarray,
                          rs) -> np.ndarray:
    """Batched classify_cells: verdicts of many cells, each against ITS
    OWN ring (`owner` indexes the RingSet `rs`). Exactly the
    classify_cells predicate — bbox-inclusive vertex-in-cell, STRICT
    4-edge crossing on bbox-overlapping pairs, full-ring corner ray
    casts (RingSet.contains: the same half-open arithmetic as
    points_in_ring, exact integer parity) — evaluated in a few large
    vectorized passes instead of one small call per (ring, level) (the
    per-ring path was numpy-call-overhead-bound: ~47k small calls over
    the bench corpus)."""
    m = len(cells)
    verdict = np.empty(m, dtype=np.int8)
    if m == 0:
        return verdict
    res = cells >> quadkey._RES_SHIFT
    y = (cells >> quadkey._Y_SHIFT) & quadkey._MASK
    x = cells & quadkey._MASK
    n = (1 << res).astype(np.float64)
    west = -180.0 + x * 360.0 / n
    east = -180.0 + (x + 1) * 360.0 / n
    south = -90.0 + y * 180.0 / n
    north = -90.0 + (y + 1) * 180.0 / n

    sxmin = np.minimum(rs.x1, rs.x2)
    sxmax = np.maximum(rs.x1, rs.x2)
    symin = np.minimum(rs.y1, rs.y2)
    symax = np.maximum(rs.y1, rs.y2)

    max_len = int(rs.lens.max()) if len(rs.lens) else 1
    chunk = max(1024, _PAIR_BUDGET // max(1, max_len))

    for s0 in range(0, m, chunk):
        sel = slice(s0, min(m, s0 + chunk))
        mm = sel.stop - sel.start
        o = owner[sel]
        w_, e_ = west[sel], east[sel]
        s_, n_ = south[sel], north[sel]
        # CSR (cell, own-ring segment) pairs. Segment starts double as
        # the ring vertex set: classify_cells tests every ring point
        # incl. the duplicated closing vertex, whose coordinates equal
        # vertex 0 — set-equivalent for the `any` reduction.
        cl = rs.lens[o]
        crow = np.repeat(np.arange(mm), cl)
        cum = np.cumsum(cl)
        total = int(cum[-1]) if mm else 0
        within = np.arange(total) - np.repeat(cum - cl, cl)
        seg = np.repeat(rs.starts[o], cl) + within

        pvx, pvy = rs.x1[seg], rs.y1[seg]
        cw, ce = w_[crow], e_[crow]
        cs, cn = s_[crow], n_[crow]
        vert_hit = (pvx >= cw) & (pvx <= ce) & (pvy >= cs) & (pvy <= cn)
        vert_in = np.zeros(mm, dtype=bool)
        vert_in[crow[vert_hit]] = True

        overlap = ((sxmin[seg] <= ce) & (sxmax[seg] >= cw)
                   & (symin[seg] <= cn) & (symax[seg] >= cs))
        ci, sj = crow[overlap], seg[overlap]
        crossing = np.zeros(mm, dtype=bool)
        if len(ci):
            px1, py1 = rs.x1[sj], rs.y1[sj]
            px2, py2 = rs.x2[sj], rs.y2[sj]
            pdx, pdy = px2 - px1, py2 - py1
            gw, ge = w_[ci], e_[ci]
            gs, gn = s_[ci], n_[ci]
            hit = np.zeros(len(ci), dtype=bool)
            for ax, ay, bx, by in ((gw, gs, ge, gs), (ge, gs, ge, gn),
                                   (ge, gn, gw, gn), (gw, gn, gw, gs)):
                edx, edy = bx - ax, by - ay
                d1 = edx * (py1 - ay) - edy * (px1 - ax)
                d2 = edx * (py2 - ay) - edy * (px2 - ax)
                d3 = pdx * (ay - py1) - pdy * (ax - px1)
                d4 = pdx * (by - py1) - pdy * (bx - px1)
                hit |= (d1 * d2 < 0) & (d3 * d4 < 0)
            crossing[ci[hit]] = True
        boundary = vert_in | crossing

        corners_x = np.concatenate([w_, e_, e_, w_])
        corners_y = np.concatenate([s_, s_, n_, n_])
        inside = rs.contains(corners_x, corners_y, np.tile(o, 4))
        n_in = inside.reshape(4, mm).sum(axis=0)

        v = np.full(mm, PARTIAL, dtype=np.int8)
        v[(~boundary) & (n_in == 4)] = FULL
        v[(~boundary) & (n_in == 0)] = OUTSIDE
        verdict[sel] = v
    return verdict


class CoverCells:
    """The cells a batched cover emits, level by level, each tagged with
    its owner ring; `n` counts each ring's cells so far (the per-ring
    max_cells cap). Shared by the quadkey, H3 and S2 covers (S2 ids are
    uint64)."""

    def __init__(self, n_rings: int, cell_dtype=np.int64):
        self.parts: list = []
        self.n = np.zeros(n_rings, dtype=np.int64)
        self.cell_dtype = cell_dtype

    def emit(self, cells, owner, res, is_full: bool) -> None:
        if len(cells):
            self.parts.append((owner, cells, np.broadcast_to(np.asarray(res, dtype=np.int64),
                                                             (len(cells),)),
                               np.full(len(cells), is_full)))
            self.n += np.bincount(owner, minlength=len(self.n))

    def arrays(self) -> tuple[np.ndarray, ...]:
        """Flat (owner, cell, res, is_full) arrays sorted by owner; each
        ring's cells keep their emission order."""
        if not self.parts:
            return (np.empty(0, dtype=np.int64), np.empty(0, dtype=self.cell_dtype),
                    np.empty(0, dtype=np.int64), np.empty(0, dtype=bool))
        owner, cell, res, full = (np.concatenate(a) for a in zip(*self.parts))
        order = np.argsort(owner, kind="stable")
        return owner[order], cell[order], res[order], full[order]


def cover_arrays(rings: list, min_res: int = 5, max_res: int = 9,
                 max_cells: int = 4096) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Compact quadkey covers of MANY rings with level-batched
    classification: one _classify_cells_multi call per refinement level
    for the whole batch instead of one classify_cells call per
    (ring, level). Returns flat (owner, cell, is_full) arrays sorted by
    owner (the ring's position in `rings`). Per-ring results are the
    same (cell, is_full) SETS compact_cover produces, including the
    per-ring max_cells degrade semantics (asserted ring-by-ring over the
    full bench corpus and by tests/test_properties.py)."""
    nr = len(rings)
    rings = [np.asarray(r, dtype=np.float64) for r in rings]
    # CSR edge arrays shared by the crossing tests and the corner ray
    # casts (RingSet: x1/y1 are the segment start points = ring
    # vertices sans the duplicated closing vertex)
    from .pip import RingSet
    rs = RingSet(rings)

    out = CoverCells(nr)
    done = np.zeros(nr, dtype=bool)

    # seeds: bbox rectangle fill at min_res per ring (same cells as
    # compact_cover's seed set; the corner cell_ids it adds first are
    # subsumed by the rectangle fill)
    seed_c: list = []
    seed_o: list = []
    for i, r in enumerate(rings):
        w, s = float(r[:, 0].min()), float(r[:, 1].min())
        e, n = float(r[:, 0].max()), float(r[:, 1].max())
        _, x0, y0 = quadkey.decode(int(quadkey.cell_id(s, w, min_res)))
        _, x1, y1 = quadkey.decode(int(quadkey.cell_id(n, e, min_res)))
        xs = np.arange(int(x0), int(x1) + 1, dtype=np.int64)
        ys = np.arange(int(y0), int(y1) + 1, dtype=np.int64)
        cells = ((np.int64(min_res) << quadkey._RES_SHIFT)
                 + (ys[:, None] << quadkey._Y_SHIFT) + xs[None, :]).ravel()
        seed_c.append(np.sort(cells))
        seed_o.append(np.full(len(cells), i, dtype=np.int64))
    frontier = np.concatenate(seed_c or [np.empty(0, dtype=np.int64)])
    fowner = np.concatenate(seed_o or [np.empty(0, dtype=np.int64)])

    while len(frontier):
        kinds = _classify_cells_multi(frontier, fowner, rs)
        fcount = np.bincount(fowner, minlength=nr)
        # per-ring cap: same trigger as compact_cover (out + WHOLE
        # frontier incl. OUTSIDE cells), same degrade (emit non-OUTSIDE
        # frontier as partial, stop the ring)
        over = (~done) & ((out.n + fcount) > max_cells)
        res = frontier >> quadkey._RES_SHIFT
        if bool(over.any()):
            capped = over[fowner]
            keep_nz = capped & (kinds != OUTSIDE)
            out.emit(frontier[keep_nz], fowner[keep_nz], res[keep_nz], False)
            done |= over
            frontier, fowner, kinds, res = (frontier[~capped], fowner[~capped],
                                            kinds[~capped], res[~capped])
            if len(frontier) == 0:
                break
        full = kinds == FULL
        out.emit(frontier[full], fowner[full], res[full], True)
        at_leaf = (kinds == PARTIAL) & (res >= max_res)
        out.emit(frontier[at_leaf], fowner[at_leaf], res[at_leaf], False)
        refine = (kinds == PARTIAL) & (res < max_res)
        rc, ro = frontier[refine], fowner[refine]
        if len(rc) == 0:
            break
        # 4 children via bit math (mirrors quadkey.children)
        r_ = rc >> quadkey._RES_SHIFT
        y_ = (rc >> quadkey._Y_SHIFT) & quadkey._MASK
        x_ = rc & quadkey._MASK
        cr = ((r_ + 1) << quadkey._RES_SHIFT)
        kids = np.empty(4 * len(rc), dtype=np.int64)
        kowner = np.repeat(ro, 4)
        base_y = 2 * y_
        base_x = 2 * x_
        kids[0::4] = cr + (base_y << quadkey._Y_SHIFT) + base_x
        kids[1::4] = cr + (base_y << quadkey._Y_SHIFT) + base_x + 1
        kids[2::4] = cr + ((base_y + 1) << quadkey._Y_SHIFT) + base_x
        kids[3::4] = cr + ((base_y + 1) << quadkey._Y_SHIFT) + base_x + 1
        frontier, fowner = kids, kowner

    owner, cells, _, is_full = out.arrays()
    return owner, cells, is_full
