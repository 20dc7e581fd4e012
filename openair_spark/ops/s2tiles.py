"""True S2 compact polygon covers (north star: polygons tiled "into H3
(res 5-9) and S2 cells via a compact-cover algorithm").

Quadtree descent from the 6 face cells: children partition their parent
EXACTLY (unlike H3's overhanging aperture-7), so membership semantics
are pure id-range containment — a point is covered iff its leaf id
falls inside some cover cell's [range_min, range_max]. Vertex-in-cell
tests are exact integer range checks on the ring's precomputed leaf
ids; corner/edge tests run on the lon/lat corner quad with a small
dilation absorbing the chord-vs-geodesic curvature of cell edges.

Batching architecture (round 4, mirroring ops/h3tiles): the descent
runs over GROUPS of rings — cells carry an `owner` ring index and every
level's decode/corner/classify/children kernel executes once for the
whole group. Per-(cell, segment) work is restricted to the cell's own
ring by CSR expansion over the group's concatenated edges
(index.pip.RingSet); the exact vertex-in-range test uses each ring's
own sorted leaf ids. Pole-holding cells (corner block still spanning
>180 deg of longitude after coherent unwrap) classify by their own
ring's latitude band — |lat| over an S2 cell is extremized at a
uv-corner, so corner latitudes bound the cell's reach exactly.

`s2_polygon_tiles` fans the cover over the features DataFrame through
the shared tiles kernel (ops/_cover_common.tiles_map, one narrow
mapInArrow; mega-polygons split into bounded cell rows).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from ..index import s2
from ..index.cover import CoverCells
from ._cover_common import RingBatch, corner_split, cover_groups, proper_crossings, tiles_map

OUTSIDE, PARTIAL, FULL = 0, 1, 2
# straight lon/lat chords understate the geodesic cell edges; 5% corner
# dilation keeps FULL/OUTSIDE verdicts conservative at level >= 3
_CURVATURE_DILATION = 0.05

# rings per kernel group — same cache-vs-amortization tradeoff as the
# H3 cover (see ops/h3tiles._RING_GROUP). S2 covers emit far fewer
# cells per ring, so call overhead dominated at 8; with the x-strip
# candidate index the sweep favors much larger groups (2.9s -> 1.4s on
# an 1,800-ring subset at 128, identical cells).
_RING_GROUP = 128


class _S2RingBatch(RingBatch):
    """Shared RingBatch geometry plus each ring's sorted level-30 leaf
    ids for the exact vertex-in-range test."""

    def __init__(self, rings: list):
        super().__init__(rings)
        # unsigned leaf ids: range containment must compare in unsigned
        # id space (faces 4-5 set the sign bit of the int64 form)
        self.leaf_sorted = [
            np.sort(np.asarray(
                s2.cell_id(r[:, 1], r[:, 0], s2.MAX_LEVEL),
                dtype=np.int64).astype(np.uint64))
            for r in rings]


def _classify_level_multi(cells: np.ndarray, owner: np.ndarray, level: int,
                          rb: _S2RingBatch) -> np.ndarray:
    """Vectorized FULL/PARTIAL/OUTSIDE verdicts for one level's frontier
    (`cells` uint64, all at `level`), each against its own ring."""
    n = len(cells)
    verdict = np.zeros(n, dtype=np.int8)
    if n == 0:
        return verdict
    rs = rb.rs
    # exact vertex-in-cell: any own-ring leaf id inside the cell's range
    lo, hi = s2.range_min_max_arrays(cells)
    vertex_in = np.zeros(n, dtype=bool)
    for r_idx in np.unique(owner):
        m = owner == r_idx
        ls = rb.leaf_sorted[r_idx]
        pos = np.searchsorted(ls, lo[m], side="left")
        pos_c = np.minimum(pos, len(ls) - 1)
        vertex_in[m] = (ls[pos_c] <= hi[m]) & (pos < len(ls))

    corners = s2.cells_corners_latlon(cells, level)          # (n, 4, 2)
    # lon-coherent corner block (corners wrap independently out of
    # atan2), then shift the block toward the own ring
    corners = corners.copy()
    corners[:, :, 0] += 360.0 * np.round(
        (corners[:, 0, 0][:, None] - corners[:, :, 0]) / 360.0)
    corners[:, :, 0] += 360.0 * np.round(
        (rb.cx[owner] - corners[:, :, 0].mean(axis=1))[:, None] / 360.0)

    span = corners[:, :, 0].max(axis=1) - corners[:, :, 0].min(axis=1)
    pole = span > 180.0
    if bool(pole.any()):
        # a pole-holding cell clipped by a ring EDGE can have no ring
        # vertex inside it; bound by the own ring's latitude band
        # (corner |lat| is the exact extremum over the cell)
        north = corners[:, :, 1].mean(axis=1) > 0.0
        reach = np.where(
            north, rb.bbox[owner, 3] >= corners[:, :, 1].min(axis=1),
            rb.bbox[owner, 1] <= corners[:, :, 1].max(axis=1))
        verdict[pole] = np.where(vertex_in[pole] | reach[pole],
                                 PARTIAL, OUTSIDE)

    idx = np.nonzero(~pole)[0]
    if len(idx) == 0:
        return verdict
    b = corners[idx]
    c = b.mean(axis=1, keepdims=True)
    b = c + (b - c) * (1.0 + _CURVATURE_DILATION)
    # cheap bbox rejection vs own ring bbox (vertex-holding cells can
    # never be OUTSIDE)
    bb = rb.bbox[owner[idx]]
    out_bbox = ((b[:, :, 0].max(axis=1) < bb[:, 0])
                | (b[:, :, 0].min(axis=1) > bb[:, 2])
                | (b[:, :, 1].max(axis=1) < bb[:, 1])
                | (b[:, :, 1].min(axis=1) > bb[:, 3]))
    alive = ~(out_bbox & ~vertex_in[idx])
    sel = idx[alive]
    if len(sel) == 0:
        return verdict
    ball = b[alive]
    chunk = rb.chunk_size()

    for s0 in range(0, len(sel), chunk):
        sl = slice(s0, min(s0 + chunk, len(sel)))
        hb = ball[sl]
        m = len(hb)
        o = owner[sel[sl]]
        hx1, hy1 = hb[:, :, 0], hb[:, :, 1]
        hx2 = np.roll(hx1, -1, axis=1)
        hy2 = np.roll(hy1, -1, axis=1)
        cxmin, cxmax = hx1.min(axis=1), hx1.max(axis=1)
        cymin, cymax = hy1.min(axis=1), hy1.max(axis=1)
        # x-strip candidate pairs (exact superset of the bbox-pruned
        # dense expansion; see _cover_common.RingBatch)
        crow, seg = rb.candidate_pairs(o, cxmin, cxmax)
        keep = ((cxmin[crow] <= rb.sxmax[seg]) & (cxmax[crow] >= rb.sxmin[seg])
                & (cymin[crow] <= rb.symax[seg]) & (cymax[crow] >= rb.symin[seg]))
        crossing = proper_crossings(hx1, hy1, hx2, hy2,
                                    crow[keep], seg[keep], rs, m)
        partial = crossing | vertex_in[sel[sl]]
        all_in, any_in = corner_split(hx1, hy1, partial, o, rb.rings, 4)
        verdict[sel[sl]] = np.where(
            partial, PARTIAL,
            np.where(all_in, FULL, np.where(any_in, PARTIAL, OUTSIDE))
        ).astype(np.int8)
    return verdict


def s2_cover_arrays(rings: list, max_level: int = 10,
                    max_cells: int = 16384) -> tuple[np.ndarray, ...]:
    """Compact S2 covers of many closed lon/lat rings as flat (owner,
    cell_id, level, is_full) arrays sorted by owner (the ring's position
    in `rings`); ids are unsigned uint64. Same cells as covering each
    ring alone. FULL cells stay at the coarsest level the curvature-safe
    test allows (>= 3, the compact form); PARTIAL cells refine to
    max_level. Membership: a point is covered iff its level-30 leaf id
    lies in some cover cell's id range. `max_cells` bounds each ring
    independently (its remaining frontier is emitted as partial
    leaves)."""
    return cover_groups(_cover_group, rings, _RING_GROUP, max_level, max_cells)


def s2_cover_batch(rings: list, max_level: int = 10,
                   max_cells: int = 16384) -> list:
    """s2_cover_arrays as one [(cell_id, level, is_full)] list per ring
    (unsigned ids)."""
    owner, cell, level, full = s2_cover_arrays(rings, max_level, max_cells)
    rows = list(zip(cell.tolist(), level.tolist(), full.tolist()))
    offs = np.searchsorted(owner, np.arange(len(rings) + 1))
    return [rows[offs[i]:offs[i + 1]] for i in range(len(rings))]


def _cover_group(rings: list, max_level: int, max_cells: int) -> tuple[np.ndarray, ...]:
    rings = [np.asarray(r, dtype=np.float64) for r in rings]
    rb = _S2RingBatch(rings)
    nr = len(rings)
    out = CoverCells(nr, np.uint64)

    faces = np.array([(f << 61) | (1 << 60) for f in range(6)],
                     dtype=np.uint64)
    frontier = np.tile(faces, nr)
    fowner = np.repeat(np.arange(nr, dtype=np.int64), 6)
    for level in range(0, max_level + 1):
        if len(frontier) == 0:
            break
        v = _classify_level_multi(frontier, fowner, level, rb)
        full_ok = (v == FULL) & (level >= 3)
        out.emit(frontier[full_ok], fowner[full_ok], level, True)
        desc = (v == PARTIAL) | ((v == FULL) & (level < 3))
        descend, downer = frontier[desc], fowner[desc]
        if level == max_level:
            out.emit(descend, downer, level, False)
            break
        kids = s2.children_arrays(descend)
        kowner = np.repeat(downer, 4)
        # per-ring cap: rings whose cover would overflow emit their
        # children as partial leaves and stop descending
        add = np.bincount(kowner, minlength=nr)
        over = (out.n + add) > max_cells
        if bool(over.any()):
            capped = over[kowner]
            out.emit(kids[capped], kowner[capped], level + 1, False)
            kids, kowner = kids[~capped], kowner[~capped]
        frontier, fowner = kids, kowner
    return out.arrays()


def s2_cover(ring, max_level: int = 10, max_cells: int = 16384) -> list:
    """[(cell_id, level, is_full)] compact S2 cover of ONE closed
    lon/lat ring (see s2_cover_arrays for semantics)."""
    return s2_cover_batch([ring], max_level, max_cells)[0]


S2_TILES_SCHEMA = ("url string, airspace_idx int, s2_cell long, s2_level int, "
                   "is_full boolean")


def s2_polygon_tiles(features: DataFrame,
                     max_level: int = 10, max_cells: int = 16384) -> DataFrame:
    """features(url, airspace_idx, ring, ...) -> one row per S2 cover
    cell, through the shared tiles kernel (ops/_cover_common.tiles_map);
    each Arrow batch covers in one grouped s2_cover_arrays call."""

    def cover(rings):
        owner, cell, level, full = s2_cover_arrays(rings, max_level, max_cells)
        # unsigned ids -> two's-complement int64 (Spark LongType)
        return owner, cell.astype(np.int64), level.astype(np.int32), full

    return tiles_map(features, S2_TILES_SCHEMA, cover)
