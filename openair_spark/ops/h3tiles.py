"""True H3 compact polygon covers (north star: "Every resulting polygon
is tiled into H3 (res 5-9) ... via a compact-cover algorithm").

`h3_cover_batch` tiles MANY lon/lat rings at once: BFS flood from each
ring's vertex/centroid cells at `min_res`, classify every cell
FULL / PARTIAL / OUTSIDE against ITS OWN ring, keep FULL cells at their
(coarsest) resolution — that IS the compact form — and refine PARTIAL
cells through the children until `max_res`.

Batching architecture (round 4): all per-level kernels — boundary
computation, classification, children generation, BFS neighbor probes —
run ONCE per refinement level for the whole batch of rings, with cells
carrying an `owner` ring index. Per-(cell, segment) work is restricted
to the cell's own ring by CSR expansion over the batch's concatenated
ring edges (the same repeat/reduceat pattern as index.pip.RingSet).
The previous per-ring loop paid ~9 ms of fixed numpy-call overhead per
cover regardless of size — ~35% of the whole bench leg at the corpus'
median cover of ~1.7k cells.

`h3_polygon_tiles` runs the batched cover inside the shared tiles
kernel (ops/_cover_common.tiles_map, a narrow mapInArrow over the
features DataFrame, no shuffle); a mega-polygon becomes many bounded
(h3_cell, res) rows (`max_cells` guard per ring).

Boundaries are substrate-exact (icosahedron edges, exact pentagons
incl. class III distortion vertices — see index/h3.py); distortion
handling is sparse (6-vertex classify everywhere, exact 12-slot
re-classify for the typically-empty face-seam subset).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from ..index import h3
from ..index.cover import CoverCells
from ._cover_common import RingBatch as _RingBatch
from ._cover_common import corner_split, cover_groups, proper_crossings, tiles_map

OUTSIDE, PARTIAL, FULL = 0, 1, 2

# Aperture-7 children overhang their parent hexagon (the H3 hierarchy is
# an index relation, not territory containment): per level the overhang
# is a few percent of the circumradius, ~5% cumulative over all deeper
# levels; 15% also absorbs gnomonic corner distortion. Classifying a
# coarse cell against its dilated boundary makes FULL mean "every
# descendant's territory is inside" and OUTSIDE mean "no descendant's
# territory touches" — which is what the compact-set semantics
# (cover membership = ancestor of the point's max_res cell) require.
_CHILD_OVERHANG_DILATION = 0.15

def _classify_multi(bnds: np.ndarray, owner: np.ndarray, rb: _RingBatch,
                    dilate: float = 0.0) -> np.ndarray:
    """FULL / PARTIAL / OUTSIDE verdicts of many H3 cells, each against
    its own ring (`owner` indexes rb). `bnds` is (n, V, 2) [lon, lat]."""
    n = len(bnds)
    verdict = np.zeros(n, dtype=np.int8)
    if n == 0:
        return verdict
    b = bnds
    # antimeridian safety: make each boundary internally lon-coherent
    # (unwrap toward vertex 0), then shift whole cells toward their own
    # ring's center longitude
    lon = b[:, :, 0]
    unwrap = 360.0 * np.round((lon[:, :1] - lon) / 360.0)
    shift = 360.0 * np.round(
        (rb.cx[owner] - (lon + unwrap).mean(axis=1)) / 360.0)
    if np.any(unwrap) or np.any(shift):
        b = b.copy()
        b[:, :, 0] += unwrap + shift[:, None]
    if np.any(dilate):
        d = (np.asarray(dilate, dtype=np.float64).reshape(-1, 1, 1)
             if np.ndim(dilate) else dilate)
        c = b.mean(axis=1, keepdims=True)
        b = c + (b - c) * (1.0 + d)
    # cheap bbox rejection vs own ring bbox before the pair expansion
    bb = rb.bbox[owner]                                  # (n, 4)
    near = ~((b[:, :, 0].max(axis=1) < bb[:, 0])
             | (b[:, :, 0].min(axis=1) > bb[:, 2])
             | (b[:, :, 1].max(axis=1) < bb[:, 1])
             | (b[:, :, 1].min(axis=1) > bb[:, 3]))
    idx = np.nonzero(near)[0]
    nv = b.shape[1]
    rs = rb.rs
    chunk = rb.chunk_size()

    for s in range(0, len(idx), chunk):
        sel = idx[s:s + chunk]
        hb = b[sel]                                      # (m, V, 2)
        m = len(hb)
        o = owner[sel]
        hx1, hy1 = hb[:, :, 0], hb[:, :, 1]              # (m, V)
        hx2 = np.roll(hx1, -1, axis=1)
        hy2 = np.roll(hy1, -1, axis=1)
        cxmin, cxmax = hx1.min(axis=1), hx1.max(axis=1)
        cymin, cymax = hy1.min(axis=1), hy1.max(axis=1)
        # x-strip candidate pairs: exact superset of the dense
        # (cell, own-ring segment) expansion's surviving pairs at
        # ~10% of its size (see _cover_common.RingBatch)
        crow, seg = rb.candidate_pairs(o, cxmin, cxmax)
        # vertex-in-cell first (ring vertices = segment start points):
        # even-odd crossing number of the vertex vs the cell polygon
        vx, vy = rs.x1[seg], rs.y1[seg]
        vkeep = ((cxmin[crow] <= vx) & (cxmax[crow] >= vx)
                 & (cymin[crow] <= vy) & (cymax[crow] >= vy))
        vert_in = np.zeros(m, dtype=bool)
        vc, vvx, vvy = crow[vkeep], vx[vkeep], vy[vkeep]
        if len(vc):
            py_ = vvy[:, None]
            y_span = (hy1[vc] > py_) != (hy2[vc] > py_)  # (P, V)
            with np.errstate(divide="ignore", invalid="ignore"):
                x_at = hx1[vc] + ((py_ - hy1[vc])
                                  * (hx2 - hx1)[vc] / (hy2 - hy1)[vc])
            inside = (((y_span & (vvx[:, None] < x_at)).sum(axis=1) % 2) == 1)
            vert_in[vc[inside]] = True
        # proper edge crossings on bbox-overlapping pairs
        skeep = ((cxmin[crow] <= rb.sxmax[seg]) & (cxmax[crow] >= rb.sxmin[seg])
                 & (cymin[crow] <= rb.symax[seg]) & (cymax[crow] >= rb.symin[seg]))
        crossing = proper_crossings(hx1, hy1, hx2, hy2,
                                    crow[skeep], seg[skeep], rs, m)
        partial = crossing | vert_in
        all_in, any_in = corner_split(hx1, hy1, partial, o, rb.rings, nv)
        v = np.where(partial, PARTIAL,
                     np.where(all_in, FULL,
                              np.where(any_in, PARTIAL, OUTSIDE)))
        verdict[sel] = v.astype(np.int8)
    return verdict


# rings per kernel group: amortizes the fixed numpy-call overhead
# (~9 ms/cover when looped ring-at-a-time) while keeping each level's
# working set cache-sized. The round-5 plateau was 8 (one giant group
# regressed 2x on pair-temp DRAM traffic); with the round-6 x-strip
# candidate index the pair temporaries are ~10x smaller and the sweep
# moves the plateau to 16-32 (18.8s vs 20.4s at 8 on an 1,800-ring
# subset, identical 2,773,266 cells).
_RING_GROUP = 32


def h3_cover_arrays(rings: list, min_res: int = 5, max_res: int = 9,
                    max_cells: int = 16384) -> tuple[np.ndarray, ...]:
    """Compact covers of many closed lon/lat rings as flat (owner,
    h3_cell, res, is_full) arrays sorted by owner (the ring's position
    in `rings`); level-batched kernels run over groups of _RING_GROUP
    rings (see note above). Same cells as covering each ring alone."""
    return cover_groups(_cover_group, rings, _RING_GROUP, min_res, max_res, max_cells)


def h3_cover_batch(rings: list, min_res: int = 5, max_res: int = 9,
                   max_cells: int = 16384) -> list:
    """h3_cover_arrays as one (n_i, 3) int64 array [h3_cell, res,
    is_full(0/1)] per input ring."""
    owner, cell, res, full = h3_cover_arrays(rings, min_res, max_res, max_cells)
    flat = np.stack([cell, res, full.astype(np.int64)], axis=1)
    offs = np.searchsorted(owner, np.arange(len(rings) + 1))
    return [flat[offs[i]:offs[i + 1]] for i in range(len(rings))]


def _res_of(cells: np.ndarray) -> np.ndarray:
    return ((np.asarray(cells, dtype=np.int64).astype(np.uint64)
             >> np.uint64(52)) & np.uint64(0xF)).astype(np.int64)


def _start_res_for(rings: list, min_res: int, max_cells: int) -> np.ndarray:
    """Per-ring BFS start resolution: normally min_res, but a ring whose
    bbox cannot fit within max_cells at min_res starts coarser — under
    the cap, SUPERSET beats the res-range preference (a truncated BFS
    would silently leave interior regions uncovered, the round-4 cap
    test's failure mode). Estimate = bbox solid angle / mean cell area
    at res r (4*pi / (122 * 7^r)), with 2x slack for hex staircase."""
    out = np.full(len(rings), min_res, dtype=np.int64)
    for i, r in enumerate(rings):
        s_, n_ = np.radians(max(-90.0, r[:, 1].min())), np.radians(
            min(90.0, r[:, 1].max()))
        dlon = np.radians(min(360.0, float(r[:, 0].max() - r[:, 0].min())))
        sr = max(dlon * (np.sin(n_) - np.sin(s_)), 0.0)
        res = min_res
        while res > 0:
            est = sr / (4.0 * np.pi / (122.0 * 7.0 ** res))
            if est * 2.0 <= max_cells:
                break
            res -= 1
        out[i] = res
    return out


# H3 cell ids share their top byte (reserved bit, mode 1, reserved
# bits), so a ring-group owner (< 128) can take its place: one int64
# key per (owner, cell) pair, ordered like the pair
_LOW56 = (1 << 56) - 1


def _pair_keys(owner: np.ndarray, cells: np.ndarray) -> np.ndarray:
    return (owner << 56) | (cells & _LOW56)


def _cover_group(rings: list, min_res: int, max_res: int,
                 max_cells: int) -> tuple[np.ndarray, ...]:
    """Compact covers of one group of rings in shared level-batched
    kernels, as flat (owner, h3_cell, res, is_full) arrays sorted by
    owner (same cells as covering each ring alone).

    Membership semantics are the H3 compact-set ones: a point p is
    covered iff some ancestor-or-self of latlng_to_cell(p, max_res) is
    in the cover. FULL cells stay at the coarsest resolution that fits
    (compact form) and guarantee every max_res descendant's territory is
    inside the ring (dilated classification absorbs child overhang);
    PARTIAL cells refine to children until max_res. `max_cells` bounds
    each ring independently: an oversized ring starts its BFS at a
    coarser resolution (see _start_res_for — its FULL cells may then sit
    below min_res, keeping the cover a superset under the cap), and a
    ring overflowing during refinement emits its pending cells as
    PARTIAL leaves at their current resolution."""
    nr = len(rings)
    rings = [np.asarray(r, dtype=np.float64) for r in rings]
    t = h3._tables()
    rb = _RingBatch(rings)
    start_res = _start_res_for(rings, min_res, max_cells)
    out = CoverCells(nr)

    def classify_level(cells_arr, owner_arr, dilate) -> np.ndarray:
        # sparse distortion handles mixed-parity batches: only class III
        # cells crossing an icosahedron edge land in the 12-slot subset
        b6, didx, b12 = h3.cells_to_boundaries(cells_arr, t,
                                               distortion="sparse")
        v = _classify_multi(b6, owner_arr, rb, dilate)
        if len(didx):
            d12 = (dilate[didx] if np.ndim(dilate) else dilate)
            v[didx] = _classify_multi(b12, owner_arr[didx], rb, d12)
        return v

    def forward_cells(lat, lon, owner_arr) -> np.ndarray:
        """latlng_to_cell at each owner's start resolution (grouped by
        the few distinct start resolutions)."""
        res_v = start_res[owner_arr]
        cells_out = np.empty(len(lat), dtype=np.int64)
        for r in np.unique(res_v):
            m = res_v == r
            cells_out[m] = np.atleast_1d(
                h3.latlng_to_cell(lat[m], lon[m], int(r)))
        return cells_out

    # ---- seeds: every ring vertex + centroid
    seed_lat = np.concatenate([r[:, 1] for r in rings]
                              + [np.array([r[:-1, 1].mean()]) for r in rings])
    seed_lon = np.concatenate([r[:, 0] for r in rings]
                              + [np.array([r[:-1, 0].mean()]) for r in rings])
    seed_owner = np.concatenate(
        [np.full(len(r), i, dtype=np.int64) for i, r in enumerate(rings)]
        + [np.arange(nr, dtype=np.int64)])
    seed_cells = forward_cells(seed_lat, seed_lon, seed_owner)

    # first occurrence of each (owner, cell), in seed order; `seen` is
    # the sorted key set of every pair found so far
    seen, first = np.unique(_pair_keys(seed_owner, seed_cells), return_index=True)
    first = np.sort(first)
    frontier, fowner = seed_cells[first], seed_owner[first]
    seen_count = np.bincount(fowner, minlength=nr)

    part_c = np.empty(0, dtype=np.int64)   # accumulated PARTIAL cells
    part_o = np.empty(0, dtype=np.int64)
    angs = np.arange(6) * (np.pi / 3.0)
    cos_a, sin_a = np.cos(angs), np.sin(angs)

    # ---- BFS flood at each ring's start resolution, all in lockstep
    while len(frontier):
        fres = start_res[fowner]
        dil = np.where(fres < max_res, _CHILD_OVERHANG_DILATION, 0.0)
        v = classify_level(frontier, fowner, dil)
        full = v == FULL
        out.emit(frontier[full], fowner[full], fres[full], True)
        keep = v == PARTIAL
        part_c = np.concatenate([part_c, frontier[keep]])
        part_o = np.concatenate([part_o, fowner[keep]])
        alive = v != OUTSIDE
        expand, eowner = frontier[alive], fowner[alive]
        if len(expand) == 0:
            break
        # neighbor probes: centers one lattice step away, all six
        # directions of the whole level in one vectorized pass
        f, i, j, k, res = h3.cells_to_face_ijk(expand, t)
        x, y = h3._ijk_to_hex2d(i, j, k)
        px = (x[:, None] + cos_a[None, :]).ravel()
        py = (y[:, None] + sin_a[None, :]).ravel()
        plat, plon = h3._hex2d_to_geo_arrays(
            px, py, np.repeat(f, 6), np.repeat(res, 6))
        nbo = np.repeat(eowner, 6)
        nbs = forward_cells(np.degrees(plat), np.degrees(plon), nbo)
        # dedup (owner, cell) within the round, then against `seen`;
        # new pairs come out sorted by (owner, cell)
        keys, first = np.unique(_pair_keys(nbo, nbs), return_index=True)
        new = seen[np.minimum(np.searchsorted(seen, keys), len(seen) - 1)] != keys
        seen = np.union1d(seen, keys[new])
        nc, no = nbs[first[new]], nbo[first[new]]
        # a ring takes new cells in (owner, cell) order while it has
        # seen at most max_cells; the rest of an over-budget ring
        # (backstop — the adaptive start res should prevent this) still
        # become PARTIAL leaves instead of being dropped, so their
        # territory stays covered; the refinement cap then flushes them
        # at their own res
        rank = np.arange(len(no)) - np.searchsorted(no, no)
        take = seen_count[no] + rank <= max_cells
        part_c = np.concatenate([part_c, nc[~take]])
        part_o = np.concatenate([part_o, no[~take]])
        frontier, fowner = nc[take], no[take]
        seen_count += np.bincount(fowner, minlength=nr)
        # backstop: should be unreachable with the adaptive start res —
        # rings that somehow exceed the budget mid-flood turn their
        # pending frontier into PARTIAL leaves
        over = seen_count > max_cells
        if bool(over.any()) and len(frontier):
            capped = over[fowner]
            part_c = np.concatenate([part_c, frontier[capped]])
            part_o = np.concatenate([part_o, fowner[capped]])
            frontier, fowner = frontier[~capped], fowner[~capped]

    # ---- refinement of PARTIAL cells, one batched level at a time
    # (mixed resolutions: capped rings entered coarser than min_res)
    for _ in range(max_res):
        if len(part_c) == 0:
            break
        pent = h3.is_pentagon_arrays(part_c, t)
        kid_counts = np.where(pent, 6, 7)
        children = h3.cells_to_children_next(part_c, t)
        owner_c = np.repeat(part_o, kid_counts)
        # per-ring cap: rings whose cover would overflow emit their
        # parents as partial leaves at their own res and stop
        add = np.bincount(owner_c, minlength=nr)
        over = (out.n + add) > max_cells
        if bool(over.any()):
            capped = over[part_o]
            out.emit(part_c[capped], part_o[capped], _res_of(part_c[capped]), False)
            keep = ~over[owner_c]
            children, owner_c = children[keep], owner_c[keep]
            if len(children) == 0:
                part_c = np.empty(0, dtype=np.int64)
                part_o = np.empty(0, dtype=np.int64)
                break
        child_res = _res_of(children)
        dil = np.where(child_res < max_res, _CHILD_OVERHANG_DILATION, 0.0)
        v = classify_level(children, owner_c, dil)
        full = v == FULL
        out.emit(children[full], owner_c[full], child_res[full], True)
        part = v == PARTIAL
        at_leaf = part & (child_res >= max_res)
        out.emit(children[at_leaf], owner_c[at_leaf], child_res[at_leaf], False)
        keep = part & (child_res < max_res)
        part_c, part_o = children[keep], owner_c[keep]
    out.emit(part_c, part_o, max_res, False)
    return out.arrays()


def h3_cover(ring, min_res: int = 5, max_res: int = 9,
             max_cells: int = 16384) -> np.ndarray:
    """(n, 3) int64 array [h3_cell, res, is_full(0/1)]: compact cover of
    ONE closed lon/lat ring (see _cover_group for semantics)."""
    return h3_cover_batch([ring], min_res, max_res, max_cells)[0]


H3_TILES_SCHEMA = ("url string, airspace_idx int, h3_cell long, h3_res int, "
                   "is_full boolean")


def h3_polygon_tiles(features: DataFrame, min_res: int = 5, max_res: int = 9,
                     max_cells: int = 16384) -> DataFrame:
    """features(url, airspace_idx, ring, ...) -> one row per H3 cover
    cell, through the shared tiles kernel (ops/_cover_common.tiles_map);
    default res range 5-9 is the north-star mandate depth. Each Arrow
    batch covers in ONE h3_cover_arrays call (level-batched across
    polygons)."""
    h3_tables = h3._tables()  # once on the driver; seeded into workers

    def cover(rings):
        h3.seed_tables(h3_tables)
        owner, cell, res, full = h3_cover_arrays(rings, min_res, max_res, max_cells)
        return owner, cell, res.astype(np.int32), full

    return tiles_map(features, H3_TILES_SCHEMA, cover)
