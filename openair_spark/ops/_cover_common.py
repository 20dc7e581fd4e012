"""Shared machinery of the polygon covers and their tiles operators.

The batched H3 and S2 classifiers (ops/h3tiles + ops/s2tiles) share the
per-group ring geometry, the x-strip (cell, own-ring segment) pair
index with proper-crossing tests, the grouped corner-in-ring split and
the ring-group driver. One implementation so a fix to the
crossing/corner logic cannot silently diverge between the two covers.

The quadkey, H3 and S2 tiles operators (ops/tiling, ops/h3tiles,
ops/s2tiles) share one narrow mapInArrow kernel, `tiles_map`.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..index.cover import CoverCells
from ..index.pip import RingSet, points_in_ring, usable_rings

# pair-expansion budget: the CSR expansion materializes
# (chunk_cells x own-ring-segments) index/coordinate temporaries BEFORE
# bbox pruning; chunking by a pair budget (instead of a fixed cell
# count) keeps peak temp memory bounded for arc-heavy rings with
# thousands of segments
_PAIR_BUDGET = 4_000_000
_MIN_CHUNK = 1024
_MAX_CHUNK = 65536


# longitude strips per ring for the candidate-segment index: each ring's
# bbox x-range is split into _N_STRIPS equal strips and every segment is
# registered in the strips its x-interval touches; a cell then gathers
# only the segments of its own x-range's strips — a provable SUPERSET of
# every bbox-overlap pair test downstream (floor-mapping is monotone, so
# overlapping x-intervals always share a strip), so verdicts are exactly
# unchanged while the expanded pair count drops ~7-10x on the bench
# corpus (measured; the dense expansion was the classifiers' base cost).
_N_STRIPS = 16


class RingBatch:
    """CSR geometry of a batch of closed rings: concatenated edges
    (RingSet layout), per-segment bboxes, per-ring bbox and center
    longitude, and the per-ring x-strip segment index."""

    def __init__(self, rings: list):
        self.rings = rings
        self.rs = RingSet(rings)
        rs = self.rs
        self.sxmin = np.minimum(rs.x1, rs.x2)
        self.sxmax = np.maximum(rs.x1, rs.x2)
        self.symin = np.minimum(rs.y1, rs.y2)
        self.symax = np.maximum(rs.y1, rs.y2)
        self.bbox = np.stack([  # (R, 4): w, s, e, n
            np.array([r[:, 0].min() for r in rings]),
            np.array([r[:, 1].min() for r in rings]),
            np.array([r[:, 0].max() for r in rings]),
            np.array([r[:, 1].max() for r in rings]),
        ], axis=1) if rings else np.empty((0, 4))
        self.cx = (self.bbox[:, 0] + self.bbox[:, 2]) / 2.0
        # ---- x-strip segment index
        nr = len(rings)
        K = _N_STRIPS
        self.n_strips = K
        if nr and len(rs.x1):
            w = self.bbox[:, 0]
            self.strip_x0 = w
            self.strip_w = np.maximum(
                (self.bbox[:, 2] - w) / K, 1e-300)
            seg_ring = np.repeat(np.arange(nr), rs.lens)
            k0 = np.clip(((self.sxmin - w[seg_ring])
                          / self.strip_w[seg_ring]).astype(np.int64), 0, K - 1)
            k1 = np.clip(((self.sxmax - w[seg_ring])
                          / self.strip_w[seg_ring]).astype(np.int64), 0, K - 1)
            nspan = k1 - k0 + 1
            seg_rep = np.repeat(np.arange(len(seg_ring)), nspan)
            cum = np.cumsum(nspan)
            within = np.arange(int(cum[-1])) - np.repeat(cum - nspan, nspan)
            slot = seg_ring[seg_rep] * K + k0[seg_rep] + within
            order = np.argsort(slot, kind="stable")
            self.strip_seg = seg_rep[order]
            counts = np.bincount(slot, minlength=nr * K)
            self.strip_off = np.concatenate(
                [[0], np.cumsum(counts)]).astype(np.int64)
        else:
            self.strip_x0 = np.zeros(nr)
            self.strip_w = np.ones(nr)
            self.strip_seg = np.empty(0, dtype=np.int64)
            self.strip_off = np.zeros(nr * K + 1, dtype=np.int64)

    def candidate_pairs(self, owner_chunk: np.ndarray, cxmin: np.ndarray,
                        cxmax: np.ndarray):
        """(crow, seg) pairs restricted to the cells' x-strips — a
        superset (possibly with duplicates) of every (cell, own-ring
        segment) pair whose bboxes overlap in x; all downstream
        bbox/crossing tests still run per pair, so results are exactly
        those of the dense expansion."""
        K = self.n_strips
        o = owner_chunk
        x0 = self.strip_x0[o]
        sw = self.strip_w[o]
        k0 = np.clip(((cxmin - x0) / sw).astype(np.int64), 0, K - 1)
        k1 = np.clip(((cxmax - x0) / sw).astype(np.int64), 0, K - 1)
        # cells with no x-overlap with their ring's bbox have no
        # overlapping segments and no contained vertices at all
        none = (cxmax < self.bbox[o, 0]) | (cxmin > self.bbox[o, 2])
        nst = np.where(none, 0, k1 - k0 + 1)
        cell_rep = np.repeat(np.arange(len(o)), nst)
        cums = np.cumsum(nst)
        total = int(cums[-1]) if len(o) else 0
        within = np.arange(total) - np.repeat(cums - nst, nst)
        slot = o[cell_rep] * K + k0[cell_rep] + within
        cnt = self.strip_off[slot + 1] - self.strip_off[slot]
        crow = np.repeat(cell_rep, cnt)
        cum2 = np.cumsum(cnt)
        total2 = int(cum2[-1]) if len(slot) else 0
        within2 = np.arange(total2) - np.repeat(cum2 - cnt, cnt)
        seg = self.strip_seg[np.repeat(self.strip_off[slot], cnt) + within2]
        return crow, seg

    def chunk_size(self) -> int:
        """Cell-axis chunk honoring the pair budget for this batch's
        longest ring."""
        max_len = int(self.rs.lens.max()) if len(self.rs.lens) else 1
        return int(np.clip(_PAIR_BUDGET // max(1, max_len),
                           _MIN_CHUNK, _MAX_CHUNK))


def _orient(px, py, qx, qy, rx, ry):
    return (qx - px) * (ry - py) - (qy - py) * (rx - px)


def proper_crossings(hx1, hy1, hx2, hy2, crow, seg, rs: RingSet,
                     n_cells: int) -> np.ndarray:
    """(n_cells,) bool: does any of the cell's edges cross OR TOUCH any
    of the gathered (crow, seg) ring segments (d1*d2 <= 0 AND
    d3*d4 <= 0 — the non-strict test, ADVICE r4).

    Counting touching/collinear contact as a crossing is what makes the
    cheap corner-0 decision in corner_split safe: the only way a cell
    with mixed-in/out corners can lack a STRICT crossing is a ring
    vertex V lying exactly on a cell edge with the boundary entering
    the interior through V. But then the ring segment (V, W) with W
    off the edge line has d1 = orient(edge, V) = 0 (so d1*d2 <= 0) and,
    since V lies on the edge between its endpoints (or on a corner,
    where d3 = 0), the segment's line separates — or contains — an
    endpoint, giving d3*d4 <= 0. Every such contact is therefore
    flagged here and the cell classifies PARTIAL, never OUTSIDE/FULL.
    The flip side is benign: a ring merely grazing a cell from outside
    now also classifies PARTIAL (a conservative superset; FULL->PARTIAL
    only means the exact PIP test runs where it could have been
    skipped, and such contacts are measure-zero for float data).

    Touch detection is the exact segment-intersection rule (strict
    straddle OR an endpoint collinear AND inside the other segment's
    bbox) — NOT the naive d1*d2<=0 & d3*d4<=0 product test, which
    false-positives on DISJOINT collinear segments (all four
    orientations zero; synthetic DP rectangles share lat/lon lines with
    far-away cell edges, so that overcount would bloat covers)."""
    crossing = np.zeros(n_cells, dtype=bool)
    if len(crow) == 0:
        return crossing
    ax1, ay1 = hx1[crow], hy1[crow]                 # (P, V)
    ax2, ay2 = hx2[crow], hy2[crow]
    bx1, by1 = rs.x1[seg][:, None], rs.y1[seg][:, None]
    bx2, by2 = rs.x2[seg][:, None], rs.y2[seg][:, None]
    d1 = _orient(ax1, ay1, ax2, ay2, bx1, by1)
    d2 = _orient(ax1, ay1, ax2, ay2, bx2, by2)
    d3 = _orient(bx1, by1, bx2, by2, ax1, ay1)
    d4 = _orient(bx1, by1, bx2, by2, ax2, ay2)

    def _on_seg(px1, py1, px2, py2, qx, qy):
        # given q collinear with segment p, is q within p's bbox?
        return ((qx >= np.minimum(px1, px2)) & (qx <= np.maximum(px1, px2))
                & (qy >= np.minimum(py1, py2)) & (qy <= np.maximum(py1, py2)))

    hit = (d1 * d2 < 0) & (d3 * d4 < 0)
    hit |= (d1 == 0) & _on_seg(ax1, ay1, ax2, ay2, bx1, by1)
    hit |= (d2 == 0) & _on_seg(ax1, ay1, ax2, ay2, bx2, by2)
    hit |= (d3 == 0) & _on_seg(bx1, by1, bx2, by2, ax1, ay1)
    hit |= (d4 == 0) & _on_seg(bx1, by1, bx2, by2, ax2, ay2)
    hit = hit.any(axis=1)
    crossing[crow[hit]] = True
    return crossing


def corner_split(hx1, hy1, partial: np.ndarray, owner: np.ndarray,
                 rings: list, nv: int):
    """(all_in, any_in) for cells not already PARTIAL. Corner 0 alone
    decides: proper_crossings counts touching contact, so a non-partial
    cell's boundary has NO contact with the ring boundary and no ring
    vertex sits inside the cell — a connected ring path cannot reach
    the cell interior without crossing (or touching) a cell edge, hence
    the whole cell lies on one side of the ring and every corner shares
    corner 0's parity (see the proper_crossings docstring for why
    vertex-through-edge contact is flagged too; ADVICE r4). The former
    remaining-corner verification was therefore pure redundancy — it
    re-ray-cast (nv-1) corners per inside cell for a bit that corner 0
    already determined (round-6 kernel profile: ~10% of the whole cover
    leg) — and is removed; equality of the resulting covers over the
    full bench corpus is asserted by tests/test_properties.py.
    Grouped per-owner 2D ray casts — ~2x the CSR RingSet path at cover
    batch sizes."""
    m = len(partial)
    rows = np.nonzero(~partial)[0]
    all_in = np.zeros(m, dtype=bool)
    any_in = np.zeros(m, dtype=bool)
    if len(rows):
        c0 = np.zeros(len(rows), dtype=bool)
        orow = owner[rows]
        for ov in np.unique(orow):
            mg = orow == ov
            c0[mg] = points_in_ring(hx1[rows[mg], 0], hy1[rows[mg], 0],
                                    rings[ov])
        in_rows = rows[c0]
        all_in[in_rows] = True
        any_in[in_rows] = True
    return all_in, any_in


def cover_groups(cover_group, rings: list, size: int, *args) -> tuple[np.ndarray, ...]:
    """Flat (owner, cell, res, is_full) arrays, sorted by owner, of
    `cover_group(rings[s:s + size], *args)` over groups of `size` rings:
    level-batched kernels amortize numpy call overhead across a group
    while each level's working set stays cache-sized."""
    starts = range(0, len(rings), size)
    parts = [cover_group(rings[s:s + size], *args) for s in starts]
    if not parts:
        return CoverCells(0).arrays()
    owner = np.concatenate([part[0] + s for part, s in zip(parts, starts)])
    return (owner, *(np.concatenate(a) for a in list(zip(*parts))[1:]))


def tiles_map(features: DataFrame, schema: str, cover) -> DataFrame:
    """The one tiles kernel: features(url, airspace_idx, ring, success,
    geometry_type, ...) -> one row per cover cell, as a narrow
    mapInArrow (no shuffle; a mega-polygon becomes many bounded cell
    rows). Each Arrow batch's usable rings go to ONE `cover(rings)`
    call, which returns (owner, *columns): the owning ring's position
    per cell, then the grid's columns in `schema` order after url and
    airspace_idx. Those two are gathered by Arrow `take`, so no Python
    object is made per cell."""
    src = (features.where(F.col("success") & (F.col("geometry_type") == "Polygon"))
           .select("url", "airspace_idx", "ring"))
    names = [c.split()[0] for c in schema.split(", ")]

    def kernel(batches):
        for rb in batches:
            pos, rings = usable_rings(rb.column("ring"))
            if rings:
                owner, *cols = cover(rings)
                row = pa.array(pos[owner])
                yield pa.RecordBatch.from_arrays(
                    [rb.column("url").take(row),
                     rb.column("airspace_idx").take(row).cast(pa.int32()),
                     *map(pa.array, cols)], names=names)

    return src.mapInArrow(kernel, schema)
