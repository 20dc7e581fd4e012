"""Vectorized point-in-polygon (ray cast), the exact-join kernel behind
the salted broadcast PIP join (north rule).

Even-odd rule with the standard half-open edge convention
(y1 <= y < y2), numpy-vectorized over points x edges. Boundary points
follow the half-open convention deterministically (same convention is
encoded in the DuckDB oracle where PIP joins are oracle-checked on
rectangles, where the convention reduces to closed-left/open-right
range predicates).

`usable_rings` is the one ring decoder behind every cover: the PIP and
raster setup (ops/pip.py) and the tiles kernel (ops/_cover_common.py).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc


def points_in_ring(px, py, ring) -> np.ndarray:
    """Boolean mask: which (px, py) points fall inside the closed ring.

    px, py: (N,) float arrays (lon, lat); ring: (M, 2) closed ring.
    Vectorized as an (N, M-1) crossing matrix — fine for the per-task
    candidate sets the cell join produces (cells bound M and N).
    """
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    ring = np.asarray(ring, dtype=np.float64)
    x1, y1 = ring[:-1, 0], ring[:-1, 1]
    x2, y2 = ring[1:, 0], ring[1:, 1]
    yp = py[:, None]
    xp = px[:, None]
    crosses = ((y1 <= yp) & (yp < y2)) | ((y2 <= yp) & (yp < y1))
    with np.errstate(divide="ignore", invalid="ignore"):
        x_at_y = x1 + (yp - y1) * (x2 - x1) / (y2 - y1)
    hits = crosses & (xp < x_at_y)
    return (hits.sum(axis=1) % 2).astype(bool)


def ring_edges(rings: list) -> tuple[np.ndarray, ...]:
    """(lens, x1, y1, x2, y2) of closed (M, 2) rings: ring i's M-1 edges,
    ring after ring."""
    lens = np.asarray([len(r) - 1 for r in rings], dtype=np.int64)
    if not rings:
        return (lens,) + tuple(np.empty(0) for _ in range(4))
    v = np.concatenate(rings)
    last = np.cumsum(lens + 1) - 1
    first = last - lens
    return (lens, np.delete(v[:, 0], last), np.delete(v[:, 1], last),
            np.delete(v[:, 0], first), np.delete(v[:, 1], first))


RING_TYPE = pa.list_(pa.list_(pa.float64()))


def ring_array(rings) -> pa.Array:
    """A sequence of rings (lists or (M, 2) arrays, or None) as one
    Arrow list<list<double>> array."""
    return pa.array([None if r is None else list(r) for r in rings], RING_TYPE)


def usable_rings(rings) -> tuple[np.ndarray, list[np.ndarray]]:
    """Positions and (M, 2) float arrays of the rings a cover is built
    for. `rings` is an Arrow list<list<double>> column (decoded without
    per-point Python) or any sequence of rings, converted to one first.
    A null ring, one with fewer than 4 points (a closed triangle), or
    one with a point that is not a [lon, lat] pair gets no cover rows,
    so its polygon gets no hits and no tiles."""
    if isinstance(rings, pa.ChunkedArray):
        rings = rings.combine_chunks()
    elif not isinstance(rings, pa.Array):
        rings = ring_array(rings)
    lens = pc.list_value_length(rings).fill_null(0).to_numpy(zero_copy_only=False)
    pair = pc.equal(pc.list_value_length(rings.flatten()), 2).fill_null(False)
    unpaired = np.bincount(np.repeat(np.arange(len(lens)), lens), minlength=len(lens),
                           weights=~pair.to_numpy(zero_copy_only=False))
    pos = np.flatnonzero((lens >= 4) & (unpaired == 0))
    if len(pos) == 0:
        return pos, []
    xy = rings.take(pa.array(pos)).flatten().flatten().to_numpy(zero_copy_only=False)
    return pos, np.split(xy.reshape(-1, 2), np.cumsum(lens[pos])[:-1])


class RingSet:
    """CSR-packed edge arrays for a set of rings, for bulk PIP over
    (point, ring) candidate pairs in ONE numpy pass.

    A per-ring groupby kernel degrades to ~2 rows/group on broadcast
    PIP candidate batches (thousands of polygons), so per-call numpy
    overhead dominates; packing all edges once per worker and expanding
    candidates with repeat/reduceat keeps the work purely vectorized.
    """

    def __init__(self, rings: list):
        """rings: closed (M, 2) rings, addressed by position (ring_idx)."""
        self.lens, self.x1, self.y1, self.x2, self.y2 = ring_edges(
            [np.asarray(r, dtype=np.float64) for r in rings])
        self.starts = np.cumsum(self.lens) - self.lens

    def bboxes(self) -> np.ndarray:
        """(4, R) inclusive bbox per ring: west, south, east, north."""
        if not len(self.lens):
            return np.empty((4, 0))
        s = self.starts
        return np.stack([np.minimum.reduceat(np.minimum(self.x1, self.x2), s),
                         np.minimum.reduceat(np.minimum(self.y1, self.y2), s),
                         np.maximum.reduceat(np.maximum(self.x1, self.x2), s),
                         np.maximum.reduceat(np.maximum(self.y1, self.y2), s)])

    def contains(self, px, py, ring_idx) -> np.ndarray:
        """Even-odd PIP for each (px[i], py[i]) against ring ring_idx[i]."""
        ring_idx = np.asarray(ring_idx, dtype=np.int64)
        return crossing_parity(px, py, self.starts[ring_idx], self.lens[ring_idx],
                               self.x1, self.y1, self.x2, self.y2)


def csr_expand(starts, lens) -> tuple[np.ndarray, np.ndarray]:
    """(row, idx) of a CSR run list: run i expands to rows i and
    indices starts[i] .. starts[i] + lens[i] - 1, run after run."""
    lens = np.asarray(lens, dtype=np.int64)
    cum = np.cumsum(lens)
    idx = np.repeat(np.asarray(starts, dtype=np.int64) - cum + lens, lens)
    return np.repeat(np.arange(len(lens)), lens), idx + np.arange(len(idx))


def crossing_parity(px, py, starts, lens, x1, y1, x2, y2) -> np.ndarray:
    """Even-odd PIP of each (px[i], py[i]) against the edge run
    x1..y2[starts[i] : starts[i] + lens[i]] — a whole ring (RingSet) or
    a cell's edge slice.

    Same half-open crossing convention as points_in_ring, one flat pass
    over sum(lens) expanded (row, edge) pairs."""
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    row, eidx = csr_expand(starts, lens)
    ex1, ey1, ex2, ey2 = x1[eidx], y1[eidx], x2[eidx], y2[eidx]
    yp = py[row]
    crosses = ((ey1 <= yp) & (yp < ey2)) | ((ey2 <= yp) & (yp < ey1))
    with np.errstate(divide="ignore", invalid="ignore"):
        x_at_y = ex1 + (yp - ey1) * (ex2 - ex1) / (ey2 - ey1)
    hits = crosses & (px[row] < x_at_y)
    return np.bincount(row[hits], minlength=len(px)) % 2 == 1
