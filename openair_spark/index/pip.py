"""Vectorized point-in-polygon (ray cast), the exact-join kernel behind
the salted broadcast PIP join (north rule).

Even-odd rule with the standard half-open edge convention
(y1 <= y < y2), numpy-vectorized over points x edges. Boundary points
follow the half-open convention deterministically (same convention is
encoded in the DuckDB oracle where PIP joins are oracle-checked on
rectangles, where the convention reduces to closed-left/open-right
range predicates).
"""

from __future__ import annotations

import numpy as np


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


class RingSet:
    """CSR-packed edge arrays for a set of rings, for bulk PIP over
    (point, ring) candidate pairs in ONE numpy pass.

    A per-ring groupby kernel degrades to ~2 rows/group on broadcast
    PIP candidate batches (thousands of polygons), so per-call numpy
    overhead dominates; packing all edges once per worker and expanding
    candidates with repeat/reduceat keeps the work purely vectorized.
    """

    def __init__(self, rings: dict):
        self._csr(list(rings), *ring_edges(
            [np.asarray(r, dtype=np.float64) for r in rings.values()]))

    @classmethod
    def from_edges(cls, ids, lens, x1, y1, x2, y2) -> "RingSet":
        """RingSet from flat edge arrays sorted ring after ring, in edge
        order: ring ids[i] owns the next lens[i] edges."""
        rs = cls.__new__(cls)
        rs._csr(ids, lens, x1, y1, x2, y2)
        return rs

    def _csr(self, ids, lens, x1, y1, x2, y2) -> None:
        self.ids = list(ids)
        self.idx_of = {pid: i for i, pid in enumerate(self.ids)}
        self.lens = np.asarray(lens, dtype=np.int64)
        self.starts = np.cumsum(self.lens) - self.lens
        self.x1, self.y1, self.x2, self.y2 = (
            np.asarray(a, dtype=np.float64) for a in (x1, y1, x2, y2))

    def contains(self, px, py, ring_idx) -> np.ndarray:
        """Even-odd PIP for each (px[i], py[i]) against ring ring_idx[i].

        Same half-open crossing convention as points_in_ring, one flat
        pass over sum(ring_size) expanded pairs."""
        px = np.asarray(px, dtype=np.float64)
        py = np.asarray(py, dtype=np.float64)
        ring_idx = np.asarray(ring_idx, dtype=np.int64)
        n = len(px)
        if n == 0:
            return np.zeros(0, dtype=bool)
        lens = self.lens[ring_idx]
        # flat edge index per expanded (row, edge) pair: row i expands to
        # starts[ring_idx[i]] + (0 .. lens[i]-1)
        row = np.repeat(np.arange(n), lens)
        cum = np.cumsum(lens)
        within = np.arange(int(cum[-1])) - np.repeat(cum - lens, lens)
        eidx = np.repeat(self.starts[ring_idx], lens) + within
        x1, y1, x2, y2 = self.x1[eidx], self.y1[eidx], self.x2[eidx], self.y2[eidx]
        yp = py[row]
        xp = px[row]
        crosses = ((y1 <= yp) & (yp < y2)) | ((y2 <= yp) & (yp < y1))
        with np.errstate(divide="ignore", invalid="ignore"):
            x_at_y = x1 + (yp - y1) * (x2 - x1) / (y2 - y1)
        hits = (crosses & (xp < x_at_y)).astype(np.int64)
        counts = np.bincount(row, weights=hits, minlength=n)
        return (counts.astype(np.int64) % 2).astype(bool)
