"""S2 cell ids from scratch (published S2 geometry spec).

Pipeline: (lat, lon) -> unit XYZ -> cube face (largest |axis|) ->
face (u, v) -> quadratic ST transform -> leaf (i, j) at 2^30 ->
64-bit cell id via the face-interleaved Hilbert curve.

Everything is vectorized numpy (the point->cell path runs over billions
of rows inside pandas UDFs). The Hilbert traversal uses the canonical
per-level orientation automaton:

    position-in-curve for child (i,j) given orientation o:
        pos = IJ_TO_POS[o][2*i_bit + j_bit]
        o  ^= POS_TO_ORIENTATION[pos]

with SWAP=1, INVERT=2, POS_TO_ORIENTATION = [SWAP, 0, 0, INVERT|SWAP],
POS_TO_IJ = [[0,1,3,2],[0,2,3,1],[3,2,0,1],[3,1,0,2]].

Cell id layout (64 bits): 3 face bits, 2*level position bits, then a
trailing 1 "sentinel" bit, zero-padded.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

MAX_LEVEL = 30

SWAP = 1
INVERT = 2
POS_TO_ORIENTATION = np.array([SWAP, 0, 0, INVERT | SWAP], dtype=np.int64)
POS_TO_IJ = np.array(
    [[0, 1, 3, 2], [0, 2, 3, 1], [3, 2, 0, 1], [3, 1, 0, 2]], dtype=np.int64
)
# inverse: IJ_TO_POS[orientation][ij] -> position
IJ_TO_POS = np.zeros((4, 4), dtype=np.int64)
for _o in range(4):
    for _p in range(4):
        IJ_TO_POS[_o][POS_TO_IJ[_o][_p]] = _p


def latlon_to_xyz(lat_deg, lon_deg):
    lat = np.radians(np.asarray(lat_deg, dtype=np.float64))
    lon = np.radians(np.asarray(lon_deg, dtype=np.float64))
    cos_lat = np.cos(lat)
    return np.cos(lon) * cos_lat, np.sin(lon) * cos_lat, np.sin(lat)


def xyz_to_face_uv(x, y, z):
    ax, ay, az = np.abs(x), np.abs(y), np.abs(z)
    face = np.where(ax >= ay, np.where(ax >= az, 0, 2), np.where(ay >= az, 1, 2))
    face = face + np.where(
        np.select([face == 0, face == 1], [x, y], z) < 0, 3, 0
    )
    # (u, v) per face — canonical spec conventions (faceXYZtoUV):
    #   f0 (+x): ( y/x,  z/x)   f1 (+y): (-x/y,  z/y)   f2 (+z): (-x/z, -y/z)
    #   f3 (-x): ( z/x,  y/x)   f4 (-y): ( z/y, -x/y)   f5 (-z): (-y/z, -x/z)
    # the dominant axis is the denominator on every face, so u, v are
    # always within [-1, 1]; np.select evaluates every branch, so
    # non-selected zero/near-zero denominators must not warn (overflow
    # included: a tiny non-selected denominator overflows the divide)
    with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
        u = np.select(
            [face == 0, face == 1, face == 2, face == 3, face == 4],
            [y / x, -x / y, -x / z, z / x, z / y],  # face 5 handled by default
            default=-y / z,
        )
        v = np.select(
            [face == 0, face == 1, face == 2, face == 3, face == 4],
            [z / x, z / y, -y / z, y / x, -x / y],
            default=-x / z,
        )
    return face.astype(np.int64), u, v


def face_uv_to_xyz(face: int, u, v):
    """Inverse of xyz_to_face_uv (unnormalized direction vector)."""
    u = np.asarray(u, dtype=np.float64)
    v = np.asarray(v, dtype=np.float64)
    one = np.ones_like(u)
    if face == 0:
        return one, u, v
    if face == 1:
        return -u, one, v
    if face == 2:
        return -u, -v, one
    if face == 3:
        return -one, -v, -u
    if face == 4:
        return v, -one, -u
    return v, u, -one


def uv_to_st(u):
    """Quadratic projection (the spec's recommended transform)."""
    u = np.asarray(u, dtype=np.float64)
    # clamp each branch's argument: np.where evaluates both branches
    # eagerly, and sqrt of the wrong-sign branch would warn on NaN
    pos = 0.5 * np.sqrt(1.0 + 3.0 * np.maximum(u, 0.0))
    neg = 1.0 - 0.5 * np.sqrt(1.0 - 3.0 * np.minimum(u, 0.0))
    return np.where(u >= 0, pos, neg)


def st_to_uv(s):
    s = np.asarray(s, dtype=np.float64)
    return np.where(s >= 0.5, (1.0 / 3.0) * (4.0 * s * s - 1.0), (1.0 / 3.0) * (1.0 - 4.0 * (1.0 - s) * (1.0 - s)))


def st_to_ij(s, level: int = MAX_LEVEL):
    n = 1 << level
    return np.clip((np.asarray(s) * n).astype(np.int64), 0, n - 1)


def face_ij_to_cell_id(face, i, j, level: int = MAX_LEVEL):
    """Hilbert-encode (face, i, j) at `level` into the 64-bit cell id."""
    face = np.asarray(face, dtype=np.int64)
    i = np.asarray(i, dtype=np.int64)
    j = np.asarray(j, dtype=np.int64)
    orientation = face & SWAP
    pos = np.zeros_like(face, dtype=np.uint64)
    for k in range(level - 1, -1, -1):
        i_bit = (i >> k) & 1
        j_bit = (j >> k) & 1
        ij = 2 * i_bit + j_bit
        p = IJ_TO_POS[orientation, ij]
        pos = (pos << np.uint64(2)) | p.astype(np.uint64)
        orientation = orientation ^ POS_TO_ORIENTATION[p]
    # layout: 3 face bits | 2*level pos bits | 1 sentinel | zeros
    shift = np.uint64(64 - 3 - 2 * level)
    cell = (face.astype(np.uint64) << np.uint64(61)) | (pos << shift)
    cell |= np.uint64(1) << np.uint64(64 - 3 - 2 * level - 1)
    return cell.astype(np.int64)  # two's complement; Spark LongType


def cell_id(lat_deg, lon_deg, level: int):
    """Vectorized (lat, lon) -> S2 cell id at `level`."""
    x, y, z = latlon_to_xyz(lat_deg, lon_deg)
    face, u, v = xyz_to_face_uv(x, y, z)
    i = st_to_ij(uv_to_st(u), level)
    j = st_to_ij(uv_to_st(v), level)
    return face_ij_to_cell_id(face, i, j, level)


def cell_level(cell) -> np.ndarray:
    """Level from the sentinel (lowest set) bit."""
    c = np.asarray(cell, dtype=np.uint64)
    lsb = c & (~c + np.uint64(1))
    # sentinel at bit b -> level = (61 - b) / 2
    b = np.zeros_like(c)
    tmp = lsb.copy()
    for shift in (32, 16, 8, 4, 2, 1):
        mask = tmp >= (np.uint64(1) << np.uint64(shift))
        b = np.where(mask, b + np.uint64(shift), b)
        tmp = np.where(mask, tmp >> np.uint64(shift), tmp)
    return ((np.uint64(61) - b) // np.uint64(2)).astype(np.int64)


def parent(cell, level: int):
    """Ancestor at `level` (spec: clear trailing bits, set new sentinel)."""
    c = np.asarray(cell, dtype=np.uint64)
    new_lsb = np.uint64(1) << np.uint64(64 - 3 - 2 * level - 1)
    return ((c & ~(new_lsb - np.uint64(1))) | new_lsb).astype(np.int64)


def cell_token(cell) -> str:
    """Canonical hex token of a scalar cell id."""
    return format(int(np.asarray(cell).item()) & 0xFFFFFFFFFFFFFFFF, "016x").rstrip("0") or "0"


_HEX = np.frombuffer(b"0123456789abcdef", dtype=np.uint8)


def cell_tokens(cells) -> pa.Array:
    """cell_token of many (signed or unsigned) ids, as an Arrow string
    array built without a Python object per id."""
    c = np.asarray(cells).astype(np.uint64)
    nibbles = (c[:, None] >> np.arange(60, -1, -4, dtype=np.uint64)) & np.uint64(15)
    hexes = np.ascontiguousarray(_HEX[nibbles.astype(np.intp)]).view("S16").ravel()
    tok = pc.utf8_rtrim(pa.array(hexes).cast(pa.string()), characters="0")
    return pc.if_else(pc.equal(tok, ""), "0", tok)


def decode(cell) -> tuple:
    """Scalar cell id -> (face, i, j, level): inverse Hilbert walk using
    the same orientation automaton as the forward encode. Accepts signed
    (two's-complement int64, as emitted by cell_id) or unsigned ints."""
    c = int(cell) & 0xFFFFFFFFFFFFFFFF
    level = int(np.asarray(cell_level(c)).item())
    face = c >> 61
    pos = (c >> (64 - 3 - 2 * level)) & ((1 << (2 * level)) - 1)
    orientation = face & SWAP
    i = j = 0
    for k in range(level):
        p = (pos >> (2 * (level - 1 - k))) & 3
        ij = int(POS_TO_IJ[orientation][p])
        i = (i << 1) | (ij >> 1)
        j = (j << 1) | (ij & 1)
        orientation ^= int(POS_TO_ORIENTATION[p])
    return face, i, j, level


def cell_center_latlon(cell) -> tuple:
    face, i, j, level = decode(cell)
    s = (i + 0.5) / (1 << level)
    t = (j + 0.5) / (1 << level)
    x, y, z = face_uv_to_xyz(face, st_to_uv(s), st_to_uv(t))
    lat = float(np.degrees(np.arctan2(z, np.hypot(x, y))))
    lon = float(np.degrees(np.arctan2(y, x)))
    return lat, lon


def children(cell) -> list:
    """The 4 child cell ids as UNSIGNED python ints (quadtree: children
    partition the parent's territory exactly). Use to_signed() before
    storing in an int64 column."""
    c = int(cell) & 0xFFFFFFFFFFFFFFFF
    lsb = c & (-c & 0xFFFFFFFFFFFFFFFF)
    new_lsb = lsb >> 2
    return [(c - lsb + new_lsb) + 2 * q * new_lsb for q in range(4)]


def range_min_max(cell) -> tuple:
    """UNSIGNED leaf-id range covered by the cell — containment tests
    are pure integer range checks (quadtree ids are contiguous per
    subtree in unsigned id space; compare unsigned to unsigned)."""
    c = int(cell) & 0xFFFFFFFFFFFFFFFF
    lsb = c & (-c & 0xFFFFFFFFFFFFFFFF)
    return c - (lsb - 1), c + (lsb - 1)


def to_signed(cell: int) -> int:
    """Unsigned 64-bit id -> two's-complement int64 (Spark LongType)."""
    cell &= 0xFFFFFFFFFFFFFFFF
    return cell - (1 << 64) if cell >= (1 << 63) else cell


# ------------------------------------------------- vectorized cover kernels


def faces_uv_to_xyz(face, u, v):
    """face_uv_to_xyz with a per-element `face` array."""
    face = np.asarray(face, dtype=np.int64)
    u = np.asarray(u, dtype=np.float64)
    v = np.asarray(v, dtype=np.float64)
    one = np.ones_like(u)
    x = np.select([face == 0, face == 1, face == 2, face == 3, face == 4],
                  [one, -u, -u, -one, v], default=v)
    y = np.select([face == 0, face == 1, face == 2, face == 3, face == 4],
                  [u, one, -v, -v, -one], default=u)
    z = np.select([face == 0, face == 1, face == 2, face == 3, face == 4],
                  [v, v, one, -u, -u], default=-one)
    return x, y, z


def decode_arrays(cells, level: int):
    """Vectorized inverse Hilbert walk for an array of UNSIGNED uint64
    ids, all at the same `level` -> (face, i, j) int64 arrays."""
    c = np.asarray(cells, dtype=np.uint64)
    face = (c >> np.uint64(61)).astype(np.int64)
    pos = (c >> np.uint64(64 - 3 - 2 * level)) & np.uint64((1 << (2 * level)) - 1)
    orientation = face & SWAP
    i = np.zeros(len(c), dtype=np.int64)
    j = np.zeros(len(c), dtype=np.int64)
    for k in range(level):
        p = ((pos >> np.uint64(2 * (level - 1 - k))) & np.uint64(3)).astype(np.int64)
        ij = POS_TO_IJ[orientation, p]
        i = (i << 1) | (ij >> 1)
        j = (j << 1) | (ij & 1)
        orientation = orientation ^ POS_TO_ORIENTATION[p]
    return face, i, j


def cells_corners_latlon(cells, level: int):
    """(n, 4, 2) [lon, lat] corner quads (ccw in st space), vectorized;
    `cells` are unsigned uint64 ids all at `level`."""
    face, i, j = decode_arrays(cells, level)
    n = 1 << level
    s0, s1 = i / n, (i + 1) / n
    t0, t1 = j / n, (j + 1) / n
    ss = np.stack([s0, s1, s1, s0], axis=-1)
    tt = np.stack([t0, t0, t1, t1], axis=-1)
    x, y, z = faces_uv_to_xyz(np.repeat(face, 4),
                              st_to_uv(ss.ravel()), st_to_uv(tt.ravel()))
    lon = np.degrees(np.arctan2(y, x))
    lat = np.degrees(np.arctan2(z, np.hypot(x, y)))
    return np.stack([lon, lat], axis=-1).reshape(len(face), 4, 2)


def children_arrays(cells):
    """All 4 children of each unsigned id, concatenated (n*4,) uint64."""
    c = np.asarray(cells, dtype=np.uint64)
    lsb = c & (~c + np.uint64(1))
    nl = lsb >> np.uint64(2)
    base = c - lsb + nl
    return (base[:, None]
            + np.uint64(2) * np.arange(4, dtype=np.uint64)[None, :]
            * nl[:, None]).ravel()


def range_min_max_arrays(cells):
    """(lo, hi) unsigned leaf-id range arrays of each unsigned id."""
    c = np.asarray(cells, dtype=np.uint64)
    lsb = c & (~c + np.uint64(1))
    return c - (lsb - np.uint64(1)), c + (lsb - np.uint64(1))
