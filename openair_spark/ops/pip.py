"""Salted broadcast point-in-polygon join (north rule).

Plan shape (for 10^12 points x ~10^5 polygons):

  polygons --one Arrow setup--> one row per usable ring, in input order:
           (polygon_id, ring, cells, full), the ring's cover as two
           aligned lists (polygon_setup: one mapInArrow on the executors
           for a DataFrame, collected with toArrow; the same function
           on the driver for a list)
  driver   ProbeIndex: a row's position is its polygon_idx; sorted int64
           cell keys with CSR postings of (polygon_idx, is_full), per-
           polygon bbox, the RingSet from the ring column and the ids
           column as an Arrow string array    [one broadcast variable]
  points   --one mapInArrow--> each point's cells at the resolutions
           the index uses (quadkey.cell_id, bit-equal to the SQL
           expression), searchsorted probe, inclusive bbox test, FULL
           postings pass, PARTIAL ones run the crossing parity; the
           batch's rows are emitted with polygon_id by Arrow take
                                                  [NO join, NO shuffle]

ops/raster.py::assign_tiles runs the same probe over tiles at one
resolution, testing the tile centre.

Skew: the broadcast plan has no shuffle; hot cells are spread over the
point scan's partitions. The shuffle variant (`pip_join_shuffle`, for
polygon sides too big to broadcast) repartitions points by (cell, salt)
with the polygon cells replicated per salt, and every PARTIAL cell
carries only the edges a point in it can cross, so a mega-polygon's
exact work spreads over its boundary cells.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from ..index import quadkey
from ..index.cover import _PAIR_BUDGET, cover_arrays
from ..index.pip import RingSet, crossing_parity, csr_expand, ring_array, usable_rings

# Cover band for the PIP probe index. min 7 (not the tile mandate's 5):
# every cover resolution the index USES adds one probe per point, so a
# few coarse res-5/6 FULL cells taxed every point with two extra probes
# (10M instead of 6M for 2M points on the bench corpus). At min 7
# polygon interiors compact to res-7 FULL cells instead — same is_full
# ray-cast skip — up to the per-ring cell cap; measured: identical index
# size at the 10x corpus (401,112 vs 401,116 rows), small consistent win
# at sf0.1. Hit sets identical either way — the cover res band is an
# internal knob of the candidate probe, not part of the result.
MIN_RES = 7
MAX_RES = 9


def polygon_setup(rb: pa.RecordBatch, min_res: int, max_res: int) -> pa.RecordBatch:
    """A (polygon_id, ring) batch -> one row per usable ring, in input
    order: its id, its ring, and its cover cells with their is_full
    flags as two aligned lists. Rows that share an id stay separate
    rings, so each one's hits count on their own."""
    pos, arrs = usable_rings(rb.column("ring"))
    owner, cell, is_full = cover_arrays(arrs, min_res=min_res, max_res=max_res)
    offsets = pa.array(np.searchsorted(owner, np.arange(len(arrs) + 1)), pa.int32())
    take = pa.array(pos, pa.int64())
    return pa.RecordBatch.from_arrays(
        [rb.column("polygon_id").take(take), rb.column("ring").take(take),
         pa.ListArray.from_arrays(offsets, pa.array(cell, pa.int64())),
         pa.ListArray.from_arrays(offsets, pa.array(is_full, pa.bool_()))],
        names=["polygon_id", "ring", "cells", "full"])


def setup_table(polygons, min_res: int, max_res: int) -> pa.Table:
    """polygon_setup over a polygon DataFrame (one mapInArrow on the
    executors, collected as Arrow) or a driver-side [{'polygon_id',
    'ring'}] list (run here)."""
    if isinstance(polygons, DataFrame):
        return polygons.select("polygon_id", "ring").mapInArrow(
            lambda batches: (polygon_setup(rb, min_res, max_res) for rb in batches),
            "polygon_id string, ring array<array<double>>, cells array<bigint>, "
            "full array<boolean>").toArrow()
    batch = pa.RecordBatch.from_arrays(
        [pa.array([p["polygon_id"] for p in polygons], pa.string()),
         ring_array([p["ring"] for p in polygons])], names=["polygon_id", "ring"])
    return pa.Table.from_batches([polygon_setup(batch, min_res, max_res)])


class ProbeIndex:
    """The whole broadcast side of pip_join and assign_tiles, shipped
    once as one broadcast variable (unpickled once per Python worker).

    Built from a setup_table: a row's position is its polygon_idx.
    Cover cells are sorted int64 keys with CSR postings of (polygon_idx,
    is_full), probed by searchsorted: a sorted-array probe holds the
    index in flat arrays at a log-time lookup, the memory side of the
    sorted-vs-hash trade-off. The hot path carries the int polygon_idx;
    the id string is only materialized for hits, by Arrow take."""

    def __init__(self, setup: pa.Table):
        cells = setup.column("cells").combine_chunks()
        lens = pc.list_value_length(cells).to_numpy(zero_copy_only=False)
        cell = cells.flatten().to_numpy()
        order = np.argsort(cell, kind="stable")
        self.keys, first = np.unique(cell[order], return_index=True)
        self.offsets = np.r_[first, len(cell)].astype(np.int64)
        self.poly = np.repeat(np.arange(len(lens), dtype=np.int64), lens)[order]
        full = setup.column("full").combine_chunks().flatten()
        self.full = full.to_numpy(zero_copy_only=False)[order]
        self.resolutions = sorted({int(r) for r in self.keys >> quadkey._RES_SHIFT})
        _, arrs = usable_rings(setup.column("ring"))
        self.rs = RingSet(arrs)
        self.bbox = self.rs.bboxes()
        self.ids = setup.column("polygon_id").combine_chunks()

    def hits(self, keys, rows, px, py, box: bool = True):
        """(rows, polygon_idx) of every hit: rows[i]'s probe key keys[i]
        matched a posting and its point (px, py)[rows[i]] passes the
        posting — FULL, or inside by crossing parity. box applies the
        inclusive polygon bbox test before both."""
        empty = np.zeros(0, dtype=np.int64)
        if not len(self.keys) or not len(keys):
            return empty, empty
        pos = np.minimum(np.searchsorted(self.keys, keys), len(self.keys) - 1)
        found = self.keys[pos] == keys
        pos = pos[found]
        i, post = csr_expand(self.offsets[pos], self.offsets[pos + 1] - self.offsets[pos])
        rows, poly = rows[found][i], self.poly[post]
        x, y = px[rows], py[rows]
        if box:
            west, south, east, north = self.bbox[:, poly]
            inb = np.flatnonzero((x >= west) & (x <= east) & (y >= south) & (y <= north))
            rows, poly, post, x, y = rows[inb], poly[inb], post[inb], x[inb], y[inb]
        keep = self.full[post].copy()
        part = np.flatnonzero(~keep)
        keep[part] = self.rs.contains(x[part], y[part], poly[part])
        return rows[keep], poly[keep]


def probe_join(df: DataFrame, index: ProbeIndex, probe, box: bool = True) -> DataFrame:
    """df's rows + polygon_id for every hit of `index`, in one
    mapInArrow. probe(record_batch, resolutions) -> (keys, rows, px, py)
    gives each row's probe keys and test point."""
    index_b = df.sparkSession.sparkContext.broadcast(index)
    names = df.schema.fieldNames() + ["polygon_id"]

    def kernel(batches):
        ix: ProbeIndex = index_b.value
        for rb in batches:
            rows, poly = ix.hits(*probe(rb, ix.resolutions), box=box)
            if len(rows):
                yield pa.RecordBatch.from_arrays(
                    rb.take(pa.array(rows)).columns + [ix.ids.take(pa.array(poly))],
                    names=names)

    return df.mapInArrow(kernel, StructType(
        df.schema.fields + [StructField("polygon_id", StringType())]))


# routing decision of the most recent pip_join call ("broadcast" |
# "shuffle") — introspection hook for tests and ops debugging
LAST_ROUTE: str | None = None

# Broadcast cap for the polygon side, in total ring edges. Each edge
# costs ~32 B in the RingSet broadcast (4 float64) plus cover-index
# rows; 4M edges ~ 128 MB broadcast — roughly Spark's own 8G-executor
# comfort zone for autoBroadcastJoinThreshold-style decisions. Beyond
# it, pip_join auto-routes to the salted shuffle variant instead of
# OOMing the driver on the ring-set collect (the round-4 100x-scale seam).
DEFAULT_MAX_BROADCAST_EDGES = 4_000_000


def pip_join(points: DataFrame, polygons, lat_col: str = "lat", lon_col: str = "lon",
             max_broadcast_edges: int = DEFAULT_MAX_BROADCAST_EDGES) -> DataFrame:
    """PIP join: returns points columns + polygon_id for every
    (point, polygon) containment pair.

    polygons: either a DataFrame(polygon_id string, ring array<array<double>>)
    or a driver-side list [{'polygon_id', 'ring'}] for small sets.

    Routing: a DataFrame polygon side is sized first (one cheap edge-sum
    aggregate that also fills the persist). At or under
    `max_broadcast_edges` total edges the broadcast plan runs (cover
    computed executor-side, one ProbeIndex broadcast, one point-side
    mapInArrow, NO shuffle); above it the salted shuffle plan
    (`pip_join_shuffle`) runs instead — the polygon side never
    materializes on the driver. Both produce identical (point,
    polygon_id) hit sets. Points with a null or NaN coordinate get no
    hits."""
    global LAST_ROUTE

    # Materialize the polygon side ONCE. The upstream plan may be an
    # expensive Arrow parse (pages -> features); without a persist, the
    # sizing aggregate and the setup collect would each re-execute it.
    if isinstance(polygons, DataFrame):
        polys_persisted = polygons.select("polygon_id", "ring").persist()
        n_edges = polys_persisted.agg(
            F.sum(F.size("ring") - 1).alias("e")).collect()[0]["e"] or 0
        if n_edges > max_broadcast_edges:
            LAST_ROUTE = "shuffle"
            # pip_join_shuffle materializes the cells at once, after
            # which the input persist is no longer read
            hits = pip_join_shuffle(points, polygon_cells_at_res(polys_persisted, res=7),
                                    lat_col=lat_col, lon_col=lon_col, res=7)
            polys_persisted.unpersist()
            return hits.drop("cell")
        setup = setup_table(polys_persisted, MIN_RES, MAX_RES)
        polys_persisted.unpersist()
    else:
        setup = setup_table(polygons, MIN_RES, MAX_RES)
    LAST_ROUTE = "broadcast"

    def point_probe(rb, resolutions):
        lon, lat = (np.asarray(rb.column(c).to_numpy(zero_copy_only=False), dtype=np.float64)
                    for c in (lon_col, lat_col))
        ok = np.flatnonzero(~(np.isnan(lon) | np.isnan(lat)))
        keys = [quadkey.cell_id(lat[ok], lon[ok], r) for r in resolutions]
        return np.concatenate([ok[:0], *keys]), np.tile(ok, len(resolutions)), lon, lat

    return probe_join(points, ProbeIndex(setup), point_probe)


# Slack on a slice's cell bounds, in degrees: a point's floor-computed
# cell and the crossing abscissa x_at_y can each be off by an ulp
# (~1e-13 deg at |x| <= 360), so an edge within the slack is kept.
_SLICE_SLACK = 1e-9


def edge_slices(rs: RingSet, owner, cell) -> tuple[np.ndarray, np.ndarray]:
    """(counts, edge_idx): for each cover cell cell[i] of ring owner[i],
    the indices into rs's edge arrays of the edges a point in that cell
    can cross, cell after cell.

    The half-open crossing test counts an edge only if the point's y is
    in the edge's y-range (so a horizontal edge never counts) and the
    point's x is below the edge's crossing abscissa, which is at most
    the edge's max x. So an edge whose y-range misses the cell's
    latitude span, or whose max x is west of the cell, cannot cross the
    ray of any point in the cell, and parity over the slice equals
    parity over the whole ring. Cells on the grid's outer rows and
    column take points clamped from outside [-90, 90] x [-180, ...], so
    their spans are open on that side."""
    owner = np.asarray(owner, dtype=np.int64)
    cell = np.asarray(cell, dtype=np.int64)
    res, nx, ny = quadkey.decode(cell)
    west, south, _, north = quadkey.cell_bounds(cell)
    top = (np.int64(1) << res) - 1
    west = np.where(nx == 0, -np.inf, west - _SLICE_SLACK)
    south = np.where(ny == 0, -np.inf, south - _SLICE_SLACK)
    north = np.where(ny == top, np.inf, north + _SLICE_SLACK)
    ymin, ymax = np.minimum(rs.y1, rs.y2), np.maximum(rs.y1, rs.y2)
    xmax = np.maximum(rs.x1, rs.x2)
    lens = rs.lens[owner]
    cum = np.cumsum(lens)
    cells, edges = [np.zeros(0, dtype=np.int64)], [np.zeros(0, dtype=np.int64)]
    start = 0
    while start < len(cell):
        stop = max(start + 1, int(np.searchsorted(cum, cum[start] - lens[start] + _PAIR_BUDGET,
                                                  side="right")))
        ci, e = csr_expand(rs.starts[owner[start:stop]], lens[start:stop])
        ci += start
        keep = ((ymin[e] < ymax[e]) & (ymax[e] >= south[ci]) & (ymin[e] <= north[ci])
                & (xmax[e] >= west[ci]))
        cells.append(ci[keep])
        edges.append(e[keep])
        start = stop
    return np.bincount(np.concatenate(cells), minlength=len(cell)), np.concatenate(edges)


_CELLS_COLS = ["cell", "polygon_id", "is_full", "west", "south", "east", "north", "edges"]
_CELLS_SCHEMA = ("cell long, polygon_id string, is_full boolean, west double, "
                 "south double, east double, north double, edges array<double>")


def polygon_cells_at_res(polygons: DataFrame, res: int = 7) -> DataFrame:
    """Executor-parallel shuffle-join input: polygons(polygon_id, ring)
    -> (cell, polygon_id, is_full, west..north ring bbox, edges): the
    cover pinned to min=max=res, so every intersecting res-`res` cell
    gets one row. A PARTIAL row's `edges` is its cell's edge slice
    (edge_slices), flattened as (x1, y1, x2, y2) per edge, so the
    shuffle route tests a candidate against its own cell's slice with
    no ring materialized anywhere; a FULL row's is empty."""

    def kernel(batches):
        for rb in batches:
            pos, arrs = usable_rings(rb.column("ring"))
            owner, cell, is_full = cover_arrays(arrs, min_res=res, max_res=res)
            rs = RingSet(arrs)
            part = np.flatnonzero(~is_full)
            counts, eidx = edge_slices(rs, owner[part], cell[part])
            lens = np.zeros(len(cell), dtype=np.int64)
            lens[part] = 4 * counts
            flat = np.stack([rs.x1[eidx], rs.y1[eidx], rs.x2[eidx], rs.y2[eidx]], axis=1)
            edges = pa.ListArray.from_arrays(
                pa.array(np.r_[0, np.cumsum(lens)].astype(np.int32)),
                pa.array(flat.ravel(), pa.float64()))
            bbox = rs.bboxes()[:, owner]
            yield pa.RecordBatch.from_arrays(
                [pa.array(cell, pa.int64()),
                 rb.column("polygon_id").take(pa.array(pos[owner], pa.int64())),
                 pa.array(is_full, pa.bool_()), *(pa.array(b, pa.float64()) for b in bbox),
                 edges], names=_CELLS_COLS)

    return polygons.select("polygon_id", "ring").mapInArrow(kernel, _CELLS_SCHEMA)


def auto_salt(polygon_cells: DataFrame, cap: int = 32) -> int:
    """Derive the shuffle-salt count from the cell histogram instead of
    guessing: a (cell, salt) reducer's work scales with the polygons
    sharing its cell, so the max/median cell occupancy IS the skew
    factor. One cheap agg over the (already small) polygon-cells side."""
    row = (
        polygon_cells.groupBy("cell").agg(F.count("*").alias("n"))
        .agg(F.max("n").alias("mx"),
             F.expr("percentile_approx(n, 0.5)").alias("med"))
        .collect()[0]
    )
    if row["mx"] is None:
        return 1
    return int(max(1, min(cap, round(float(row["mx"]) / max(float(row["med"]), 1.0)))))


def pip_join_shuffle(points: DataFrame, polygon_cells: DataFrame,
                     salt: int | None = None, lat_col: str = "lat", lon_col: str = "lon",
                     res: int = 7) -> DataFrame:
    """Shuffle-join variant for polygon sets too big to broadcast:
    returns (cell, points columns, polygon_id) per hit.

    polygon_cells: polygon_cells_at_res output, (cell, polygon_id,
    is_full, west, south, east, north, edges).

    One exchange: points repartition by (cell, salt) and meet the
    polygon cells — replicated over `salt` buckets so hot cells spread
    across reducers (north rule) — in an equi-join on (cell, salt).
    Candidates outside the polygon bbox drop JVM-side; one mapInArrow
    then passes FULL-cell candidates and runs the crossing parity of
    PARTIAL ones over the edge slice their row carries. Per-row work is
    bounded by the slice, so a mega-polygon's exact work spreads over
    its boundary cells instead of landing in one task.

    Hit sets are identical to the broadcast route (asserted by
    tests/test_ops.py).

    salt=None (default) derives the count from the cell histogram
    (auto_salt); pass an int to pin it.

    polygon_cells is materialized once up front (GC-scoped local
    checkpoint): auto_salt and the join would otherwise each re-run its
    cover kernel.
    """
    polygon_cells = polygon_cells.localCheckpoint(eager=True)
    if salt is None:
        salt = auto_salt(polygon_cells)

    pts = points.withColumn("cell", F.expr(quadkey.sql_cell_expr(lat_col, lon_col, res)))
    pts = pts.withColumn("_salt", F.pmod(F.hash(lon_col, lat_col), F.lit(salt)))
    replicated = polygon_cells.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(salt)]))
    )
    candidates = pts.repartition("cell", "_salt").join(
        replicated, ["cell", "_salt"], "inner"
    ).drop("_salt").where(
        (F.col(lon_col) >= F.col("west")) & (F.col(lon_col) <= F.col("east"))
        & (F.col(lat_col) >= F.col("south")) & (F.col(lat_col) <= F.col("north"))
    ).drop("west", "south", "east", "north")
    out = StructType([f for f in candidates.schema.fields
                      if f.name not in ("is_full", "edges")])

    def exact_kernel(batches):
        for rb in batches:
            keep = rb.column("is_full").to_numpy(zero_copy_only=False).copy()
            part = np.flatnonzero(~keep)
            if len(part):
                edges = rb.column("edges")
                off = edges.offsets.to_numpy() // 4
                x1, y1, x2, y2 = edges.values.to_numpy().reshape(-1, 4).T
                keep[part] = crossing_parity(
                    *(rb.column(c).to_numpy(zero_copy_only=False)[part]
                      for c in (lon_col, lat_col)),
                    off[part], (off[1:] - off[:-1])[part], x1, y1, x2, y2)
            flt = rb.filter(pa.array(keep))
            yield pa.RecordBatch.from_arrays(
                [flt.column(f.name) for f in out.fields], names=out.fieldNames())

    return candidates.mapInArrow(exact_kernel, out)
