"""Salted broadcast point-in-polygon join (north rule).

Plan shape (for 10^12 points x ~10^5 polygons):

  polygons --one setup--> cover index rows + ring edges
      cover_index: (polygon_idx, cell, is_full, bbox)   [small: broadcast]
      RingSet: CSR ring edges                           [broadcast variable]
      (a DataFrame's setup runs on executors in one pass; a driver-side
      list runs the same setup in the driver)
  points  --map--> cell = quadkey(point, res per cover row's res range)
  join    points x broadcast(cell_index) on cell  [NO shuffle]
  exact   is_full rows skip PIP; partial rows run the vectorized
          ray-cast in one Arrow-batched kernel, keyed by the int
          polygon_idx; a broadcast dim join restores polygon_id

ops/raster.py::assign_tiles uses the same setup and int key at one
resolution.

Skew: a broadcast join has no shuffle skew, but a hot *cell* (dense
megacity airspace) still concentrates exact-PIP work in whichever tasks
scan those points. Because candidate work is per-point-row and the scan
partitioning is independent of cell, hot cells are already spread across
input partitions — the residual skew knob is `salt` for the shuffle-join
variant (`pip_join_shuffle`), which repartitions by (cell, salt) with
the polygon side replicated per salt. Mega-polygons are split by the
compact cover itself (bounded cells per row).
"""

from __future__ import annotations

import json
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..index import quadkey
from ..index.cover import cover_arrays
from ..index.pip import RingSet, points_in_ring, ring_edges, usable_rings

# Cover band for the PIP probe index. min 7 (not the tile mandate's 5):
# every cover resolution the index USES adds one exploded probe row PER
# POINT, so a few coarse res-5/6 FULL cells taxed every point with two
# extra probe rows (10M instead of 6M for 2M points on the bench
# corpus). At min 7 polygon interiors compact to res-7 FULL cells
# instead — same is_full ray-cast skip — up to the per-ring cell cap;
# measured: identical index size at the 10x corpus (401,112 vs 401,116
# rows), small consistent win at sf0.1. Hit sets identical either way —
# the cover res band is an internal knob of the candidate join, not
# part of the result.
MIN_RES = 7
MAX_RES = 9


def cover_index(rings: list[np.ndarray], min_res: int, max_res: int) -> dict:
    """The polygon cover index: flat arrays (owner, cell, is_full, west,
    south, east, north), one entry per compact-cover cell of rings[owner]
    in [min_res, max_res], with its ring's bbox. The bbox lets a join
    prefilter candidates JVM-side before the exact-PIP kernel."""
    owner, cell, is_full = cover_arrays(rings, min_res=min_res, max_res=max_res)
    bbox = np.asarray([(r[:, 0].min(), r[:, 1].min(), r[:, 0].max(), r[:, 1].max())
                       for r in rings], dtype=np.float64).reshape(-1, 4)[owner]
    return {"owner": owner, "cell": cell, "is_full": is_full, "west": bbox[:, 0],
            "south": bbox[:, 1], "east": bbox[:, 2], "north": bbox[:, 3]}


def _point_cells_expr(lat_col: str, lon_col: str, cover_resolutions: list[int]):
    """Array of the point's cell ids at every resolution the cover uses —
    pure Spark SQL so the join key computation stays JVM-side."""
    return F.array(*[
        F.expr(quadkey.sql_cell_expr(lat_col, lon_col, res))
        for res in cover_resolutions
    ])


_SETUP_SCHEMA = ("polygon_id string, kind int, a long, b int, "
                 "x1 double, y1 double, x2 double, y2 double")


def _setup_rows(polygons: pd.DataFrame, min_res: int, max_res: int) -> pd.DataFrame:
    """polygons(polygon_id, ring) -> both broadcast-route inputs as one
    frame: cover index rows (kind=0: a=cell, b=is_full, x1..y2=bbox) and
    ring edge rows (kind=1: a=edge_idx, x1,y1,x2,y2=edge)."""
    pos, arrs = usable_rings(polygons["ring"])
    ix = cover_index(arrs, min_res, max_res)
    lens, ex1, ey1, ex2, ey2 = ring_edges(arrs)
    eowner = np.repeat(np.arange(len(arrs)), lens)
    edge_idx = np.arange(len(eowner)) - np.repeat(np.cumsum(lens) - lens, lens)
    ids = polygons["polygon_id"].to_numpy()[pos]
    n_cov, n_edge = len(ix["cell"]), len(eowner)
    return pd.DataFrame({
        "polygon_id": np.concatenate([ids[ix["owner"]], ids[eowner]]),
        "kind": np.repeat(np.array([0, 1], dtype=np.int32), [n_cov, n_edge]),
        "a": np.concatenate([ix["cell"], edge_idx]),
        "b": np.concatenate([ix["is_full"], np.zeros(n_edge, dtype=bool)]).astype(np.int32),
        "x1": np.concatenate([ix["west"], ex1]),
        "y1": np.concatenate([ix["south"], ey1]),
        "x2": np.concatenate([ix["east"], ex2]),
        "y2": np.concatenate([ix["north"], ey2]),
    })


def _polygon_setup(polygons: DataFrame, min_res: int, max_res: int) -> DataFrame:
    """_setup_rows as one executor pass over a polygon DataFrame: the
    ring set never crosses the driver as nested lists, and one scan
    yields both the edges and the cover index."""
    return polygons.select("polygon_id", "ring").mapInPandas(
        lambda batches: (_setup_rows(pdf, min_res, max_res) for pdf in batches),
        _SETUP_SCHEMA)


def _split_setup(pdf: pd.DataFrame) -> tuple[RingSet, pd.DataFrame]:
    """Driver-side split of the setup rows into the RingSet (one ring
    per polygon_id, edges in order) and the cover index frame keyed by
    the RingSet's int polygon_idx."""
    edges = pdf[pdf["kind"] == 1].sort_values(["polygon_id", "a"], kind="stable")
    pid = edges["polygon_id"].to_numpy()
    starts = np.flatnonzero(np.r_[len(pid) > 0, pid[1:] != pid[:-1]])
    rs = RingSet.from_edges(pid[starts], np.diff(np.r_[starts, len(pid)]),
                            *(edges[c].to_numpy() for c in ("x1", "y1", "x2", "y2")))
    cov = pdf[pdf["kind"] == 0]
    index_pdf = pd.DataFrame({
        "cell": cov["a"].to_numpy(dtype=np.int64),
        "polygon_idx": cov["polygon_id"].map(rs.idx_of).to_numpy(dtype=np.int32),
        "is_full": cov["b"].to_numpy(dtype=bool),
        "west": cov["x1"].to_numpy(), "south": cov["y1"].to_numpy(),
        "east": cov["x2"].to_numpy(), "north": cov["y2"].to_numpy(),
    })
    return rs, index_pdf


def list_setup(polygons: list[dict], min_res: int, max_res: int
               ) -> tuple[RingSet, pd.DataFrame]:
    """The broadcast setup of a driver-side [{'polygon_id', 'ring'}] list."""
    return _split_setup(_setup_rows(
        pd.DataFrame(polygons, columns=["polygon_id", "ring"]), min_res, max_res))


def broadcast_sides(spark: SparkSession, ring_set: RingSet, index_pdf: pd.DataFrame):
    """(rings broadcast, index DataFrame, polygon_idx -> polygon_id dim).

    The hot path carries an int polygon_idx, never the id string: Arrow
    string columns dominate kernel-stage CPU (JVM serialize + python
    object materialization) and anti-scale under local-mode core
    contention; the id is restored by a broadcast dim join on the
    (small) hit set afterwards. Rings travel ONCE as a broadcast
    variable (unpickled once per python worker, reused across tasks).
    The index is broadcast-scale by contract, so holding it driver-side
    costs no more than the broadcast build itself — and a LocalRelation
    never re-executes upstream and leaves nothing cached to leak."""
    rings_b = spark.sparkContext.broadcast(ring_set)
    index_df = spark.createDataFrame(
        index_pdf, "cell long, polygon_idx int, is_full boolean, "
                   "west double, south double, east double, north double")
    dim = spark.createDataFrame(list(enumerate(ring_set.ids)),
                                "polygon_idx int, polygon_id string")
    return rings_b, index_df, dim


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
             min_res: int = MIN_RES, max_res: int = MAX_RES,
             max_broadcast_edges: int = DEFAULT_MAX_BROADCAST_EDGES) -> DataFrame:
    """PIP join: returns points columns + polygon_id for every
    (point, polygon) containment pair.

    polygons: either a DataFrame(polygon_id string, ring array<array<double>>)
    or a driver-side list [{'polygon_id', 'ring'}] for small sets.

    Routing: a DataFrame polygon side is sized first (one cheap edge-sum
    aggregate that also fills the persist). At or under
    `max_broadcast_edges` total edges the broadcast plan runs (cover
    computed executor-side, rings travel once as a broadcast variable,
    NO shuffle); above it the salted shuffle plan (`pip_join_shuffle`)
    runs instead — the polygon side never materializes on the driver.
    Both produce identical (point, polygon_id) hit sets."""
    global LAST_ROUTE
    spark = points.sparkSession

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
        ring_set, index_pdf = _split_setup(
            _polygon_setup(polys_persisted, min_res, max_res).toPandas())
        polys_persisted.unpersist()
    else:
        ring_set, index_pdf = list_setup(polygons, min_res, max_res)
    LAST_ROUTE = "broadcast"
    rings_b, index_small, dim = broadcast_sides(spark, ring_set, index_pdf)

    # probe only resolutions the cover actually uses: small polygons
    # put every cover leaf at max_res, so blindly exploding each point
    # to all res levels multiplies the probe row count for nothing
    resolutions = sorted(
        int(r) for r in
        np.unique(index_pdf["cell"].to_numpy(dtype=np.int64) >> quadkey._RES_SHIFT)
    ) or list(range(min_res, max_res + 1))

    pts = points.withColumn(
        "_cells", _point_cells_expr(lat_col, lon_col, resolutions)
    ).withColumn("cell", F.explode("_cells")).drop("_cells")

    # ONE scan: FULL-cover hits pass through the same kernel untested
    # (no union of two branches — a union here re-executes the whole
    # upstream parse/index/join per branch, Catalyst does not reuse the
    # exchange across mapInPandas subplans)
    candidates = (
        pts.join(F.broadcast(index_small), "cell", "inner")
        # bbox prefilter (JVM, inclusive = safe superset of the ray-cast):
        # drops cell-sharing candidates outside the polygon's bbox before
        # they cross into the Python kernel
        .where((F.col(lon_col) >= F.col("west")) & (F.col(lon_col) <= F.col("east"))
               & (F.col(lat_col) >= F.col("south")) & (F.col(lat_col) <= F.col("north")))
        .drop("cell", "west", "south", "east", "north")
    )

    out_fields = [n for n in candidates.schema.fieldNames() if n != "is_full"]
    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in candidates.schema.fields if f.name in out_fields
    )

    # mapInArrow, not mapInPandas: at millions of candidate rows the
    # pandas DataFrame materialization (index + block manager + object
    # boxing) on both sides of the boundary was ~half the kernel-stage
    # cost; Arrow batches expose the numeric columns as zero-copy numpy
    # views and the survivor filter runs as one C++ compute kernel.
    def exact_kernel(batches):
        import pyarrow as pa

        rs: RingSet = rings_b.value
        for rb in batches:
            if rb.num_rows == 0:
                continue
            cols = {name: rb.column(i) for i, name in enumerate(rb.schema.names)}
            keep = cols["is_full"].to_numpy(zero_copy_only=False).astype(
                bool, copy=True)
            part = np.flatnonzero(~keep)
            if len(part):
                ridx = cols["polygon_idx"].to_numpy().astype(np.int64)[part]
                keep[part] = rs.contains(
                    cols[lon_col].to_numpy(zero_copy_only=False)[part],
                    cols[lat_col].to_numpy(zero_copy_only=False)[part], ridx)
            flt = rb.filter(pa.array(keep))
            yield pa.RecordBatch.from_arrays(
                [flt.column(flt.schema.get_field_index(n)) for n in out_fields],
                names=out_fields)

    hits = candidates.mapInArrow(exact_kernel, schema)
    return hits.join(F.broadcast(dim), "polygon_idx").drop("polygon_idx")


def polygon_cells_at_res(polygons: DataFrame, res: int = 7) -> DataFrame:
    """Executor-parallel shuffle-join input: polygons(polygon_id, ring)
    -> (cell, polygon_id, is_full, west..north bbox, ring_json): the
    cover_index pinned to min=max=res, so every intersecting res-`res`
    cell gets one row. The ring travels as JSON so the shuffle variant
    can evaluate the exact test without any driver-side or broadcast
    ring materialization; is_full and the bbox let pip_join_shuffle
    skip the exact test for interior cells and prefilter candidates
    JVM-side."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pos, arrs = usable_rings(pdf["ring"])
            ix = cover_index(arrs, res, res)
            owner = ix.pop("owner")
            ring_json = np.asarray([json.dumps(a.tolist()) for a in arrs], dtype=object)
            yield pd.DataFrame({
                "cell": ix.pop("cell"),
                "polygon_id": pdf["polygon_id"].to_numpy()[pos][owner],
                **ix, "ring_json": ring_json[owner]})

    return polygons.select("polygon_id", "ring").mapInPandas(
        kernel, "cell long, polygon_id string, is_full boolean, "
                "west double, south double, east double, north double, "
                "ring_json string")


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
    """Shuffle-join variant for polygon sets too big to broadcast.

    polygon_cells: polygon_cells_at_res output, (cell, polygon_id,
    is_full, west, south, east, north, ring_json).

    Round-6 plan (guide §8: decide on light rows, move heavy bytes
    once). The round-5 shape attached ring_json to EVERY candidate row
    of the cell join, so each ring's multi-KB JSON crossed the shuffle
    and the Arrow boundary once per cell-sharing point — tens of GB at
    2M points — and every candidate (even interior FULL-cell hits) paid
    a ray cast. Now:

      1. The cell equi-join carries only (cell, polygon_id, is_full,
         bbox) — ~50 B/row; the polygon side is replicated over `salt`
         buckets so hot cells spread across reducers (north rule).
      2. Candidates outside the polygon bbox drop JVM-side; candidates
         in FULL cover cells bypass the exact test entirely.
      3. Only surviving PARTIAL candidates shuffle again — by
         polygon_id — and meet their ring in a COGROUP, so each ring's
         JSON crosses the network once per polygon (not per candidate)
         and is parsed once per group.

    Hit sets are identical to the broadcast route (asserted by
    tests/test_ops.py); the exchanges under both output branches are
    shared via Spark's exchange reuse.

    salt=None (default) derives the count from the cell histogram
    (auto_salt); pass an int to pin it.

    polygon_cells is materialized once up front (GC-scoped local
    checkpoint): auto_salt and the plan's three scans of it would
    otherwise each re-run its cover kernel.
    """
    polygon_cells = polygon_cells.localCheckpoint(eager=True)
    if salt is None:
        salt = auto_salt(polygon_cells)
    cells_meta = polygon_cells.select(
        "cell", "polygon_id", "is_full", "west", "south", "east", "north")
    # the rings side re-reads the same input as cells_meta; rename its
    # key so the cogroup below is not an ambiguous self-join
    rings_tbl = polygon_cells.select(
        F.col("polygon_id").alias("_ring_pid"), "ring_json") \
        .dropDuplicates(["_ring_pid"])

    pts = points.withColumn("cell", F.expr(quadkey.sql_cell_expr(lat_col, lon_col, res)))
    pts = pts.withColumn("_salt", F.pmod(F.hash(lon_col, lat_col), F.lit(salt)))
    replicated = cells_meta.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(salt)]))
    )
    candidates = pts.repartition("cell", "_salt").join(
        replicated, ["cell", "_salt"], "inner"
    ).drop("_salt").where(
        (F.col(lon_col) >= F.col("west")) & (F.col(lon_col) <= F.col("east"))
        & (F.col(lat_col) >= F.col("south")) & (F.col(lat_col) <= F.col("north"))
    ).drop("west", "south", "east", "north")

    out_names = [n for n in candidates.schema.fieldNames() if n != "is_full"]
    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in candidates.schema.fields if f.name in out_names)

    full_hits = candidates.where(F.col("is_full")).drop("is_full")
    partial = candidates.where(~F.col("is_full")).drop("is_full")

    def exact_cogroup(key, cand: pd.DataFrame, ring_pdf: pd.DataFrame
                      ) -> pd.DataFrame:
        if len(cand) == 0 or len(ring_pdf) == 0:
            return pd.DataFrame(columns=out_names)
        ring = np.asarray(json.loads(ring_pdf["ring_json"].iloc[0]),
                          dtype=np.float64)
        keep = points_in_ring(cand[lon_col].to_numpy(),
                              cand[lat_col].to_numpy(), ring)
        return cand.loc[keep, out_names]

    exact_hits = (
        partial.groupBy("polygon_id")
        .cogroup(rings_tbl.groupBy("_ring_pid"))
        .applyInPandas(exact_cogroup, schema)
    )
    return full_hits.select(*out_names).unionByName(exact_hits)
