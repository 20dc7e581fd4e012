"""Cell-local k-nearest-neighbors over airspace centroids (north rule).

Centroids (small side, ~10^4-10^6) are collected once on the driver as
Arrow, sorted by their quadkey cell at a chosen resolution and shipped
to the workers as one broadcast variable. Points stay where they are:
one narrow `mapInArrow` kernel looks up each point's (2*rings+1)^2 cell
window in the sorted cell column (`searchsorted`), gathers the
candidates, computes haversine distances in numpy and keeps the top k.
No shuffle, no join, no window function.

EXACTNESS is guaranteed for any distribution, not assumed from density:
a point's ring-local top-k is provably complete iff its k-th candidate
distance is smaller than the geodesic margin between the point and the
edge of its cell window. Points that fail the margin test (or have < k
candidates — e.g. empty neighborhoods, polar cells, null coordinates)
are ranked by brute force against every centroid inside the same
kernel. With a sane `res` that set is small; with a hostile one the
answer is still exact, just slower.

`res=None` picks a resolution from the centroid bounding box and count
so a ring window holds ~4k..64 expected centroids.

The kernel emits the centroid coordinates, and `dist_km` is computed
after it by the Spark `haversine_km` expression, so output distances are
the JVM's to the last bit (numpy's libm can differ there).
Determinism: ties broken by (distance, centroid_id).
"""

from __future__ import annotations

import math

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, IntegerType, StringType, StructField, StructType

from ..index import quadkey

_KM_PER_DEG = 111.19492664455873  # pi * 6371.0088 / 180, turf-consistent R
_TAKEN = np.iinfo(np.int64).max


def haversine_km(lat1, lon1, lat2, lon2):
    """Spark-column haversine (R = 6371.0088 km, matching the core
    kernels) — stays inside whole-stage codegen."""
    rlat1 = F.radians(lat1)
    rlat2 = F.radians(lat2)
    dlat = F.radians(lat2 - lat1)
    dlon = F.radians(lon2 - lon1)
    a = F.pow(F.sin(dlat / 2), 2) + F.pow(F.sin(dlon / 2), 2) * F.cos(rlat1) * F.cos(rlat2)
    return F.atan2(F.sqrt(a), F.sqrt(1 - a)) * 2 * 6371.0088


def _haversine_np(lat1, lon1, lat2, lon2):
    """numpy twin of `haversine_km`, used only to rank candidates. It
    keeps the Spark expression's operation order (not core.geo's), so it
    meets the JVM's result to the last bit far more often."""
    rlat1, rlat2 = np.radians(lat1), np.radians(lat2)
    a = (np.sin(np.radians(lat2 - lat1) / 2) ** 2
         + np.sin(np.radians(lon2 - lon1) / 2) ** 2 * np.cos(rlat1) * np.cos(rlat2))
    return np.arctan2(np.sqrt(a), np.sqrt(1 - a)) * 2 * 6371.0088


def pick_res(n: int, bbox_h: float, bbox_w: float, k: int) -> int:
    """Resolution so one ring-1 window expects ~max(4k, 16)..64 of the
    given centroids (uniformity heuristic only — exactness never
    depends on it, see margin fallback)."""
    if n == 0:
        return 6
    bbox_h = max(bbox_h, 1e-6)
    bbox_w = max(bbox_w, 1e-6)
    target = max(4 * k, 16)
    # ring-1 window is 3x3 cells; want density * window_area ~ target
    density = n / (bbox_h * bbox_w)  # per deg^2
    window_area = target / density
    window_side = math.sqrt(window_area)
    cell_h = max(window_side / 3.0, 1e-6)
    res = int(round(math.log2(180.0 / cell_h)))
    return max(2, min(res, 12))


def _cell_xy(lat, lon, res: int):
    """Quadkey (ix, iy) of `index.quadkey.cell_id`, plus a mask of rows
    with both coordinates present."""
    ok = ~(np.isnan(lat) | np.isnan(lon))
    _, ix, iy = quadkey.decode(quadkey.cell_id(np.nan_to_num(lat), np.nan_to_num(lon), res))
    return ix, iy, ok


def _top_k(p_lat, p_lon, pidx, c_lat, c_lon, c_rank, cidx, k: int):
    """Each point's first k candidate pairs (pidx, cidx) by (distance,
    centroid_id), as (pidx, cidx, rank, distance). `pidx` must be sorted.
    One pass of segmented minima per rank instead of a sort: ~10x
    cheaper than a lexsort at ~40 candidates per point."""
    n = len(pidx)
    d = _haversine_np(p_lat[pidx], p_lon[pidx], c_lat[cidx], c_lon[cidx])
    d = np.where(np.isnan(d), np.inf, d)  # a missing coordinate ranks last
    tie = c_rank[cidx] * n + np.arange(n)  # centroid_id rank, then position
    starts = np.flatnonzero(np.diff(pidx, prepend=-1))
    sizes = np.diff(starts, append=n)
    out = [(np.zeros(0, np.int64),) * 4]
    for rank in range(1, k + 1):
        low = np.repeat(np.minimum.reduceat(d, starts), sizes)
        pick = np.minimum.reduceat(np.where(d == low, tie, _TAKEN), starts)
        pick = pick[pick != _TAKEN] % n
        if not len(pick):
            break
        out.append((pidx[pick], cidx[pick], np.full(len(pick), rank), d[pick]))
        d[pick], tie[pick] = np.inf, _TAKEN
    return [np.concatenate(c) for c in zip(*out)]


def knn_join(points: DataFrame, centroids: DataFrame, k: int = 3,
             res: int | None = None, rings: int = 1,
             point_id: str = "point_id", centroid_id: str = "centroid_id",
             lat_col: str = "lat", lon_col: str = "lon") -> DataFrame:
    """points(point_id, lat, lon) x centroids(centroid_id, lat, lon)
    -> (point columns, centroid_id, dist_km, rank<=k). Exact."""
    cent = centroids.select(
        F.col(centroid_id).cast("string").alias(centroid_id),
        F.col(lat_col).cast("double").alias("c_lat"),
        F.col(lon_col).cast("double").alias("c_lon"),
    ).toArrow()
    c_lat, c_lon = (cent.column(c).to_numpy() for c in ("c_lat", "c_lon"))
    if res is None:
        res = pick_res(len(c_lat), *(float(np.ptp(v)) if v.size else 0.0 for v in
                                     (c_lat[~np.isnan(c_lat)], c_lon[~np.isnan(c_lon)])), k)
    n = 1 << res
    ix, iy, ok = _cell_xy(c_lat, c_lon, res)
    c_key = np.where(ok, iy * n + ix, -1)
    c_rank = pc.rank(cent.column(centroid_id), sort_keys="ascending",
                     null_placement="at_start", tiebreaker="dense").to_numpy().astype(np.int64)
    order = np.argsort(c_key, kind="stable")
    # centroids travel ONCE, sorted by cell, as a broadcast variable
    # (unpickled once per python worker), as pip_join ships its RingSet
    cent_b = points.sparkSession.sparkContext.broadcast((
        cent.take(pa.array(order)), c_key[order], c_lat[order], c_lon[order],
        c_rank[order]))

    offsets = [(dx, dy) for dy in range(-rings, rings + 1) for dx in range(-rings, rings + 1)]
    # ---- exactness margin: geodesic distance from the point to the
    # nearest edge of its ring window, conservatively min of the lat
    # margin and the lon margin at the worst latitude inside the window.
    # The window extends (rings+1)*cell_h above the point's latitude
    # (rings whole cells beyond its own cell's far edge), so the
    # worst-case latitude pad must track rings — not a fixed 2 cells.
    cell_h = 180.0 / n
    window_h = rings * cell_h  # degrees of guaranteed lat slack
    out_names = points.columns + [centroid_id, "c_lat", "c_lon", "rank"]

    def kernel(batches):
        cent, key, lat, lon, crank = cent_b.value
        if not len(key):
            return
        for batch in batches:
            if not batch.num_rows:
                continue
            p_lat, p_lon = (batch.column(c).cast(pa.float64()).to_numpy(zero_copy_only=False)
                            for c in (lat_col, lon_col))
            px, py, p_ok = _cell_xy(p_lat, p_lon, res)
            wins = np.full((len(px), len(offsets)), -1, dtype=np.int64)
            for j, (dx, dy) in enumerate(offsets):
                cy = py + dy
                valid = p_ok & (cy >= 0) & (cy < n)
                wins[valid, j] = cy[valid] * n + (px[valid] + dx) % n
            # lon wrap at tiny n can land two offsets on one cell
            wins.sort(axis=1)
            wins[:, 1:][wins[:, 1:] == wins[:, :-1]] = -1
            # each window cell holds the run key[lo:lo + cnt] of centroids
            wins = wins.ravel()
            lo = np.searchsorted(key, wins, "left")
            cnt = np.where(wins >= 0, np.searchsorted(key, wins, "right") - lo, 0)
            pidx = np.repeat(np.arange(len(px)).repeat(len(offsets)), cnt)
            cidx = np.arange(cnt.sum()) - np.repeat(np.cumsum(cnt) - cnt - lo, cnt)
            pk, ck, rk, dk = _top_k(p_lat, p_lon, pidx, lat, lon, crank, cidx, k)
            m = np.bincount(pk, minlength=len(px))
            kth = np.full(len(px), np.inf)
            last = rk == m[pk]
            kth[pk[last]] = dk[last]
            worst_lat = np.minimum(np.abs(p_lat) + (rings + 1.0) * cell_h, 89.999)
            margin = np.minimum(window_h * _KM_PER_DEG,
                                2.0 * window_h * _KM_PER_DEG * np.cos(np.radians(worst_lat)))
            safe = (m >= min(k, len(key))) & (kth < margin)
            keep = safe[pk]
            parts = [(pk[keep], ck[keep], rk[keep])]
            # unsafe points: exact brute force against every centroid,
            # ~1M pairs per chunk
            unsafe = np.flatnonzero(~safe)
            step = max(1, (1 << 20) // len(key))
            for s in range(0, len(unsafe), step):
                u = unsafe[s:s + step]
                parts.append(_top_k(p_lat, p_lon, np.repeat(u, len(key)), lat, lon, crank,
                                    np.tile(np.arange(len(key)), len(u)), k)[:3])
            pidx, cidx, rank = (np.concatenate(c) for c in zip(*parts))
            yield from pa.Table.from_arrays(
                batch.take(pa.array(pidx)).columns + cent.take(pa.array(cidx)).columns
                + [pa.array(rank, pa.int32())], names=out_names).to_batches()

    schema = StructType(points.schema.fields + [
        StructField(centroid_id, StringType()), StructField("c_lat", DoubleType()),
        StructField("c_lon", DoubleType()), StructField("rank", IntegerType())])
    ranked = points.mapInArrow(kernel, schema).withColumn(
        "dist_km", haversine_km(F.col(lat_col), F.col(lon_col), F.col("c_lat"), F.col("c_lon")))
    return ranked.select(points.columns + [centroid_id, "dist_km", "rank"])


def knn_bruteforce(points: DataFrame, centroids: DataFrame, k: int = 3,
                   point_id: str = "point_id", centroid_id: str = "centroid_id",
                   lat_col: str = "lat", lon_col: str = "lon") -> DataFrame:
    """Exact cross-join baseline (oracle twin / small inputs)."""
    c = centroids.select(
        F.col(centroid_id),
        F.col(lat_col).alias("c_lat"),
        F.col(lon_col).alias("c_lon"),
    )
    cand = points.crossJoin(F.broadcast(c)).withColumn(
        "dist_km", haversine_km(F.col(lat_col), F.col(lon_col), F.col("c_lat"), F.col("c_lon"))
    )
    w = Window.partitionBy(point_id).orderBy(F.col("dist_km").asc(), F.col(centroid_id).asc())
    return cand.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k).drop("c_lat", "c_lon")
