"""Distributed polygon -> tile-cover explosion (north rule: "Every
resulting polygon is tiled into H3 (res 5-9) and S2 cells via a
compact-cover algorithm").

Runs the compact cover inside an Arrow-batched mapInPandas over the
features DataFrame — a narrow map (no shuffle): each executor task
tiles its own polygons, which is also the mega-polygon skew treatment
(a FIR-sized ring becomes many bounded cell rows instead of one giant
join row).

Each cover cell row carries all three index families:
  - `cell`     quadkey compact-cover cell (drives the PIP/raster joins,
               SQL-expressible key: index/quadkey.sql_cell_expr)
  - `s2_cell`  S2 cell id at an equivalent level, from the cell center
  - `h3_cell`  bit-compatible H3 cell (res 5-9) of the cell center

S2/H3 ids are derived per cover cell center (not independent covers):
the quadkey cover is the geometric superset; the sibling ids give
cross-index join keys. An independent true-H3 compact cover is the
separate operator ops.h3tiles.h3_polygon_tiles.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame

from ..index import h3, quadkey, s2
from ..index.cover import cover_batch

TILES_SCHEMA = (
    "url string, airspace_idx int, cell long, res int, is_full boolean, "
    "s2_cell long, s2_token string, h3_cell long, h3_res int"
)

# quadkey res r has cell width 360/2^r deg; pick the S2 level with the
# closest cell scale; H3 rides the north rule's res 5-9 band
_S2_LEVEL_FOR_RES = {r: r + 1 for r in range(0, 28)}
# H3 rides the north rule's res 5-9 band: clamp(res, 5, 9) in the kernel


def _tile_kernel(batches: Iterator[pd.DataFrame], min_res: int, max_res: int,
                 h3_tables=None) -> Iterator[pd.DataFrame]:
    if h3_tables is not None:
        # tables computed once on the driver (15 KB pickled) — saves the
        # ~2.5 s derivation+calibration per python worker
        h3.seed_tables(h3_tables)
    cols = [c.split()[0] for c in TILES_SCHEMA.split(", ")]
    for pdf in batches:
        keep: list = []
        rings: list = []
        for url, idx, ring in zip(pdf["url"], pdf["airspace_idx"], pdf["ring"]):
            if ring is None or len(ring) < 4:
                continue
            keep.append((url, int(idx)))
            rings.append(np.asarray([list(p) for p in ring], dtype=np.float64))
        # whole-batch covers in ONE level-batched call (round 6; the
        # per-ring compact_cover loop was numpy-call-overhead-bound)
        covers = cover_batch(rings, min_res=min_res, max_res=max_res)
        urls: list = []
        idxs: list = []
        cells: list = []
        fulls: list = []
        for (url, idx), cov in zip(keep, covers):
            for cell, is_full in cov:
                urls.append(url)
                idxs.append(int(idx))
                cells.append(int(cell))
                fulls.append(bool(is_full))
        if not cells:
            yield pd.DataFrame(columns=cols)
            continue
        # decode / bounds / sibling cell ids for the WHOLE batch at once
        # (per-cell scalar calls were the kernel's hot spot)
        carr = np.asarray(cells, dtype=np.int64)
        res, _, _ = quadkey.decode(carr)
        west, south, east, north = quadkey.cell_bounds(carr)
        clat = (south + north) / 2.0
        clon = (west + east) / 2.0
        s2c = np.zeros(len(carr), dtype=np.int64)
        h3c = np.zeros(len(carr), dtype=np.int64)
        h3r = np.minimum(np.maximum(res, 5), 9)
        for r in np.unique(res):
            m = res == r
            s2c[m] = s2.cell_id(clat[m], clon[m], _S2_LEVEL_FOR_RES[int(r)])
        for hr in np.unique(h3r):
            m = h3r == hr
            h3c[m] = h3.latlng_to_cell(clat[m], clon[m], int(hr))
        yield pd.DataFrame({
            "url": urls,
            "airspace_idx": np.asarray(idxs, dtype=np.int32),
            "cell": carr,
            "res": res.astype(np.int32),
            "is_full": fulls,
            "s2_cell": s2c,
            "s2_token": [s2.cell_token(int(c)) for c in s2c],
            "h3_cell": h3c,
            "h3_res": h3r.astype(np.int32),
        })[cols]


def polygon_tiles(features: DataFrame, min_res: int = 5, max_res: int = 9) -> DataFrame:
    """features(url, airspace_idx, ring, success, ...) -> tile rows.

    Narrow plan: select-prune -> mapInPandas; zero shuffles.
    """
    from pyspark.sql import functions as F

    src = (
        features.where(F.col("success") & (F.col("geometry_type") == "Polygon"))
        .select("url", "airspace_idx", "ring")
    )
    h3_tables = h3._tables()

    def kernel(batches):
        return _tile_kernel(batches, min_res, max_res, h3_tables)

    return src.mapInPandas(kernel, TILES_SCHEMA)


def tile_histogram(tiles: DataFrame) -> DataFrame:
    """Cells ranked by polygon load — the skew diagnostic that feeds
    the salt-count choice in ops.pip.pip_join_shuffle."""
    from pyspark.sql import functions as F

    return (
        tiles.groupBy("cell", "res")
        .agg(F.count("*").alias("n_polygons"),
             F.sum(F.when(F.col("is_full"), 0).otherwise(1)).alias("n_partial"))
    )
