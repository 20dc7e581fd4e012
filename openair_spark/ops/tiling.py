"""Distributed polygon -> tile-cover explosion (north rule: "Every
resulting polygon is tiled into H3 (res 5-9) and S2 cells via a
compact-cover algorithm").

Runs the compact cover (index/cover.py::cover_arrays) inside the
shared tiles kernel (ops/_cover_common.tiles_map, an Arrow-batched
mapInArrow over the features DataFrame) — a narrow map (no shuffle):
each executor task tiles its own polygons, which is also the
mega-polygon skew treatment (a FIR-sized ring becomes many bounded cell
rows instead of one giant join row).

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

import numpy as np
from pyspark.sql import DataFrame

from ..index import h3, quadkey, s2
from ..index.cover import cover_arrays
from ._cover_common import tiles_map

TILES_SCHEMA = (
    "url string, airspace_idx int, cell long, res int, is_full boolean, "
    "s2_cell long, s2_token string, h3_cell long, h3_res int"
)


def _grouped(fn, key: np.ndarray, *args) -> np.ndarray:
    """fn(*args[mask], k) for each distinct key k, scattered back."""
    out = np.zeros(len(key), dtype=np.int64)
    for k in np.unique(key):
        m = key == k
        out[m] = fn(*(a[m] for a in args), int(k))
    return out


def polygon_tiles(features: DataFrame, min_res: int = 5, max_res: int = 9) -> DataFrame:
    """features(url, airspace_idx, ring, success, ...) -> tile rows.

    Narrow plan: select-prune -> mapInArrow; zero shuffles."""
    # tables computed once on the driver (15 KB pickled) — saves the
    # ~2.5 s derivation+calibration per python worker
    h3_tables = h3._tables()

    def cover(rings):
        h3.seed_tables(h3_tables)
        owner, cell, is_full = cover_arrays(rings, min_res=min_res, max_res=max_res)
        # sibling ids of every cell center for the whole batch at once:
        # S2 at the level of closest scale (quadkey res r has cell width
        # 360/2^r deg, S2 level r+1 the nearest), H3 clamped to the north
        # rule's res 5-9 band
        res = quadkey.decode(cell)[0]
        west, south, east, north = quadkey.cell_bounds(cell)
        lat, lon = (south + north) / 2.0, (west + east) / 2.0
        s2c = _grouped(lambda la, lo, r: s2.cell_id(la, lo, r + 1), res, lat, lon)
        h3r = np.clip(res, 5, 9)
        h3c = _grouped(h3.latlng_to_cell, h3r, lat, lon)
        return (owner, cell, res.astype(np.int32), is_full, s2c, s2.cell_tokens(s2c),
                h3c, h3r.astype(np.int32))

    return tiles_map(features, TILES_SCHEMA, cover)


def tile_histogram(tiles: DataFrame) -> DataFrame:
    """Cells ranked by polygon load — the skew diagnostic that feeds
    the salt-count choice in ops.pip.pip_join_shuffle."""
    from pyspark.sql import functions as F

    return (
        tiles.groupBy("cell", "res")
        .agg(F.count("*").alias("n_polygons"),
             F.sum(F.when(F.col("is_full"), 0).otherwise(1)).alias("n_partial"))
    )
