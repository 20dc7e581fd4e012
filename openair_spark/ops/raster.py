"""Raster-tile <-> vector-polygon assignment (north rule).

A raster layer is modeled as a regular grid: tile = quadkey cell at a
fixed resolution with a value column. Assignment probes each tile id in
the polygon cover built at the tile resolution (ops/pip.py's broadcast
ProbeIndex, one mapInArrow over the tiles, no join) and resolves
PARTIAL cells by testing the tile *center* against the ring (standard
center-point rasterization rule — deterministic and oracle-expressible
for rectangles).

Zonal statistics then aggregate tile values per polygon (hash agg,
partial+final handled by Spark).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..index import quadkey
from .pip import ProbeIndex, probe_join, setup_table


def tiles_from_points(points: DataFrame, res: int,
                      lat_col: str = "lat", lon_col: str = "lon",
                      value_col: str = "value") -> DataFrame:
    """Rasterize a point layer: mean value per res-`res` tile."""
    return (
        points
        .withColumn("tile", F.expr(quadkey.sql_cell_expr(lat_col, lon_col, res)))
        .groupBy("tile")
        .agg(F.avg(value_col).alias("tile_value"),
             F.sum(value_col).alias("tile_sum"),
             F.count("*").alias("n_points"))
    )


def assign_tiles(tiles: DataFrame, polygons: list[dict], res: int,
                 tile_col: str = "tile") -> DataFrame:
    """tiles(tile, ...) x polygons -> (tile rows, polygon_id).

    The polygon cover is built at exactly the tile resolution (the
    pip_join setup at min_res = max_res = res) so the probe key is the
    tile id itself; FULL cover cells assign directly, PARTIAL cells test
    the tile center. A null tile gets no polygon.
    """

    def tile_probe(rb, _resolutions):
        tile = rb.column(tile_col)
        keys = tile.fill_null(0).to_numpy()
        rows = np.flatnonzero(tile.is_valid().to_numpy(zero_copy_only=False))
        west, south, east, north = quadkey.cell_bounds(keys)
        return keys[rows], rows, (west + east) / 2.0, (south + north) / 2.0

    return probe_join(tiles, ProbeIndex(setup_table(polygons, res, res)), tile_probe,
                      box=False)


def zonal_stats(assigned: DataFrame, value_col: str = "tile_value") -> DataFrame:
    return assigned.groupBy("polygon_id").agg(
        F.count("*").alias("n_tiles"),
        F.sum(value_col).alias("sum_value"),
        F.avg(value_col).alias("avg_value"),
        F.min(value_col).alias("min_value"),
        F.max(value_col).alias("max_value"),
    )
