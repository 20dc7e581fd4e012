"""Raster-tile <-> vector-polygon assignment (north rule).

A raster layer is modeled as a regular grid: tile = quadkey cell at a
fixed resolution with a value column. Assignment joins tiles to polygons
through the polygon cover (JVM broadcast join on cell) and resolves
PARTIAL cells by testing the tile *center* against the ring (standard
center-point rasterization rule — deterministic and oracle-expressible
for rectangles).

Zonal statistics then aggregate tile values per polygon (hash agg,
partial+final handled by Spark).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..index import quadkey
from .pip import broadcast_sides, list_setup


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
    pip_join setup at min_res = max_res = res) so the join key is the
    tile id itself; FULL cover cells assign directly, PARTIAL cells test
    the tile center in the kernel. The kernel carries the int
    polygon_idx; a broadcast dim join restores polygon_id.
    """
    rings_b, index_df, dim = broadcast_sides(
        tiles.sparkSession, *list_setup(polygons, res, res))
    index_df = index_df.drop("west", "south", "east", "north")

    cand = tiles.join(F.broadcast(index_df), tiles[tile_col] == index_df.cell, "inner").drop("cell")
    out_fields = [f for f in cand.schema.fields if f.name != "is_full"]
    schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in out_fields)
    names = [f.name for f in out_fields]

    def center_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rs = rings_b.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            pdf = pdf.reset_index(drop=True)
            keep = pdf["is_full"].to_numpy(dtype=bool).copy()
            part = np.flatnonzero(~keep)
            if len(part):
                cells = pdf[tile_col].to_numpy()[part]
                west, south, east, north = quadkey.cell_bounds(cells)
                cx = (np.asarray(west) + np.asarray(east)) / 2.0
                cy = (np.asarray(south) + np.asarray(north)) / 2.0
                ridx = pdf["polygon_idx"].to_numpy(dtype=np.int64)[part]
                keep[part] = rs.contains(cx, cy, ridx)
            yield pdf.loc[keep, names]

    hits = cand.mapInPandas(center_kernel, schema)
    return hits.join(F.broadcast(dim), "polygon_idx").drop("polygon_idx")


def zonal_stats(assigned: DataFrame, value_col: str = "tile_value") -> DataFrame:
    return assigned.groupBy("polygon_id").agg(
        F.count("*").alias("n_tiles"),
        F.sum(value_col).alias("sum_value"),
        F.avg(value_col).alias("avg_value"),
        F.min(value_col).alias("min_value"),
        F.max(value_col).alias("max_value"),
    )
