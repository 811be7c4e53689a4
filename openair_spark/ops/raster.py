"""Raster-tile <-> vector-polygon assignment (north rule).

A raster layer is modeled as a regular grid: tile = quadkey cell at a
fixed resolution with a value column. Assignment adds each tile's
center point and runs it through the PIP join's broadcast probe with
the polygon cover pinned to the tile resolution: the center's cell is
the tile itself, FULL cover cells assign directly and PARTIAL cells test
the center against the ring (standard center-point rasterization rule —
deterministic and oracle-expressible for rectangles).

Zonal statistics then aggregate tile values per polygon (hash agg,
partial+final handled by Spark).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..index import quadkey
from .pip import _broadcast_probe


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


def _tile_center(tile: Column, res: int) -> tuple[Column, Column]:
    """(lon, lat) of a res-`res` tile's center with quadkey.cell_bounds'
    arithmetic, so the ring test sees the same doubles; null, and so no
    polygon, for a tile at another resolution."""
    n = float(1 << res)
    at_res = F.shiftright(tile, quadkey._RES_SHIFT) == res
    nx = tile.bitwiseAND(quadkey._MASK)
    ny = F.shiftright(tile, quadkey._Y_SHIFT).bitwiseAND(quadkey._MASK)
    lon = ((nx / n * 360.0 - 180.0) + ((nx + 1) / n * 360.0 - 180.0)) / 2.0
    lat = ((ny / n * 180.0 - 90.0) + ((ny + 1) / n * 180.0 - 90.0)) / 2.0
    return F.when(at_res, lon), F.when(at_res, lat)


def assign_tiles(tiles: DataFrame, polygons: list[dict], res: int,
                 tile_col: str = "tile") -> DataFrame:
    """tiles(tile, ...) x polygons -> (tile rows, polygon_id): every
    (tile, polygon) pair whose tile center lies in the polygon."""
    lon, lat = _tile_center(F.col(tile_col), res)
    centers = tiles.withColumn("_tile_lon", lon).withColumn("_tile_lat", lat)
    return _broadcast_probe(centers, polygons, "_tile_lon", "_tile_lat",
                            res, res).drop("_tile_lon", "_tile_lat")


def zonal_stats(assigned: DataFrame, value_col: str = "tile_value") -> DataFrame:
    return assigned.groupBy("polygon_id").agg(
        F.count("*").alias("n_tiles"),
        F.sum(value_col).alias("sum_value"),
        F.avg(value_col).alias("avg_value"),
        F.min(value_col).alias("min_value"),
        F.max(value_col).alias("max_value"),
    )
