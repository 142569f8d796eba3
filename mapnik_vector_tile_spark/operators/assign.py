"""Feature -> tile assignment (SURVEY.md §2.3 J1).

The reference computes this relation *implicitly*, one tile at a time:
processor::update_tile walks layers and queries the datasource with the
tile's buffered bbox (src/vector_tile_processor.ipp:241-344 + the bbox
clip in src/vector_tile_layer.hpp:283-311). Inverted here into a
data-parallel shape: every row computes its covering cell key(s) with
pure Column math (codegen'd, no UDF, no shuffle), and tiles are groups.

Scale notes (10^12 rows):
* assignment itself is narrow (map-only) — zero shuffle;
* per-tile aggregation relies on Spark's partial (map-side) aggregation,
  so hotspot cells cost only one combiner entry per task;
* multi-zoom expansion uses a literal array + explode: rows-out =
  rows-in x |zooms|, still narrow;
* buffered tiles (a row near an edge belongs to neighbours too) expand
  via a bounded explode of candidate (dx, dy) offsets, then a cheap
  Column predicate keeps true overlaps — the analogue of the
  reference's buffered-extent intersect (src/vector_tile_layer.hpp:202-245).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from mapnik_vector_tile_spark import tilemath


def _guard_cell_columns(df: DataFrame) -> None:
    """A property column named z/x/y would be silently clobbered by the
    cell-key columns (the r4 geom-path bug, found via the reference's
    linestrings_and_point fixture). The geometry pipeline renames such
    props internally (geom_tiles.build_geom_tiles); the point path
    refuses loudly instead of corrupting them."""
    clash = [c for c in ("z", "x", "y") if c in df.columns]
    if clash:
        raise ValueError(
            f"input already has column(s) {clash} — rename them before "
            "tile assignment (they would be overwritten by the cell key); "
            "properties named x/y/z are supported by build_geom_tiles, "
            "which aliases them internally"
        )


def assign_tiles(df: DataFrame, z: int, lon="lon", lat="lat") -> DataFrame:
    """Add (z, x, y) cell-key columns at a single zoom. Narrow, no UDF."""
    _guard_cell_columns(df)
    x, y = tilemath.lonlat_to_tile_cols(F.col(lon), F.col(lat), z)
    return df.withColumn("z", F.lit(z)).withColumn("x", x).withColumn("y", y)


def assign_tiles_buffered(
    df: DataFrame, z: int, buffer_px: int, tile_size: int = 4096, lon="lon", lat="lat"
) -> DataFrame:
    """Assignment against *buffered* tile extents: a point within
    buffer_px (in tile units) of a neighbouring tile's edge is assigned
    to that neighbour as well — reproducing the reference's rule that a
    feature enters every tile whose buffered clip extent it intersects
    (src/vector_tile_tile.hpp:86-103, src/vector_tile_layer.hpp:202-245).

    Bounded explode over the 3x3 neighbourhood + exact mercator predicate.
    """
    mx, my = _mercator_cols(lon, lat)
    df = df.withColumn("_mx", mx).withColumn("_my", my)
    x0, y0 = tilemath.lonlat_to_tile_cols(F.col(lon), F.col(lat), z)
    df = df.withColumn("_x0", x0).withColumn("_y0", y0)
    n = 2**z
    offsets = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
        ]
    )
    df = df.withColumn("_o", F.explode(offsets))
    x = F.col("_x0") + F.col("_o.dx")
    y = F.col("_y0") + F.col("_o.dy")
    df = df.withColumn("x", x).withColumn("y", y).drop("_o")
    df = df.where((F.col("x") >= 0) & (F.col("x") < n) & (F.col("y") >= 0) & (F.col("y") < n))
    minx, miny, maxx, maxy = tilemath.tile_bbox_cols(F.lit(z), F.col("x"), F.col("y"))
    # buffer in mercator meters: buffer_px tile units of this zoom's tile
    buf = F.lit(buffer_px / tile_size) * (maxx - minx)
    df = df.where(
        (F.col("_mx") >= minx - buf)
        & (F.col("_mx") < maxx + buf)
        & (F.col("_my") >= miny - buf)
        & (F.col("_my") < maxy + buf)
    )
    return df.withColumn("z", F.lit(z)).drop("_mx", "_my", "_x0", "_y0")


def _mercator_cols(lon: str, lat: str):
    from pyspark.sql import functions as F
    import math

    lat_c = F.least(
        F.greatest(F.col(lat), F.lit(-tilemath.MERC_LAT_MAX)), F.lit(tilemath.MERC_LAT_MAX)
    )
    mx = F.lit(tilemath.EARTH_RADIUS) * F.radians(F.col(lon))
    my = F.lit(tilemath.EARTH_RADIUS) * F.log(
        F.tan(F.lit(math.pi / 4.0) + F.radians(lat_c) / F.lit(2.0))
    )
    return mx, my


def tile_counts(assigned: DataFrame) -> DataFrame:
    """Per-tile row counts — the painted/empty bookkeeping analogue
    (src/vector_tile_tile.hpp:115-123). Partial agg makes skew cheap."""
    return assigned.groupBy("z", "x", "y").agg(F.count("*").alias("n_rows"))


