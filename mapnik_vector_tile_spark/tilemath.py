"""Web-Mercator tile math — the engine's "projection" layer.

Reproduces the semantics of the reference's projection helpers as pure
Spark Column expressions (no UDFs, fully codegen'd by Catalyst):

* ``tile_mercator_bbox`` — src/vector_tile_projection.hpp:17-28:
  half_of_equator = pi * EARTH_RADIUS; tile_size = 2*half/2^z;
  minx = -half + x*ts, miny = half - (y+1)*ts, maxx = -half + (x+1)*ts,
  maxy = half - y*ts.
* lon/lat -> (z, x, y) slippy cell assignment (the inverse relation the
  reference computes implicitly by rendering one tile at a time,
  src/vector_tile_processor.ipp:241-344).
* phash -> deterministic lon/lat (FIXTURES.md §1 rule) so the hinted
  image table shape carries a location without extra columns.

Every expression exists in three synchronized forms:
  * ``*_sql(...)``  — an ANSI-SQL snippet string valid in BOTH Spark SQL
    and DuckDB (this is what makes the driver's oracle comparison exact);
  * ``*_cols(...)`` — pyspark Columns built via F.expr over the same SQL;
  * ``*_np(...)``   — numpy, for driver-side goldens and kernels.
"""

from __future__ import annotations

import math

import numpy as np

EARTH_RADIUS = 6378137.0
HALF_OF_EQUATOR = math.pi * EARTH_RADIUS  # 20037508.342789244
EARTH_CIRCUMFERENCE = 2.0 * HALF_OF_EQUATOR

# Integer-grid clamp of the quantizer (src/vector_tile_strategy.hpp:33-35)
HI_RANGE = 0x3FFFFFFFFFFFFFFF
COORD_MAX = float(HI_RANGE)
COORD_MIN = -float(HI_RANGE)

MERC_LAT_MAX = 85.0511287798066  # atan(sinh(pi)) — web-mercator clip latitude


# ---------------------------------------------------------------------------
# SQL snippet generators (portable Spark SQL <-> DuckDB)
# ---------------------------------------------------------------------------

def tile_size_sql(z: str | int) -> str:
    return f"({EARTH_CIRCUMFERENCE!r} / pow(2.0, {z}))"


def tile_bbox_sql(z: str | int, x: str, y: str) -> dict[str, str]:
    """Mercator bbox of tile (z,x,y) — semantics of
    src/vector_tile_projection.hpp:17-28 (double math, same order)."""
    ts = tile_size_sql(z)
    h = repr(HALF_OF_EQUATOR)
    return {
        "minx": f"(-{h} + ({x}) * {ts})",
        "miny": f"({h} - (({y}) + 1.0) * {ts})",
        "maxx": f"(-{h} + (({x}) + 1.0) * {ts})",
        "maxy": f"({h} - ({y}) * {ts})",
    }


def lonlat_to_tile_sql(z: str | int, lon: str, lat: str) -> dict[str, str]:
    """Slippy-map cell assignment at zoom z, clamped to the grid.

    x = floor((lon+180)/360 * 2^z)
    y = floor((1 - ln(tan(rad) + 1/cos(rad))/pi)/2 * 2^z)

    Uses only fns with identical semantics in Spark SQL and DuckDB
    (ln/tan/cos/radians/floor/pow/least/greatest).
    """
    n = f"pow(2.0, {z})"
    xt = f"floor((({lon}) + 180.0) / 360.0 * {n})"
    lr = f"radians(least(greatest({lat}, -{MERC_LAT_MAX!r}), {MERC_LAT_MAX!r}))"
    yt = f"floor((1.0 - ln(tan({lr}) + 1.0 / cos({lr})) / pi()) / 2.0 * {n})"
    clamp = lambda e: f"cast(least(greatest({e}, 0.0), {n} - 1.0) as bigint)"  # noqa: E731
    return {"x": clamp(xt), "y": clamp(yt)}


def mercator_sql(lon: str, lat: str) -> dict[str, str]:
    """lon/lat (4326) -> web-mercator meters (3857), closed form."""
    r = repr(EARTH_RADIUS)
    lr = f"radians(least(greatest({lat}, -{MERC_LAT_MAX!r}), {MERC_LAT_MAX!r}))"
    return {
        "mx": f"({r} * radians({lon}))",
        "my": f"({r} * ln(tan({math.pi / 4.0!r} + {lr} / 2.0)))",
    }


def images_lonlat_sql(image_id: str = "image_id", phash: str = "phash") -> dict[str, str]:
    """Exact-integer portable SQL form of the FIXTURES.md §1 location
    rule INCLUDING the hotspot skew clause — bit-identical to the Spark
    Column forms (phash_lonlat_cols / hotspot_lonlat_cols), so the
    DuckDB oracle and the engine agree to the last ulp.

    Unsigned 64-bit split without shifts (portable):
      v  = phash & 0xFFFFFFFF                      (non-negative both engines)
      u  = (phash - v) / 2^32  (+ 2^32 if phash<0) (exact: multiple of 2^32
                                                    fits a double mantissa)
    Hotspot modular identities (from hotspot_lonlat_cols):
      uph % 1000        = (u*296 + v) % 1000         (2^32 % 1000 = 296)
      (uph // 1000)%1000 = floor(((u*967296 + v) % 1000000) / 1000)
    """
    v = f"(({phash}) & 4294967295)"
    u_signed = f"cast((({phash}) - {v}) / 4294967296.0 as bigint)"
    u = f"({u_signed} + case when ({phash}) < 0 then 4294967296 else 0 end)"
    base_lon = f"(cast({u} as double) / 4294967296.0 * 360.0 - 180.0)"
    base_lat = f"(cast({v} as double) / 4294967296.0 * 170.0 - 85.0)"
    mod1000 = f"(({u} * 296 + {v}) % 1000)"
    mod1e6 = f"(({u} * 967296 + {v}) % 1000000)"
    div1000 = f"cast(floor({mod1e6} / 1000.0) as bigint)"
    hot_lon = f"(-122.42 + cast({mod1000} as double) * 1e-06)"
    hot_lat = f"(37.77 + cast({div1000} as double) * 1e-06)"
    is_hot = f"((cast(substr({image_id}, 4, 12) as bigint) % 10) < 3)"
    return {
        "lon": f"(case when {is_hot} then {hot_lon} else {base_lon} end)",
        "lat": f"(case when {is_hot} then {hot_lat} else {base_lat} end)",
        "row_idx": f"cast(substr({image_id}, 4, 12) as bigint)",
    }


def key_lonlat_sql(key: str) -> dict[str, str]:
    """Deterministic lon/lat derived from any BIGINT key (for the TPC-H
    oracle tables, which carry no coordinates). Knuth multiplicative
    hash mod 2^32 for each axis; pure integer math, portable SQL.
    """
    hx = f"((({key}) * 2654435761) % 4294967296)"
    hy = f"((({key}) * 2246822519 + 1013904223) % 4294967296)"
    ux = f"(cast({hx} as double) + case when {hx} < 0 then 4294967296.0 else 0.0 end)"
    uy = f"(cast({hy} as double) + case when {hy} < 0 then 4294967296.0 else 0.0 end)"
    return {
        "lon": f"({ux} / 4294967296.0 * 360.0 - 180.0)",
        "lat": f"({uy} / 4294967296.0 * 170.0 - 85.0)",
    }


# ---------------------------------------------------------------------------
# numpy forms (kernels + goldens)
# ---------------------------------------------------------------------------

def tile_mercator_bbox_np(x, y, z):
    """Vectorized tile_mercator_bbox (src/vector_tile_projection.hpp:17-28)."""
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    z = np.asarray(z)
    ts = 2.0 * HALF_OF_EQUATOR / np.power(2.0, z.astype(np.float64))
    minx = -HALF_OF_EQUATOR + x * ts
    miny = HALF_OF_EQUATOR - (y + 1.0) * ts
    maxx = -HALF_OF_EQUATOR + (x + 1.0) * ts
    maxy = HALF_OF_EQUATOR - y * ts
    return minx, miny, maxx, maxy


def lonlat_to_tile_np(lon, lat, z: int):
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.clip(np.asarray(lat, dtype=np.float64), -MERC_LAT_MAX, MERC_LAT_MAX)
    n = 2.0 ** z
    xt = np.floor((lon + 180.0) / 360.0 * n)
    lr = np.radians(lat)
    yt = np.floor((1.0 - np.log(np.tan(lr) + 1.0 / np.cos(lr)) / math.pi) / 2.0 * n)
    xt = np.clip(xt, 0, n - 1).astype(np.int64)
    yt = np.clip(yt, 0, n - 1).astype(np.int64)
    return xt, yt


def mercator_np(lon, lat):
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.clip(np.asarray(lat, dtype=np.float64), -MERC_LAT_MAX, MERC_LAT_MAX)
    mx = EARTH_RADIUS * np.radians(lon)
    my = EARTH_RADIUS * np.log(np.tan(math.pi / 4.0 + np.radians(lat) / 2.0))
    return mx, my


def phash_lonlat_np(phash):
    ph = np.asarray(phash, dtype=np.int64).astype(np.uint64)
    u = (ph >> np.uint64(32)).astype(np.float64)
    v = (ph & np.uint64(0xFFFFFFFF)).astype(np.float64)
    lon = u / 4294967296.0 * 360.0 - 180.0
    lat = v / 4294967296.0 * 170.0 - 85.0
    return lon, lat


def hotspot_lonlat_np(phash):
    """FIXTURES.md §1 skew clause: city-scale dense cluster."""
    ph = np.asarray(phash, dtype=np.int64).astype(np.uint64)
    lon = -122.42 + (ph % np.uint64(1000)).astype(np.float64) * 1e-6
    lat = 37.77 + ((ph // np.uint64(1000)) % np.uint64(1000)).astype(np.float64) * 1e-6
    return lon, lat


def buffered_tile_px_box(size: int, buffer_px: int):
    """Clipping extent in tile px space — tile extent grown by buffer
    (src/vector_tile_tile.hpp:86-103 semantics with layer scale 1)."""
    return (-buffer_px, -buffer_px, size + buffer_px, size + buffer_px)


def buffered_mercator_extent(
    minx: float, miny: float, maxx: float, maxy: float,
    tile_size: int, buffer_px: int,
):
    """tile::get_buffered_extent (src/vector_tile_tile.hpp:86-103): the
    mercator extent grown by buffer_px at the tile's px scale; a buffer
    negative enough to invert the box collapses it to the empty
    (0, 0, 0, 0) box (test/unit/tile_impl/tile.cpp goldens)."""
    b = buffer_px * (maxx - minx) / tile_size if tile_size else 0.0
    out = (minx - b, miny - b, maxx + b, maxy + b)
    if out[0] > out[2] or out[1] > out[3]:
        return (0.0, 0.0, 0.0, 0.0)
    return out


# ---------------------------------------------------------------------------
# Column forms (exact integer math; used on the images table where the
# DuckDB oracle is not involved and bit-exactness with numpy matters)
# ---------------------------------------------------------------------------

def phash_lonlat_cols(phash_col):
    """Exact Column form of phash_lonlat_np: upper/lower 32 bits via
    shiftrightunsigned / mask — bit-identical to the numpy fixture rule."""
    from pyspark.sql import functions as F

    u = F.shiftrightunsigned(phash_col, 32).cast("double")
    v = (phash_col.bitwiseAND(F.lit(0xFFFFFFFF))).cast("double")
    lon = u / 4294967296.0 * 360.0 - 180.0
    lat = v / 4294967296.0 * 170.0 - 85.0
    return lon, lat


def hotspot_lonlat_cols(phash_col):
    """Exact Column form of hotspot_lonlat_np.

    uint64(phash) % 1000        == (u*296 + v_low3) % 1000      (2^32 % 1000 = 296)
    (uint64(phash)//1000) % 1000 == ((u*967296 + v) % 1000000) // 1000
    where u = phash >>> 32, v = phash & 0xFFFFFFFF (both non-negative).
    """
    from pyspark.sql import functions as F

    u = F.shiftrightunsigned(phash_col, 32)
    v = phash_col.bitwiseAND(F.lit(0xFFFFFFFF))
    mod1000 = (u * F.lit(296) + v) % F.lit(1000)
    mod1e6 = (u * F.lit(967296) + v) % F.lit(1000000)
    div1000mod1000 = F.floor(mod1e6 / F.lit(1000))
    lon = F.lit(-122.42) + mod1000.cast("double") * F.lit(1e-6)
    lat = F.lit(37.77) + div1000mod1000.cast("double") * F.lit(1e-6)
    return lon, lat


def lonlat_to_tile_cols(lon_col, lat_col, z: int):
    """Column form of lonlat_to_tile_np (same clamp + formulas)."""
    from pyspark.sql import functions as F

    n = float(2.0 ** z)
    lat_c = F.least(F.greatest(lat_col, F.lit(-MERC_LAT_MAX)), F.lit(MERC_LAT_MAX))
    lr = F.radians(lat_c)
    xt = F.floor((lon_col + F.lit(180.0)) / F.lit(360.0) * F.lit(n))
    yt = F.floor(
        (F.lit(1.0) - F.log(F.tan(lr) + F.lit(1.0) / F.cos(lr)) / F.lit(math.pi))
        / F.lit(2.0) * F.lit(n)
    )
    clamp = lambda c: F.least(F.greatest(c, F.lit(0.0)), F.lit(n - 1.0)).cast("long")  # noqa: E731
    return clamp(xt), clamp(yt)


def tile_bbox_cols(z_col, x_col, y_col):
    """Column form of tile_mercator_bbox (src/vector_tile_projection.hpp:17-28)."""
    from pyspark.sql import functions as F

    ts = F.lit(EARTH_CIRCUMFERENCE) / F.pow(F.lit(2.0), z_col.cast("double"))
    h = F.lit(HALF_OF_EQUATOR)
    minx = -h + x_col.cast("double") * ts
    miny = h - (y_col.cast("double") + F.lit(1.0)) * ts
    maxx = -h + (x_col.cast("double") + F.lit(1.0)) * ts
    maxy = h - y_col.cast("double") * ts
    return minx, miny, maxx, maxy
