"""Web-Mercator z/x/y tile assignment — pure column math (no UDF).

The standard slippy-map scheme (OSM / XYZ):
    x = floor((lon + 180) / 360 * 2^z)
    y = floor((1 - asinh(tan(lat_rad)) / pi) / 2 * 2^z)
clamped to [0, 2^z - 1]; latitudes outside the Web-Mercator domain
(|lat| > 85.0511287798066) clamp to the edge rows.

This is the "raster -> vector tile assignment" stage of the north-star
pipeline (BASELINE.json: "materializes raster-to-vector tile assignments
(z/x/y + H3 cell per image)"). The reference repo has no tiling; its
closest analogue is the bbox -> polygon-ring math at
stac_to_geocore.py:176-186, which we reuse for footprints.

Everything here stays inside whole-stage codegen: F.floor / F.log / F.tan
compile to JVM expressions, so tile assignment over 10^12 rows is a pure
map stage with zero Python or shuffle cost.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

MAX_MERCATOR_LAT = 85.05112877980659


def _clamped_lat(lat: Column) -> Column:
    return F.greatest(F.lit(-MAX_MERCATOR_LAT), F.least(F.lit(MAX_MERCATOR_LAT), lat))


def tile_x_expr(lon: Column, z: int) -> Column:
    """Tile x index for longitude column at zoom z (pure column math)."""
    n = F.lit(float(2**z))
    raw = F.floor((lon + F.lit(180.0)) / F.lit(360.0) * n)
    return F.greatest(F.lit(0), F.least(F.lit(2**z - 1), raw)).cast("long")


def tile_y_expr(lat: Column, z: int) -> Column:
    """Tile y index for latitude column at zoom z (pure column math).

    Uses asinh(tan(lat)) = log(tan(lat) + sec(lat)) spelled with F.log /
    F.tan / F.cos so the whole expression stays JVM-side.
    """
    n = F.lit(float(2**z))
    lat_r = F.radians(_clamped_lat(lat))
    merc = F.log(F.tan(lat_r) + F.lit(1.0) / F.cos(lat_r))
    raw = F.floor((F.lit(1.0) - merc / F.lit(math.pi)) / F.lit(2.0) * n)
    return F.greatest(F.lit(0), F.least(F.lit(2**z - 1), raw)).cast("long")


# --- numpy twin (oracle for tests + fixture generation) ---


def tile_xy_np(lon: np.ndarray, lat: np.ndarray, z: int) -> tuple[np.ndarray, np.ndarray]:
    n = float(2**z)
    x = np.floor((lon + 180.0) / 360.0 * n)
    latc = np.clip(lat, -MAX_MERCATOR_LAT, MAX_MERCATOR_LAT)
    lat_r = np.radians(latc)
    merc = np.log(np.tan(lat_r) + 1.0 / np.cos(lat_r))
    y = np.floor((1.0 - merc / math.pi) / 2.0 * n)
    x = np.clip(x, 0, 2**z - 1).astype(np.int64)
    y = np.clip(y, 0, 2**z - 1).astype(np.int64)
    return x, y
