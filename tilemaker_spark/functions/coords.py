"""Coordinate & tile math — numpy kernels + Spark Column expressions.

Reproduces the reference's spherical-Mercator projection and tile
conversions exactly (reference: src/coordinates.cpp:23-41,
include/coordinates.h). Two parallel implementations:

  * numpy (``*_np``) — used inside Arrow pandas UDFs for geometry work.
  * Column expressions (``*_col``) — used in DataFrame plans so the math
    stays JVM-side inside whole-stage codegen and Catalyst can push
    filters through it.

Internal convention (same as the reference): geometry math happens in
(lon, latp) degrees, where latp is Mercator-projected latitude.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

RADIUS_METER = 6371000.0  # reference: include/coordinates_geom.h RadiusMeter
LAT_CLAMP = 85.06  # reference clamps latitude at +/-85.06 (src/coordinates.cpp:23)

# ---------------------------------------------------------------- numpy

def lat2latp_np(lat):
    """Project latitude to spherical-Mercator latp (src/coordinates.cpp:23)."""
    lat = np.clip(np.asarray(lat, dtype=np.float64), -LAT_CLAMP, LAT_CLAMP)
    return np.degrees(np.log(np.tan(np.radians(lat + 90.0) / 2.0)))


def latp2lat_np(latp):
    """Unproject latp back to latitude (src/coordinates.cpp:24)."""
    latp = np.asarray(latp, dtype=np.float64)
    return np.degrees(np.arctan(np.exp(np.radians(latp))) * 2.0) - 90.0


def lon2tilexf_np(lon, z: int):
    """Fractional tile x at zoom z (src/coordinates.cpp:27)."""
    return (np.asarray(lon, dtype=np.float64) + 180.0) * (1.0 / 360.0) * float(1 << z)


def latp2tileyf_np(latp, z: int):
    """Fractional tile y at zoom z from projected latitude (src/coordinates.cpp:28)."""
    return (180.0 - np.asarray(latp, dtype=np.float64)) * (1.0 / 360.0) * float(1 << z)


def lat2tileyf_np(lat, z: int):
    return latp2tileyf_np(lat2latp_np(lat), z)


def lon2tilex_np(lon, z: int):
    return lon2tilexf_np(lon, z).astype(np.int64)


def lat2tiley_np(lat, z: int):
    return lat2tileyf_np(lat, z).astype(np.int64)


# scalar conveniences (python floats, exact same formulas)

def lat2latp(lat: float) -> float:
    lat = min(max(lat, -LAT_CLAMP), LAT_CLAMP)
    return math.degrees(math.log(math.tan(math.radians(lat + 90.0) / 2.0)))


def tilex2lon(x: float, z: int) -> float:
    return x / float(1 << z) * 360.0 - 180.0


def tiley2latp(y: float, z: int) -> float:
    return 180.0 - y / float(1 << z) * 360.0


# --------------------------------------------------------- Column exprs

def lat2latp_col(lat: Column) -> Column:
    """Column version of lat2latp; stays inside whole-stage codegen."""
    clamped = F.least(F.greatest(lat, F.lit(-LAT_CLAMP)), F.lit(LAT_CLAMP))
    return F.degrees(F.log(F.tan(F.radians(clamped + F.lit(90.0)) / F.lit(2.0))))


def lon2tilex_col(lon: Column, z) -> Column:
    """Integer tile x at zoom z. z may be an int or a Column."""
    scale = F.pow(F.lit(2.0), z) if isinstance(z, Column) else F.lit(float(1 << z))
    return F.floor((lon + F.lit(180.0)) / F.lit(360.0) * scale).cast("long")


def latp2tiley_col(latp: Column, z) -> Column:
    scale = F.pow(F.lit(2.0), z) if isinstance(z, Column) else F.lit(float(1 << z))
    return F.floor((F.lit(180.0) - latp) / F.lit(360.0) * scale).cast("long")


def lat2tiley_col(lat: Column, z) -> Column:
    return latp2tiley_col(lat2latp_col(lat), z)


def zorder_key_col(x: Column, y: Column, bits: int = 16) -> Column:
    """O3 — Morton/Z-order key by bit interleaving (x even bits, y odd),
    the column analog of the reference's hierarchical-Z index sort
    (include/tile_data.h:109-136). Pure integer Column math (codegen);
    use with repartitionByRange + sortWithinPartitions for locality-
    clustered writes."""
    acc = F.lit(0).cast("long")
    for i in range(bits):
        acc = acc + F.shiftleft(F.shiftright(x, i) % 2, 2 * i) \
            + F.shiftleft(F.shiftright(y, i) % 2, 2 * i + 1)
    return acc


# --------------------------------------------------------------- TileBbox

class TileBbox:
    """Envelope + scaling for one (z, x, y) tile.

    Mirrors the reference TileBbox (src/coordinates_geom.cpp:9-32):
    0.5% clip margin, 4096/8192 integer extent, floor-based quantization.
    Coordinates are (lon, latp).
    """

    __slots__ = ("z", "x", "y", "min_lon", "max_lon", "min_latp", "max_latp",
                 "xmargin", "ymargin", "xscale", "yscale", "extent", "hires")

    def __init__(self, z: int, x: int, y: int, hires: bool = False):
        self.z, self.x, self.y = z, x, y
        self.hires = hires
        self.min_lon = tilex2lon(x, z)
        self.max_lon = tilex2lon(x + 1, z)
        self.max_latp = tiley2latp(y, z)
        self.min_latp = tiley2latp(y + 1, z)
        self.extent = 8192 if hires else 4096
        self.xmargin = (self.max_lon - self.min_lon) / 200.0
        self.ymargin = (self.max_latp - self.min_latp) / 200.0
        self.xscale = (self.max_lon - self.min_lon) / float(self.extent)
        self.yscale = (self.max_latp - self.min_latp) / float(self.extent)

    @property
    def clipping_box(self):
        """(minx, miny, maxx, maxy) with 0.5% margin, in (lon, latp)."""
        return (self.min_lon - self.xmargin, self.min_latp - self.ymargin,
                self.max_lon + self.xmargin, self.max_latp + self.ymargin)

    def extend_box(self):
        """Line-clip extended box (src/coordinates_geom.cpp:95-99)."""
        w = self.max_lon - self.min_lon
        h = self.max_latp - self.min_latp
        return (self.min_lon - w * 2.0, self.min_latp - h * (8191.0 / 8192.0),
                self.max_lon + w * (8191.0 / 8192.0), self.max_latp + h * 2.0)

    def scale_xy(self, lon, latp):
        """Quantize (lon, latp) arrays to integer tile-extent coords.

        Exact formula from src/coordinates_geom.cpp:28-32
        (floor((lon-minLon)/xscale)) in float64 for cross-worker determinism.
        """
        xs = np.floor((np.asarray(lon, dtype=np.float64) - self.min_lon) / self.xscale)
        ys = np.floor((self.max_latp - np.asarray(latp, dtype=np.float64)) / self.yscale)
        return xs.astype(np.int64), ys.astype(np.int64)
