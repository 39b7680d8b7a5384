"""S2 cell encoding — vectorized (numpy kernel behind an Arrow pandas
UDF), from the published S2 geometry spec.

The north rule mandates spatial indexing "via vectorized H3/S2 cell
encoding in Arrow pandas UDFs"; this module implements the S2 half from
scratch against the public algorithm description (s2geometry.io and the
open-source s2geometry library's documented cell-id layout — no code
copied): lat/lon -> unit-sphere XYZ -> cube face + (u,v) -> quadratic
(s,t) projection -> 30-bit (i,j) -> Hilbert-curve position via the
4-entry orientation lookup tables -> 64-bit cell id
``face(3 bits) | hilbert_pos(2*30 bits) | trailing 1``.

Everything is numpy array math — one pass over the batch per Hilbert
level (30 table lookups), no per-row Python. The Spark wrapper is a
single Arrow-batched pandas UDF returning the leaf cell id; face /
level truncation / Hilbert position are then plain JVM Column bit math
(`s2_face_col`, `s2_pos_at_level_col`, `s2_cell_at_level_col`), so a
groupBy on cells stays in whole-stage codegen.

Oracle story: the DuckDB twin (see ``__spark_entry__.sql_s2_lut_values``
consumers) replays the same pipeline as SQL — identical float formulas,
the same 16-row (orientation, ij) -> (pos_bits, next_orientation)
lookup table as a VALUES relation, and a 30-step recursive CTE for the
Hilbert walk — an independent scalar implementation of the same public
spec, so the contract check compares two from-scratch encoders.

Divergence from the reference library, documented: quantization uses
``floor(s * 2**30)`` (clamped) where s2geometry uses
``lround(s * 2**30 - 0.5)``; they differ only when ``s * 2**30`` lands
within rounding distance of an exact half-integer (measure zero for
md5-derived fixture coordinates), and both sides of the oracle use the
identical formula.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import LongType

MAX_LEVEL = 30
_MAX_SIZE = 1 << MAX_LEVEL  # ij resolution at the leaf level

# Hilbert sub-cell traversal tables (public constants from the S2 spec).
# Orientation bits: 1 = swap i/j axes, 2 = invert both axes.
_POS_TO_IJ = np.array(
    [[0, 1, 3, 2],   # canonical order
     [0, 2, 3, 1],   # axes swapped
     [3, 2, 0, 1],   # bits inverted
     [3, 1, 0, 2]],  # swapped & inverted
    dtype=np.int64)
# Inverse per row: _IJ_TO_POS[orient][ij] = pos with _POS_TO_IJ[orient][pos] = ij
_IJ_TO_POS = np.array(
    [[0, 1, 3, 2],
     [0, 3, 1, 2],
     [2, 3, 1, 0],
     [2, 1, 3, 0]],
    dtype=np.int64)
_POS_TO_ORIENT = np.array([1, 0, 0, 3], dtype=np.int64)
_RAD = 0.017453292519943295  # pi / 180, written as the same literal in SQL


def xyz_from_latlon(lat: np.ndarray, lon: np.ndarray):
    """Unit-sphere XYZ. Plain products of libm sin/cos so the DuckDB
    twin (same host libm) reproduces the doubles bit-for-bit."""
    phi = lat * _RAD
    theta = lon * _RAD
    cphi = np.cos(phi)
    return cphi * np.cos(theta), cphi * np.sin(theta), np.sin(phi)


def face_uv_from_xyz(x: np.ndarray, y: np.ndarray, z: np.ndarray):
    """Cube face (0..5 = +x +y +z -x -y -z) and face-local (u, v).

    Face pick: first axis (x, then y, then z) whose |coord| is >= both
    others — the same explicit comparison chain is written in the SQL
    twin so exact ties (measure zero) resolve identically.

    Each face's numerators are selected first and divided once by the
    major coordinate (never zero on the sphere). Negation is exact, so
    ``(-x) / y`` equals the twin's ``-(x / y)`` bit for bit.
    """
    ax, ay, az = np.abs(x), np.abs(y), np.abs(z)
    x_major = (ax >= ay) & (ax >= az)
    y_major = ~x_major & (ay >= az)
    axis = np.where(x_major, 0, np.where(y_major, 1, 2))
    major = np.where(x_major, x, np.where(y_major, y, z))
    face = axis + np.where(major >= 0, 0, 3)
    faces = [face == 0, face == 1, face == 2, face == 3, face == 4]
    u = np.select(faces, [y, -x, -x, z, z], default=-y) / major
    v = np.select(faces, [z, z, -y, y, -x], default=-x) / major
    return face.astype(np.int64), u, v


def st_from_uv(u: np.ndarray) -> np.ndarray:
    """Quadratic projection (the S2 default): equalizes cell areas.

    Both branches reduce to sqrt(1 + 3|u|), computed once (also avoids
    evaluating sqrt of a negative on the unselected np.where branch).
    """
    r = 0.5 * np.sqrt(1.0 + 3.0 * np.abs(u))
    return np.where(u >= 0, r, 1.0 - r)


def ij_from_st(s: np.ndarray) -> np.ndarray:
    return np.clip(np.floor(s * _MAX_SIZE), 0, _MAX_SIZE - 1).astype(np.int64)


def hilbert_pos(face: np.ndarray, i: np.ndarray, j: np.ndarray) -> np.ndarray:
    """Hilbert-curve position of leaf (i, j) on `face` — 60 bits.

    30 vectorized table-lookup steps (2 bits of i and j per step);
    initial orientation is ``face & 1`` (the swap bit), per the spec.
    """
    pos = np.zeros(face.shape, dtype=np.int64)
    orient = face & 1
    for k in range(MAX_LEVEL - 1, -1, -1):
        ij = (((i >> k) & 1) << 1) | ((j >> k) & 1)
        pos_bits = _IJ_TO_POS[orient, ij]
        pos = (pos << 2) | pos_bits
        orient = orient ^ _POS_TO_ORIENT[pos_bits]
    return pos


def s2_cell_id(lat: np.ndarray, lon: np.ndarray) -> np.ndarray:
    """Leaf (level-30) S2 cell ids for degree lat/lon arrays, as the
    canonical uint64 bit layout reinterpreted int64 (faces 4-5 are
    negative; all bit math below is layout-safe)."""
    x, y, z = xyz_from_latlon(np.asarray(lat, dtype=np.float64),
                              np.asarray(lon, dtype=np.float64))
    face, u, v = face_uv_from_xyz(x, y, z)
    i = ij_from_st(st_from_uv(u))
    j = ij_from_st(st_from_uv(v))
    pos = hilbert_pos(face, i, j)
    return (face << 61) | (pos << 1) | 1


def s2_parent(cell_id: np.ndarray, level: int) -> np.ndarray:
    """Ancestor of a leaf (or deeper) cell id at `level`: zero the
    position bits below the new center bit, then set it."""
    if not 0 <= level <= MAX_LEVEL:
        raise ValueError(f"level {level} out of [0, {MAX_LEVEL}]")
    lsb = np.int64(1) << (2 * (MAX_LEVEL - level))
    return (cell_id & ~(2 * lsb - 1)) | lsb


def s2_token(cell_id: int) -> str:
    """Canonical S2 token: uint64 hex, trailing zeros stripped."""
    u = int(cell_id) & 0xFFFFFFFFFFFFFFFF
    if u == 0:
        return "X"
    return f"{u:016x}".rstrip("0")


# ------------------------------------------------------------- Spark

@pandas_udf(LongType())
def s2_leaf_udf(lat: pd.Series, lon: pd.Series) -> pd.Series:
    """Arrow-batched leaf cell id (the one Python touchpoint)."""
    return pd.Series(s2_cell_id(lat.to_numpy(), lon.to_numpy()))


def s2_face_col(cell: Column) -> Column:
    return F.shiftrightunsigned(cell, 61).cast("int")


def s2_pos_at_level_col(cell: Column, level: int) -> Column:
    """Hilbert position truncated to `level` (JVM bit math)."""
    shift = 1 + 2 * (MAX_LEVEL - level)
    mask = F.lit((1 << (2 * level)) - 1).cast("long")
    return F.shiftrightunsigned(cell, shift).bitwiseAND(mask)


def s2_cell_at_level_col(cell: Column, level: int) -> Column:
    """Ancestor cell id at `level` as a Column (JVM bit math)."""
    lsb = 1 << (2 * (MAX_LEVEL - level))
    return cell.bitwiseAND(F.lit(~(2 * lsb - 1))).bitwiseOR(F.lit(lsb))


def with_s2_cell(df: DataFrame, lat_col: str = "lat", lon_col: str = "lon",
                 level: int = 12, out: str = "s2_cell") -> DataFrame:
    """Attach an S2 cell id at `level`. One vectorized UDF for the leaf
    id; the level truncation is a JVM expression, so downstream
    groupBy/join on `out` never re-enters Python."""
    leaf = s2_leaf_udf(F.col(lat_col).cast("double"),
                       F.col(lon_col).cast("double"))
    return df.withColumn("_s2_leaf", leaf).withColumn(
        out, s2_cell_at_level_col(F.col("_s2_leaf"), level))


def sql_s2_lut_values() -> str:
    """The 16-row Hilbert lookup relation for the DuckDB twin:
    (orient, ij, pos_bits, next_orient) — generated from the same
    tables the numpy kernel uses."""
    rows = []
    for orient in range(4):
        for ij in range(4):
            pb = int(_IJ_TO_POS[orient, ij])
            rows.append(f"({orient}, {ij}, {pb}, "
                        f"{orient ^ int(_POS_TO_ORIENT[pb])})")
    return ", ".join(rows)
