"""S2 cell encoding: table-inverse + Hilbert-continuity properties,
known-face vectors, parent/containment algebra, Spark wrapper parity.

The Hilbert tables are validated structurally (the defining curve
properties), not against copied test vectors: consecutive positions on
the curve must be grid-adjacent, the ij->pos map must invert pos->ij,
and orientation composition must make that hold through all 4^5 cells
of a level-5 face.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from tilemaker_spark.functions.s2 import (
    MAX_LEVEL, _IJ_TO_POS, _POS_TO_IJ, _POS_TO_ORIENT,
    face_uv_from_xyz, hilbert_pos, s2_cell_id, s2_parent, s2_token,
    s2_cell_at_level_col, s2_face_col, s2_pos_at_level_col,
    with_s2_cell,
)


def _pos_to_ij_walk(face: int, pos: int, level: int):
    """Scalar inverse Hilbert walk using the FORWARD table — the
    independent direction the kernel never uses."""
    i = j = 0
    orient = face & 1
    for k in range(level):
        shift = 2 * (level - 1 - k)
        pos_bits = (pos >> shift) & 3
        ij = int(_POS_TO_IJ[orient, pos_bits])
        i = (i << 1) | (ij >> 1)
        j = (j << 1) | (ij & 1)
        orient ^= int(_POS_TO_ORIENT[pos_bits])
    return i, j


def test_tables_are_mutual_inverses():
    for orient in range(4):
        for pos in range(4):
            ij = _POS_TO_IJ[orient, pos]
            assert _IJ_TO_POS[orient, ij] == pos


@pytest.mark.parametrize("face", [0, 1])  # even + odd start orientation
def test_hilbert_curve_is_continuous_and_invertible(face):
    level = 5
    cells = [_pos_to_ij_walk(face, p, level) for p in range(4 ** level)]
    # space-filling: every (i,j) visited exactly once
    assert len(set(cells)) == 4 ** level
    # continuity: consecutive curve positions are grid neighbors
    for (i0, j0), (i1, j1) in zip(cells, cells[1:]):
        assert abs(i0 - i1) + abs(j0 - j1) == 1
    # the vectorized forward kernel inverts the walk (leaf-scaled)
    shift = MAX_LEVEL - level
    i5 = np.array([c[0] for c in cells], dtype=np.int64) << shift
    j5 = np.array([c[1] for c in cells], dtype=np.int64) << shift
    pos = hilbert_pos(np.full(len(cells), face, dtype=np.int64), i5, j5)
    np.testing.assert_array_equal(pos >> (2 * shift),
                                  np.arange(4 ** level, dtype=np.int64))


def test_known_faces_and_centers():
    lat = np.array([0.0, 0.0, 90.0, 0.0, 0.0, -90.0])
    lon = np.array([0.0, 90.0, 0.0, 180.0, -90.0, 0.0])
    ids = s2_cell_id(lat, lon)
    faces = (ids.astype(np.uint64) >> np.uint64(61)).astype(np.int64)
    np.testing.assert_array_equal(faces, np.arange(6))
    # (0, 0) is the exact center of face 0 (u = v = exactly 0.0, so
    # s = t = 0.5 and i = j = 2^29); the other faces' centers are one
    # libm ulp off axis-exactness, so only this one is bit-exact
    pos = (ids.astype(np.uint64) >> np.uint64(1)) & np.uint64((1 << 60) - 1)
    c = np.int64(1 << 29)
    center_pos = hilbert_pos(np.array([0], dtype=np.int64),
                             np.array([c]), np.array([c]))
    assert pos[0] == np.uint64(center_pos[0])


def _face_uv_all_quotients(x, y, z, face):
    """The former formula, kept as the oracle: every per-face quotient
    is computed, then np.select keeps two."""
    with np.errstate(divide="ignore", invalid="ignore"):
        faces = [face == 0, face == 1, face == 2, face == 3, face == 4]
        u = np.select(faces, [y / x, -(x / y), -(x / z), z / x, z / y],
                      default=-(y / z))
        v = np.select(faces, [z / x, z / y, -(y / z), y / x, -(x / y)],
                      default=-(x / z))
    return u, v


def test_face_uv_divides_only_by_the_major_axis():
    """Axis-plane points raise no RuntimeWarning, and u/v on random
    points are bit-identical to the all-quotients formula."""
    import warnings
    axes = np.array([[1.0, 0, 0], [0, 1.0, 0], [0, 0, 1.0],
                     [-1.0, 0, 0], [0, -1.0, 0], [0, 0, -1.0],
                     [0.6, 0.8, 0], [0, -0.6, 0.8]])
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        face, u, v = face_uv_from_xyz(axes[:, 0], axes[:, 1], axes[:, 2])
    assert np.isfinite(u).all() and np.isfinite(v).all()
    rng = np.random.default_rng(3)
    p = rng.normal(size=(20000, 3))
    p /= np.linalg.norm(p, axis=1, keepdims=True)
    x, y, z = p[:, 0], p[:, 1], p[:, 2]
    face, u, v = face_uv_from_xyz(x, y, z)
    assert set(face.tolist()) == set(range(6))
    u0, v0 = _face_uv_all_quotients(x, y, z, face)
    assert u.tobytes() == u0.tobytes()
    assert v.tobytes() == v0.tobytes()


def test_parent_nesting_and_token():
    rng = np.random.default_rng(7)
    lat = rng.uniform(-85, 85, 500)
    lon = rng.uniform(-180, 180, 500)
    leaf = s2_cell_id(lat, lon)
    p12 = s2_parent(leaf, 12)
    p5 = s2_parent(leaf, 5)
    # deriving the level-5 ancestor from the level-12 cell agrees
    np.testing.assert_array_equal(s2_parent(p12, 5), p5)
    # a cell at level L has exactly 2*(30-L) trailing zeros below its
    # center bit and its position bits agree with the leaf's prefix
    lsb12 = np.int64(1) << (2 * (MAX_LEVEL - 12))
    assert np.all((p12 & (lsb12 - 1)) == 0) and np.all((p12 & lsb12) == lsb12)
    leaf_pos = (leaf.astype(np.uint64) >> np.uint64(1)) & np.uint64((1 << 60) - 1)
    p12_pos = (p12.astype(np.uint64) >> np.uint64(1 + 2 * (MAX_LEVEL - 12)))
    np.testing.assert_array_equal(
        (leaf_pos >> np.uint64(2 * (MAX_LEVEL - 12))),
        p12_pos & np.uint64((1 << 24) - 1))
    assert s2_token(0x1000000000000000) == "1"
    assert s2_token(0) == "X"
    tok = s2_token(int(leaf[0]))
    assert int(tok.ljust(16, "0"), 16) == int(leaf[0]) & 0xFFFFFFFFFFFFFFFF


def test_spark_wrapper_matches_numpy(spark):
    rng = np.random.default_rng(11)
    lat = rng.uniform(-80, 80, 400)
    lon = rng.uniform(-179, 179, 400)
    df = spark.createDataFrame(
        [(int(k), float(a), float(o)) for k, (a, o) in enumerate(zip(lat, lon))],
        "id long, lat double, lon double")
    out = (with_s2_cell(df, level=12)
           .select("id", "s2_cell",
                   s2_face_col(F.col("_s2_leaf")).alias("face"),
                   s2_pos_at_level_col(F.col("_s2_leaf"), 12).alias("pos12"))
           .orderBy("id").toPandas())
    leaf = s2_cell_id(lat, lon)
    np.testing.assert_array_equal(out["s2_cell"].to_numpy(),
                                  s2_parent(leaf, 12))
    np.testing.assert_array_equal(
        out["face"].to_numpy(),
        (leaf.astype(np.uint64) >> np.uint64(61)).astype(np.int64))
    expected_pos12 = ((leaf.astype(np.uint64) >> np.uint64(1 + 2 * (MAX_LEVEL - 12)))
                      & np.uint64((1 << 24) - 1)).astype(np.int64)
    np.testing.assert_array_equal(out["pos12"].to_numpy(), expected_pos12)
