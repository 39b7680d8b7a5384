"""Property-based tests (hypothesis) for the numpy geometry kernels and
the MVT codec — pure-python, no Spark session needed."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from tilemaker_spark.functions import geomnp as G
from tilemaker_spark.functions import mvt
from tilemaker_spark import sinks

coord = st.floats(min_value=-170.0, max_value=170.0, allow_nan=False,
                  width=64).map(lambda v: round(v, 5))


@st.composite
def rings(draw, min_pts=3, max_pts=12):
    n = draw(st.integers(min_pts, max_pts))
    pts = [(draw(coord), draw(coord)) for _ in range(n)]
    return np.asarray(pts, dtype=np.float64)


@given(rings())
@settings(max_examples=60, deadline=None)
def test_clip_stays_in_box(ring):
    box = (-10.0, -10.0, 10.0, 10.0)
    out = G.clip_ring_to_box(ring, box)
    if len(out):
        assert out[:, 0].min() >= box[0] - 1e-9
        assert out[:, 0].max() <= box[2] + 1e-9
        assert out[:, 1].min() >= box[1] - 1e-9
        assert out[:, 1].max() <= box[3] + 1e-9


@given(rings())
@settings(max_examples=60, deadline=None)
def test_clip_identity_when_inside(ring):
    from hypothesis import assume
    # the kernel treats first==last as an explicit closing point and
    # drops it (open-ring convention) — exclude that representation
    assume(tuple(ring[0]) != tuple(ring[-1]))
    lo = float(min(ring[:, 0].min(), ring[:, 1].min())) - 1.0
    hi = float(max(ring[:, 0].max(), ring[:, 1].max())) + 1.0
    out = G.clip_ring_to_box(ring, (lo, lo, hi, hi))
    assert np.allclose(out, ring)


@given(rings(min_pts=2))
@settings(max_examples=60, deadline=None)
def test_simplify_dp_subset_and_endpoints(line):
    out = G.simplify_dp(line, 0.5)
    assert np.array_equal(out[0], line[0])
    assert np.array_equal(out[-1], line[-1])
    # every output vertex is one of the input vertices
    in_set = {tuple(p) for p in line}
    assert all(tuple(p) in in_set for p in out)
    assert len(out) <= len(line)


@given(rings(min_pts=2, max_pts=6), st.integers(3, 10))
@settings(max_examples=40, deadline=None)
def test_supercover_connected_and_covers_endpoints(line, z):
    tiles = G.supercover_tiles(line, z)
    from tilemaker_spark.functions.coords import lat2tiley_np, lon2tilex_np
    # endpoints' tiles are in the cover (latp-space y: the kernel works
    # in (lon, latp) — here we feed raw coords consistently as latp)
    for p in (line[0], line[-1]):
        tx = int(np.floor((p[0] + 180.0) / 360.0 * (1 << z)))
        ty = int(np.floor((180.0 - p[1]) / 360.0 * (1 << z)))
        assert (tx, ty) in tiles


@given(st.integers(0, 14), st.data())
@settings(max_examples=80, deadline=None)
def test_hilbert_tileid_roundtrip(z, data):
    x = data.draw(st.integers(0, (1 << z) - 1))
    y = data.draw(st.integers(0, (1 << z) - 1))
    tid = sinks.zxy_to_tileid(z, x, y)
    assert sinks.tileid_to_zxy(tid) == (z, x, y)


@given(st.lists(st.tuples(st.integers(0, 4095), st.integers(0, 4095)),
                min_size=1, max_size=20))
@settings(max_examples=60, deadline=None)
def test_mvt_point_roundtrip(pts):
    uniq = list(dict.fromkeys(pts))
    lb = mvt.LayerBuilder("t")
    lb.add_feature(mvt.GEOM_POINT, mvt.encode_point_geometry(uniq),
                   attrs=[("n", "v")])
    dec = mvt.decode_tile(mvt.encode_tile([lb]))
    got = [p[0] for p in dec["t"]["features"][0]["geom"]]
    assert got == uniq


@given(st.lists(st.tuples(st.integers(-100, 4200), st.integers(-100, 4200)),
                min_size=3, max_size=15, unique=True))
@settings(max_examples=60, deadline=None)
def test_mvt_polygon_roundtrip(ring):
    """Roundtrip up to MVT-spec winding normalization: a lone ring is an
    exterior, so it decodes as the input if already positive-area, else
    as its start-preserving reversal — never any other permutation."""
    lb = mvt.LayerBuilder("t")
    lb.add_feature(mvt.GEOM_POLYGON, mvt.encode_polygon_geometry([ring]))
    dec = mvt.decode_tile(mvt.encode_tile([lb]))
    got = [tuple(p) for p in dec["t"]["features"][0]["geom"][0]]
    fwd = [tuple(p) for p in ring]
    rev = [fwd[0]] + fwd[:0:-1]
    area = mvt._ring_shoelace(fwd)
    if area < 0:
        assert got == rev
    elif area > 0:
        assert got == fwd
    else:
        assert got == fwd  # degenerate rings pass through unchanged
    assert mvt._ring_shoelace(got) >= 0


@given(st.lists(st.binary(min_size=0, max_size=200), min_size=1, max_size=5))
@settings(max_examples=40, deadline=None)
def test_gzip_deterministic(blobs):
    tile = b"".join(blobs)
    assert mvt.compress_tile(tile, "gzip") == mvt.compress_tile(tile, "gzip")


@given(st.lists(st.binary(min_size=0, max_size=500), min_size=1, max_size=4))
@settings(max_examples=40, deadline=None)
def test_gzip_byte_identical(blobs):
    """The hand-assembled gzip stream must equal
    gzip.compress(level=6, mtime=0) byte-for-byte (the byte-stability
    invariant survives the fast path)."""
    import gzip as _gzip
    tile = b"".join(blobs)
    assert mvt.compress_tile(tile, "gzip") == _gzip.compress(
        tile, compresslevel=6, mtime=0)


def _kernel_rows():
    """Feature rows sorted on (z, x, y), as the encoder receives them:
    a z2 road tile below the roads layer's minzoom (no feature survives)
    and two z14 tiles of points, the second with a road too."""
    import pandas as pd
    from tilemaker_spark.functions.coords import tilex2lon, tiley2latp

    def pt(x, y, fx, fy):
        return [np.array([tilex2lon(x + fx, 14), tiley2latp(y + fy, 14)])]

    rows = [(2, 1, 1, 90, "roads", 2,
             [np.array([tilex2lon(1.2, 2), tiley2latp(1.5, 2),
                        tilex2lon(1.8, 2), tiley2latp(1.5, 2)])])]
    rows += [(14, 2000, 6000, i, "pages", 1, pt(2000, 6000, 0.1 * i, 0.5))
             for i in range(1, 4)]
    rows += [(14, 2001, 6000, i, "pages", 1, pt(2001, 6000, 0.5, 0.1 * i))
             for i in range(4, 9)]
    rows += [(14, 2001, 6000, 9, "roads", 2,
              [np.concatenate(pt(2001, 6000, 0.2, 0.2)
                              + pt(2001, 6000, 0.8, 0.7))])]
    pdf = pd.DataFrame(rows, columns=["z", "x", "y", "feature_id", "layer",
                                      "geom_type", "geom"])
    return pdf.assign(z_order=0, attrs=[{"n": str(i)} for i in pdf.index])


def _drive(fn, pdf, cuts):
    """Concatenated output of ``fn`` over ``pdf`` cut into batches."""
    import pandas as pd
    bounds = [0, *cuts, len(pdf)]
    out = list(fn(pdf.iloc[a:b] for a, b in zip(bounds, bounds[1:])))
    return pd.concat(out, ignore_index=True)


def _check_tiles(out, compress):
    from tilemaker_spark.operators.tile_assembly import TILE_SCHEMA
    np_types = {"int": "int32", "long": "int64", "binary": "object"}
    want = {c: np_types[t] for c, t in
            (f.split() for f in TILE_SCHEMA.split(", "))}
    assert {c: str(t) for c, t in out.dtypes.items()} == want
    assert (out["n_bytes"] == out["tile"].map(len)).all()
    for tile, n in zip(out["tile"], out["n_features"]):
        dec = mvt.decode_tile(mvt.decompress_tile(tile, compress))
        assert sum(len(v["features"]) for v in dec.values()) == n


def test_stream_assembler_batch_edges():
    """The encoder's output does not depend on where batches cut: a tile
    whose rows straddle a boundary is carried whole into the next batch,
    a tile whose every row falls outside its layer's zooms is dropped,
    and every frame has TILE_SCHEMA's dtypes. The salted merge of
    partial tiles holds to the same rules."""
    from tilemaker_spark.config import default_config
    from tilemaker_spark.operators.tile_assembly import (
        _merge_partials, carry_batches, make_stream_assembler)

    cfg = default_config()
    pdf = _kernel_rows()
    whole = _drive(make_stream_assembler(cfg), pdf, [])
    assert list(zip(whole["z"], whole["x"], whole["y"])) == [
        (14, 2000, 6000), (14, 2001, 6000)]
    assert whole["n_features"].tolist() == [3, 6]
    _check_tiles(whole, cfg.compress)
    for cuts in ([6], [2, 5], [4, 7, 8], list(range(1, len(pdf)))):
        assert _drive(make_stream_assembler(cfg), pdf, cuts).equals(whole)

    # two salts of the second tile encoded apart, as two encode tasks
    # would; the merge takes the partials sorted on (z, x, y)
    import pandas as pd
    salt = pdf["feature_id"] % 2
    partials = pd.concat([_drive(make_stream_assembler(cfg), pdf[salt == s],
                                 []) for s in (0, 1)], ignore_index=True)
    partials = partials.sort_values(["z", "x", "y"], kind="stable",
                                    ignore_index=True)
    assert len(partials) == 4

    def merge(batches):
        return carry_batches(batches, ("z", "x", "y"),
                             lambda p: _merge_partials(p, cfg.compress))

    merged = _drive(merge, partials, [])
    assert merged[["z", "x", "y", "n_features"]].equals(
        whole[["z", "x", "y", "n_features"]])
    _check_tiles(merged, cfg.compress)
    for cuts in ([1], [2], [3], [1, 2, 3]):
        assert _drive(merge, partials, cuts).equals(merged)
