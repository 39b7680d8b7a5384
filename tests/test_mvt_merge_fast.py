"""merge_tiles_fast must be byte-identical to the decode/re-encode merge
below (the oracle) for engine-produced partial tiles (LayerBuilder
interns keys/values in first-use order, attrs written key-sorted) and
decode-equivalent for arbitrary valid tiles. This pins the salted hot
merge (tile_assembly._merge_partials) and sinks.merge_tilesets."""

import random

from tilemaker_spark.functions import mvt


def merge_tiles(blobs) -> bytes:
    """The oracle: decode every feature, concatenate same-named layers
    and re-encode (delta ints are relative within a feature, so the
    geometry roundtrip is lossless)."""
    merged: dict = {}
    for b in blobs:
        for name, ld in mvt.decode_tile(b).items():
            lb = merged.setdefault(name, mvt.LayerBuilder(
                name, extent=ld["extent"], version=ld.get("version", 2)))
            for f in ld["features"]:
                t = f["type"]
                if t == mvt.GEOM_POINT:
                    geom = mvt.encode_point_geometry([p[0] for p in f["geom"]])
                elif t == mvt.GEOM_LINESTRING:
                    geom = mvt.encode_line_geometry(f["geom"])
                else:
                    geom = mvt.encode_polygon_geometry(f["geom"])
                lb.add_feature(t, geom, attrs=sorted(f["attrs"].items()),
                               feature_id=f["id"])
    return mvt.encode_tile(merged.values())


def _build_partial(seed: int, n_feat: int, layer_names=("pts", "roads")):
    """Engine-shaped partial: LayerBuilder tiles, attrs pre-sorted by key
    (the assembler's contract), mixed geometry types and value types."""
    rng = random.Random(seed)
    layers = []
    for name in layer_names:
        lb = mvt.LayerBuilder(name, extent=4096)
        for i in range(n_feat):
            t = rng.choice((mvt.GEOM_POINT, mvt.GEOM_LINESTRING,
                            mvt.GEOM_POLYGON))
            if t == mvt.GEOM_POINT:
                geom = mvt.encode_point_geometry(
                    [(rng.randrange(4096), rng.randrange(4096))])
            elif t == mvt.GEOM_LINESTRING:
                geom = mvt.encode_line_geometry(
                    [[(rng.randrange(4096), rng.randrange(4096))
                      for _ in range(3)]])
            else:
                geom = mvt.encode_polygon_geometry(
                    [[(0, 0), (0, 10 + i % 5), (10, 10), (10, 0), (0, 0)]])
            attrs = sorted({
                "name": f"feat-{seed}-{i % 17}",
                "rank": i % 9,
                "score": float(i % 4) * 0.5,
                "visible": bool(i % 2),
            }.items())
            lb.add_feature(t, geom, attrs=attrs, feature_id=seed * 10000 + i)
        layers.append(lb)
    return mvt.encode_tile(layers)


def _flatten(dec):
    out = set()
    for name, ld in dec.items():
        for f in ld["features"]:
            geom = tuple(tuple(p) for part in f["geom"] for p in part)
            out.add((name, f["id"], f["type"], geom,
                     tuple(sorted(f["attrs"].items()))))
    return out


def test_fast_merge_byte_identical_to_slow():
    blobs = [_build_partial(s, 40) for s in range(4)]
    assert mvt.merge_tiles_fast(blobs) == merge_tiles(blobs)


def test_fast_merge_single_blob_roundtrip():
    b = _build_partial(7, 25)
    merged = mvt.merge_tiles_fast([b])
    assert _flatten(mvt.decode_tile(merged)) == _flatten(mvt.decode_tile(b))


def test_fast_merge_disjoint_layers():
    a = _build_partial(1, 10, layer_names=("a",))
    b = _build_partial(2, 10, layer_names=("b",))
    merged = mvt.decode_tile(mvt.merge_tiles_fast([a, b]))
    assert set(merged) == {"a", "b"}
    assert mvt.merge_tiles_fast([a, b]) == merge_tiles([a, b])


def test_fast_merge_decode_equivalent_unsorted_tags():
    """Foreign tiles may carry unsorted tags; byte output may then differ
    from merge_tiles (which re-sorts) but the feature sets must match."""
    lb1 = mvt.LayerBuilder("L")
    lb1.add_feature(mvt.GEOM_POINT, mvt.encode_point_geometry([(5, 5)]),
                    attrs=[("z", 1), ("a", "x")], feature_id=1)
    lb2 = mvt.LayerBuilder("L")
    lb2.add_feature(mvt.GEOM_POINT, mvt.encode_point_geometry([(9, 9)]),
                    attrs=[("a", "x"), ("z", 2)], feature_id=2)
    b1, b2 = mvt.encode_tile([lb1]), mvt.encode_tile([lb2])
    fast = _flatten(mvt.decode_tile(mvt.merge_tiles_fast([b1, b2])))
    slow = _flatten(mvt.decode_tile(merge_tiles([b1, b2])))
    assert fast == slow


def test_fast_merge_remap_shares_dictionary():
    """Overlapping key/value tables across partials must be deduped in the
    merged layer, with tag indexes remapped to the shared table."""
    blobs = [_build_partial(s, 30, layer_names=("pts",)) for s in (3, 3, 5)]
    merged = mvt.decode_tile(mvt.merge_tiles_fast(blobs))["pts"]
    assert len(merged["features"]) == 90
    expected = _flatten(mvt.decode_tile(merge_tiles(blobs)))
    got = _flatten({"pts": merged})
    assert got == expected


def test_corrupt_wire_type_raises_not_hangs():
    """A deprecated-group wire type (3) anywhere in the byte stream must
    raise, not spin: _skip/_remap_feature_tags used to return pos
    unchanged for wire 3/4/6/7, turning a single corrupt byte in a
    FOREIGN tileset (merge-read, tile server) into an infinite loop."""
    import pytest

    lb = mvt.LayerBuilder("L")
    lb.add_feature(mvt.GEOM_POINT, mvt.encode_point_geometry([(1, 1)]),
                   attrs=[("a", "x")], feature_id=1)
    good = mvt.encode_tile([lb])
    # layer message with a wire-type-3 field key inside (field 9, wire 3)
    bad_layer = b"\x4b" + b"\x00" * 4
    bad_tile = b"\x1a" + bytes([len(bad_layer)]) + bad_layer
    with pytest.raises(ValueError, match="wire type"):
        mvt.merge_tiles_fast([good, bad_tile])
    with pytest.raises(ValueError, match="wire type"):
        mvt.decode_tile(bad_tile)


def test_remap_split_tags_chunks():
    """protobuf permits a packed repeated field split across several
    chunks: _remap_feature_tags must remap EVERY tags chunk, not just
    the first — a stale second chunk would index the merged layer's
    shifted dictionary (silent attr corruption)."""
    from tilemaker_spark.functions.mvt import _remap_feature_tags, _varint

    feat = (b"\x08\x2a"                       # field 1: id = 42
            + b"\x12\x02" + _varint(0) + _varint(0)   # tags chunk 1
            + b"\x18\x01"                     # field 3: type = POINT
            + b"\x12\x02" + _varint(1) + _varint(1))  # tags chunk 2
    kmapb = [_varint(5), _varint(6)]
    vmapb = [_varint(7), _varint(8)]
    out = _remap_feature_tags(feat, kmapb, vmapb)
    assert out == (b"\x08\x2a"
                   + b"\x12\x02" + _varint(5) + _varint(7)
                   + b"\x18\x01"
                   + b"\x12\x02" + _varint(6) + _varint(8))
