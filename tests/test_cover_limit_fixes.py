"""Regression tests for the round-5 review-fix batch: first-column
fill sentinel, empty-operand intersection, no-parent membership,
fat-bbox cell cover, multi-part point routing, config-aware pre-limit.
"""

import numpy as np
from pyspark.sql import functions as F

from tilemaker_spark.config import EngineConfig, LayerConfig
from tilemaker_spark.functions import geomnp as G
from tilemaker_spark.functions.coords import (
    lat2latp,
    lat2latp_np,
    latp2tileyf_np,
    lon2tilexf_np,
)
from tilemaker_spark.functions.overlay import polygon_overlay


# ------------------------------------------------ pure-kernel fixes

def test_fill_covered_tiles_first_tile_column_zero():
    """The reference's prevY = (uint32)-2 is a no-fill sentinel; a
    signed -2 start spuriously filled (0, -1)..(0, 4) for the first
    tile of column x=0."""
    assert G.fill_covered_tiles({(0, 5)}) == {(0, 5)}
    assert G.fill_covered_tiles({(0, 5), (0, 8)}) == {
        (0, 5), (0, 6), (0, 7), (0, 8)}
    # unaffected columns still fill between marked runs
    assert G.fill_covered_tiles({(3, 1), (3, 4)}) == {
        (3, 1), (3, 2), (3, 3), (3, 4)}


def test_polygon_overlay_intersection_empty_operand():
    """ALL-of semantics: intersecting with an empty group is empty;
    union with an empty group ignores it."""
    sq = [np.array([[0, 0], [4, 0], [4, 4], [0, 4]], dtype=np.float64)]
    assert polygon_overlay([sq, []], mode="intersection") == []
    assert polygon_overlay([[], sq], mode="intersection") == []
    # degenerate all-empty-rings group counts as empty too
    assert polygon_overlay(
        [sq, [np.zeros((0, 2))]], mode="intersection") == []
    got = polygon_overlay([sq, []], mode="union")
    assert len(got) == 1
    assert abs(abs(G.ring_area(got[0])) - 16.0) < 1e-9


# ------------------------------------------------ membership (J8)

def test_find_in_relation_no_parent_is_empty_list(spark):
    from tilemaker_spark.operators.relations import find_in_relation

    ways = spark.createDataFrame([(1,), (2,)], "id long")
    rels = spark.createDataFrame(
        [(100, [("way", 1, "outer")], {"type": "multipolygon"})],
        "id long, members array<struct<mtype:string,ref:long,role:string>>, "
        "tags map<string,string>")
    out = {r.id: r.parent_relations
           for r in find_in_relation(ways, rels).collect()}
    assert [p.rel_id for p in out[1]] == [100]
    # the fix: no phantom [Row(null, null, null)] for parentless ways
    assert out[2] == []


# ------------------------------------------------ fat-bbox cell cover

def test_polygon_cells_fat_bbox_uses_exact_cover(spark):
    """A thin diagonal strip whose z15 bbox is ~840k tiles must explode
    to its filled exact cover (O(perimeter)), not the bbox grid."""
    from tilemaker_spark.operators.spatial_join import polygon_cells

    strip = [0.0, 0.0, 10.0, 10.0, 10.05, 10.0, 0.05, 0.0]
    df = spark.createDataFrame(
        [(1, [strip])], "poly_id long, rings array<array<double>>")
    cells = polygon_cells(df, zoom=15).select("cell_x", "cell_y").collect()
    n = len(cells)
    # bbox grid would be ~915 x 915 > LARGE_BBOX_TILE_CAP (65536)
    assert 900 < n < 65536
    # an interior midpoint's cell is covered
    mx = lon2tilexf_np(np.array([5.02]), 15).astype(int)[0]
    my = latp2tileyf_np(lat2latp_np(np.array([5.0])), 15).astype(int)[0]
    assert (mx, my) in {(r.cell_x, r.cell_y) for r in cells}


# ------------------------------------------------ multi-part points

# two points in far-apart z6 tiles, in both MultiPoint layouts: one
# part per point (WKB, PBF) and ONE part of all pairs (GeoJSON, Shapefile)
_MPT_LAYOUTS = {
    "part_per_point": [[10.0, lat2latp(40.0)], [50.0, lat2latp(40.0)]],
    "one_part": [[10.0, lat2latp(40.0), 50.0, lat2latp(40.0)]],
}


def _mpt_features(spark, geom):
    return spark.createDataFrame(
        [(1, "pois", 1, 0, 0, {"k": "v"}, geom)],
        "feature_id long, layer string, geom_type int, min_zoom int, "
        "z_order int, attrs map<string,string>, geom array<array<double>>")


def _expected_tiles(z):
    xs = lon2tilexf_np(np.array([10.0, 50.0]), z).astype(int)
    ys = latp2tileyf_np(lat2latp_np(np.array([40.0, 40.0])), z).astype(int)
    return set(zip(xs.tolist(), ys.tolist()))


def test_cover_explode_multipart_point_gets_every_part_tile(spark):
    from tilemaker_spark.operators.tiling import cover_explode

    for layout, geom in _MPT_LAYOUTS.items():
        got = {(r.x, r.y) for r in cover_explode(_mpt_features(spark, geom), 6)
               .select("x", "y").collect()}
        assert got == _expected_tiles(6), layout


def test_ancestor_rollup_multipart_point_once_per_tile(spark):
    """Parts in different basezoom tiles share ancestors; the rollup
    keeps one row per (feature, z, x, y), so no tile holds more rows
    than the features table has (the salted-assembly skip relies on
    it)."""
    from tilemaker_spark.operators.tiling import (ancestor_rollup,
                                                  cover_explode)

    for layout, geom in _MPT_LAYOUTS.items():
        rolled = ancestor_rollup(
            cover_explode(_mpt_features(spark, geom), 6), 0, 6)
        keys = [(r.z, r.x, r.y)
                for r in rolled.select("z", "x", "y").collect()]
        assert len(keys) == len(set(keys)), layout
        assert (0, 0, 0) in keys, layout
        assert {(x, y) for z, x, y in keys if z == 6} == _expected_tiles(6), \
            layout


# ------------------------------------------------ config-aware O2 pre-limit

def test_apply_feature_limits_per_layer(spark):
    from tilemaker_spark.operators.tiling import apply_feature_limits

    cfg = EngineConfig()
    cfg.layers = {
        "a": LayerConfig(name="a", feature_limit=2, feature_limit_below=10),
        "b": LayerConfig(name="b"),  # unlimited: never pruned
        "c": LayerConfig(name="c", feature_limit=1, feature_limit_below=10,
                         z_order_ascending=False),
    }
    rows = [
        # layer a, z5: 4 features, ascending draw order keeps lowest z_order
        (5, 1, 1, "a", 1, 10), (5, 1, 1, "a", 1, 10),  # dup copy: one rank
        (5, 1, 1, "a", 2, 20), (5, 1, 1, "a", 3, 30), (5, 1, 1, "a", 4, 40),
        # layer a, z12 >= below: limit off, all kept
        (12, 0, 0, "a", 5, 10), (12, 0, 0, "a", 6, 20), (12, 0, 0, "a", 7, 30),
        # layer b: unlimited
        (5, 1, 1, "b", 8, 1), (5, 1, 1, "b", 9, 2), (5, 1, 1, "b", 10, 3),
        # layer c: descending keeps HIGHEST z_order
        (5, 1, 1, "c", 20, 1), (5, 1, 1, "c", 21, 9),
    ]
    ft = spark.createDataFrame(
        rows, "z int, x long, y long, layer string, feature_id long, "
              "z_order long")
    got = apply_feature_limits(ft, cfg) \
        .groupBy("layer", "z").agg(
            F.collect_set("feature_id").alias("fids")).collect()
    kept = {(r.layer, r.z): set(r.fids) for r in got}
    assert kept[("a", 5)] == {1, 2}        # limit 2, dup didn't burn a slot
    assert kept[("a", 12)] == {5, 6, 7}    # z >= feature_limit_below
    assert kept[("b", 5)] == {8, 9, 10}    # no limit on layer b
    assert kept[("c", 5)] == {21}          # desc: highest z_order survives


def test_apply_feature_limits_superset_of_assembly(spark):
    """The pre-limit must keep AT LEAST what assembly's exact rule
    (_batch_prepare) keeps — prune rows assembly would keep and the
    tile content changes."""
    import pandas as pd

    from tilemaker_spark.operators.tile_assembly import _batch_prepare
    from tilemaker_spark.operators.tiling import apply_feature_limits

    cfg = EngineConfig()
    cfg.layers = {
        "a": LayerConfig(name="a", feature_limit=3, feature_limit_below=14),
        "c": LayerConfig(name="c", feature_limit=2, feature_limit_below=14,
                         z_order_ascending=False),
    }
    rng = np.random.RandomState(7)
    rows = [(int(rng.randint(4, 7)), int(rng.randint(0, 2)),
             int(rng.randint(0, 2)), rng.choice(["a", "c"]),
             int(rng.randint(1, 30)), int(rng.randint(0, 5)))
            for _ in range(200)]
    cols = ["z", "x", "y", "layer", "feature_id", "z_order"]
    pdf = pd.DataFrame(rows, columns=cols)
    pdf["geom_type"] = 1
    exact = _batch_prepare(pdf, cfg)
    exact_keys = set(map(tuple, exact[cols].itertuples(index=False)))

    ft = spark.createDataFrame(
        rows, "z int, x long, y long, layer string, feature_id long, "
              "z_order long")
    pre = {(r.z, r.x, r.y, r.layer, r.feature_id, r.z_order)
           for r in apply_feature_limits(ft, cfg).collect()}
    assert exact_keys <= pre
