"""Hierarchical cover+clip (the clip-cache recast): the descent path
must produce the SAME rendered tiles as the flat cover+rollup path, and
spend asymptotically less clip work on deep zoom ranges."""

import gzip
import time

import numpy as np
import pytest
from pyspark.sql import functions as F

from tilemaker_spark.config import EngineConfig, LayerConfig
from tilemaker_spark.functions import mvt
from tilemaker_spark.functions.coords import lat2latp
from tilemaker_spark.operators.tile_assembly import assemble_tiles
from tilemaker_spark.operators.tiling import (
    ancestor_rollup,
    cover_clip_explode,
    cover_explode,
)

FEATURE_SCHEMA = ("feature_id long, layer string, geom_type int, "
                  "min_zoom int, z_order int, attrs map<string,string>, "
                  "geom array<array<double>>")


def _cfg(basezoom):
    cfg = EngineConfig(basezoom=basezoom, minzoom=0, maxzoom=basezoom,
                       compress="none", hot_tile_salt=0)
    cfg.layers["lines"] = LayerConfig(name="lines", minzoom=0, maxzoom=14)
    cfg.layers["polys"] = LayerConfig(name="polys", minzoom=0, maxzoom=14)
    return cfg


def _features(spark):
    def latp_ring(pts):
        return [float(v) for lon, lat in pts for v in (lon, lat2latp(lat))]

    # a multi-tile polygon, a polygon with a hole, and a long line
    rows = [
        (1, "polys", 3, 0, 0, {"k": "a"},
         [latp_ring([(-10, 30), (15, 30), (15, 52), (-10, 52)]),
          latp_ring([(0, 40), (0, 45), (5, 45), (5, 40)])[::-1] if False
          else latp_ring([(0, 45), (5, 45), (5, 40), (0, 40)])]),
        (2, "polys", 3, 0, 0, {"k": "b"},
         [latp_ring([(100, -20), (140, -20), (120, 15)])]),
        (3, "lines", 2, 0, 0, {"k": "c"},
         [latp_ring([(-60 + i * 1.7, 10 + 15 * np.sin(i / 3))
                     for i in range(40)])]),
    ]
    return spark.createDataFrame(rows, FEATURE_SCHEMA)


def _tiles_map(rows):
    out = {}
    for r in rows:
        b = bytes(r.tile)
        if b[:2] == b"\x1f\x8b":
            b = gzip.decompress(b)
        out[(r.z, r.x, r.y)] = mvt.decode_tile(b)
    return out


def _norm(dec):
    """Tile content as a canonical comparable structure. Polygon rings
    are rotated to start at their minimum vertex: clipping an
    already-clipped ring can start Sutherland-Hodgman from a different
    vertex, which rotates the (identical) ring."""
    def canon_ring(part, is_poly):
        pts = [tuple(p) for p in part]
        if is_poly and len(pts) > 1:
            i = min(range(len(pts)), key=lambda j: pts[j])
            pts = pts[i:] + pts[:i]
        return tuple(pts)

    out = {}
    for lname, layer in dec.items():
        feats = []
        for f in layer["features"]:
            is_poly = f["type"] == 3
            feats.append((f["id"], f["type"],
                          tuple(sorted(f["attrs"].items())),
                          tuple(sorted(canon_ring(p, is_poly)
                                       for p in f["geom"]))))
        out[lname] = sorted(feats)
    return out


@pytest.mark.parametrize("basezoom", [6])
def test_hierarchical_matches_flat(spark, basezoom):
    cfg = _cfg(basezoom)
    feats = _features(spark)

    flat = cover_explode(feats, basezoom)
    flat = ancestor_rollup(flat, 0, basezoom)
    flat = flat.filter(F.col("z") >= F.col("min_zoom"))
    t_flat = _tiles_map(assemble_tiles(flat, cfg).collect())

    hier = cover_clip_explode(feats, 0, basezoom)
    hier = hier.filter(F.col("z") >= F.col("min_zoom"))
    t_hier = _tiles_map(assemble_tiles(hier, cfg).collect())

    # same tile set (hierarchical may only drop tiles that render empty;
    # with these fixtures the sets must be equal)
    assert set(t_hier) == set(t_flat)
    for key in t_flat:
        assert _norm(t_hier[key]) == _norm(t_flat[key]), key


def test_hierarchical_row_counts_sane(spark):
    feats = _features(spark)
    hier = cover_clip_explode(feats, 0, 6)
    rows = hier.groupBy("z").count().orderBy("z").collect()
    zs = [r.z for r in rows]
    assert zs == list(range(0, 7))
    # tile counts grow with zoom for multi-tile geometries
    counts = [r["count"] for r in rows]
    assert counts[-1] > counts[0]


def test_hierarchical_pieces_are_local(spark):
    """Every emitted piece must fit its tile's keep box — the proof the
    descent actually clipped (the flat path would carry full geometry)."""
    from tilemaker_spark.functions.coords import TileBbox
    feats = _features(spark)
    rows = cover_clip_explode(feats, 0, 5) \
        .filter(F.col("geom_type") == 3).collect()
    assert rows
    for r in rows:
        bbox = TileBbox(r.z, r.x, r.y)
        cminx, cminy, cmaxx, cmaxy = bbox.clipping_box
        eps = (cmaxx - cminx) * 1e-9
        for part in r.geom:
            a = np.asarray(part, dtype=np.float64).reshape(-1, 2)
            assert a[:, 0].min() >= cminx - eps
            assert a[:, 0].max() <= cmaxx + eps
            assert a[:, 1].min() >= cminy - eps
            assert a[:, 1].max() <= cmaxy + eps


def test_hierarchical_clip_work_shrinks(spark):
    """Deep-zoom clip cost: the flat path carries the FULL ring to every
    tile row; the descent's per-tile pieces must be far smaller in
    total vertex volume at the base zoom."""
    n_v = 4000
    ang = np.linspace(0, 2 * np.pi, n_v, endpoint=False)
    ring = []
    for a in ang:
        ring.extend([float(20 * np.cos(a)), float(20 * np.sin(a) + 20)])
    feats = spark.createDataFrame(
        [(1, "polys", 3, 0, 0, {}, [ring])], FEATURE_SCHEMA)
    bz = 8
    hier = cover_clip_explode(feats, 0, bz).filter(F.col("z") == bz)
    flat = cover_explode(feats, bz)
    n_tiles = flat.count()
    assert hier.count() == n_tiles  # identical tile membership
    hier_verts = hier.select(
        F.sum(F.aggregate(F.transform("geom", lambda p: F.size(p)),
                          F.lit(0), lambda a, b: a + b)).alias("v")).first().v
    flat_verts = n_tiles * n_v * 2  # flat assembly re-reads the full ring
    # descent pieces: boundary tiles hold short arcs, interior tiles a
    # 4-5 vertex box — orders of magnitude less data to clip
    assert hier_verts < flat_verts / 10, (hier_verts, flat_verts)


MONACO = "/root/reference/test/monaco.pbf"


@pytest.mark.skipif(not __import__("os").path.exists(MONACO),
                    reason="monaco fixture unavailable")
def test_hierarchical_matches_flat_monaco(spark):
    """Real-data equivalence: monaco ways through both Stage-2 paths
    produce identical rendered tiles (canonical ring rotation)."""
    from tilemaker_spark import sources_pbf
    from tilemaker_spark.config import default_config
    from tilemaker_spark.operators.profile import features_from_ways

    nodes, ways, _ = sources_pbf.read_pbf_tables(spark, MONACO)
    cfg = default_config()
    cfg.basezoom = 14
    cfg.compress = "none"
    cfg.hot_tile_salt = 0
    feats = features_from_ways(nodes, ways)

    flat = cover_explode(feats, 14)
    flat = ancestor_rollup(flat, 10, 14)
    flat = flat.filter(F.col("z") >= F.col("min_zoom"))
    t_flat = _tiles_map(assemble_tiles(flat, cfg).collect())

    hier = cover_clip_explode(feats, 10, 14)
    hier = hier.filter(F.col("z") >= F.col("min_zoom"))
    t_hier = _tiles_map(assemble_tiles(hier, cfg).collect())

    assert set(t_hier) == set(t_flat)
    n_checked = 0
    for key in t_flat:
        assert _norm(t_hier[key]) == _norm(t_flat[key]), key
        n_checked += 1
    assert n_checked >= 10


def _flat_reference(feats, cfg):
    """The flat Stage 2 over a features table: cover_explode +
    ancestor_rollup, then the pipeline's gates and the plain assembly."""
    from tilemaker_spark.operators.tiling import (apply_feature_limits,
                                                  bbox_tile_filter,
                                                  zoom_gates)
    ref = ancestor_rollup(cover_explode(feats, cfg.basezoom),
                          cfg.minzoom, cfg.basezoom)
    ref = zoom_gates(ref, {name: (lc.minzoom, lc.maxzoom)
                           for name, lc in cfg.layers.items()})
    ref = bbox_tile_filter(ref, cfg.bounding_box)
    ref = apply_feature_limits(ref, cfg)
    return assemble_tiles(ref, cfg).collect()


def test_pipeline_hierarchical_config(spark, tmp_path_factory):
    """The pipeline's Stage 2 (single-point cover + the descent for
    everything else) renders the same tiles as a flat cover + rollup
    reference composed from the run's own features checkpoint; a rerun
    resumes them."""
    import os

    from tilemaker_spark.config import default_config
    from tilemaker_spark.fixtures import (make_nodes_ways, make_pages,
                                          make_relations)
    from tilemaker_spark.plans.pipeline import TilePipeline

    pages = make_pages(spark, 500)
    nodes, ways = make_nodes_ways(spark)
    # multipolygon relations push holes through feature_tiles_geom
    relations, rel_ways, rel_nodes = make_relations(spark)
    ways_all = ways.unionByName(rel_ways)
    nodes_all = nodes.unionByName(rel_nodes)

    cfg = default_config()
    cfg.basezoom = 10
    wd = str(tmp_path_factory.mktemp("stage2"))
    pipe = TilePipeline(spark, cfg, workdir=wd)
    rows = pipe.run(pages, nodes=nodes_all, ways=ways_all,
                    relations=relations, force=True).collect()

    feats = spark.read.parquet(os.path.join(wd, "features"))
    assert feats.filter(F.col("geom_type") == 1).count() > 0
    assert feats.filter(F.col("geom_type") == 3).count() > 0
    ref_rows = _flat_reference(feats, cfg)

    assert ({(r.z, r.x, r.y): r.n_features for r in rows}
            == {(r.z, r.x, r.y): r.n_features for r in ref_rows})
    # full rendered content, canonical ring rotation
    got = {k: _norm(v) for k, v in _tiles_map(rows).items()}
    assert got == {k: _norm(v) for k, v in _tiles_map(ref_rows).items()}

    pipe2 = TilePipeline(spark, cfg, workdir=wd)
    t2 = pipe2.run(pages, nodes=nodes_all, ways=ways_all,
                   relations=relations)
    assert pipe2.metrics["stages"]["tiles"].get("resumed") is True
    assert t2.count() == len(rows)


def _multipoints(spark, n=60, seed=7):
    """n seeded multi-points of 2-5 nearby points on the pages layer,
    alternating the two layouts: one part per point (WKB, PBF) and ONE
    part of all pairs (GeoJSON, Shapefile)."""
    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n):
        cx, cy = rng.uniform(-170, 170), rng.uniform(-70, 70)
        pts = [(float(cx + rng.normal(0, 3)),
                float(lat2latp(cy + rng.normal(0, 3))))
               for _ in range(int(rng.integers(2, 6)))]
        geom = ([[v for p in pts for v in p]] if i % 2
                else [list(p) for p in pts])
        rows.append((10_000_000 + i, "pages", 1, int(rng.integers(0, 8)),
                     int(rng.integers(0, 100)), {"k": str(i)}, geom))
    return spark.createDataFrame(rows, FEATURE_SCHEMA)


@pytest.mark.parametrize("with_pages_ways", [False, True])
def test_pipeline_multipoints_match_flat_reference(spark, tmp_path,
                                                   with_pages_ways):
    """Multi-points in both layouts go down the descent with lines and
    polygons; alone and beside pages and ways, the pipeline's tiles are
    byte-identical to the flat reference over the same features."""
    import os

    from tilemaker_spark.config import default_config
    from tilemaker_spark.fixtures import make_nodes_ways, make_pages
    from tilemaker_spark.plans.pipeline import TilePipeline

    pages = make_pages(spark, 300)
    kw = {"pages": pages.filter("doc_id < 0")}
    if with_pages_ways:
        nodes, ways = make_nodes_ways(spark)
        kw = {"pages": pages, "nodes": nodes, "ways": ways}
    cfg = default_config()
    pipe = TilePipeline(spark, cfg, workdir=str(tmp_path))
    rows = pipe.run(extra_features=_multipoints(spark), force=True,
                    **kw).collect()
    counts = pipe.metrics["stages"]["features"]["counts"]
    assert counts["geoms"] >= 60
    assert ("feature_tiles" in pipe.metrics["stages"]) == with_pages_ways

    feats = spark.read.parquet(os.path.join(str(tmp_path), "features"))
    got = {(r.z, r.x, r.y): (r.n_features, bytes(r.tile)) for r in rows}
    want = {(r.z, r.x, r.y): (r.n_features, bytes(r.tile))
            for r in _flat_reference(feats, cfg)}
    assert len(got) > 1000
    assert got == want


def test_pages_only_stage2_runs_no_python_and_no_dedup_shuffle(
        spark, tmp_path, monkeypatch):
    """Single points take Column math and a shift-only rollup: the
    executed feature_tiles plan holds no Python node, and the tiles plan
    no Python UDF and no exchange keyed on feature_id (the flat rollup's
    dropDuplicates); only the assembly's encoder runs Python."""
    import re

    from tilemaker_spark.config import default_config
    from tilemaker_spark.fixtures import make_pages
    from tilemaker_spark.plans.pipeline import TilePipeline

    plans = {}
    real = TilePipeline._checkpoint

    def spy(self, df, name, **kw):
        out = real(self, df, name, **kw)
        plans[name] = df._jdf.queryExecution().executedPlan().toString()
        return out
    monkeypatch.setattr(TilePipeline, "_checkpoint", spy)
    TilePipeline(spark, default_config(), workdir=str(tmp_path)).run(
        make_pages(spark, 200), force=True)

    assert set(plans) == {"features", "feature_tiles", "tiles"}
    python = re.compile(r"EvalPython|InPandas|InArrow")
    assert not python.search(plans["feature_tiles"]), plans["feature_tiles"]
    assert "EvalPython" not in plans["tiles"], plans["tiles"]
    keys = re.findall(r"Exchange hashpartitioning\(([^)]*)\)",
                      plans["tiles"])
    assert keys and not any("feature_id" in k for k in keys), keys
