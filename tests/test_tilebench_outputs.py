"""The benchmark's outputs as a tier-1 check: tilebench's seed-1 inputs
through TilePipeline give `osm_geom`'s recorded digest, and
`pages_world`'s per-zoom tile and feature counts equal the DuckDB
oracle. No `pages_world` digest is pinned: its salted hot tiles are
merged from partials whose split follows the slot count, so their bytes
do too."""

import os

from tilebench.check import decode_check, pages_oracle, tileset_digest
from tilebench.inputs import write_inputs
from tilebench.workloads import WORKLOADS
from tilemaker_spark.config import default_config
from tilemaker_spark.plans.pipeline import TilePipeline


def _run(spark, root, workload):
    """One TilePipeline run over the workload's seed-1 inputs, called as
    tilebench calls it; returns (input paths, config, tiles dir)."""
    spec = WORKLOADS[workload]
    paths = write_inputs(spec, 1, os.path.join(root, "inputs"))
    frames = {k: spark.read.parquet(v) for k, v in paths.items()}
    cfg = default_config()
    if "hot_tile_threshold" in spec:
        cfg.hot_tile_threshold = spec["hot_tile_threshold"]
    kw = {}
    if "countries" in frames:
        kw["layer_polygons"] = frames["countries"]
    if "nodes" in frames:
        kw["nodes"], kw["ways"] = frames["nodes"], frames["ways"]
    wd = os.path.join(root, "pipeline")
    TilePipeline(spark, cfg, workdir=wd).run(frames["pages"], force=True,
                                             **kw)
    return paths, cfg, os.path.join(wd, "tiles")


def test_osm_geom_digest(spark, tmp_path):
    _, _, tiles = _run(spark, str(tmp_path), "osm_geom")
    assert tileset_digest(tiles)["digest"] == "1283-16a0d5eb827f8ac3"


def test_pages_world_counts_match_oracle(spark, tmp_path):
    paths, cfg, tiles = _run(spark, str(tmp_path), "pages_world")
    bad, got = decode_check(spark, tiles, cfg.compress)
    assert bad == 0
    assert got == pages_oracle(paths["pages"], cfg.minzoom, cfg.maxzoom)
