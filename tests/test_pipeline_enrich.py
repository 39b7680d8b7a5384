"""Flagship pipeline with the point-in-polygon enrichment (north-star
shape: pages joined against OSM-style layer polygons before tiling)."""

import gzip
import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from tilemaker_spark.config import default_config
from tilemaker_spark.fixtures import make_pages
from tilemaker_spark.functions import mvt
from tilemaker_spark.plans.pipeline import TilePipeline


@pytest.fixture(scope="module")
def city_polygon(spark):
    """One polygon covering the hot city-center disc (doc_id%5==0)."""
    ring = [-74.5, 40.2, -73.5, 40.2, -73.5, 41.2, -74.5, 41.2]
    pdf = pd.DataFrame([("cities", "Gotham", [ring], {})],
                       columns=["layer", "name", "rings", "attrs"])
    return spark.createDataFrame(
        pdf, schema="layer string, name string, rings array<array<double>>, "
                    "attrs map<string,string>")


def test_pip_enriched_pipeline(spark, city_polygon, tmp_path):
    cfg = default_config()
    cfg.basezoom = 10
    pages = make_pages(spark, 200)
    pipe = TilePipeline(spark, cfg, workdir=str(tmp_path / "run"))
    tiles = pipe.run(pages, layer_polygons=city_polygon, force=True)
    rows = tiles.collect()
    assert len(rows) > 0
    # pages are points: no geometry checkpoint, nothing but the stages
    assert sorted(os.listdir(tmp_path / "run")) == [
        "feature_tiles", "feature_tiles.lineage.json", "features",
        "features.lineage.json", "metrics.json", "tiles",
        "tiles.lineage.json"]

    n_with_country = 0
    n_total = 0
    for r in rows:
        b = bytes(r.tile)
        if b[:2] == b"\x1f\x8b":
            b = gzip.decompress(b)
        for ld in mvt.decode_tile(b).values():
            for f in ld["features"]:
                n_total += 1
                if f["attrs"].get("country") == "Gotham":
                    n_with_country += 1
    # all hot rows (doc_id%5==0 -> 40 of 200) fall inside the polygon;
    # each occupies >= 1 tile at z10 plus the zooms above min_zoom
    assert n_with_country > 0
    assert n_with_country < n_total  # pages outside keep no country attr
