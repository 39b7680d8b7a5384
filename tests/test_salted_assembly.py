"""Salted two-phase assembly must produce the same feature content as
the plain per-tile path (draw order within a merged hot tile may differ;
the feature set must not)."""

import gzip

import pytest
from pyspark.sql import functions as F

from tilemaker_spark.config import EngineConfig, LayerConfig
from tilemaker_spark.functions import mvt
from tilemaker_spark.functions.coords import lat2latp_col
from tilemaker_spark.operators.tile_assembly import (
    assemble_tiles,
    assemble_tiles_salted,
)


@pytest.fixture(scope="module")
def cfg():
    c = EngineConfig(basezoom=10, minzoom=10, maxzoom=10, compress="gzip",
                     hot_tile_salt=4, hot_tile_threshold=50)
    c.layers["pts"] = LayerConfig(name="pts")
    return c


@pytest.fixture(scope="module")
def feature_tiles(spark):
    """300 point features in ONE z10 tile (hot) + 10 in another (cold)."""
    from tilemaker_spark.functions.coords import lat2latp

    hot = spark.range(300).select(
        F.col("id").alias("feature_id"),
        F.lit("pts").alias("layer"),
        F.lit(1).alias("geom_type"),
        F.lit(0).alias("min_zoom"),
        (F.col("id") % 7).cast("int").alias("z_order"),
        F.map_from_arrays(F.array(F.lit("k")),
                          F.array((F.col("id") % 3).cast("string"))).alias("attrs"),
        F.array(F.array(
            F.lit(10.0) + F.col("id") * 0.0001,
            F.lit(lat2latp(45.0)) + F.col("id") * 0.0001)).alias("geom"),
    )
    cold = spark.range(10).select(
        (F.col("id") + 1000).alias("feature_id"),
        F.lit("pts").alias("layer"),
        F.lit(1).alias("geom_type"),
        F.lit(0).alias("min_zoom"),
        F.lit(0).alias("z_order"),
        F.map_from_arrays(F.array(F.lit("k")), F.array(F.lit("c"))).alias("attrs"),
        F.array(F.array(F.lit(-50.0) + F.col("id") * 0.0001,
                        F.lit(lat2latp(-20.0)))).alias("geom"),
    )
    df = hot.unionByName(cold)
    from tilemaker_spark.operators.tiling import cover_explode
    return cover_explode(df, 10).cache()


def _decode_all(rows):
    out = {}
    for r in rows:
        b = bytes(r.tile)
        if b[:2] == b"\x1f\x8b":
            b = gzip.decompress(b)
        dec = mvt.decode_tile(b)
        feats = set()
        for name, ld in dec.items():
            for f in ld["features"]:
                geom = tuple(tuple(p) for part in f["geom"] for p in part)
                feats.add((name, f["type"], geom,
                           tuple(sorted(f["attrs"].items()))))
        out[(r.z, r.x, r.y)] = feats
    return out


def test_salted_matches_plain(spark, feature_tiles, cfg):
    plain = _decode_all(assemble_tiles(feature_tiles, cfg).collect())
    salted = _decode_all(
        assemble_tiles_salted(feature_tiles, cfg).collect())
    assert set(plain) == set(salted)
    for k in plain:
        assert plain[k] == salted[k], f"feature set mismatch in tile {k}"


def test_salted_feature_counts(spark, feature_tiles, cfg):
    rows = assemble_tiles_salted(feature_tiles, cfg).collect()
    total = sum(r.n_features for r in rows)
    # every feature present exactly once across its tiles
    assert total == feature_tiles.count()


def test_salted_plan_runs_no_job(spark, feature_tiles, cfg):
    """Building the salted plan is lazy: the hot keys are a broadcast
    aggregate inside the plan, not a count run while it is built."""
    sc = spark.sparkContext
    tag = "salted-plan-build"
    sc.addJobTag(tag)
    try:
        assemble_tiles_salted(feature_tiles, cfg)
    finally:
        sc.removeJobTag(tag)
    assert len(sc._jsc.sc().statusTracker().getJobIdsForTag(tag)) == 0


def test_salted_without_hot_tiles_is_plain(spark, feature_tiles, cfg):
    """With every tile under the threshold each tile is one partial, and
    the merge passes it through: rows byte-identical to the plain path."""
    from dataclasses import replace
    cold = replace(cfg, hot_tile_threshold=10_000)

    def rows(df):
        return sorted((r.z, r.x, r.y, bytes(r.tile), r.n_features, r.n_bytes)
                      for r in df.collect())
    assert rows(assemble_tiles_salted(feature_tiles, cold)) == rows(
        assemble_tiles(feature_tiles, cold))


def test_salted_rerun_byte_identical(spark, cfg, feature_tiles):
    """Two runs of the salted path must emit byte-identical tiles: the
    hot merge sorts partials by content before merging, so shuffle
    arrival order (nondeterministic — the merge sort keys on (z,x,y)
    only) cannot leak into the output bytes."""
    def run():
        df = assemble_tiles_salted(feature_tiles, cfg)
        return {(r.z, r.x, r.y): bytes(r.tile) for r in df.collect()}
    assert run() == run()


def test_salted_negative_feature_ids(spark, feature_tiles, cfg):
    """xxhash64-derived feature ids are negative half the time; the
    salted path (pmod fan-out) must still match the plain assembly."""
    ft = feature_tiles.withColumn("feature_id", F.col("feature_id") - 150)
    plain = _decode_all(assemble_tiles(ft, cfg).collect())
    salted = _decode_all(assemble_tiles_salted(ft, cfg).collect())
    assert salted == plain


def test_pipeline_skips_hot_key_count_when_no_tile_can_be_hot(
        spark, tmp_path, monkeypatch):
    """No tile can hold more rows than the features table, so a run whose
    features fit under the threshold assembles without the salted path's
    hot-key aggregate; a resumed features stage reports its recorded row
    count, so the resume assembles plain too, with byte-identical tiles."""
    import shutil

    from tilemaker_spark.config import default_config
    from tilemaker_spark.fixtures import make_pages
    from tilemaker_spark.plans import pipeline as P

    calls = []
    real = P.assemble_tiles_salted

    def spy(*args, **kwargs):
        calls.append(1)
        return real(*args, **kwargs)

    monkeypatch.setattr(P, "assemble_tiles_salted", spy)
    c = default_config()
    c.basezoom = c.maxzoom = 10
    c.hot_tile_salt, c.hot_tile_threshold = 4, 120
    pages = make_pages(spark, 120)
    work = str(tmp_path / "run")

    def tiles(pipe, **kw):
        return sorted((r.z, r.x, r.y, bytes(r.tile))
                      for r in pipe.run(pages, **kw).collect())

    fresh_pipe = P.TilePipeline(spark, c, workdir=work)
    fresh = tiles(fresh_pipe, force=True)
    assert fresh_pipe.metrics["stages"]["features"]["rows"] == 120
    assert calls == []

    shutil.rmtree(tmp_path / "run" / "tiles")
    resumed_pipe = P.TilePipeline(spark, c, workdir=work)
    resumed = tiles(resumed_pipe)
    assert resumed_pipe.metrics["stages"]["features"].get("resumed")
    assert resumed_pipe.metrics["stages"]["features"]["rows"] == 120
    assert calls == []
    assert resumed == fresh
