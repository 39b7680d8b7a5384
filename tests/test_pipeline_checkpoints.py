"""Pipeline checkpoints: Stage 2 branches with no rows are skipped and
leave no checkpoint behind, geometries with no finite vertex are counted
and kept out of Stage 2, every checkpoint reads back with the schema it
was written with, and a run reports its Spark job count."""

import os

import pytest
from pyspark.sql import functions as F

from tilemaker_spark.config import default_config
from tilemaker_spark.fixtures import make_nodes_ways, make_pages, make_relations
from tilemaker_spark.plans import pipeline
from tilemaker_spark.plans.pipeline import TilePipeline


def _tiles(rows):
    return {(r.z, r.x, r.y): (r.n_features, bytes(r.tile)) for r in rows}


@pytest.fixture(scope="module")
def ways_only(spark, tmp_path_factory):
    """A fresh ways-only run over an empty pages table."""
    nodes, ways = make_nodes_ways(spark)
    no_pages = make_pages(spark, 10).filter("doc_id < 0")
    wd = str(tmp_path_factory.mktemp("ways_only"))
    pipe = TilePipeline(spark, default_config(), workdir=wd)
    rows = pipe.run(no_pages, nodes, ways, force=True).collect()
    return pipe, rows, wd, (no_pages, nodes, ways)


def test_points_free_run_skips_the_point_branch(ways_only):
    pipe, rows, wd, _ = ways_only
    assert rows
    counts = pipe.metrics["stages"]["features"]["counts"]
    assert counts["points"] == 0 and counts["geoms"] > 0
    assert "feature_tiles" not in pipe.metrics["stages"]
    assert not os.path.exists(os.path.join(wd, "feature_tiles"))
    assert not os.path.exists(os.path.join(wd, "feature_tiles.lineage.json"))
    assert set(pipe.metrics["stages"]) == {"features", "feature_tiles_geom",
                                           "tiles"}
    assert pipe.metrics["jobs"] > 0


def test_points_only_run_skips_the_geometry_branch(spark, tmp_path):
    nodes, ways = make_nodes_ways(spark)
    pipe = TilePipeline(spark, default_config(), workdir=str(tmp_path))
    assert pipe.run(make_pages(spark, 200), nodes, ways.filter("id < 0"),
                    force=True).count() > 0
    assert pipe.metrics["stages"]["features"]["counts"]["geoms"] == 0
    assert set(pipe.metrics["stages"]) == {"features", "feature_tiles",
                                           "tiles"}
    assert not os.path.exists(os.path.join(tmp_path, "feature_tiles_geom"))


def test_nonfinite_geometries_are_counted_and_kept_out_of_stage2(
        spark, ways_only, tmp_path):
    """NaN, +-inf, null and empty geometries never reach Stage 2: the run
    completes, the features record counts them as `nonfinite`, and every
    tile equals the run without them. A NaN or null vertex used to send
    the line cover walk off without end, and a NaN point vanished
    uncounted."""
    from tilemaker_spark.functions.coords import lat2latp

    _, fresh_rows, _, (no_pages, nodes, ways) = ways_only
    nan, inf, y = float("nan"), float("inf"), lat2latp(40.0)
    bad = spark.createDataFrame([
        (1, "pages", 1, 0, 0, {}, [[nan, y]]),
        (2, "pages", 1, 0, 0, {}, [[10.0, inf]]),
        (3, "pages", 1, 0, 0, {}, [[10.0, y], [-inf, y]]),
        (4, "roads", 2, 0, 0, {}, [[10.0, y, nan, y, 12.0, y]]),
        (5, "water", 3, 0, 0, {}, [[0.0, 0.0, 1.0, 0.0, 1.0, -inf]]),
        (6, "pages", 1, 0, 0, {}, []),
        (7, "roads", 2, 0, 0, {}, [[]]),
        (8, "roads", 2, 0, 0, {}, [[10.0, y, None, y, 12.0, y]]),
        (9, "pages", 1, 0, 0, {}, [[10.0, None]]),
    ], "feature_id long, layer string, geom_type int, min_zoom int, "
       "z_order int, attrs map<string,string>, geom array<array<double>>")
    pipe = TilePipeline(spark, default_config(), workdir=str(tmp_path))
    rows = pipe.run(no_pages, nodes, ways, extra_features=bad,
                    force=True).collect()
    counts = pipe.metrics["stages"]["features"]["counts"]
    assert counts["nonfinite"] == 9
    assert counts["points"] == 0
    assert "feature_tiles" not in pipe.metrics["stages"]
    assert _tiles(rows) == _tiles(fresh_rows)


def test_resume_after_a_skip_reads_no_stale_checkpoint(spark, ways_only,
                                                       tmp_path, monkeypatch):
    """A run with points completes; a forced points-free run over the
    same workdir crashes while writing tiles; the resume reads the
    resumed features stage's recorded counts, so it skips the point
    branch like the fresh run and never picks up the first run's
    feature_tiles."""
    _, fresh_rows, _, (no_pages, nodes, ways) = ways_only
    wd = str(tmp_path)
    cfg = default_config()
    TilePipeline(spark, cfg, workdir=wd).run(make_pages(spark, 200), nodes,
                                             ways, force=True)
    assert os.path.exists(os.path.join(wd, "feature_tiles", "_SUCCESS"))

    with monkeypatch.context() as m:
        for fn in ("assemble_tiles", "assemble_tiles_salted"):
            real = getattr(pipeline, fn)

            def crashing(*a, _real=real, **k):
                return _real(*a, **k).filter(
                    F.raise_error(F.lit("injected crash")).isNull())
            m.setattr(pipeline, fn, crashing)
        with pytest.raises(Exception, match="injected crash"):
            TilePipeline(spark, cfg, workdir=wd).run(no_pages, nodes, ways,
                                                     force=True)
    assert not os.path.exists(os.path.join(wd, "tiles", "_SUCCESS"))

    pipe = TilePipeline(spark, cfg, workdir=wd)
    rows = pipe.run(no_pages, nodes, ways).collect()
    assert pipe.metrics["stages"]["features"].get("resumed") is True
    assert "feature_tiles" not in pipe.metrics["stages"]
    assert not os.path.exists(os.path.join(wd, "feature_tiles"))
    assert _tiles(rows) == _tiles(fresh_rows)


def test_checkpoints_read_back_with_their_written_schema(spark, tmp_path,
                                                         monkeypatch):
    """The pinned read-back schema equals what parquet inference gives,
    nullability included, for every checkpoint of a pages + ways +
    relations run."""
    written = {}
    real = TilePipeline._checkpoint

    def spy(self, df, name, **kw):
        written[name] = df.schema
        return real(self, df, name, **kw)
    monkeypatch.setattr(TilePipeline, "_checkpoint", spy)

    nodes, ways = make_nodes_ways(spark)
    relations, rel_ways, rel_nodes = make_relations(spark)
    wd = str(tmp_path)
    pipe = TilePipeline(spark, default_config(), workdir=wd)
    tiles = pipe.run(make_pages(spark, 200), nodes=nodes.unionByName(rel_nodes),
                     ways=ways.unionByName(rel_ways), relations=relations,
                     force=True)

    assert set(written) == {"features", "feature_tiles",
                            "feature_tiles_geom", "tiles"}
    for name, schema in written.items():
        path = os.path.join(wd, name)
        assert (spark.read.schema(schema).parquet(path).schema
                == spark.read.parquet(path).schema), name
    assert tiles.schema == spark.read.parquet(os.path.join(wd, "tiles")).schema
