"""Resume is one plan: a checkpoint is done only when its _SUCCESS and
its lineage record both exist, and a stage resumes only when every stage
it reads resumed too. A resumed run therefore runs the stages a fresh
run would, from the same recorded counts, and writes the same tiles."""

import os

import pytest
from pyspark.sql import functions as F

from tilemaker_spark.config import default_config
from tilemaker_spark.fixtures import make_nodes_ways, make_pages
from tilemaker_spark.plans.pipeline import TilePipeline

ORDER = ("features", "feature_tiles", "feature_tiles_geom", "tiles")


def _tiles(rows):
    return {(r.z, r.x, r.y): bytes(r.tile) for r in rows}


def _crash_at(monkeypatch, stage):
    """Fail the Spark job that writes ``stage`` (a kill mid-write)."""
    real = TilePipeline._checkpoint

    def crashing(self, df, name, *a, **k):
        if name == stage:
            df = df.filter(F.raise_error(F.lit("injected crash")).isNull())
        return real(self, df, name, *a, **k)
    monkeypatch.setattr(TilePipeline, "_checkpoint", crashing)


def _z10():
    cfg = default_config()
    cfg.basezoom = cfg.maxzoom = 10
    return cfg


def test_resume_after_a_crash_on_new_pages_equals_a_fresh_run(
        spark, tmp_path, monkeypatch):
    """A run over 200 pages completes; a forced run over 400 pages dies
    while writing features. The resume must not pick up the first run's
    feature_tiles or tiles: it equals a fresh run over the 400 pages."""
    cfg, wd = _z10(), str(tmp_path / "run")
    old = TilePipeline(spark, cfg, workdir=wd)
    old.run(make_pages(spark, 200), force=True)
    pages = make_pages(spark, 400)
    with monkeypatch.context() as m:
        _crash_at(m, "features")
        with pytest.raises(Exception, match="injected crash"):
            TilePipeline(spark, cfg, workdir=wd).run(pages, force=True)

    resumed = TilePipeline(spark, cfg, workdir=wd)
    got = _tiles(resumed.run(pages).collect())
    fresh = TilePipeline(spark, cfg, workdir=str(tmp_path / "fresh"))
    want = _tiles(fresh.run(pages, force=True).collect())
    assert got == want
    assert len(want) > old.metrics["tiles"]
    assert resumed.metrics["tiles"] == fresh.metrics["tiles"] == len(want)
    assert not any(s.get("resumed")
                   for s in resumed.metrics["stages"].values())


@pytest.fixture(scope="module")
def runs(spark, tmp_path_factory):
    """Inputs and the fresh run's tiles and stage records, per workload."""
    nodes, ways = make_nodes_ways(spark)
    out = {}
    for kind, pages in (("pages_ways", make_pages(spark, 200)),
                        ("ways_only", make_pages(spark, 10)
                         .filter("doc_id < 0"))):
        args = (pages, nodes, ways)
        pipe = TilePipeline(spark, default_config(),
                            workdir=str(tmp_path_factory.mktemp(kind)))
        tiles = _tiles(pipe.run(*args, force=True).collect())
        out[kind] = (args, tiles, pipe.metrics["stages"])
    return out


@pytest.mark.parametrize("kind,stage", [
    (kind, stage) for kind in ("pages_ways", "ways_only") for stage in ORDER
    if (kind, stage) != ("ways_only", "feature_tiles")])
def test_kill_and_resume_at_each_checkpoint(spark, runs, kind, stage,
                                            tmp_path, monkeypatch):
    """A fresh run dies while writing ``stage``; the resume keeps what
    was committed before it, reruns the rest, and matches the fresh
    run's tiles, stage set, rows and counts. (A ways-only run has no
    feature_tiles stage: its resume must not run the point branch.)"""
    args, want_tiles, want = runs[kind]
    wd = str(tmp_path)
    with monkeypatch.context() as m:
        _crash_at(m, stage)
        with pytest.raises(Exception, match="injected crash"):
            TilePipeline(spark, default_config(), workdir=wd).run(
                *args, force=True)

    pipe = TilePipeline(spark, default_config(), workdir=wd)
    assert _tiles(pipe.run(*args).collect()) == want_tiles
    got = pipe.metrics["stages"]
    assert set(got) == set(want)
    assert {n: (s["rows"], s.get("counts")) for n, s in got.items()} \
        == {n: (s["rows"], s.get("counts")) for n, s in want.items()}
    before = set(ORDER[:ORDER.index(stage)]) & set(want)
    assert {n for n, s in got.items() if s.get("resumed")} == before
    assert all(got[n]["seconds"] == 0 for n in before)


def test_a_checkpoint_without_its_record_is_rerun(spark, tmp_path):
    """The record, written after Spark's _SUCCESS, commits a stage: a
    full resume reports every record and runs no Spark job, and a stage
    whose record is missing reruns, with every stage after it."""
    cfg, wd = _z10(), str(tmp_path)
    pages = make_pages(spark, 200)
    fresh = TilePipeline(spark, cfg, workdir=wd)
    fresh.run(pages, force=True)

    full = TilePipeline(spark, cfg, workdir=wd)
    full.run(pages)
    assert full.metrics["jobs"] == 0
    assert full.metrics["tiles"] == fresh.metrics["tiles"]
    for name, rec in fresh.metrics["stages"].items():
        assert full.metrics["stages"][name] == {**rec, "seconds": 0,
                                                "resumed": True}

    os.remove(os.path.join(wd, "feature_tiles.lineage.json"))
    assert os.path.exists(os.path.join(wd, "feature_tiles", "_SUCCESS"))
    pipe = TilePipeline(spark, cfg, workdir=wd)
    pipe.run(pages)
    stages = pipe.metrics["stages"]
    assert stages["features"].get("resumed") is True
    assert "resumed" not in stages["feature_tiles"]
    assert "resumed" not in stages["tiles"]
    assert os.path.exists(os.path.join(wd, "feature_tiles.lineage.json"))
