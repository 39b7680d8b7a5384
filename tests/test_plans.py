"""Plan-quality assertions: the physical plans of scale-critical paths
must not regress into driver-side materialization or lost parallelism."""

import pytest
from pyspark.sql import functions as F

from tilemaker_spark.config import EngineConfig, LayerConfig
from tilemaker_spark.fixtures import make_pages
from tilemaker_spark.operators.profile import features_from_pages
from tilemaker_spark.operators.tile_assembly import assemble_tiles_salted
from tilemaker_spark.operators.tiling import cover_explode


def test_salted_assembly_no_driver_collect_of_features(spark):
    """The hot-key set must stay a DataFrame (broadcast join), never a
    collect()ed LocalTableScan of feature-derived rows: at planet scale
    millions of hot keys would flow through the driver."""
    cfg = EngineConfig(basezoom=6, minzoom=6, maxzoom=6, compress="none",
                       hot_tile_salt=4, hot_tile_threshold=10)
    cfg.layers["pages"] = LayerConfig(name="pages", minzoom=0, maxzoom=14)
    feats = features_from_pages(make_pages(spark, 500)).drop("url", "text")
    ft = cover_explode(feats, 6)
    tiles = assemble_tiles_salted(ft, cfg)
    plan = tiles._jdf.queryExecution().executedPlan().toString()
    # feature-derived inputs must come from scans/exchanges, never a
    # driver-materialized local table (the round-1 collect() anti-pattern)
    assert "LocalTableScan" not in plan, plan[:2000]
    # the hot keys reach the rows through a broadcast join
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    # and the result is still correct / complete
    n = tiles.count()
    assert n > 0


def test_bbox_filter_lands_before_assembly_shuffle(spark):
    """F6: the (z,x,y) range predicate must appear below the Exchange
    that feeds the mapInPandas encode — pruned tiles never shuffle."""
    from tilemaker_spark.operators.tile_assembly import assemble_tiles
    from tilemaker_spark.operators.tiling import bbox_tile_filter
    cfg = EngineConfig(basezoom=6, minzoom=6, maxzoom=6, compress="none",
                       hot_tile_salt=0)
    cfg.layers["pages"] = LayerConfig(name="pages", minzoom=0, maxzoom=14)
    feats = features_from_pages(make_pages(spark, 200)).drop("url", "text")
    ft = cover_explode(feats, 6)
    ft = bbox_tile_filter(ft, (-75.0, 39.8, -73.0, 41.5))
    tiles = assemble_tiles(ft, cfg)
    plan = tiles._jdf.queryExecution().executedPlan().toString()
    # the tile-range predicate (folded by Catalyst to "... / 360.0) *
    # 2^z" comparisons at the literal basezoom) must appear BELOW the
    # repartition exchange in the printed tree — i.e. later in the
    # top-down string — so pruned tiles never enter the shuffle
    epos = plan.find("Exchange")
    ppos = plan.rfind("/ 360.0")
    assert epos != -1, plan[:1500]
    assert ppos != -1, "bbox predicate missing from the physical plan"
    assert ppos > epos, "bbox filter must sit on the scan side of the shuffle"


def test_classifier_score_broadcasts_model_weights(spark):
    """The weight vector is O(buckets): its join must be a broadcast
    hash join — the exploded corpus token stream must never shuffle to
    meet the model."""
    from tilemaker_spark.operators.text_analysis import classifier_score
    docs = spark.createDataFrame([(i, "a b c d") for i in range(60)],
                                 "doc_id long, text string")
    w = spark.createDataFrame([(b, (b % 5) / 16.0) for b in range(16)],
                              "bucket long, weight double")
    out = classifier_score(docs, w, n_buckets=16)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan[:2000]
    assert "SortMergeJoin" not in plan, plan[:2000]


def test_blocklist_suffix_rules_are_equi_joins(spark):
    """Host and suffix rules must match via (broadcastable) equi-joins;
    only the path_contains rules may pay a nested loop, and nothing may
    degrade to a CartesianProduct."""
    from tilemaker_spark.operators.webtext import filter_blocked_urls
    pages = spark.createDataFrame(
        [(i, f"https://s{i % 7}.ex.example/p/{i}") for i in range(40)],
        "doc_id long, url string")
    rules = spark.createDataFrame(
        [(1, "host", "s1.ex.example"), (2, "host_suffix", "ex.example"),
         (3, "path_contains", "/p/3")],
        "rule_id long, kind string, pattern string")
    out = filter_blocked_urls(pages, rules)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan[:2000]
    assert plan.count("BroadcastNestedLoopJoin") <= 1, plan[:2000]
    assert "BroadcastHashJoin" in plan, plan[:2000]


def test_tfidf_doc_term_agg_computed_once(spark):
    """The (doc, term, tf) aggregate feeds both the df histogram and
    the scoring join; the persist must make the second consumer an
    InMemoryTableScan, not a recompute of the tokenize+agg subtree."""
    from tilemaker_spark.operators.text_analysis import tfidf_keywords
    docs = spark.createDataFrame(
        [(i, "wa xb yc zd " * (1 + i % 3)) for i in range(50)],
        "doc_id long, text string")
    out = tfidf_keywords(docs, k=3)
    try:
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryTableScan" in plan, plan[:2000]
        # exactly one parquet/localtable scan subtree builds the agg;
        # the other branch must reuse it
        assert out.count() > 0
    finally:
        for h in out._internal_persists:
            h.unpersist()


def test_points_in_polygons_runs_only_the_ring_test_in_python(spark):
    """with_bbox is Spark built-ins: the join's only Python node is the
    `pip` ring test, however often the optimizer re-reads the bbox
    columns (inferred isnotnull filters used to re-run a bbox UDF over
    the polygon scan), and its bounds equal numpy's on multi-ring
    polygons."""
    import numpy as np

    from tilemaker_spark.operators.spatial_join import (points_in_polygons,
                                                        with_bbox)

    rng = np.random.default_rng(3)
    rings = {f"p{i}": [rng.uniform(-60, 60, size=2 * int(k)).tolist()
                       for k in rng.integers(3, 30, size=int(n))]
             for i, n in enumerate(rng.integers(1, 4, size=12))}
    polys = spark.createDataFrame(list(rings.items()),
                                  "name string, rings array<array<double>>")
    pts = spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y)
         in enumerate(rng.uniform(-60, 60, size=(200, 2)))],
        "doc_id long, lon double, lat double")

    plan = points_in_polygons(pts, polys)._jdf.queryExecution() \
        .executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1, plan
    assert "BatchEvalPython" not in plan

    for r in with_bbox(polys).collect():
        a = np.concatenate([np.reshape(p, (-1, 2)) for p in rings[r.name]])
        assert (r.bx0, r.by0, r.bx1, r.by1) == (
            a[:, 0].min(), a[:, 1].min(), a[:, 0].max(), a[:, 1].max())
