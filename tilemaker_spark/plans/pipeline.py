"""End-to-end pipeline orchestration with checkpoint/resume + lineage.

Dataflow (SURVEY.md §7.1), each stage materialized as a parquet
checkpoint so a killed job resumes from the last completed stage — the
sandbox analog of Iceberg snapshot checkpointing demanded by the north
rule. A stage's lineage record ``{name}.lineage.json`` (rows, per-file
rows and bytes, wall time, observed counts) is its commit, written after
Spark's _SUCCESS marker. A resumed stage reports its record, so every
later decision (branch skip, salting, the tile count) reads the same
facts on a fresh and a resumed run.

    pages -> features -> [feature_tiles: single points]
                        [+ feature_tiles_geom: every other geometry] -> tiles
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from functools import reduce
from pathlib import Path

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from tilemaker_spark.config import EngineConfig, default_config
from tilemaker_spark.operators.profile import features_from_pages, features_from_ways
from tilemaker_spark.operators.tile_assembly import (
    assemble_tiles,
    assemble_tiles_salted,
)
from tilemaker_spark.operators.tiling import (
    apply_feature_limits,
    bbox_tile_filter,
    cover_clip_explode,
    point_tiles,
    shift_rollup,
    single_point,
    zoom_gates,
)

# the order the stages are written in; each reads only earlier ones
STAGES = ("features", "feature_tiles", "feature_tiles_geom", "tiles")


def _write_lineage(path: str, df_path: str, seconds: float,
                   counts: dict | None) -> dict:
    """Rows and bytes of each parquet file of a completed stage, read
    from the footers (no scan of the data), plus the counts observed
    during the write, if any."""
    import pyarrow.parquet as pq
    files = [os.path.join(df_path, n) for n in sorted(os.listdir(df_path))
             if n.endswith(".parquet")]
    parts = [{"file": os.path.basename(f),
              "rows": pq.ParquetFile(f).metadata.num_rows,
              "bytes": os.path.getsize(f)} for f in files]
    lineage = {"stage": os.path.basename(df_path),
               "rows": sum(p["rows"] for p in parts),
               "partitions": len(parts), "seconds": round(seconds, 3),
               "files": parts}
    if counts is not None:
        lineage["counts"] = counts
    with open(path, "w") as f:
        json.dump(lineage, f, indent=1)
    return lineage


class TilePipeline:
    """Checkpoint-resumable pages -> tiles run."""

    def __init__(self, spark: SparkSession, config: EngineConfig | None = None,
                 workdir: str = "/tmp/tilemaker_spark_run"):
        self.spark = spark
        self.config = config or default_config()
        self.workdir = workdir
        os.makedirs(workdir, exist_ok=True)
        self.metrics: dict = {"stages": {}}

    def _checkpoint(self, df: DataFrame, name: str, force: bool = False,
                    observe: list | None = None) -> DataFrame:
        """Write ``df`` as stage ``name``, or resume the stage when its
        _SUCCESS and record both exist and not ``force``; either way read
        it back with ``df``'s schema (no inference job). A write first
        deletes the records of this stage and every later one, so a stage
        resumes only when every stage it reads resumed too. The write's
        job also computes the named aggregates in ``observe``; they land
        in the record as ``counts``."""
        path = os.path.join(self.workdir, name)
        record = f"{path}.lineage.json"
        if force or not (os.path.exists(os.path.join(path, "_SUCCESS"))
                         and os.path.exists(record)):
            for later in STAGES[STAGES.index(name):]:
                Path(self.workdir, f"{later}.lineage.json").unlink(
                    missing_ok=True)
            t0 = time.time()
            obs = Observation(name) if observe else None
            (df.observe(obs, *observe) if obs else df) \
                .write.mode("overwrite").parquet(path)
            # Observation.get blocks until an action ran: only after the write
            lineage = _write_lineage(record, path, time.time() - t0,
                                     obs.get if obs else None)
        else:
            with open(record) as f:
                lineage = {**json.load(f), "seconds": 0, "resumed": True}
        self.metrics["stages"][name] = lineage
        return self.spark.read.schema(df.schema).parquet(path)

    def _drop_stage(self, name: str) -> None:
        """Delete a skipped stage's checkpoint. Its record went when the
        features stage it follows was written."""
        shutil.rmtree(os.path.join(self.workdir, name), ignore_errors=True)
        self.metrics["stages"].pop(name, None)

    def run(self, pages: DataFrame, nodes: DataFrame | None = None,
            ways: DataFrame | None = None,
            relations: DataFrame | None = None,
            layer_polygons: DataFrame | None = None,
            extra_features: DataFrame | None = None,
            force: bool = False) -> DataFrame:
        """pages [+ ways [+ relations]] [⋈ layer_polygons] -> tiles.

        layer_polygons (the indexed external layer, J3) enriches every
        page point with the containing polygon's name as an attribute —
        the north-star 'joined point-in-polygon against OSM-style layer
        polygons' step. Broadcast join: zero shuffle on the pages side.
        """
        # count this run's jobs by a tag; the caller's job group stays
        sc = self.spark.sparkContext
        tag = f"tilemaker_spark-run-{uuid.uuid4().hex}"
        sc.addJobTag(tag)
        t_start = time.time()
        try:
            tiles = self._run_stages(pages, nodes, ways, relations,
                                     layer_polygons, extra_features, force)
        finally:
            sc.removeJobTag(tag)

        m = self.metrics
        m["total_seconds"] = round(time.time() - t_start, 3)
        m["jobs"] = len(sc._jsc.sc().statusTracker().getJobIdsForTag(tag))
        m["tiles"] = m["stages"]["tiles"]["rows"]
        m["tiles_per_sec"] = round(
            m["tiles"] / max(m["total_seconds"], 1e-9), 2)
        with open(os.path.join(self.workdir, "metrics.json"), "w") as f:
            json.dump(m, f, indent=1)
        return tiles

    def _run_stages(self, pages, nodes, ways, relations, layer_polygons,
                    extra_features, force: bool) -> DataFrame:
        cfg = self.config

        # Stage 1 — features (profile over pages [+ ways [+ relations]])
        if layer_polygons is not None:
            from tilemaker_spark.operators.geocode import geocode_pages
            from tilemaker_spark.operators.spatial_join import points_in_polygons
            geo = geocode_pages(pages)
            hits = points_in_polygons(geo, layer_polygons,
                                      point_id="doc_id") \
                .select(F.col("doc_id").alias("feature_id"),
                        F.col("name").alias("_country"))
            feats = features_from_pages(geo, geocode=False)
            # a point matches at most one disjoint polygon; left join
            # keeps pages outside every polygon (attr absent)
            feats = feats.join(hits, "feature_id", "left")
            feats = feats.withColumn(
                "attrs",
                F.when(F.col("_country").isNotNull(),
                       F.map_concat("attrs",
                                    F.create_map(F.lit("country"),
                                                 F.col("_country"))))
                .otherwise(F.col("attrs"))).drop("_country")
        else:
            feats = features_from_pages(pages)
        feats = feats.drop("url", "text")
        if nodes is not None and ways is not None:
            feats = feats.unionByName(features_from_ways(nodes, ways))
            if relations is not None:
                from tilemaker_spark.operators.relations import (
                    features_from_relations)
                feats = feats.unionByName(
                    features_from_relations(relations, ways, nodes))
        if extra_features is not None:
            # pre-built feature rows (e.g. a compiled --process profile)
            feats = feats.unionByName(extra_features, allowMissingColumns=True)
        # Stage 2 takes rows with finite vertices, at least one: sorted,
        # a null vertex comes first and NaN last, and an empty geom has
        # no first element. A NaN or null vertex sends the cover walk
        # off without end.
        verts = F.sort_array(F.flatten("geom"))
        finite = F.coalesce((verts.getItem(0) > float("-inf"))
                            & (F.array_max(verts) < float("inf")),
                            F.lit(False))
        single = single_point()
        feats = self._checkpoint(feats, "features", force=force, observe=[
            F.count(F.when(finite & single, 1)).alias("points"),
            F.count(F.when(finite & ~single, 1)).alias("geoms"),
            F.count(F.when(~finite, 1)).alias("nonfinite")])

        # Stage 2 — tile assignment + gates. Single points checkpoint
        # ONLY their basezoom tile: the rollup is duplicate-free shift
        # math, so re-deriving it after the read costs a few codegen ops
        # while the checkpoint shrinks ~(basezoom - minzoom)x. Everything
        # else (multi-points, lines, polygons) takes the clip-cache
        # descent (tiling.cover_clip_explode), whose per-zoom pieces
        # differ, so its checkpoint holds every zoom's rows. The
        # features record's counts skip a branch with zero rows; one
        # branch always runs: empty in, a tiles table out.
        counts = self.metrics["stages"]["features"]["counts"]
        geoms = counts["geoms"] > 0
        points = counts["points"] > 0 or not geoms
        branches = []
        if points:
            ft = point_tiles(feats.filter(finite & single), cfg.basezoom)
            ft = self._checkpoint(ft, "feature_tiles", force=force)
            branches.append(shift_rollup(ft, cfg.minzoom, cfg.basezoom))
        else:
            self._drop_stage("feature_tiles")
        if geoms:
            ftg = cover_clip_explode(feats.filter(finite), cfg.minzoom,
                                     cfg.basezoom, hires=cfg.high_resolution)
            branches.append(
                self._checkpoint(ftg, "feature_tiles_geom", force=force))
        else:
            self._drop_stage("feature_tiles_geom")
        ft = reduce(DataFrame.unionByName, branches)
        layer_zooms = {name: (lc.minzoom, lc.maxzoom)
                       for name, lc in cfg.layers.items()}
        ft = zoom_gates(ft, layer_zooms)
        # F6 — bounding-box tile pruning (reference
        # src/tilemaker.cpp:360-374,425-435): static (z,x,y) range
        # filter; lands before the assembly shuffle so out-of-box tiles
        # never shuffle (no-op for the world bbox)
        ft = bbox_tile_filter(ft, cfg.bounding_box)
        # O2 pre-limit bounds hot groups before the assembly shuffle —
        # config-aware (per-layer limit/below, assembly's draw order) so
        # it prunes a strict superset of what assembly keeps (one
        # max-across-layers limit would drop rows from unlimited layers
        # and rank the wrong end of ascending layers)
        ft = apply_feature_limits(ft, cfg)

        # Stage 3 — per-tile assembly -> tiles (salted two-phase when the
        # config enables hot-tile salting: city-center skew defense).
        # A features row lands in a given (z, x, y) at most once, so no
        # tile can be hot while the features table is within the threshold:
        # then skip the salted path's hot-key aggregate and merge shuffle.
        rows = self.metrics["stages"]["features"]["rows"]
        salted = cfg.hot_tile_salt > 1 and rows > cfg.hot_tile_threshold
        assemble = assemble_tiles_salted if salted else assemble_tiles
        return self._checkpoint(assemble(ft, cfg), "tiles", force=force)
