"""End-to-end pipeline orchestration with checkpoint/resume + lineage.

Dataflow (SURVEY.md §7.1), each stage materialized as a parquet
checkpoint so a killed job resumes from the last completed stage — the
sandbox analog of Iceberg snapshot checkpointing demanded by the north
rule. Stage completion is Spark's own atomic _SUCCESS marker; lineage
(row counts, per-partition sizes, wall time) is written next to each
stage as JSON.

    pages -> features -> [feature_tiles] [+ feature_tiles_geom] -> tiles
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from functools import reduce

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from tilemaker_spark.config import EngineConfig, default_config
from tilemaker_spark.operators.profile import features_from_pages, features_from_ways
from tilemaker_spark.operators.tile_assembly import (
    assemble_tiles,
    assemble_tiles_salted,
)
from tilemaker_spark.operators.tiling import (
    ancestor_rollup,
    apply_feature_limits,
    bbox_tile_filter,
    cover_clip_explode,
    cover_explode,
    zoom_gates,
)


def _stage_done(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_SUCCESS"))


def _parquet_files(path: str) -> list[dict]:
    """Rows and bytes of each parquet file of a stage, read from the
    footers (no scan of the data)."""
    import pyarrow.parquet as pq
    return [{"file": n,
             "rows": pq.ParquetFile(os.path.join(path, n)).metadata.num_rows,
             "bytes": os.path.getsize(os.path.join(path, n))}
            for n in sorted(os.listdir(path)) if n.endswith(".parquet")]


def _write_lineage(path: str, df_path: str, seconds: float,
                   counts: dict | None) -> dict:
    """Per-partition lineage for a completed stage, plus the counts
    observed during the write, if any."""
    parts = _parquet_files(df_path)
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
        """Write ``df`` as stage ``name`` unless done (or ``force``) and
        read it back with ``df``'s schema (no inference job). The write's
        job also computes the named aggregates in ``observe``; they land
        in the lineage as ``counts``."""
        path = os.path.join(self.workdir, name)
        if force or not _stage_done(path):
            t0 = time.time()
            obs = Observation(name) if observe else None
            (df.observe(obs, *observe) if obs else df) \
                .write.mode("overwrite").parquet(path)
            dt = time.time() - t0
            # Observation.get blocks until an action ran: only after the write
            self.metrics["stages"][name] = _write_lineage(
                os.path.join(self.workdir, f"{name}.lineage.json"), path, dt,
                obs.get if obs else None)
        else:
            self.metrics["stages"][name] = {"stage": name, "resumed": True}
        return self.spark.read.schema(df.schema).parquet(path)

    def _drop_stage(self, name: str) -> None:
        """Delete a skipped stage's checkpoint, marker first: a resume
        that does run the stage must not find another run's output."""
        path = os.path.join(self.workdir, name)
        for f in (os.path.join(path, "_SUCCESS"), f"{path}.lineage.json"):
            if os.path.exists(f):
                os.remove(f)
        shutil.rmtree(path, ignore_errors=True)
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

        self.metrics["total_seconds"] = round(time.time() - t_start, 3)
        self.metrics["jobs"] = len(
            sc._jsc.sc().statusTracker().getJobIdsForTag(tag))
        n_tiles = sum(p["rows"] for p in
                      _parquet_files(os.path.join(self.workdir, "tiles")))
        self.metrics["tiles"] = n_tiles
        self.metrics["tiles_per_sec"] = round(
            n_tiles / max(self.metrics["total_seconds"], 1e-9), 2)
        with open(os.path.join(self.workdir, "metrics.json"), "w") as f:
            json.dump(self.metrics, f, indent=1)
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
            feats = feats.drop("url", "text")
        else:
            feats = features_from_pages(pages).drop("url", "text")
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
        is_point = F.col("geom_type") == 1
        feats = self._checkpoint(feats, "features", force=force, observe=[
            F.count(F.when(is_point, 1)).alias("points"),
            F.count(F.when(~is_point, 1)).alias("geoms")])

        # Stage 2 — tile assignment + gates. Points checkpoint ONLY their
        # basezoom cover: the ancestor rollup is deterministic shift
        # math, so re-deriving it after the read costs a few codegen ops
        # while the checkpoint shrinks ~(basezoom - minzoom)x. Lines and
        # polygons take the clip-cache descent (tiling.cover_clip_explode),
        # whose per-zoom pieces genuinely differ, so their checkpoint
        # holds every zoom's rows. A pages-only run is point-only by
        # construction and skips the geometry job statically; freshly
        # written features also skip a branch with zero rows (resumed
        # ones have no counts). One branch always runs: empty in, a
        # tiles table out.
        counts = self.metrics["stages"]["features"].get("counts")
        geoms = ((nodes is not None and ways is not None)
                 or extra_features is not None) \
            and (counts is None or counts["geoms"] > 0)
        points = counts is None or counts["points"] > 0 or not geoms
        branches = []
        if points:
            ft = cover_explode(feats.filter(is_point), cfg.basezoom)
            ft = self._checkpoint(ft, "feature_tiles", force=force)
            branches.append(ancestor_rollup(ft, cfg.minzoom, cfg.basezoom))
        else:
            self._drop_stage("feature_tiles")
        if geoms:
            ftg = cover_clip_explode(feats, cfg.minzoom, cfg.basezoom,
                                     hires=cfg.high_resolution)
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
        # tile can be hot while the features table is within the
        # threshold: skip the salted path's hot-key aggregate and merge
        # shuffle. A resumed features stage has no row count and stays
        # salted.
        feature_rows = self.metrics["stages"]["features"].get("rows")
        salted = cfg.hot_tile_salt > 1 and (
            feature_rows is None or feature_rows > cfg.hot_tile_threshold)
        assemble = assemble_tiles_salted if salted else assemble_tiles
        return self._checkpoint(assemble(ft, cfg), "tiles", force=force)
