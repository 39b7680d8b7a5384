"""The traced run: the pipeline's layers called one by one.

``traced_layers`` calls the engine's public layer functions in pipeline
order and writes each layer's output to parquet under its own Spark job
group, so wall time, process-tree CPU and Spark stage metrics can be
charged to one layer:

    spatial_join  points_in_polygons            (pages_world only)
    profile       features_from_pages / features_from_ways
    tiling.cover  cover_explode / cover_clip_explode
    tiling.gates  ancestor_rollup + zoom_gates + bbox_tile_filter
                  + apply_feature_limits
    tile_assembly assemble_tiles_salted

``kernel_split`` then drives ``tile_assembly.make_stream_assembler`` on
one core with no Spark over a seeded sample of whole tiles, once plain
and once with timing wrappers around the public ``mvt`` and ``geomnp``
functions the kernel calls.

Spans (name, start, end, parent) stay in memory in ``Tracer`` and are
written once at the end.
"""

from __future__ import annotations

import json
import math
import os
import time
from contextlib import contextmanager

import pyarrow.parquet as pq

from tilebench.procstat import tree_cpu_s


# Every per-layer metric of a traced invocation: (name, unit, better).
LAYER_METRICS = [
    ("session.start_s", "s", "lower"),
    ("profile.wall_s", "s", "lower"),
    ("profile.cpu_s", "s", "lower"),
    ("profile.rows_out", "count", "lower"),
    ("profile.shuffle_mb", "MB", "lower"),
    ("spatial_join.wall_s", "s", "lower"),
    ("spatial_join.candidate_pairs", "count", "lower"),
    ("spatial_join.match_ratio", "share", "higher"),
    ("spatial_join.rings_mb_shipped", "MB", "lower"),
    ("tiling.cover_wall_s", "s", "lower"),
    ("tiling.cover_cpu_s", "s", "lower"),
    ("tiling.cover_rows_out", "count", "lower"),
    ("tiling.cover_task_skew", "ratio", "lower"),
    ("tiling.rollup_rows_out", "count", "lower"),
    ("tiling.gate_rows_out", "count", "lower"),
    ("tiling.gate_keep_ratio", "share", "higher"),
    ("tiling.gate_wall_s", "s", "lower"),
    ("tile_assembly.wall_s", "s", "lower"),
    ("tile_assembly.run_s", "s", "lower"),
    ("tile_assembly.cpu_s", "s", "lower"),
    ("tile_assembly.jvm_busy_share", "share", "higher"),
    ("tile_assembly.gc_s", "s", "lower"),
    ("tile_assembly.shuffle_write_mb", "MB", "lower"),
    ("tile_assembly.shuffle_read_mb", "MB", "lower"),
    ("tile_assembly.spill_mb", "MB", "lower"),
    ("tile_assembly.tasks", "count", "lower"),
    ("tile_assembly.task_skew", "ratio", "lower"),
    ("tile_assembly.hot_tiles", "count", "lower"),
    ("tile_assembly.salt_partials", "count", "lower"),
    ("tile_assembly.udf_tax", "ratio", "lower"),
    ("kernel.wall_s", "s", "lower"),
    ("kernel.tiles_per_s", "tiles/s", "higher"),
    ("kernel.features_per_s", "features/s", "higher"),
    ("kernel.other_s", "s", "lower"),
    ("kernel.sample_share", "share", "higher"),
    ("kernel.split_overhead", "ratio", "lower"),
    ("mvt.encode_s", "s", "lower"),
    ("mvt.compress_s", "s", "lower"),
    ("mvt.raw_mb", "MB", "lower"),
    ("mvt.compressed_mb", "MB", "lower"),
    ("geomnp.clip_s", "s", "lower"),
    ("geomnp.simplify_s", "s", "lower"),
    ("pipeline.features_s", "s", "lower"),
    ("pipeline.feature_tiles_s", "s", "lower"),
    ("pipeline.feature_tiles_geom_s", "s", "lower"),
    ("pipeline.tiles_s", "s", "lower"),
    ("pipeline.driver_s", "s", "lower"),
    ("pipeline.checkpoint_mb", "MB", "lower"),
    ("pipeline.parquet_write_s", "s", "lower"),
    ("trace.wall_s", "s", "lower"),
    ("trace.layer_share", "share", "higher"),
    ("trace.overhead", "ratio", "lower"),
]


class Tracer:
    def __init__(self):
        self.spans = []
        self._stack = []

    @contextmanager
    def span(self, name: str, sc=None):
        """Time a block; with ``sc`` its Spark jobs run in job group
        ``name``."""
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        if sc is not None:
            sc.setJobGroup(name, name)
        c0, t0 = tree_cpu_s(), time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self.spans.append({"name": name, "start": t0, "end": t1,
                               "parent": parent,
                               "cpu_s": tree_cpu_s() - c0})
            self._stack.pop()
            if sc is not None:
                sc.setJobGroup("untraced", "untraced")

    def wall(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name)

    def cpu(self, name: str) -> float:
        return sum(s["cpu_s"] for s in self.spans if s["name"] == name)

    def write(self, path: str) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        rows = [dict(s, start=s["start"] - t0, end=s["end"] - t0)
                for s in self.spans]
        with open(path, "w") as f:
            json.dump(rows, f, indent=1)


def parquet_rows(path: str) -> int:
    return sum(pq.ParquetFile(os.path.join(path, n)).metadata.num_rows
               for n in os.listdir(path) if n.endswith(".parquet"))


def dir_mb(path: str) -> float:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total / 1e6


def _features(frames: dict, hits):
    """Stage 1 exactly as TilePipeline.run composes it."""
    from pyspark.sql import functions as F

    from tilemaker_spark.operators.geocode import geocode_pages
    from tilemaker_spark.operators.profile import (features_from_pages,
                                                   features_from_ways)

    pages = frames["pages"]
    if hits is not None:
        feats = features_from_pages(geocode_pages(pages), geocode=False)
        feats = feats.join(hits, "feature_id", "left")
        feats = feats.withColumn(
            "attrs",
            F.when(F.col("_country").isNotNull(),
                   F.map_concat("attrs", F.create_map(F.lit("country"),
                                                      F.col("_country"))))
            .otherwise(F.col("attrs"))).drop("_country")
    else:
        feats = features_from_pages(pages)
    feats = feats.drop("url", "text")
    if "nodes" in frames:
        feats = feats.unionByName(features_from_ways(frames["nodes"],
                                                     frames["ways"]))
    return feats


def traced_layers(spark, frames: dict, cfg, work: str, tracer: Tracer,
                  stats) -> dict:
    """Run the layers one by one; returns the per-layer metrics and the
    path of the tiles written by the last layer."""
    from pyspark.sql import functions as F

    from tilemaker_spark.operators import tile_assembly as TA
    from tilemaker_spark.operators.geocode import geocode_pages
    from tilemaker_spark.operators.spatial_join import (points_in_polygons,
                                                        with_bbox)
    from tilemaker_spark.operators.tiling import (ancestor_rollup,
                                                  apply_feature_limits,
                                                  bbox_tile_filter,
                                                  cover_clip_explode,
                                                  cover_explode, zoom_gates)

    sc = spark.sparkContext
    p = {k: os.path.join(work, k) for k in
         ("hits", "features", "cover_pts", "cover_geom", "gated", "tiles")}
    has_geom = "nodes" in frames
    m = {}

    def write(df, path):
        df.write.mode("overwrite").parquet(path)

    with tracer.span("traced_run"):
        hits = None
        if "countries" in frames:
            with tracer.span("spatial_join", sc):
                write(points_in_polygons(geocode_pages(frames["pages"]),
                                         frames["countries"],
                                         point_id="doc_id")
                      .select(F.col("doc_id").alias("feature_id"),
                              F.col("name").alias("_country")),
                      p["hits"])
            hits = spark.read.parquet(p["hits"])
        with tracer.span("profile", sc):
            write(_features(frames, hits), p["features"])
        feats = spark.read.parquet(p["features"])
        with tracer.span("tiling.cover", sc):
            if has_geom:
                write(cover_explode(feats.filter(F.col("geom_type") == 1),
                                    cfg.basezoom), p["cover_pts"])
                write(cover_clip_explode(
                    feats.filter(F.col("geom_type") != 1), cfg.minzoom,
                    cfg.basezoom, hires=cfg.high_resolution), p["cover_geom"])
            else:
                write(cover_explode(feats, cfg.basezoom), p["cover_pts"])

        def rolled():
            ft = ancestor_rollup(spark.read.parquet(p["cover_pts"]),
                                 cfg.minzoom, cfg.basezoom)
            if has_geom:
                ft = ft.unionByName(spark.read.parquet(p["cover_geom"]))
            return ft

        layer_zooms = {n: (lc.minzoom, lc.maxzoom)
                       for n, lc in cfg.layers.items()}
        with tracer.span("tiling.gates", sc):
            ft = zoom_gates(rolled(), layer_zooms)
            ft = bbox_tile_filter(ft, cfg.bounding_box)
            write(apply_feature_limits(ft, cfg), p["gated"])
        with tracer.span("tile_assembly", sc):
            gated = spark.read.parquet(p["gated"])
            tiles = (TA.assemble_tiles_salted(gated, cfg)
                     if cfg.hot_tile_salt > 1
                     else TA.assemble_tiles(gated, cfg))
            try:
                write(tiles, p["tiles"])
            finally:
                for df in getattr(tiles, "_internal_persists", []):
                    df.unpersist()

    # ---- counts at the layer boundaries (own job group, not timed)
    sc.setJobGroup("counts", "counts")
    m["profile.rows_out"] = parquet_rows(p["features"])
    cover_rows = parquet_rows(p["cover_pts"])
    if has_geom:
        cover_rows += parquet_rows(p["cover_geom"])
    m["tiling.cover_rows_out"] = cover_rows
    m["tiling.rollup_rows_out"] = rolled().count()
    m["tiling.gate_rows_out"] = parquet_rows(p["gated"])
    m["tiling.gate_keep_ratio"] = (m["tiling.gate_rows_out"]
                                   / max(m["tiling.rollup_rows_out"], 1))
    if "countries" in frames:
        polys = with_bbox(frames["countries"]).withColumn(
            "_doubles", F.aggregate("rings", F.lit(0).cast("long"),
                                    lambda acc, r: acc + F.size(r)))
        pts = geocode_pages(frames["pages"])
        cond = ((F.col("lon") >= F.col("bx0")) & (F.col("lon") <= F.col("bx1"))
                & (F.col("lat") >= F.col("by0"))
                & (F.col("lat") <= F.col("by1")))
        row = (pts.join(F.broadcast(polys), cond, "inner")
               .agg(F.count(F.lit(1)).alias("n"),
                    F.sum("_doubles").alias("d")).first())
        cand = int(row["n"])
        m["spatial_join.candidate_pairs"] = cand
        m["spatial_join.match_ratio"] = parquet_rows(p["hits"]) / max(cand, 1)
        m["spatial_join.rings_mb_shipped"] = int(row["d"] or 0) * 8 / 1e6
    else:
        m["spatial_join.candidate_pairs"] = 0
        m["spatial_join.match_ratio"] = 0.0
        m["spatial_join.rings_mb_shipped"] = 0.0
    thr, salt = cfg.hot_tile_threshold, max(cfg.hot_tile_salt, 1)
    cap = TA._SALT_FANOUT_CAP
    hot = (spark.read.parquet(p["gated"]).groupBy("z", "x", "y").count()
           .filter(F.col("count") > thr)
           .agg(F.count(F.lit(1)).alias("n"),
                F.sum(F.least(F.lit(cap), F.greatest(
                    F.lit(salt), F.ceil(F.col("count") / thr))))
                .alias("fan")).first())
    salted = cfg.hot_tile_salt > 1
    m["tile_assembly.hot_tiles"] = int(hot["n"]) if salted else 0
    m["tile_assembly.salt_partials"] = int(hot["fan"] or 0) if salted else 0
    sc.setJobGroup("untraced", "untraced")

    # ---- wall / CPU per span, stage metrics per job group
    m["profile.wall_s"] = tracer.wall("profile")
    m["profile.cpu_s"] = tracer.cpu("profile")
    m["profile.shuffle_mb"] = stats.group("profile")["shuffle_write_mb"]
    m["spatial_join.wall_s"] = tracer.wall("spatial_join")
    m["tiling.cover_wall_s"] = tracer.wall("tiling.cover")
    m["tiling.cover_cpu_s"] = tracer.cpu("tiling.cover")
    m["tiling.cover_task_skew"] = stats.group("tiling.cover")["task_skew"]
    m["tiling.gate_wall_s"] = tracer.wall("tiling.gates")
    asm = stats.group("tile_assembly")
    m["tile_assembly.wall_s"] = tracer.wall("tile_assembly")
    for k in ("run_s", "cpu_s", "gc_s", "shuffle_write_mb",
              "shuffle_read_mb", "spill_mb", "tasks", "task_skew"):
        m[f"tile_assembly.{k}"] = asm[k]
    m["tile_assembly.jvm_busy_share"] = asm["cpu_s"] / max(asm["run_s"], 1e-9)
    m["trace.wall_s"] = tracer.wall("traced_run")
    m["trace.layer_share"] = sum(
        tracer.wall(n) for n in ("spatial_join", "profile", "tiling.cover",
                                 "tiling.gates", "tile_assembly")
    ) / m["trace.wall_s"]
    return {"metrics": m, "tiles": p["tiles"], "gated": p["gated"]}


# ------------------------------------------------------------------ kernel

# the public mvt / geomnp functions the tile kernel calls, by bucket
_MVT_ENCODE = ("encode_point_geometry", "encode_line_geometry",
               "encode_polygon_geometry", "encode_tile")
_GEOM_CLIP = ("clip_line_to_box", "clip_polygon_to_box")
_GEOM_SIMPLIFY = ("simplify_dp", "simplify_visvalingam",
                  "simplify_polygon_parts_topo")


class _Buckets:
    """Time spent in wrapped functions, per bucket. Nested calls of the
    same bucket are charged once, to the outermost call."""

    def __init__(self):
        self.seconds = {}
        self.bytes = {}
        self._depth = {}

    def wrap(self, bucket: str, fn, count_bytes: bool = False):
        seconds, nbytes, depth = self.seconds, self.bytes, self._depth
        seconds.setdefault(bucket, 0.0)
        nbytes.setdefault(bucket, 0)
        depth.setdefault(bucket, 0)
        clock = time.perf_counter

        def wrapped(*args, **kwargs):
            if depth[bucket]:
                return fn(*args, **kwargs)
            depth[bucket] = 1
            t0 = clock()
            try:
                out = fn(*args, **kwargs)
            finally:
                seconds[bucket] += clock() - t0
                depth[bucket] = 0
            if count_bytes:
                nbytes[bucket] += len(out)
            return out

        return wrapped


@contextmanager
def _patched(buckets: _Buckets):
    from tilemaker_spark.functions import geomnp, mvt

    saved = []

    def patch(owner, name, bucket, count_bytes=False):
        fn = getattr(owner, name)
        saved.append((owner, name, fn))
        setattr(owner, name, buckets.wrap(bucket, fn, count_bytes))

    for name in _MVT_ENCODE:
        patch(mvt, name, "encode", count_bytes=(name == "encode_tile"))
    patch(mvt.LayerBuilder, "add_feature", "encode")
    patch(mvt, "compress_tile", "compress", count_bytes=True)
    for name in _GEOM_CLIP:
        patch(geomnp, name, "clip")
    for name in _GEOM_SIMPLIFY:
        patch(geomnp, name, "simplify")
    try:
        yield
    finally:
        for owner, name, fn in reversed(saved):
            setattr(owner, name, fn)


def _drive(pdf, cfg, batch_rows: int):
    from tilemaker_spark.operators.tile_assembly import make_stream_assembler

    process = make_stream_assembler(cfg)
    batches = (pdf.iloc[i:i + batch_rows]
               for i in range(0, len(pdf), batch_rows))
    tiles = features = 0
    t0 = time.perf_counter()
    for out in process(batches):
        tiles += len(out)
        features += int(out["n_features"].sum())
    return time.perf_counter() - t0, tiles, features


def kernel_split(spark, gated_dir: str, cfg, work: str, seed: int,
                 target_rows: int, tracer: Tracer) -> dict:
    """Single-core encode kernel over a seeded sample of whole tiles."""
    from pyspark.sql import functions as F

    batch_rows = int(spark.conf.get(
        "spark.sql.execution.arrow.maxRecordsPerBatch"))
    gated = spark.read.parquet(gated_dir)
    total_rows = parquet_rows(gated_dir)
    share = min(1.0, target_rows / max(total_rows, 1))
    keep = math.ceil(share * 1000)
    cols = ["z", "x", "y", "feature_id", "layer", "geom_type", "z_order",
            "attrs", "geom"]
    sample_dir = os.path.join(work, "kernel_sample")
    (gated.filter(F.pmod(F.xxhash64(F.lit(seed), "z", "x", "y"), F.lit(1000))
                  < keep)
     .select(*cols).write.mode("overwrite").parquet(sample_dir))
    pdf = (pq.read_table(sample_dir).to_pandas(maps_as_pydicts="strict")
           .sort_values(["z", "x", "y"], kind="stable")
           .reset_index(drop=True))
    sample_rows = len(pdf)
    with tracer.span("kernel.plain"):
        wall, tiles, features = _drive(pdf, cfg, batch_rows)
    buckets = _Buckets()
    with tracer.span("kernel.split"), _patched(buckets):
        split_wall, _, _ = _drive(pdf, cfg, batch_rows)
    s = buckets.seconds
    parts = s["encode"] + s["compress"] + s["clip"] + s["simplify"]
    return {
        "kernel.wall_s": wall,
        "kernel.tiles_per_s": tiles / wall if wall else 0.0,
        "kernel.features_per_s": features / wall if wall else 0.0,
        "kernel.sample_share": sample_rows / max(total_rows, 1),
        "kernel.split_overhead": split_wall / wall if wall else 0.0,
        "mvt.encode_s": s["encode"],
        "mvt.compress_s": s["compress"],
        "mvt.raw_mb": buckets.bytes["encode"] / 1e6,
        "mvt.compressed_mb": buckets.bytes["compress"] / 1e6,
        "geomnp.clip_s": s["clip"],
        "geomnp.simplify_s": s["simplify"],
        "kernel.other_s": max(wall - parts, 0.0),
    }
