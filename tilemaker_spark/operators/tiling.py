"""Feature-to-tile assignment (J6), zoom rollup (A6), gates and limits.

Replaces the reference's mutable two-tier tile index
(/root/reference/include/tile_data.h:22-53, src/tile_data.cpp:429-542)
with an immutable ``feature_tiles(z, x, y, feature_id)`` DataFrame:

  * single points — pure Column math (whole-stage codegen, no Python),
    rolled up to every zoom by bit-shift alone (``shift_rollup``),
  * everything else (multi-points, lines, polygons) — one cover + clip
    descent per feature (``cover_clip_explode``); polygon covers >= 16
    tiles take the reference's large-object path
    (src/tile_data.cpp:500-533): every tile of the cover's bbox.

The flat ``cover_explode`` + ``ancestor_rollup`` (shift + distinct, as
TileCoordinatesSet derivation, src/tilemaker.cpp:384-409) is the
reference the descent is checked against.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from tilemaker_spark.functions import geomnp as G
from tilemaker_spark.functions.coords import lat2latp_col, latp2tiley_col, lon2tilex_col

# Cap on how many tiles a single large-polygon bbox may explode to at the
# index zoom. Beyond this the exact filled cover is used instead (always
# smaller than the bbox for real shapes). This bounds worst-case blowup
# for continent-sized polygons on a 1000-executor run.
LARGE_BBOX_TILE_CAP = 65536


def point_tiles(features: DataFrame, zoom: int) -> DataFrame:
    """Tile assignment for point features — Column math only.

    geom[0] = [lon, latp]; latpLon2index analog
    (reference src/coordinates.cpp:38-41).
    """
    # getItem (GetArrayItem), NOT element_at: Catalyst's
    # SimplifyExtractValueOps collapses getItem over the freshly built
    # array(array(lon, latp)) so the nested-array construction vanishes
    # from the plan entirely — element_at is opaque to that rule, blows
    # the expression up ~4x, and its null-guard Filter trips a Spark
    # codegen bug ("filter_isNull is not an rvalue" -> interpreted
    # fallback) when pushed toward the scan
    lon = F.col("geom").getItem(0).getItem(0)
    latp = F.col("geom").getItem(0).getItem(1)
    return features.withColumn("z", F.lit(zoom).cast("int")) \
        .withColumn("x", lon2tilex_col(lon, zoom)) \
        .withColumn("y", latp2tiley_col(latp, zoom))


def single_point() -> Column:
    """A point of one part holding exactly one (lon, latp) pair: the
    only geometry point_tiles' geom[0][0..1] read covers whole, and one
    that occupies a single tile at every zoom. GeoJSON and Shapefile
    MultiPoints arrive as ONE part of several pairs, [[x1, y1, x2, ...]],
    other sources as one part per point; both fail this test."""
    # getItem, not element_at: see point_tiles
    return ((F.col("geom_type") == 1) & (F.size("geom") == 1)
            & (F.size(F.col("geom").getItem(0)) == 2))


def _cover_tiles(gt: int, parts_np: list, zoom: int) -> set:
    """The flat cover-tile set of one geometry at one zoom, including
    the reference's large-object bbox semantics (shared by the flat
    cover_explode UDF and the hierarchical descent, so both paths
    assign features to IDENTICAL tile sets)."""
    tiles, bbox = G.cover_geometry(gt, parts_np, zoom)
    if bbox is not None:
        minx, miny, maxx, maxy = bbox
        n = (maxx - minx + 1) * (maxy - miny + 1)
        if n <= LARGE_BBOX_TILE_CAP:
            # reference large-object semantics: every bbox tile
            return {(x, y) for x in range(minx, maxx + 1)
                    for y in range(miny, maxy + 1)}
        # fall back to the exact filled cover (recompute)
        tiles = set()
        for outer, _ in G.iter_polygons(parts_np):
            tiles |= G.fill_covered_tiles(G.supercover_tiles(outer, zoom))
    return set(tiles)


def _cover_udf(zoom: int):
    @pandas_udf("array<array<long>>")
    def cover(geom_type: pd.Series, geom: pd.Series) -> pd.Series:
        out = []
        for gt, parts in zip(geom_type, geom):
            parts_np = [np.asarray(p, dtype=np.float64).reshape(-1, 2) for p in parts]
            tiles = _cover_tiles(int(gt), parts_np, zoom)
            out.append([[t[0], t[1]] for t in sorted(tiles)])
        return pd.Series(out)
    return cover


def cover_explode(features: DataFrame, zoom: int) -> DataFrame:
    """feature_tiles at one zoom: the flat cover that cover_clip_explode
    is checked against (also geoms_intersecting_polygons' cell cover).

    Output columns: all feature columns + (z, x, y). Single points take
    the codegen path; multi-points, lines and polygons the cover pUDF.
    """
    # the codegen path reads geom[0][0..1] only: a MultiPoint in either
    # layout must go through the cover UDF or every point after the
    # first loses its tile
    single = single_point()
    pts = features.filter(single)
    other = features.filter(~single)

    out_pts = point_tiles(pts, zoom)

    cover = _cover_udf(zoom)
    covered = other.withColumn("_tiles", cover(F.col("geom_type"), F.col("geom")))
    out_other = (covered
                 .select("*", F.explode("_tiles").alias("_t"))
                 .withColumn("z", F.lit(zoom).cast("int"))
                 .withColumn("x", F.element_at("_t", 1))
                 .withColumn("y", F.element_at("_t", 2))
                 .drop("_tiles", "_t"))
    return out_pts.unionByName(out_other)


def cover_clip_explode(features: DataFrame, minzoom: int, basezoom: int,
                       hires: bool = False) -> DataFrame:
    """Hierarchical cover + clip — the Spark-native recast of the
    reference's clip cache (include/clip_cache.h:21-70,
    src/tile_data.cpp:250-349).

    A flat cover (cover_explode + ancestor_rollup) would re-clip the
    FULL geometry at every (z, x, y) during assembly: for a V-vertex polygon
    covering T deep-zoom tiles that is O(V·T) clip work. Here each
    line/polygon feature runs ONE top-down quadtree descent inside an
    Arrow batch: the piece clipped at zoom z feeds the four children at
    z+1, so per-tile clip cost shrinks with the subtree — O(V·log T +
    output). The recursion stack plays the reference's cross-thread
    clip cache, with no shared mutable state: features are independent,
    so the stage stays embarrassingly parallel and shuffle-free.

    Every geometry but a single point: single-point rows are dropped
    (they take point_tiles + shift_rollup), and a multi-point's point
    set goes down the descent unclipped (assembly drops the points
    outside each tile). Output: one row per (feature, z, x, y) for
    ALL z in [minzoom, basezoom], with `geom` replaced by the tile-local
    piece clipped to that tile's keep box (the same box assembly clips
    to — its re-clip then finds every vertex already inside and emits
    the same bytes). Membership is EXACTLY a flat cover's: the basezoom
    cover (same supercover walk, same large-object bbox semantics via
    _cover_tiles) rolled up to each ancestor zoom — only the clipping is
    hierarchical, so tile assignments are identical row-for-row.
    """
    from tilemaker_spark.functions.coords import TileBbox

    geoms = features.filter(~single_point())
    in_cols = geoms.columns
    gi = in_cols.index("geom")
    ti = in_cols.index("geom_type")
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in geoms.schema.fields
    ) + ", z int, x long, y long"

    def descend_rows(batches):
        def clip_piece(gt, parts, box):
            if gt == G.GEOM_LINE:
                runs = []
                for p in parts:
                    runs.extend(G.clip_line_to_box(p, box))
                return runs
            return G.clip_polygon_to_box(parts, box)

        # flush threshold: bounds the per-task buffer to O(chunk) rows
        # instead of O(whole-batch descent output) — a planet-scale
        # vertex-heavy feature at high basezoom would otherwise hold
        # every clipped piece of the Arrow batch in one Python list
        chunk = 8192
        for pdf in batches:
            out_rows = []
            for row in pdf.itertuples(index=False):
                gt = int(row[ti])
                parts = [np.asarray(p, dtype=np.float64).reshape(-1, 2)
                         for p in row[gi]]
                if not parts:
                    continue
                base_cover = _cover_tiles(gt, parts, basezoom)
                if not base_cover:
                    continue
                member = {basezoom: base_cover}
                for z in range(basezoom - 1, minzoom - 1, -1):
                    member[z] = {(x >> 1, y >> 1) for x, y in member[z + 1]}
                base = list(row)
                stack = [(minzoom, x, y, parts)
                         for x, y in member[minzoom]]
                while stack:
                    z, x, y, piece = stack.pop()
                    bbox = TileBbox(z, x, y, hires=hires)
                    # keep exactly what assembly will clip to: lines use
                    # the wide extend box (±2 tile widths), polygons the
                    # 0.5%-margin clip box. Both nest: child box ⊂
                    # parent box, so the descent never loses content.
                    keep_box = (bbox.extend_box() if gt == G.GEOM_LINE
                                else bbox.clipping_box)
                    buffered = (piece if gt == G.GEOM_POINT
                                else clip_piece(gt, piece, keep_box))
                    rec = list(base)
                    rec[gi] = [p.reshape(-1).tolist() for p in buffered]
                    out_rows.append(tuple(rec) + (z, x, y))
                    if len(out_rows) >= chunk:
                        yield pd.DataFrame(out_rows,
                                           columns=in_cols + ["z", "x", "y"])
                        out_rows = []
                    if z < basezoom:
                        nxt = member[z + 1]
                        for dx in (0, 1):
                            for dy in (0, 1):
                                cx, cy = 2 * x + dx, 2 * y + dy
                                if (cx, cy) in nxt:
                                    stack.append((z + 1, cx, cy, buffered))
            if out_rows:
                yield pd.DataFrame(out_rows, columns=in_cols + ["z", "x", "y"])

    return geoms.mapInPandas(descend_rows, schema=out_schema)


def shift_rollup(feature_tiles: DataFrame, minzoom: int,
                 basezoom: int) -> DataFrame:
    """Every zoom's rows from the basezoom cover by shift math alone:
    (z, x >> (basezoom - z), y >> (basezoom - z)) for z in
    [minzoom, basezoom]. Complete for single points (``single_point``),
    which occupy one basezoom tile and so reach each ancestor once: no
    dedup shuffle, whole-stage codegen."""
    zs = F.explode(F.sequence(F.lit(minzoom), F.lit(basezoom))).alias("zz")
    return (feature_tiles.select("*", zs)
            .withColumn("x", F.expr(f"shiftright(x, {basezoom} - zz)"))
            .withColumn("y", F.expr(f"shiftright(y, {basezoom} - zz)"))
            .drop("z").withColumnRenamed("zz", "z"))


def ancestor_rollup(feature_tiles: DataFrame, minzoom: int,
                    basezoom: int) -> DataFrame:
    """A6 — shift_rollup of a flat basezoom cover, minus the duplicates
    of sibling tiles sharing a parent (src/tilemaker.cpp:384-409); only
    single points skip the dropDuplicates shuffle."""
    single = single_point()
    pts = shift_rollup(feature_tiles.filter(single), minzoom, basezoom)
    other = shift_rollup(feature_tiles.filter(~single), minzoom, basezoom) \
        .dropDuplicates(["feature_id", "layer", "z", "x", "y"])
    return pts.unionByName(other)


def zoom_gates(feature_tiles: DataFrame, layer_zooms: dict) -> DataFrame:
    """F3 + F4: feature min_zoom gate and per-layer [minzoom, maxzoom].

    layer_zooms: {layer: (minzoom, maxzoom)} from EngineConfig. The layer
    gate is applied via a broadcast map literal (tiny dim — the reference
    checks it per tile at src/tile_worker.cpp:427).
    """
    df = feature_tiles.filter(F.col("z") >= F.col("min_zoom"))
    if layer_zooms:
        entries = []
        for layer, (lo, hi) in layer_zooms.items():
            entries.append((F.col("layer") == layer)
                           & F.col("z").between(lo, hi))
        cond = entries[0]
        for e in entries[1:]:
            cond = cond | e
        df = df.filter(cond)
    return df


WORLD_BBOX = (-180.0, -85.06, 180.0, 85.06)


def bbox_is_world(bbox) -> bool:
    min_lon, min_lat, max_lon, max_lat = bbox
    return (min_lon <= WORLD_BBOX[0] and min_lat <= WORLD_BBOX[1]
            and max_lon >= WORLD_BBOX[2] and max_lat >= WORLD_BBOX[3])


def bbox_tile_filter(feature_tiles: DataFrame, bbox) -> DataFrame:
    """F6 — prune (z, x, y) tiles outside the configured bounding box.

    Reference semantics: tiles whose envelope misses the clip box are
    skipped outright (src/tilemaker.cpp:360-374,425-435; per-tile
    early-out src/tile_worker.cpp:478-483). Spark recast: one static
    Column range predicate on (z, x, y) — pure codegen integer math per
    row, applied BEFORE the assembly shuffle so out-of-box tiles never
    shuffle at all. The reference's z6 wholly-covered fast path (skip
    the per-tile check when the zoom-6 ancestor is inside the box) is
    subsumed here: the vectorized range compare costs the same either
    way and short-circuits in codegen.

    bbox = (min_lon, min_lat, max_lon, max_lat) in degrees.
    """
    if bbox_is_world(bbox):
        return feature_tiles
    from tilemaker_spark.functions.coords import lat2latp_np
    min_lon, min_lat, max_lon, max_lat = (float(v) for v in bbox)
    # projected (latp) extremes are static scalars — computed once
    latp_lo = float(lat2latp_np(np.array([max(min(min_lat, 85.06), -85.06)]))[0])
    latp_hi = float(lat2latp_np(np.array([max(min(max_lat, 85.06), -85.06)]))[0])
    n = F.expr("shiftleft(CAST(1 AS BIGINT), z)")  # 2^z (z <= 30 in practice)
    nmax = n - 1
    x_min = F.greatest(F.lit(0).cast("long"),
                       F.floor((F.lit(min_lon) + 180.0) / 360.0 * n))
    x_max = F.least(nmax.cast("long"),
                    F.floor((F.lit(max_lon) + 180.0) / 360.0 * n))
    y_min = F.greatest(F.lit(0).cast("long"),
                       F.floor((F.lit(180.0) - latp_hi) / 360.0 * n))
    y_max = F.least(nmax.cast("long"),
                    F.floor((F.lit(180.0) - latp_lo) / 360.0 * n))
    return feature_tiles.filter(
        (F.col("x") >= x_min) & (F.col("x") <= x_max)
        & (F.col("y") >= y_min) & (F.col("y") <= y_max))


def apply_feature_limits(feature_tiles: DataFrame, config) -> DataFrame:
    """Config-aware O2 pre-limit: a guaranteed SUPERSET of assembly's
    exact keep rule (tile_assembly._batch_prepare), applied before the
    assembly shuffle to bound hot groups.

    What matters for correctness (a single fixed-direction limit over
    all layers gets each of these wrong):

    * per-layer ``feature_limit`` / ``feature_limit_below`` — a layer
      with no limit is never pruned, and a layer whose ``below`` zoom is
      lower than another's is not over-pruned by the max;
    * draw order matches assembly: ascending ``z_order`` unless the
      layer sets ``z_order_ascending=False`` (pruning the other end
      would ship the wrong features);
    * ``dense_rank`` over (draw key, feature_id) so duplicate copies of
      one feature (deduped later by assembly) cannot consume rank slots
      belonging to distinct features.
    """
    limits = {n: (lc.feature_limit, lc.feature_limit_below)
              for n, lc in config.layers.items() if lc.feature_limit > 0}
    if not limits:
        return feature_tiles
    desc = [n for n, lc in config.layers.items()
            if not lc.z_order_ascending]
    zo = F.col("z_order")
    key = (F.when(F.col("layer").isin(desc), -zo).otherwise(zo)
           if desc else zo)
    lim = F.lit(None).cast("long")
    below = F.lit(None).cast("long")
    for name, (lval, bval) in limits.items():
        lim = F.when(F.col("layer") == name, F.lit(lval)).otherwise(lim)
        below = F.when(F.col("layer") == name, F.lit(bval)).otherwise(below)
    w = Window.partitionBy("z", "x", "y", "layer").orderBy(
        key.asc(), F.col("feature_id").asc())
    return (feature_tiles
            .withColumn("_rk", F.dense_rank().over(w))
            .filter(lim.isNull() | (F.col("z") >= below)
                    | (F.col("_rk") <= lim))
            .drop("_rk"))
