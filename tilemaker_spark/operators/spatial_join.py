"""Spatial joins — cell-cover equi-joins + exact geometric post-filters.

Replaces the reference's R-tree + z15 bit-grid probes
(/root/reference/src/shp_mem_tiles.cpp:21-127; Lua-facing API
src/osm_lua_processing.cpp:377-470) with the Spark-native decomposition:

    explode both sides to z15-equivalent cell ids  (same resolution as
    the reference's spatialIndexZoom, src/shp_mem_tiles.cpp:12)
    -> cell equi-join (the prefilter; Catalyst/AQE pick broadcast or
       shuffled hash; skewed cells handled by AQE skew-join)
    -> exact numpy predicate in a vectorized check
    -> semantics:  Intersects      = left-semi
                   FindIntersecting = inner + collect_set(name)
                   CoveredBy/FindCovering = covered_by predicate
                   AreaIntersecting = sum of intersection areas

Plus the two mandated extensions with no reference analog:
    kNN nearest-feature (J10)  — cell-ring expansion + window top-k
    raster<->vector coverage (J11) — tile-grid cells as the raster
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from tilemaker_spark.functions import geomnp as G
from tilemaker_spark.functions.coords import (
    lat2latp_col,
    lat2latp_np,
    latp2tiley_col,
    lon2tilex_col,
    tilex2lon,
    tiley2latp,
)

SPATIAL_INDEX_ZOOM = 15  # reference spatialIndexZoom (src/shp_mem_tiles.cpp:12)


# ------------------------------------------------------------ cell cover

def polygon_cells(polygons: DataFrame, zoom: int = SPATIAL_INDEX_ZOOM,
                  rings_col: str = "rings", lat_in_rings: bool = True) -> DataFrame:
    """Explode the build side (layer_polygons) to covering cells.

    rings are flat [x,y,...] in (lon, lat) fixture convention; cover uses
    (lon, latp) so we project inside the UDF.
    """

    from tilemaker_spark.operators.tiling import _cover_tiles

    @pandas_udf("array<array<long>>")
    def cover(rings: pd.Series) -> pd.Series:
        out = []
        for parts in rings:
            parts_np = []
            for p in parts:
                a = np.asarray(p, dtype=np.float64).reshape(-1, 2)
                if lat_in_rings:
                    a = np.column_stack([a[:, 0], lat2latp_np(a[:, 1])])
                parts_np.append(a)
            # the ONE cover-tile recipe (tiling._cover_tiles): bbox
            # grid under LARGE_BBOX_TILE_CAP, exact filled cover above
            # it — keeps the spatial index cell-identical with the
            # tile-cover path by construction
            tiles = _cover_tiles(G.GEOM_POLYGON, parts_np, zoom)
            out.append([[t[0], t[1]] for t in sorted(tiles)])
        return pd.Series(out)

    return (polygons
            .withColumn("_cells", cover(F.col(rings_col)))
            .select("*", F.explode("_cells").alias("_c"))
            .withColumn("cell_x", F.element_at("_c", 1))
            .withColumn("cell_y", F.element_at("_c", 2))
            .drop("_cells", "_c"))


def point_cells(points: DataFrame, zoom: int = SPATIAL_INDEX_ZOOM,
                lon_col: str = "lon", lat_col: str = "lat") -> DataFrame:
    """Cell id for point probes — pure Column math (codegen)."""
    return (points
            .withColumn("cell_x", lon2tilex_col(F.col(lon_col), zoom))
            .withColumn("cell_y", latp2tiley_col(lat2latp_col(F.col(lat_col)), zoom)))


# ------------------------------------------------- point-in-polygon (J3)

def with_bbox(polygons: DataFrame, rings_col: str = "rings") -> DataFrame:
    """Add (bx0, by0, bx1, by1) bbox columns from the rings geometry:
    array_min/array_max over the even (x) and odd (y) elements of the
    flattened rings, built-ins the optimizer may re-run at no cost."""
    flat = F.flatten(rings_col)
    xs = F.filter(flat, lambda v, i: i % 2 == 0)
    ys = F.filter(flat, lambda v, i: i % 2 == 1)
    return polygons.withColumns({
        "bx0": F.array_min(xs), "by0": F.array_min(ys),
        "bx1": F.array_max(xs), "by1": F.array_max(ys)})


def points_in_polygons(points: DataFrame, polygons: DataFrame,
                       point_id: str = "doc_id") -> DataFrame:
    """FindIntersecting for point probes: (point columns..., name).

    Physical plan: broadcast the polygon dim with precomputed bboxes, a
    nested-loop bbox range join prunes candidates (the analog of the
    reference's R-tree bbox probe, src/shp_mem_tiles.cpp:65-127), then
    one vectorized even-odd ray cast per (batch, polygon) group — no
    per-row Python. Zero shuffle on the big probe side. For a build
    side too large to broadcast, use a cell equi-join via
    ``polygon_cells`` + ``point_cells`` at a coarse zoom instead.
    """
    polyb = F.broadcast(with_bbox(polygons).select(
        "name", "rings", "bx0", "by0", "bx1", "by1"))
    cond = ((F.col("lon") >= F.col("bx0")) & (F.col("lon") <= F.col("bx1"))
            & (F.col("lat") >= F.col("by0")) & (F.col("lat") <= F.col("by1")))
    cand = points.join(polyb, cond, "inner")

    @pandas_udf("boolean")
    def pip(lon: pd.Series, lat: pd.Series, name: pd.Series,
            rings: pd.Series) -> pd.Series:
        out = np.zeros(len(lon), dtype=bool)
        lons = lon.to_numpy(dtype=np.float64)
        lats = lat.to_numpy(dtype=np.float64)
        groups: dict = {}
        for i, nm in enumerate(name):
            groups.setdefault(nm, []).append(i)
        for nm, idxs in groups.items():
            parts = [np.asarray(p, dtype=np.float64).reshape(-1, 2)
                     for p in rings.iloc[idxs[0]]]
            idx = np.asarray(idxs)
            out[idx] = G.points_in_polygon(lons[idx], lats[idx], parts)
        return pd.Series(out)

    return (cand.filter(pip(F.col("lon"), F.col("lat"), F.col("name"),
                            F.col("rings")))
            .drop("rings", "bx0", "by0", "bx1", "by1"))


def geoms_intersecting_polygons(features: DataFrame, polygons: DataFrame,
                                zoom: int = SPATIAL_INDEX_ZOOM,
                                predicate: str = "intersects") -> DataFrame:
    """J3/J4 for line/polygon probes: feature rows + matched polygon name.

    predicate: 'intersects' (geom::intersects) or 'covered_by'
    (geom::covered_by, reference src/osm_lua_processing.cpp:377-470).
    Feature geom is (lon, latp); polygon rings are (lon, lat).
    """
    from tilemaker_spark.operators.tiling import cover_explode
    fc = cover_explode(features, zoom).withColumnRenamed("x", "cell_x") \
        .withColumnRenamed("y", "cell_y").drop("z")
    polyc = F.broadcast(polygon_cells(polygons, zoom)
                        .select("name", "rings", "cell_x", "cell_y"))
    cand = (fc.join(polyc, ["cell_x", "cell_y"], "inner")
            .dropDuplicates(["feature_id", "name"]))

    pred_fn = (G.geom_intersects_polygon if predicate == "intersects"
               else G.geom_covered_by_polygon)

    @pandas_udf("boolean")
    def check(geom_type: pd.Series, geom: pd.Series, rings: pd.Series) -> pd.Series:
        out = np.zeros(len(geom), dtype=bool)
        for i, (gt, parts, prings) in enumerate(zip(geom_type, geom, rings)):
            parts_np = [np.asarray(p, dtype=np.float64).reshape(-1, 2)
                        for p in parts]
            rings_np = []
            for p in prings:
                a = np.asarray(p, dtype=np.float64).reshape(-1, 2)
                rings_np.append(np.column_stack([a[:, 0], lat2latp_np(a[:, 1])]))
            out[i] = pred_fn(int(gt), parts_np, rings_np)
        return pd.Series(out)

    return (cand.filter(check(F.col("geom_type"), F.col("geom"), F.col("rings")))
            .drop("rings", "cell_x", "cell_y"))


def area_intersecting_polygons(features: DataFrame, polygons: DataFrame,
                               zoom: int = SPATIAL_INDEX_ZOOM) -> DataFrame:
    """J5 AreaIntersecting: per (feature, polygon) pair, the area of the
    geometric intersection, plus the per-feature total over all matching
    polygons (reference src/osm_lua_processing.cpp:409-413, 435-453).

    Build polygons may be ARBITRARY simple polygons (with holes):
    single convex rings take the fast Sutherland-Hodgman path; concave
    or multi-ring builds dispatch to the general overlay kernel
    (functions.overlay.intersection_area). Prefilter: bbox broadcast
    join (same plan as points_in_polygons). Returns
    (feature_id, name, inter_area) in (lon, latp) deg^2.
    """
    # polygon bboxes are in (lon, lat); features carry (lon, latp) — put
    # both sides of the range predicate in latp
    polyb = F.broadcast(
        with_bbox(polygons, "rings")
        .withColumn("by0p", lat2latp_col(F.col("by0")))
        .withColumn("by1p", lat2latp_col(F.col("by1")))
        .select("name", "rings", "bx0", "by0p", "bx1", "by1p"))

    fb = with_bbox(features, "geom").withColumnsRenamed(
        {"bx0": "fx0", "by0": "fy0", "bx1": "fx1", "by1": "fy1"})
    cond = ((F.col("fx0") <= F.col("bx1")) & (F.col("fx1") >= F.col("bx0"))
            & (F.col("fy0") <= F.col("by1p")) & (F.col("fy1") >= F.col("by0p")))
    cand = fb.join(polyb, cond, "inner")

    from tilemaker_spark.functions import overlay as OV

    @pandas_udf("double")
    def inter_area(geom: pd.Series, rings: pd.Series) -> pd.Series:
        out = np.zeros(len(geom))
        for i, (parts, prings) in enumerate(zip(geom, rings)):
            parts_np = [np.asarray(p, dtype=np.float64).reshape(-1, 2)
                        for p in parts]
            # polygon rings arrive in (lon, lat); features in (lon, latp)
            clip_np = []
            for p in prings:
                a = np.asarray(p, dtype=np.float64).reshape(-1, 2)
                clip_np.append(np.column_stack([a[:, 0],
                                                lat2latp_np(a[:, 1])]))
            if len(clip_np) == 1 and G.ring_is_convex(clip_np[0]):
                out[i] = G.intersection_area_with_convex(parts_np, clip_np[0])
            else:
                out[i] = max(OV.intersection_area(parts_np, clip_np), 0.0)
        return pd.Series(out)

    return (cand
            .withColumn("inter_area", inter_area(F.col("geom"), F.col("rings")))
            .filter(F.col("inter_area") > 0)
            .select("feature_id", "name", "inter_area"))


# ----------------------------------------------------------- kNN (J10)

def knn_points(probes: DataFrame, targets: DataFrame, k: int,
               probe_id: str = "probe_id", target_id: str = "target_id",
               cell_zoom: int = 10) -> DataFrame:
    """k nearest target points for each probe point (no reference analog;
    mandated extension).

    Strategy: equi-join on coarse cells expanded by one ring (3x3
    neighborhood) — each probe meets only targets in its own or adjacent
    cells — then exact haversine distance + row_number window. The ring
    radius must exceed the k-th NN distance; callers pick cell_zoom so a
    cell is larger than the expected kNN radius (z10 cell ~ 40 km).
    Returns (probe_id, target_id, dist_m, rank).
    """
    p = point_cells(probes, cell_zoom)
    # expand probes into the 3x3 cell neighborhood
    ring = F.explode(F.array(*[F.lit(i) for i in (-1, 0, 1)])).alias("_dx")
    p = p.select("*", ring)
    p = p.select("*", F.explode(F.array(*[F.lit(i) for i in (-1, 0, 1)])).alias("_dy"))
    p = (p.withColumn("cell_x", F.col("cell_x") + F.col("_dx"))
         .withColumn("cell_y", F.col("cell_y") + F.col("_dy"))
         .drop("_dx", "_dy"))
    t = point_cells(
        targets.withColumnRenamed("lon", "t_lon").withColumnRenamed("lat", "t_lat"),
        cell_zoom, lon_col="t_lon", lat_col="t_lat")
    cand = p.join(t, ["cell_x", "cell_y"], "inner")

    # exact haversine in Column math (codegen, no UDF)
    rlat1 = F.radians(F.col("lat"))
    rlat2 = F.radians(F.col("t_lat"))
    dlat = rlat2 - rlat1
    dlon = F.radians(F.col("t_lon")) - F.radians(F.col("lon"))
    a = F.pow(F.sin(dlat / 2), 2) + F.cos(rlat1) * F.cos(rlat2) * F.pow(F.sin(dlon / 2), 2)
    # round to mm BEFORE ranking: JVM vs oracle libm can differ by ulps
    # on near-equal distances, which would flip row_number ranks (project
    # invariant: floats in oracle-checked windows are rounded identically
    # on both sides before ranking)
    dist = F.round(F.lit(2.0 * 6371000.0) * F.asin(F.sqrt(a)), 3)
    cand = cand.withColumn("dist_m", dist).dropDuplicates([probe_id, target_id])

    w = Window.partitionBy(probe_id).orderBy(F.col("dist_m").asc(), F.col(target_id))
    return (cand.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(probe_id, target_id, "dist_m", "rank"))


def auto_cell_zoom(targets: DataFrame, k: int) -> int:
    """Density-derived starting grid for the adaptive kNN: pick the
    zoom whose cell holds ~8k targets at the set's MEAN density (one
    count+bbox aggregate — a single driver action), then bias ONE level
    finer: escalation only goes coarser, so over-fine self-corrects
    per-probe while over-coarse pays the dense cluster's full candidate
    blow-up with no recovery. Measured at sf0.1: the hot cluster lands
    at z15 (6.9x faster than the old fixed z10), the worldwide sparse
    witness at z3 (skipping four useless fine rounds)."""
    import math

    row = targets.agg(F.count("*").alias("n"),
                      F.min("lon").alias("x0"), F.max("lon").alias("x1"),
                      F.min("lat").alias("y0"), F.max("lat").alias("y1")
                      ).first()
    n = row["n"] or 0
    if n == 0:
        return 10
    w = max(float(row["x1"] - row["x0"]), 1e-6)
    h = max(float(row["y1"] - row["y0"]), 1e-6)
    cell = math.sqrt(w * h * 8.0 * max(k, 1) / n)
    z = int(math.log2(360.0 / cell)) if cell > 0 else 15
    return max(1, min(15, z + 1))


def knn_points_exact(probes: DataFrame, targets: DataFrame, k: int,
                     probe_id: str = "probe_id", target_id: str = "target_id",
                     cell_zoom: int | str = 10,
                     max_rounds: int = 3) -> DataFrame:
    """Exact kNN with an adaptive cell-ring guarantee.

    :func:`knn_points` is exact only when every probe's kth-neighbor
    distance fits inside the 3x3 cell ring. This wrapper CHECKS that
    guarantee per probe (kth distance < one cell dimension at the
    probe's latitude — the covered radius from anywhere in the center
    cell) and escalates unsatisfied probes to a coarser grid (z-2 per
    round). At scale this means the cheap fine-grid join serves dense
    regions while sparse-region probes (few) pay progressively more —
    no global worst-case pricing.

    Driver/caching contract: exactly ONE action (`count`) per
    escalation round; each round's `remaining` is unpersisted as soon
    as the next round's `remaining` is materialized (the per-round
    `res` handles stay cached — the lazy output references them — but
    they are small: ≤ k rows per probe, max_rounds handles total).
    Every handle still cached at return is attached to the result as
    ``_internal_persists`` (the same release convention as
    assemble_tiles_salted / minhash_lsh_pairs): long-lived sessions
    unpersist them after materializing the output.

    Stragglers after max_rounds take a final cell-ring round at z=1,
    which is COMPLETE by construction (the 3x3 ring at z=1 spans cell
    x,y ∈ [-1,2] ⊇ the whole {0,1}² grid, so every target is a
    candidate) — exact with no guarantee check and, unlike a
    crossJoin(broadcast(remaining)), no unbounded driver broadcast
    when a pathological probe set (e.g. all-ocean) leaves many rows.
    The piece is appended lazily, so an empty straggler (or probe) set
    costs nothing and yields an empty, correctly-typed DataFrame.
    """
    from pyspark import StorageLevel

    if cell_zoom == "auto":
        cell_zoom = auto_cell_zoom(targets, k)

    # slim projection of the original probes: lets the per-round
    # guarantee check read coordinates from the source lineage instead
    # of the round's `remaining`, so pieces never depend on unpersisted
    # rounds
    probes_lat = probes.select(probe_id, "lon", "lat")

    remaining = probes
    z = cell_zoom
    pieces = []
    persists = []  # handles still cached at return
    prev_round = None  # previous round's persisted `remaining`
    n_remaining = 1
    rounds = 0
    while n_remaining > 0 and rounds < max_rounds and z >= 2:
        remaining = remaining.persist(StorageLevel.MEMORY_AND_DISK)
        n_remaining = remaining.count()  # the one driver action this round
        if prev_round is not None:
            # current remaining is materialized; the previous round's is
            # no longer referenced by any downstream lineage
            prev_round.unpersist()
            prev_round = None
        if n_remaining == 0:
            remaining.unpersist()
            break
        # res feeds BOTH the per-probe guarantee stats and the final
        # output union — cache it or the candidate join + window run twice
        res = knn_points(remaining, targets, k, probe_id=probe_id,
                         target_id=target_id, cell_zoom=z) \
            .persist(StorageLevel.MEMORY_AND_DISK)
        persists.append(res)
        stats = res.groupBy(probe_id).agg(F.max("dist_m").alias("_kth"),
                                          F.count("*").alias("_n"))
        # Ring containment guarantee, made latitude- and wrap-safe
        # (auto-zoom test caught both holes at coarse zooms):
        #  * meters-per-cell must use the WORST-case cosine over the
        #    latitude band the 3x3 ring reaches (one cell above/below
        #    the probe's): at high latitudes a given metric distance
        #    spans more longitude cells than at the probe's latitude;
        #  * the cell join does not wrap x across the antimeridian, so
        #    probes in the boundary columns never pass — they escalate
        #    until the complete z=1 round covers them.
        n_cells = 1 << z
        cell_y = latp2tiley_col(lat2latp_col(F.col("lat")), z)
        cell_x = lon2tilex_col(F.col("lon"), z)
        latp_top = F.lit(180.0) - (cell_y - 1).cast("double") \
            / F.lit(float(n_cells)) * F.lit(360.0)
        latp_bot = F.lit(180.0) - (cell_y + 2).cast("double") \
            / F.lit(float(n_cells)) * F.lit(360.0)

        def _lat_of(latp):
            return (F.degrees(F.atan(F.exp(F.radians(latp))) * 2)
                    - F.lit(90.0))

        lat_ext = F.greatest(F.abs(_lat_of(latp_top)),
                             F.abs(_lat_of(latp_bot)))
        cos_min = F.cos(F.radians(F.least(lat_ext, F.lit(85.06))))
        cell_m = F.lit(40075017.0 / n_cells) * cos_min
        x_safe = (cell_x >= 1) & (cell_x <= n_cells - 2) if n_cells > 2 \
            else F.lit(False)
        ok = (F.col("_n") >= k) & (F.col("_kth") < cell_m) & x_safe
        done_ids = (stats.join(probes_lat, probe_id)
                    .filter(ok).select(probe_id))
        pieces.append(res.join(done_ids, probe_id, "left_semi"))
        prev_round = remaining
        remaining = remaining.join(done_ids, probe_id, "left_anti")
        z -= 2
        rounds += 1
    # complete final round (lazy; empty-in -> empty-out). Also taken when
    # pieces is empty (probes DF empty) purely to return a correctly-typed
    # empty DataFrame without an extra action.
    if n_remaining > 0 or not pieces:
        pieces.append(knn_points(remaining, targets, k, probe_id=probe_id,
                                 target_id=target_id, cell_zoom=1))
    if prev_round is not None:
        persists.append(prev_round)
    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionByName(p)
    out._internal_persists = persists
    return out


# ---------------------------------------------- raster<->vector (J11)

def raster_coverage(polygons: DataFrame, zoom: int = 8) -> DataFrame:
    """Coverage of a tile-grid 'raster' by each polygon: for every raster
    cell the polygon touches, the fraction of the cell covered.

    Returns (name, z, cell_x, cell_y, coverage_frac). Exact for any
    polygon: |poly ∩ cell| via Sutherland-Hodgman clip area over cell
    area, in (lon, latp) space.
    """
    polyc = polygon_cells(polygons, zoom)

    @pandas_udf("double")
    def cover_frac(rings: pd.Series, cx: pd.Series, cy: pd.Series) -> pd.Series:
        out = np.zeros(len(rings))
        for i, (parts, x, y) in enumerate(zip(rings, cx, cy)):
            x, y = int(x), int(y)
            box = (tilex2lon(x, zoom), tiley2latp(y + 1, zoom),
                   tilex2lon(x + 1, zoom), tiley2latp(y, zoom))
            parts_np = []
            for p in parts:
                a = np.asarray(p, dtype=np.float64).reshape(-1, 2)
                parts_np.append(np.column_stack([a[:, 0], lat2latp_np(a[:, 1])]))
            inter = G.intersection_area_with_box(parts_np, box)
            cell_area = (box[2] - box[0]) * (box[3] - box[1])
            out[i] = inter / cell_area if cell_area > 0 else 0.0
        return pd.Series(out)

    return (polyc
            .withColumn("z", F.lit(zoom))
            .withColumn("coverage_frac",
                        cover_frac(F.col("rings"), F.col("cell_x"), F.col("cell_y")))
            .filter(F.col("coverage_frac") > 0)
            .select("name", "z", "cell_x", "cell_y", "coverage_frac"))
