"""Per-tile assembly: sort → limit → combine → clip → simplify → MVT.

The whole of the reference's tile worker
(/root/reference/src/tile_worker.cpp:271-538 ProcessObjects/ProcessLayer/
outputProc) becomes the body of ONE sorted ``mapInPandas`` that carries
a tile cut by a batch boundary into the next batch. Inside a tile all is
numpy/bytes — no Spark calls — so a tile is assembled by exactly one
task, and tiles are embarrassingly parallel.

Stage order per layer (matching the reference):
  minZoom gate (F3, done upstream) -> per-tile sort O1 -> feature_limit O2
  -> clip G9/G10 -> area filter F7 -> combine A3/A4/A5 -> simplify G7/G8
  -> quantize G6 -> degenerate filter F8 -> MVT encode G16 -> gzip G15.
"""

from __future__ import annotations

from math import floor as _floor

import numpy as np
import pandas as pd

from tilemaker_spark.config import EngineConfig
from tilemaker_spark.functions import geomnp as G
from tilemaker_spark.functions import mvt
from tilemaker_spark.functions.coords import TileBbox

TILE_SCHEMA = "z int, x long, y long, tile binary, n_features int, n_bytes int"


def _quantize_dedup(xs: np.ndarray, ys: np.ndarray, is_ring: bool):
    """Drop consecutive duplicate quantized points (scaleRing backtrack
    guard, reference src/coordinates_geom.cpp:36-56, simplified to
    adjacent-dup removal) and enforce minimum sizes (F8,
    src/tile_worker.cpp:134-149)."""
    if len(xs) == 0:
        return None
    keep = np.ones(len(xs), dtype=bool)
    keep[1:] = (np.diff(xs) != 0) | (np.diff(ys) != 0)
    xs, ys = xs[keep], ys[keep]
    if is_ring and len(xs) > 1 and xs[0] == xs[-1] and ys[0] == ys[-1]:
        xs, ys = xs[:-1], ys[:-1]
    if is_ring and len(xs) < 3:
        return None
    if not is_ring and len(xs) < 2:
        return None
    return list(zip(xs.tolist(), ys.tolist()))


def _parts_inside(parts: list, box) -> bool:
    """True when every part lies fully inside the box — then the
    Sutherland-Hodgman / Liang-Barsky pass is an identity and can be
    skipped. The hierarchical cover+clip path pre-clips every piece to
    exactly the assembly's keep box, so this hits ~100% there; on the
    flat path the bbox scan is far cheaper than the clip it avoids."""
    x0, y0, x1, y1 = box
    for p in parts:
        if len(p) == 0:
            continue
        mn = p.min(axis=0)
        if mn[0] < x0 or mn[1] < y0:
            return False
        mx = p.max(axis=0)
        if mx[0] > x1 or mx[1] > y1:
            return False
    return True


def _passthrough_rings(parts: list) -> list:
    """clip_polygon_to_box's output for fully-inside rings: closing
    duplicate dropped, <3-vertex and zero-area rings removed,
    orientation untouched (identical values, no clip pass)."""
    out = []
    for ring in parts:
        r = ring
        if len(r) > 1 and r[0][0] == r[-1][0] and r[0][1] == r[-1][1]:
            r = r[:-1]
        if len(r) >= 3 and abs(G.ring_area(r)) != 0.0:
            out.append(r)
    return out


def _simplify_part(part: np.ndarray, tol: float, algo: str, is_ring: bool) -> np.ndarray:
    if tol <= 0 or len(part) < 3:
        return part
    if algo == "visvalingam":
        return G.simplify_visvalingam(part, tol, is_ring=is_ring)
    if is_ring:
        # close, simplify, re-open (preserves endpoints = ring anchor)
        closed = np.vstack([part, part[:1]])
        out = G.simplify_dp(closed, tol)
        return out[:-1] if len(out) > 1 else part
    return G.simplify_dp(part, tol)


def _batch_prepare(pdf: pd.DataFrame, config: EngineConfig) -> pd.DataFrame:
    """Batch-wide vectorized O1 sort + U3/A2 dedup + O2 feature limit.

    Replaces the per-tile pandas calls that dominated assembly time:
    one mergesort / drop_duplicates / groupby-cumcount over the whole
    Arrow batch instead of three pandas ops per tile.
    """
    # U3/A2 — dedup identical output objects per tile+layer
    pdf = pdf.drop_duplicates(["z", "x", "y", "layer", "feature_id",
                               "geom_type", "z_order"])
    # O1 — draw-order sort; per-layer asc/desc folded into a sort key
    desc_layers = {n for n, lc in config.layers.items()
                   if not lc.z_order_ascending}
    zo = pdf["z_order"].to_numpy(dtype=np.int64, copy=True)
    if desc_layers:
        mask = pdf["layer"].isin(desc_layers).to_numpy()
        zo[mask] = -zo[mask]
    pdf = pdf.assign(_zo=zo).sort_values(
        ["z", "x", "y", "layer", "_zo", "feature_id"], kind="mergesort")
    # O2 — per-(tile, layer) feature limit via vectorized cumcount
    limits = {n: (lc.feature_limit, lc.feature_limit_below)
              for n, lc in config.layers.items() if lc.feature_limit > 0}
    if limits:
        rank = pdf.groupby(["z", "x", "y", "layer"], sort=False).cumcount()
        lim = pdf["layer"].map({n: v[0] for n, v in limits.items()})
        below = pdf["layer"].map({n: v[1] for n, v in limits.items()})
        keep = lim.isna() | (pdf["z"] >= below) | (rank < lim)
        pdf = pdf[keep.to_numpy()]
    return pdf.drop(columns="_zo")


# Above this many total vertices a combine group falls back to
# multipolygon concat: the O(S^2) overlay split would dominate tile
# time, and at that density the visual difference is sub-pixel.
_UNION_VERTEX_CAP = 20000

# Hot-tile (z,x,y) keys are broadcast to the salted-assembly joins up to
# this many rows (3 int64 cols ≈ 24 MB at the cap); beyond it the joins
# fall back to shuffle hash so a pathological hot set can't blow the
# driver/executor broadcast budget.
_HOT_BROADCAST_CAP = 1_000_000

# Per-tile salt fan-out ceiling: a hot tile is spread over
# ceil(n_features / threshold) partials (at least config.hot_tile_salt),
# capped so the phase-2 merge fan-in stays bounded. 128 partials at the
# default 5000-feature threshold covers a 640k-feature tile — beyond any
# real z10+ density — while keeping the merge task's input list small.
_SALT_FANOUT_CAP = 128


def _union_ring_groups(groups: list) -> list:
    """A5/G12 — true geometric union of the per-feature ring groups of
    one combine key (reference union_many, src/geom.cpp:150-169, used
    by the polygon combine at src/tile_worker.cpp:350-361). Overlapping
    outers dissolve into one ring (no double borders); disjoint ones
    stay separate rings. Input/output rings are integer-quantized
    [(x, y), ...] point lists."""
    if len(groups) == 1:
        return groups[0]
    flat = [r for g in groups for r in g]
    n_pts = sum(len(r) for r in flat)
    if n_pts > _UNION_VERTEX_CAP:
        return flat
    from tilemaker_spark.functions import overlay as OV
    try:
        out = OV.union_many(
            [[np.asarray(r, dtype=np.float64) for r in g] for g in groups])
    except Exception:
        return flat
    rings = []
    for r in out:
        q = np.rint(r).astype(np.int64)
        keep = np.ones(len(q), dtype=bool)
        keep[1:] = (np.diff(q[:, 0]) != 0) | (np.diff(q[:, 1]) != 0)
        q = q[keep]
        if len(q) >= 3:
            rings.append(list(zip(q[:, 0].tolist(), q[:, 1].tolist())))
    return rings if rings else flat


_OPT_COLS = ("attr_minzoom", "attrs_num", "attrs_bool")


def _extract_cols(pdf: pd.DataFrame) -> dict:
    """Pull columns out of pandas ONCE per batch — per-tile work then
    indexes plain numpy arrays / python lists (itertuples + per-tile
    groupby were ~70% of assembly time)."""
    cols = {
        "z": pdf["z"].to_numpy(dtype=np.int64),
        "x": pdf["x"].to_numpy(dtype=np.int64),
        "y": pdf["y"].to_numpy(dtype=np.int64),
        "geom_type": pdf["geom_type"].to_numpy(dtype=np.int64),
        "z_order": pdf["z_order"].to_numpy(dtype=np.int64),
        "feature_id": pdf["feature_id"].to_numpy(dtype=np.int64),
        "layer": pdf["layer"].to_list(),
        "attrs": pdf["attrs"].to_list(),
        "geom": pdf["geom"].to_list(),
    }
    for c in _OPT_COLS:
        cols[c] = pdf[c].to_list() if c in pdf.columns else None
    return cols


def _assemble_one_tile(z: int, x: int, y: int, idxs, cols: dict,
                       config: EngineConfig,
                       layer_order: list | None = None) -> tuple:
    """Rows (given as indices into the batch's column arrays) must
    already be draw-order sorted / deduped / limited (_batch_prepare).
    ``layer_order`` is config.layer_order() hoisted by the caller —
    rebuilding the write_to grouping per tile was ~6% of assembly."""
    if layer_order is None:
        layer_order = config.layer_order()
    bbox = TileBbox(z, x, y, hires=config.high_resolution)
    clip_box = bbox.clipping_box
    extend_box = bbox.extend_box()
    layers_out = []
    n_features = 0

    layer_list = cols["layer"]
    by_layer: dict = {}
    for i in idxs:
        by_layer.setdefault(layer_list[i], []).append(i)
    for target, members in layer_order:
        rows_idx: list = []
        for m in members:
            rows_idx.extend(by_layer.get(m, ()))
        if not rows_idx:
            continue
        lc = config.layers[members[0]]
        if not (lc.minzoom <= z <= lc.maxzoom):
            continue

        tol = lc.simplify_tolerance_at(z)
        min_area = lc.filter_area_at(z)

        lb = mvt.LayerBuilder(target, extent=config.extent,
                              version=config.mvt_version)
        combine_pts: dict = {}
        # A4/A5 combine gates (reference src/tile_worker.cpp:322-361):
        # below combine_below, compatible (attrs, z_order) lines are
        # endpoint-chained; below combine_polygons_below, compatible
        # polygons merge into one multipolygon feature (nonzero-fill
        # rendering makes this visually identical to the geometric union
        # for same-winding outers)
        combine_lines_on = 0 < z < config.combine_below
        combine_polys_on = 0 < z < lc.combine_polygons_below
        combine_ln: dict = {}
        combine_pg: dict = {}
        amz_l = cols["attr_minzoom"]
        num_l = cols["attrs_num"]
        bool_l = cols["attrs_bool"]
        gt_a = cols["geom_type"]
        zo_a = cols["z_order"]
        fid_a = cols["feature_id"]
        geom_l = cols["geom"]
        attrs_l = cols["attrs"]

        cb0, cb1, cb2, cb3 = clip_box
        b_min_lon = bbox.min_lon
        b_max_latp = bbox.max_latp
        b_xscale = bbox.xscale
        b_yscale = bbox.yscale

        for i in rows_idx:
            gt = int(gt_a[i])
            zo = int(zo_a[i])
            if gt != G.GEOM_POINT:
                parts = [np.asarray(p, dtype=np.float64).reshape(-1, 2)
                         for p in geom_l[i]]
            # typed attributes (F2: Attribute / AttributeNumeric /
            # AttributeBoolean) — values keep their python types so the
            # MVT value encoder emits float/bool/sint variants
            items = list((attrs_l[i] or {}).items())
            if num_l is not None and num_l[i]:
                items += [(k, float(v)) for k, v in num_l[i].items()]
            if bool_l is not None and bool_l[i]:
                items += [(k, bool(v)) for k, v in bool_l[i].items()]
            attrs = sorted(items, key=lambda kv: kv[0])
            if amz_l is not None and amz_l[i]:
                # F5 — attribute minzoom projection (src/output_object.cpp:42)
                amz = amz_l[i]
                attrs = [(k, v) for k, v in attrs if amz.get(k, 0) <= z]
            fid = int(fid_a[i]) if config.include_ids else None

            if gt == G.GEOM_POINT:
                # scalar fast path: point rows dominate the pages
                # workload and length-1 numpy arrays cost ~10x the
                # arithmetic. Division (not reciprocal multiply) keeps
                # the quantized values bit-identical to scale_xy.
                pts_raw = []
                for p in geom_l[i]:
                    for j in range(0, len(p) - 1, 2):
                        px_ = p[j]
                        py_ = p[j + 1]
                        if cb0 <= px_ <= cb2 and cb1 <= py_ <= cb3:
                            pts_raw.append(
                                (int(_floor((px_ - b_min_lon) / b_xscale)),
                                 int(_floor((b_max_latp - py_) / b_yscale))))
                if not pts_raw:
                    continue
                pts = list(dict.fromkeys(pts_raw))
                if lc.combine_points:
                    # A3 — combine compatible points into one multipoint
                    key = (zo, tuple(attrs))
                    combine_pts.setdefault(key, []).extend(pts)
                    continue
                lb.add_feature(mvt.GEOM_POINT, mvt.encode_point_geometry(pts),
                               attrs=attrs, feature_id=fid)
                n_features += 1

            elif gt == G.GEOM_LINE:
                if _parts_inside(parts, extend_box):
                    clipped_runs = [p for p in parts if len(p) >= 2]
                else:
                    clipped_runs = []
                    for part in parts:
                        clipped_runs.extend(
                            G.clip_line_to_box(part, extend_box))
                if not clipped_runs:
                    continue
                if combine_lines_on:
                    # A4 — collect compatible clipped segments; chained,
                    # simplified, and emitted as one feature below
                    key = (zo, tuple(attrs))
                    combine_ln.setdefault(key, []).extend(clipped_runs)
                    continue
                out_lines = []
                for run in clipped_runs:
                    s = _simplify_part(run, tol, lc.simplify_algorithm, False)
                    qx, qy = bbox.scale_xy(s[:, 0], s[:, 1])
                    q = _quantize_dedup(qx, qy, is_ring=False)
                    if q:
                        out_lines.append(q)
                if not out_lines:
                    continue
                lb.add_feature(mvt.GEOM_LINESTRING,
                               mvt.encode_line_geometry(out_lines),
                               attrs=attrs, feature_id=fid)
                n_features += 1

            else:  # polygon
                if _parts_inside(parts, clip_box):
                    clipped = _passthrough_rings(parts)
                else:
                    clipped = G.clip_polygon_to_box(parts, clip_box)
                if min_area > 0 and clipped:
                    # F7 — drop parts/holes below zoom-scaled area
                    clipped = [r for r in clipped
                               if abs(G.ring_area(r)) >= min_area]
                if tol > 0 and lc.simplify_algorithm == "douglas-peucker":
                    # G7 — topology-guarded polygon simplification
                    # (reference simplify(), src/geom.cpp:77-136): holes
                    # guard the outer and vice versa, perimeter>3·tol
                    # keep rule, simplify_combine merging
                    simplified = G.simplify_polygon_parts_topo(clipped, tol)
                else:
                    simplified = [
                        _simplify_part(r, tol, lc.simplify_algorithm, True)
                        for r in clipped]
                out_rings = []
                for s in simplified:
                    if len(s) < 3:
                        continue
                    qx, qy = bbox.scale_xy(s[:, 0], s[:, 1])
                    q = _quantize_dedup(qx, qy, is_ring=True)
                    if q:
                        out_rings.append(q)
                if not out_rings:
                    continue
                if combine_polys_on:
                    # A5 — collect per-feature ring lists; geometric
                    # union happens once per group at emit below
                    key = (zo, tuple(attrs))
                    combine_pg.setdefault(key, []).append(out_rings)
                    continue
                lb.add_feature(mvt.GEOM_POLYGON,
                               mvt.encode_polygon_geometry(out_rings),
                               attrs=attrs, feature_id=fid)
                n_features += 1

        for (zo, attrs_t), pts in combine_pts.items():
            uniq = list(dict.fromkeys(pts))
            lb.add_feature(mvt.GEOM_POINT, mvt.encode_point_geometry(uniq),
                           attrs=list(attrs_t), feature_id=None)
            n_features += 1

        for (zo, attrs_t), runs in combine_ln.items():
            # A4 — endpoint chaining (ReorderMultiLinestring,
            # src/tile_worker.cpp:27-75), then simplify/quantize once
            merged = G.merge_lines(runs)
            out_lines = []
            for run in merged:
                s = _simplify_part(np.asarray(run), tol,
                                   lc.simplify_algorithm, False)
                qx, qy = bbox.scale_xy(s[:, 0], s[:, 1])
                q = _quantize_dedup(qx, qy, is_ring=False)
                if q:
                    out_lines.append(q)
            if out_lines:
                lb.add_feature(mvt.GEOM_LINESTRING,
                               mvt.encode_line_geometry(out_lines),
                               attrs=list(attrs_t), feature_id=None)
                n_features += 1

        for (zo, attrs_t), ring_groups in combine_pg.items():
            rings = _union_ring_groups(ring_groups)
            if not rings:
                continue
            lb.add_feature(mvt.GEOM_POLYGON,
                           mvt.encode_polygon_geometry(rings),
                           attrs=list(attrs_t), feature_id=None)
            n_features += 1

        if lb.features:
            layers_out.append(lb)

    tile_bytes = mvt.encode_tile(layers_out)
    if config.compress != "none":
        tile_bytes = mvt.compress_tile(tile_bytes, config.compress)
    return tile_bytes, n_features


def make_stream_assembler(config: EngineConfig, key_cols=("z", "x", "y")):
    """mapInPandas variant: one Python call per Arrow batch, not per tile.

    Input batches arrive sorted by key_cols within the partition (the
    caller repartitions on the tile key and sorts); a tile whose rows
    straddle a batch boundary is carried into the next batch. This is
    the difference between ~1M per-group UDF invocations and a few
    hundred per-batch ones — per-group overhead dominates end-to-end
    tiles/sec at planet scale.
    """
    keys = list(key_cols)

    def process(batches):
        carry = None
        for pdf in batches:
            if carry is not None and len(carry):
                pdf = pd.concat([carry, pdf], ignore_index=True)
            if len(pdf) == 0:
                continue
            last = pdf.iloc[-1]
            mask = None
            for k in keys:
                m = pdf[k] == last[k]
                mask = m if mask is None else (mask & m)
            carry = pdf[mask]
            body = pdf[~mask]
            if len(body):
                out = _assemble_batch(body, config)
                if out is not None:
                    yield out
        if carry is not None and len(carry):
            out = _assemble_batch(carry, config)
            if out is not None:
                yield out

    return process


def _assemble_batch(pdf: pd.DataFrame, config: EngineConfig):
    pdf = _batch_prepare(pdf, config)
    if not len(pdf):
        return None
    cols = _extract_cols(pdf)
    za, xa, ya = cols["z"], cols["x"], cols["y"]
    layer_order = config.layer_order()  # hoisted out of the tile loop
    # group boundaries on the (z, x, y)-sorted batch — no pandas groupby
    change = np.nonzero((np.diff(za) != 0) | (np.diff(xa) != 0)
                        | (np.diff(ya) != 0))[0] + 1
    starts = np.concatenate([[0], change])
    ends = np.concatenate([change, [len(za)]])
    zs, xs, ys, tiles, nfs, nbs = [], [], [], [], [], []
    for s, e in zip(starts, ends):
        tile, n = _assemble_one_tile(int(za[s]), int(xa[s]), int(ya[s]),
                                     range(s, e), cols, config,
                                     layer_order=layer_order)
        if n == 0:
            continue
        zs.append(np.int32(za[s]))
        xs.append(np.int64(xa[s]))
        ys.append(np.int64(ya[s]))
        tiles.append(tile)
        nfs.append(np.int32(n))
        nbs.append(np.int32(len(tile)))
    if not zs:
        return None
    return pd.DataFrame({"z": zs, "x": xs, "y": ys, "tile": tiles,
                         "n_features": nfs, "n_bytes": nbs})


def _default_partitions(df) -> int:
    # explicit partition count: a user-specified repartition is exempt
    # from AQE coalescing, which would otherwise collapse this shuffle to
    # a handful of 64MB partitions and cap the Python-side parallelism
    return df.sparkSession.sparkContext.defaultParallelism * 2


def assemble_tiles(feature_tiles, config: EngineConfig,
                   num_partitions: int | None = None):
    """feature_tiles (with z, x, y + feature cols) -> tiles DataFrame.

    Physical plan: one shuffle on the tile key (hash repartition, explicit
    partition count so AQE cannot under-parallelize the CPU-bound encode),
    sort within partitions so each tile's rows are contiguous, then a
    streaming mapInPandas that cuts tiles at group boundaries. For inputs
    with city-center skew use :func:`assemble_tiles_salted`.
    """
    cols = ["z", "x", "y", "feature_id", "layer", "geom_type", "z_order",
            "attrs", "geom"]
    cols += [c for c in ("attr_minzoom", "attrs_num", "attrs_bool")
             if c in feature_tiles.columns]
    df = feature_tiles.select(*cols)
    df = df.repartition(num_partitions or _default_partitions(df),
                        "z", "x", "y")
    return (df.sortWithinPartitions("z", "x", "y")
            .mapInPandas(make_stream_assembler(config), schema=TILE_SCHEMA))


def assemble_tiles_salted(feature_tiles, config: EngineConfig,
                          num_partitions: int | None = None,
                          threshold: int | None = None,
                          salt: int | None = None):
    """Skew-defusing two-phase assembly (the reference's zoom-weighted
    batching, src/tilemaker.cpp:506-524, recast as explicit salted
    repartitioning per the engine's scale contract):

      1. tiles with > threshold features get a salt = feature_id % S;
         repartition on (z, x, y, salt) so one hot tile's rows spread
         over S tasks; assemble *partial* tiles per (z, x, y, salt),
         compressed with ``config.compress`` like complete tiles;
      2. merge partial tiles per (z, x, y) — decompress, merge
         same-name layers at the wire level (mvt.merge_tiles_fast),
         recompress; ONLY hot tiles take this path
         (cold tiles are split off by a broadcast anti-join against the
         small hot-key set, so they are complete after phase 1 with no
         second shuffle).
    """
    from pyspark.sql import functions as F

    threshold = threshold if threshold is not None else config.hot_tile_threshold
    salt = salt if salt is not None else config.hot_tile_salt

    from pyspark import StorageLevel

    counts = feature_tiles.groupBy("z", "x", "y").agg(F.count("*").alias("_n"))
    # hot keys stay a (persisted) DataFrame — never collected to the
    # driver. Bound: at most (world tile count at basezoom) × (hot
    # fraction); with the default threshold a planet run yields
    # thousands-to-tens-of-thousands of hot (z,x,y) rows (3 int64 cols).
    # Up to _HOT_BROADCAST_CAP keys (~tens of MB) the three joins below
    # broadcast them executor-side; a pathological hot set beyond the
    # cap falls back to shuffle hash joins instead of an oversized
    # broadcast.
    hot_keys = (counts.filter(F.col("_n") > threshold)
                .withColumnRenamed("_n", "_hot_n")
                .persist(StorageLevel.MEMORY_AND_DISK))
    n_hot = hot_keys.count()
    if n_hot == 0:
        hot_keys.unpersist()
        return assemble_tiles(feature_tiles, config, num_partitions)
    hot1 = hot_keys
    hk = hot_keys.drop("_hot_n")
    if n_hot <= _HOT_BROADCAST_CAP:
        hot1 = F.broadcast(hot1)
        hk = F.broadcast(hk)
    joined = feature_tiles.join(hot1, ["z", "x", "y"], "left")
    # adaptive fan-out: spread each hot tile over ~threshold-feature
    # partials so one 160k-feature city-center tile becomes ~32 even
    # encode tasks instead of `salt` heavy ones — the phase-1 straggler
    # fix; phase 2 re-unites them with the wire-level merge_tiles_fast
    fan = F.least(
        F.lit(_SALT_FANOUT_CAP),
        F.greatest(F.lit(max(salt, 1)),
                   F.ceil(F.col("_hot_n") / F.lit(threshold)).cast("int")))
    salted = (joined.withColumn(
        "salt", F.when(F.col("_hot_n").isNotNull(),
                       # pmod, not %: xxhash64-derived feature ids are
                       # negative half the time and Spark's % keeps the
                       # sign — salts would span -(fan-1)..fan-1, double
                       # the documented _SALT_FANOUT_CAP fan-in bound
                       F.pmod(F.col("feature_id"), fan).cast("int"))
        .otherwise(F.lit(0))).drop("_hot_n"))

    cols = ["z", "x", "y", "salt", "feature_id", "layer", "geom_type",
            "z_order", "attrs", "geom"]
    cols += [c for c in ("attr_minzoom", "attrs_num", "attrs_bool")
             if c in salted.columns]
    df = salted.select(*cols)
    df = df.repartition(num_partitions or _default_partitions(df),
                        "z", "x", "y", "salt")
    partial = (df.sortWithinPartitions("z", "x", "y", "salt")
               .mapInPandas(
                   make_stream_assembler(config,
                                         key_cols=("z", "x", "y", "salt")),
                   schema=TILE_SCHEMA))

    # persist: the cold and hot branches below both read `partial`; without
    # materialization Spark would re-run the whole encode once per branch
    partial = partial.persist(StorageLevel.MEMORY_AND_DISK)

    cold = partial.join(hk, ["z", "x", "y"], "left_anti")
    hot_partial = partial.join(hk, ["z", "x", "y"], "left_semi")
    _internal_persists = [partial, hot_keys]

    compress_mode = config.compress

    def merge_stream(batches):
        # same carry pattern as assembly: partial tiles of one (z,x,y)
        # are contiguous after the sort; merge runs where >1 partial
        import gzip as _gzip
        import zlib as _zlib

        def _merge_group(pdf: pd.DataFrame):
            zs, xs, ys, tiles, nfs, nbs = [], [], [], [], [], []
            for (z, x, y), g in pdf.groupby(["z", "x", "y"], sort=False):
                parts = [bytes(b) for b in g["tile"]]
                if len(parts) == 1:
                    t = parts[0]
                else:
                    raw = []
                    for p in parts:
                        if p[:2] == b"\x1f\x8b":
                            p = _gzip.decompress(p)
                        elif compress_mode == "deflate":
                            p = _zlib.decompress(p)
                        raw.append(p)
                    # partial arrival order is shuffle-dependent (the
                    # sort above keys on (z,x,y) only — TILE_SCHEMA has
                    # no salt column); sort by content so a rerun emits
                    # byte-identical hot tiles
                    raw.sort()
                    t = mvt.compress_tile(mvt.merge_tiles_fast(raw),
                                          compress_mode)
                zs.append(np.int32(z))
                xs.append(np.int64(x))
                ys.append(np.int64(y))
                tiles.append(t)
                nfs.append(np.int32(g["n_features"].sum()))
                nbs.append(np.int32(len(t)))
            if not zs:
                return None
            return pd.DataFrame({"z": zs, "x": xs, "y": ys, "tile": tiles,
                                 "n_features": nfs, "n_bytes": nbs})

        carry = None
        for pdf in batches:
            if carry is not None and len(carry):
                pdf = pd.concat([carry, pdf], ignore_index=True)
            if not len(pdf):
                continue
            last = pdf.iloc[-1]
            mask = ((pdf["z"] == last["z"]) & (pdf["x"] == last["x"])
                    & (pdf["y"] == last["y"]))
            carry = pdf[mask]
            body = pdf[~mask]
            if len(body):
                out = _merge_group(body)
                if out is not None:
                    yield out
        if carry is not None and len(carry):
            out = _merge_group(carry)
            if out is not None:
                yield out

    # hot tiles only: a small shuffle (S partials per hot tile)
    merged_hot = (hot_partial
                  .repartition(num_partitions or _default_partitions(partial),
                               "z", "x", "y")
                  .sortWithinPartitions("z", "x", "y")
                  .mapInPandas(merge_stream, schema=TILE_SCHEMA))
    out = cold.unionByName(merged_hot)
    # the two internal caches feed only this plan; callers that
    # materialize the result (e.g. TilePipeline's checkpoint) should
    # release them afterwards so long-lived sessions don't accumulate
    # storage memory across runs
    out._internal_persists = _internal_persists
    return out
