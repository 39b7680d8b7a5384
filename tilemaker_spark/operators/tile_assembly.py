"""Per-tile assembly: sort → limit → combine → clip → simplify → MVT.

The whole of the reference's tile worker
(/root/reference/src/tile_worker.cpp:271-538 ProcessObjects/ProcessLayer/
outputProc) becomes the body of ONE sorted ``mapInPandas`` that carries
a tile cut by a batch boundary into the next batch. Inside a tile all is
numpy/bytes — no Spark calls — so a tile is assembled by exactly one
task, and tiles are embarrassingly parallel. Skewed inputs take the
salted plan (:func:`assemble_tiles_salted`): the same encoder keyed on
(z, x, y, salt), then one (z, x, y) merge of the partial tiles.

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
    skipped. Stage 2's cover+clip descent pre-clips every piece to
    exactly the assembly's keep box, so this hits ~100% there; where it
    misses, the bbox scan is far cheaper than the clip it avoids."""
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


def run_bounds(*keys: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Start and end offsets of the runs of equal keys in arrays sorted
    on them — the tile boundaries of a sorted batch, no pandas groupby."""
    n = len(keys[0])
    change = np.zeros(max(n - 1, 0), dtype=bool)
    for k in keys:
        change |= k[1:] != k[:-1]
    cut = np.nonzero(change)[0] + 1
    return np.concatenate([[0], cut]), np.concatenate([cut, [n]])


def carry_batches(batches, keys, fn):
    """Yield ``fn(rows)`` over pandas batches sorted on ``keys``, each
    call holding whole key runs: the run a batch ends in may continue in
    the next batch, so it is carried over and handed on with it.
    ``fn`` may return None for nothing to yield."""
    carry = None
    for pdf in batches:
        if carry is not None:
            pdf = pd.concat([carry, pdf], ignore_index=True)
        if not len(pdf):
            continue
        cut = run_bounds(*(pdf[k].to_numpy() for k in keys))[0][-1]
        carry = pdf.iloc[cut:]
        if cut:
            out = fn(pdf.iloc[:cut])
            if out is not None:
                yield out
    if carry is not None and len(carry):
        out = fn(carry)
        if out is not None:
            yield out


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
        return carry_batches(batches, keys,
                             lambda pdf: _assemble_batch(pdf, config))

    return process


def _tile_frame(za, xa, ya, starts, tiles, n_features) -> pd.DataFrame:
    """TILE_SCHEMA rows, one per run: its key at ``starts`` in the sorted
    key columns, its tile and feature count; every column an array."""
    return pd.DataFrame({
        "z": za[starts].astype(np.int32),
        "x": xa[starts].astype(np.int64),
        "y": ya[starts].astype(np.int64),
        "tile": tiles,
        "n_features": np.asarray(n_features, dtype=np.int32),
        "n_bytes": np.fromiter(map(len, tiles), np.int32, len(tiles))})


def _assemble_batch(pdf: pd.DataFrame, config: EngineConfig):
    pdf = _batch_prepare(pdf, config)
    if not len(pdf):
        return None
    cols = _extract_cols(pdf)
    za, xa, ya = cols["z"], cols["x"], cols["y"]
    layer_order = config.layer_order()  # hoisted out of the tile loop
    starts, ends = run_bounds(za, xa, ya)
    tiles, counts = zip(*(
        _assemble_one_tile(z, x, y, range(s, e), cols, config,
                           layer_order=layer_order)
        for z, x, y, s, e in zip(za[starts].tolist(), xa[starts].tolist(),
                                 ya[starts].tolist(), starts.tolist(),
                                 ends.tolist())))
    keep = np.array(counts) > 0
    if not keep.any():
        return None
    return _tile_frame(za, xa, ya, starts[keep],
                       [t for t, n in zip(tiles, counts) if n],
                       np.array(counts)[keep])


def _merge_partials(pdf: pd.DataFrame, compress: str) -> pd.DataFrame:
    """One tile per (z, x, y) run of partial tiles. A lone partial (every
    cold tile) passes through byte for byte; several are decompressed,
    sorted by content so the shuffle's arrival order cannot reach the
    output bytes, merged at the wire level and recompressed."""
    za, xa, ya = (pdf[c].to_numpy() for c in ("z", "x", "y"))
    blobs = pdf["tile"].to_list()
    starts, ends = run_bounds(za, xa, ya)
    tiles = [blobs[s] if e - s == 1 else mvt.compress_tile(
                 mvt.merge_tiles_fast(sorted(
                     mvt.decompress_tile(b, compress) for b in blobs[s:e])),
                 compress)
             for s, e in zip(starts.tolist(), ends.tolist())]
    return _tile_frame(za, xa, ya, starts, tiles,
                       np.add.reduceat(pdf["n_features"].to_numpy(), starts))


def _default_partitions(df) -> int:
    # explicit partition count: a user-specified repartition is exempt
    # from AQE coalescing, which would otherwise collapse this shuffle to
    # a handful of 64MB partitions and cap the Python-side parallelism
    return df.sparkSession.sparkContext.defaultParallelism * 2


def _encode(df, config: EngineConfig, keys):
    """The encode plan: one shuffle on ``keys`` (explicit partition count so
    AQE cannot under-parallelize the CPU-bound encode), sort within
    partitions so each key's rows are contiguous, then the streaming
    mapInPandas encoder that cuts tiles at run boundaries."""
    cols = list(keys) + ["feature_id", "layer", "geom_type", "z_order",
                         "attrs", "geom"]
    cols += [c for c in _OPT_COLS if c in df.columns]
    df = df.select(*cols)
    df = df.repartition(_default_partitions(df), *keys)
    return (df.sortWithinPartitions(*keys)
            .mapInPandas(make_stream_assembler(config, keys),
                         schema=TILE_SCHEMA))


def assemble_tiles(feature_tiles, config: EngineConfig):
    """feature_tiles (with z, x, y + feature cols) -> tiles DataFrame,
    one shuffle on the tile key. For inputs with city-center skew use
    :func:`assemble_tiles_salted`."""
    return _encode(feature_tiles, config, ("z", "x", "y"))


def assemble_tiles_salted(feature_tiles, config: EngineConfig):
    """Skew-defusing two-phase assembly (the reference's zoom-weighted
    batching, src/tilemaker.cpp:506-524, recast as explicit salted
    repartitioning per the engine's scale contract), built as one lazy
    plan: calling it runs no Spark job and caches nothing.

      1. a broadcast aggregate finds the hot tiles (more than
         ``config.hot_tile_threshold`` rows) and their fan-out; a hot
         tile's rows get salt = feature_id pmod fan, every other row
         salt 0; the encoder assembles *partial* tiles per
         (z, x, y, salt), compressed with ``config.compress``;
      2. every partial goes through one (z, x, y) shuffle and
         :func:`_merge_partials`: a cold tile is its one partial, a hot
         tile's partials merge at the wire level (mvt.merge_tiles_fast).

    The hot set holds at most rows / threshold keys and is always
    broadcast; there is no shuffle-join fallback.
    """
    from pyspark.sql import functions as F

    thr = config.hot_tile_threshold
    # adaptive fan-out: spread each hot tile over ~threshold-row
    # partials so one 160k-feature city-center tile becomes ~32 even
    # encode tasks instead of `hot_tile_salt` heavy ones
    hot = (feature_tiles.groupBy("z", "x", "y")
           .agg(F.count(F.lit(1)).alias("_n"))
           .filter(F.col("_n") > thr)
           .select("z", "x", "y", F.least(
               F.lit(_SALT_FANOUT_CAP),
               F.greatest(F.lit(max(config.hot_tile_salt, 1)),
                          F.ceil(F.col("_n") / F.lit(thr)).cast("int")))
               .alias("_fan")))
    # pmod, not %: xxhash64-derived feature ids are negative half the
    # time and Spark's % keeps the sign — salts would span
    # -(fan-1)..fan-1, double the _SALT_FANOUT_CAP fan-in bound
    salted = (feature_tiles.join(F.broadcast(hot), ["z", "x", "y"], "left")
              .withColumn("salt", F.coalesce(
                  F.pmod(F.col("feature_id"), F.col("_fan")).cast("int"),
                  F.lit(0))))
    partial = _encode(salted, config, ("z", "x", "y", "salt"))
    compress = config.compress
    return (partial
            .repartition(_default_partitions(partial), "z", "x", "y")
            .sortWithinPartitions("z", "x", "y")
            .mapInPandas(lambda batches: carry_batches(
                batches, ("z", "x", "y"),
                lambda pdf: _merge_partials(pdf, compress)),
                schema=TILE_SCHEMA))
