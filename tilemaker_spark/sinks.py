"""Tile sinks: MBTiles (S5), PMTiles (S6), file-per-tile (S7),
merge-read of an existing tileset (S8/J9), Hilbert write clustering (O4).

The parallel source of truth is always the ``tiles`` DataFrame /
parquet table (z:int, x:long, y:long, tile:binary); the single-file
container formats are a final single-writer export — exactly the
reference's io_mutex-serialized writes (src/mbtiles.cpp:82-93), done
once at the end instead of per tile. Both exporters read one ordered
stream: Spark writes the tiles once, range-partitioned and sorted by
PMTiles tile id, to a scratch parquet directory, and the driver reads
its part files back in partition order with pyarrow, one small batch
at a time, so it never holds the full tileset.

References: MBTiles schema src/mbtiles.cpp:20-99; TMS y-flip
src/mbtiles.cpp:60; PMTiles layout src/pmtiles.cpp:16-173 +
include/external/pmtiles.hpp (spec: github.com/protomaps/PMTiles);
metadata.json src/shared_data.cpp:70-104,181-206; merge
src/tile_worker.cpp:405-417,486-490.
"""

from __future__ import annotations

import glob
import gzip
import hashlib
import json
import os
import shutil
import sqlite3
import struct

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from tilemaker_spark.functions import mvt
from tilemaker_spark.operators.tile_assembly import carry_batches, run_bounds


# ----------------------------------------------------- Hilbert tile ids

def hilbert_d_np(z, x, y):
    """Hilbert curve index of (x, y) on the 2^z grid (pmtiles ordering,
    include/external/pmtiles.hpp:414 zxy_to_tileid), vectorized: the
    per-bit rotation lifts directly to numpy bit math; rows at
    different zooms share one pass by masking bit levels >= their own
    z (the reference loop starts at s = 2^(z-1))."""
    z = np.asarray(z, dtype=np.int64)
    x = np.asarray(x, dtype=np.int64).copy()
    y = np.asarray(y, dtype=np.int64).copy()
    d = np.zeros_like(x)
    for k in range(int(z.max(initial=0)) - 1, -1, -1):
        s = np.int64(1) << k
        active = k < z
        rx = ((x & s) > 0).astype(np.int64)
        ry = ((y & s) > 0).astype(np.int64)
        d = np.where(active, d + s * s * ((3 * rx) ^ ry), d)
        flip = active & (ry == 0) & (rx == 1)
        swap = active & (ry == 0)
        xf = np.where(flip, s - 1 - x, x)
        yf = np.where(flip, s - 1 - y, y)
        x = np.where(swap, yf, xf)
        y = np.where(swap, xf, yf)
    return d


def zxy_to_tileid(z, x, y):
    """Global PMTiles tile id of scalars or arrays: the closed-form
    offset of zoom z, (4^z - 1) / 3, plus the hilbert index."""
    z = np.asarray(z, dtype=np.int64)
    return ((np.int64(1) << (2 * z)) - 1) // 3 + hilbert_d_np(z, x, y)


def with_tileid(tiles: DataFrame) -> DataFrame:
    """Add the PMTiles tile id as a column. Arrow-batched pandas UDF
    over the vectorized hilbert kernel — no per-row Python anywhere on
    the export path."""
    @pandas_udf("long")
    def tid(z: pd.Series, x: pd.Series, y: pd.Series) -> pd.Series:
        return pd.Series(zxy_to_tileid(z, x, y))

    return tiles.withColumn("tileid", tid("z", "x", "y"))


def _tileid_ordered(tiles: DataFrame, path: str):
    """Yield pyarrow RecordBatches (tileid, z, x, y, tile) in global
    tile-id order.

    One Spark write range-partitions and sorts the tiles by tile id
    into ``path + ".order.tmp"``; part file k holds range k, so the
    driver streams the files in name order, which is partition order
    (Spark's own reader packs splits by size and does not keep file
    order), one small batch at a time. The scratch directory is removed
    when the generator ends or is closed, also when the write or the
    consumer raises."""
    tmp = path + ".order.tmp"
    try:
        (with_tileid(tiles).select("tileid", "z", "x", "y", "tile")
         .repartitionByRange("tileid").sortWithinPartitions("tileid")
         .write.mode("overwrite").parquet(tmp))
        for part in sorted(glob.glob(os.path.join(tmp, "part-*"))):
            with pq.ParquetFile(part) as pf:
                yield from pf.iter_batches(batch_size=512)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# ------------------------------------------------------------- MBTiles

def write_mbtiles(tiles: DataFrame, path: str,
                  metadata: dict | None = None) -> int:
    """Export tiles to an MBTiles (sqlite) file; returns tile count.

    Schema + insert-or-replace semantics per src/mbtiles.cpp:20-99;
    y is TMS-flipped (2^z - 1 - y). A single writer inserts the
    tile-id-ordered stream, one executemany per Arrow batch.
    """
    if os.path.exists(path):
        os.remove(path)
    con = sqlite3.connect(path)
    cur = con.cursor()
    cur.execute("CREATE TABLE metadata (name text, value text)")
    cur.execute("CREATE TABLE tiles (zoom_level integer, tile_column integer, "
                "tile_row integer, tile_data blob)")
    cur.execute("CREATE UNIQUE INDEX tile_index ON tiles "
                "(zoom_level, tile_column, tile_row)")
    for k, v in (metadata or {}).items():
        cur.execute("INSERT INTO metadata VALUES (?, ?)",
                    (k, v if isinstance(v, str) else json.dumps(v)))
    n = 0
    for b in _tileid_ordered(tiles, path):
        z, x, y, tile = (b.column(c).to_pylist()
                         for c in ("z", "x", "y", "tile"))
        cur.executemany("INSERT OR REPLACE INTO tiles VALUES (?,?,?,?)",
                        zip(z, x, ((1 << zi) - 1 - yi
                                   for zi, yi in zip(z, y)), tile))
        n += len(tile)
    con.commit()
    con.close()
    return n


def read_mbtiles(spark, path: str, chunk_rows: int = 20_000) -> DataFrame:
    """S8 merge-read: load an existing MBTiles into a tiles DataFrame
    (y un-flipped back to XYZ).

    Scale path: the driver reads only min/max rowid (two index probes),
    then executors each open the sqlite file read-only and scan a rowid
    range via mapInPandas — mirroring the blob-list pattern of
    sources_pbf.read_pbf. A planet mbtiles (~80 GB) never materializes
    on the driver; each task holds at most one chunk."""
    con = sqlite3.connect(path)
    # OpenMapTiles/gdal-style archives define `tiles` as a VIEW over
    # map+images — views have no rowid, so probe sqlite_master first and
    # fall back to (zoom_level, tile_column) range chunking there.
    kind = con.execute(
        "SELECT type FROM sqlite_master WHERE name = 'tiles'").fetchone()
    is_view = bool(kind) and kind[0] == "view"
    if not is_view:
        row = con.execute("SELECT MIN(rowid), MAX(rowid) FROM tiles").fetchone()
        lo, hi = row
        ranges = [] if lo is None else \
            [(-1, int(s), int(min(s + chunk_rows - 1, hi)))
             for s in range(int(lo), int(hi) + 1, chunk_rows)]
    else:
        # index-only aggregate on the driver; per-zoom column ranges
        # sized by row count (density skew within a zoom can unbalance a
        # chunk, but this is the compatibility path, not the hot one)
        ranges = []
        for z, cnt, c0, c1 in con.execute(
                "SELECT zoom_level, COUNT(*), MIN(tile_column), "
                "MAX(tile_column) FROM tiles GROUP BY zoom_level"):
            n_chunks = max(1, -(-int(cnt) // chunk_rows))
            cols = int(c1) - int(c0) + 1
            step = max(1, -(-cols // n_chunks))
            ranges.extend((int(z), int(s), int(min(s + step - 1, c1)))
                          for s in range(int(c0), int(c1) + 1, step))
    con.close()
    if not ranges:
        return spark.createDataFrame([], "z int, x long, y long, tile binary")
    rdf = spark.createDataFrame(ranges, "rz int, lo long, hi long")

    def read_ranges(batches):
        con = sqlite3.connect(f"file:{path}?mode=ro", uri=True)
        try:
            for pdf in batches:
                for rz_, lo_, hi_ in zip(pdf["rz"], pdf["lo"], pdf["hi"]):
                    if int(rz_) < 0:
                        rows = con.execute(
                            "SELECT zoom_level, tile_column, tile_row, "
                            "tile_data FROM tiles WHERE rowid BETWEEN ? AND ?",
                            (int(lo_), int(hi_))).fetchall()
                    else:
                        rows = con.execute(
                            "SELECT zoom_level, tile_column, tile_row, "
                            "tile_data FROM tiles WHERE zoom_level = ? "
                            "AND tile_column BETWEEN ? AND ?",
                            (int(rz_), int(lo_), int(hi_))).fetchall()
                    if rows:
                        yield pd.DataFrame({
                            "z": [int(z) for z, _, _, _ in rows],
                            "x": [int(x) for _, x, _, _ in rows],
                            "y": [(1 << int(z)) - 1 - int(y)
                                  for z, _, y, _ in rows],
                            "tile": [bytes(b) for _, _, _, b in rows],
                        })
        finally:
            con.close()

    n_parts = max(1, min(len(ranges), 32))
    return (rdf.repartition(n_parts)
            .mapInPandas(read_ranges,
                         schema="z int, x long, y long, tile binary"))


# ------------------------------------------------------------- PMTiles

_PM_MAGIC = b"PMTiles"
_PM_VERSION = 3


def _pm_varint(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _pm_header(root_off, root_len, meta_off, meta_len, leaf_off, leaf_len,
               data_off, data_len, n_addressed, n_entries, n_contents,
               clustered, minz, maxz, bounds) -> bytes:
    h = bytearray(127)
    h[0:7] = _PM_MAGIC
    h[7] = _PM_VERSION
    struct.pack_into("<QQQQQQQQ", h, 8, root_off, root_len, meta_off,
                     meta_len, leaf_off, leaf_len, data_off, data_len)
    struct.pack_into("<QQQ", h, 72, n_addressed, n_entries, n_contents)
    h[96] = 1 if clustered else 0
    h[97] = 0x2  # internal compression: gzip
    h[98] = 0x0  # tile compression: none (tiles may carry their own gzip)
    h[99] = 0x1  # tile type: mvt
    h[100] = minz
    h[101] = maxz
    min_lon, min_lat, max_lon, max_lat = bounds
    struct.pack_into("<iiii", h, 102, int(min_lon * 1e7), int(min_lat * 1e7),
                     int(max_lon * 1e7), int(max_lat * 1e7))
    h[118] = min(maxz, 14)  # center zoom
    struct.pack_into("<ii", h, 119, int((min_lon + max_lon) / 2 * 1e7),
                     int((min_lat + max_lat) / 2 * 1e7))
    return bytes(h)


def _pm_serialize_dir(entries) -> bytes:
    """entries: list of (tileid, offset, length, run_length)."""
    out = bytearray()
    out += _pm_varint(len(entries))
    last = 0
    for tid, _, _, _ in entries:
        if tid < last:  # a negative delta would never end its varint
            raise ValueError(f"tile ids out of order: {tid} after {last}")
        out += _pm_varint(tid - last)
        last = tid
    for _, _, _, rl in entries:
        out += _pm_varint(rl)
    for _, _, ln, _ in entries:
        out += _pm_varint(ln)
    prev_off = prev_len = None
    for _, off, ln, _ in entries:
        if prev_off is not None and off == prev_off + prev_len:
            out += _pm_varint(0)
        else:
            out += _pm_varint(off + 1)
        prev_off, prev_len = off, ln
    return bytes(out)


# PMTiles v3: the root directory must stay small enough that clients
# can fetch header+root in one initial 16 KiB request (spec §3; the
# reference writer spills to leaves the same way, src/pmtiles.cpp:16-
# 118). Entries beyond this move to a leaf-directory layer.
_PM_MAX_ROOT_BYTES = 16384 - 127


def _pm_build_directories(entries):
    """(root_bytes, leaves_blob): spill to one leaf layer when the
    serialized+compressed root exceeds the 16 KiB initial-fetch budget.
    Leaf-pointer entries use run_length == 0 with offset relative to
    the leaf section (PMTiles v3 spec §4)."""
    root = gzip.compress(_pm_serialize_dir(entries), mtime=0)
    if len(root) <= _PM_MAX_ROOT_BYTES:
        return root, b""
    leaf_size = 4096
    while True:
        root_entries = []
        leaf_blob = bytearray()
        for i in range(0, len(entries), leaf_size):
            chunk = entries[i:i + leaf_size]
            ser = gzip.compress(_pm_serialize_dir(chunk), mtime=0)
            root_entries.append((chunk[0][0], len(leaf_blob), len(ser), 0))
            leaf_blob += ser
        root = gzip.compress(_pm_serialize_dir(root_entries), mtime=0)
        if len(root) <= _PM_MAX_ROOT_BYTES or leaf_size > len(entries):
            return root, bytes(leaf_blob)
        leaf_size *= 2


def write_pmtiles(tiles: DataFrame, path: str,
                  metadata: dict | None = None) -> int:
    """Export tiles to a PMTiles v3 archive (clustered, Hilbert order,
    run-length dedup of identical consecutive tiles, leaf directories
    when the root exceeds the spec's 16 KiB initial-fetch budget — a
    planet archive's millions of entries are representable).
    Returns addressed tile count.

    Scale note: encode/compress/cluster are distributed upstream; the
    final byte stream of a SINGLE-FILE archive necessarily serializes
    through one writer, like the reference's single-file write
    (src/pmtiles.cpp:16-173, which also streams tile bytes straight to
    the output). The writer reads the tile-id-ordered stream one Arrow
    batch at a time. Tile DATA goes to a sidecar file as it arrives
    and is concatenated after the directories are sized, so driver RAM
    is O(directory) — (sha256 -> offset,len) per unique tile plus the
    entry list — never O(archive). For a parallel sink use
    write_tile_directory or the parquet checkpoints."""
    entries = []  # (tileid, offset, length, run_length)
    # sha256 digest -> (offset, length): collision-safe content dedup
    # (Python hash() of bytes can collide and would alias tile content).
    seen_ranges = {}
    minz, maxz = 99, 0
    n_addressed = 0
    data_len = 0
    data_tmp = path + ".data.tmp"
    try:
        with open(data_tmp, "wb") as dataf:
            for batch in _tileid_ordered(tiles, path):
                for tid, z, b in zip(*(batch.column(c).to_pylist()
                                       for c in ("tileid", "z", "tile"))):
                    minz, maxz = min(minz, z), max(maxz, z)
                    n_addressed += 1
                    key = hashlib.sha256(b).digest()
                    if key in seen_ranges:
                        off, ln = seen_ranges[key]
                    else:
                        off, ln = data_len, len(b)
                        dataf.write(b)
                        data_len += ln
                        seen_ranges[key] = (off, ln)
                    if entries and entries[-1][0] + entries[-1][3] == tid \
                            and entries[-1][1] == off:
                        tid0, o0, l0, rl = entries[-1]
                        entries[-1] = (tid0, o0, l0, rl + 1)
                    else:
                        entries.append((tid, off, ln, 1))
        root, leaves = _pm_build_directories(entries)
        meta = gzip.compress(json.dumps(metadata or {}).encode(),
                            mtime=0)
        root_off = 127
        meta_off = root_off + len(root)
        leaf_off = meta_off + len(meta)
        data_off = leaf_off + len(leaves)
        header = _pm_header(root_off, len(root), meta_off, len(meta),
                            leaf_off, len(leaves), data_off, data_len,
                            n_addressed, len(entries), len(seen_ranges),
                            True, 0 if minz == 99 else minz, maxz,
                            (-180.0, -85.06, 180.0, 85.06))
        with open(path, "wb") as f:
            f.write(header)
            f.write(root)
            f.write(meta)
            f.write(leaves)
            with open(data_tmp, "rb") as dataf:
                shutil.copyfileobj(dataf, f, 1 << 20)
    finally:
        if os.path.exists(data_tmp):
            os.remove(data_tmp)
    return n_addressed


def _pm_parse_dir(d: bytes) -> list:
    """Inverse of _pm_serialize_dir: bytes -> [(tid, off, ln, rl)]."""
    pos = 0

    def rv():
        nonlocal pos
        shift = val = 0
        while True:
            b = d[pos]
            pos += 1
            val |= (b & 0x7F) << shift
            if not (b & 0x80):
                return val
            shift += 7

    n = rv()
    tids, rls, lens, offs = [], [], [], []
    last = 0
    for _ in range(n):
        last += rv()
        tids.append(last)
    for _ in range(n):
        rls.append(rv())
    for _ in range(n):
        lens.append(rv())
    prev_off = prev_len = 0
    for i in range(n):
        v = rv()
        off = prev_off + prev_len if v == 0 else v - 1
        offs.append(off)
        prev_off, prev_len = off, lens[i]
    return list(zip(tids, offs, lens, rls))


def pm_read_entries(f) -> tuple[list, int, dict]:
    """Walk a PMTiles v3 archive open for binary reads: header, JSON
    metadata, root directory and the leaf directories its
    ``run_length == 0`` entries point to (offsets relative to the leaf
    section). Returns (tile entries [(tid, off, ln, rl)], data offset,
    metadata); a tile's bytes start at data offset + off."""
    header = f.read(127)
    if header[0:7] != _PM_MAGIC or header[7] != _PM_VERSION:
        raise ValueError("not a PMTiles v3 archive")
    (root_off, root_len, meta_off, meta_len, leaf_off, _leaf_len, data_off,
     _dl) = struct.unpack_from("<QQQQQQQQ", header, 8)
    f.seek(meta_off)
    meta = json.loads(gzip.decompress(f.read(meta_len)) or b"{}")
    f.seek(root_off)
    entries = []
    for tid, off, ln, rl in _pm_parse_dir(gzip.decompress(f.read(root_len))):
        if rl == 0:
            f.seek(leaf_off + off)
            entries.extend(_pm_parse_dir(gzip.decompress(f.read(ln))))
        else:
            entries.append((tid, off, ln, rl))
    return entries, data_off, meta


def read_pmtiles(spark, path: str, chunk_tiles: int = 20_000) -> DataFrame:
    """Read back a PMTiles v3 archive (root + leaf directories) into a
    tiles DF.

    Scale path (mirrors read_mbtiles): the driver reads only the 127-
    byte header + the gzip'd directories (KBs root + the leaf layer,
    still metadata-sized even for millions of entries), builds a
    (z, x, y, offset, length) index DataFrame, and executors fetch
    their tile byte ranges with seek+read — the tile DATA never flows
    through the driver."""
    with open(path, "rb") as f:
        entries, data_off, _meta = pm_read_entries(f)
    index = []
    for tid, off, ln, rl in entries:
        for k in range(rl):
            z, x, y = tileid_to_zxy(tid + k)
            index.append((z, x, y, data_off + off, ln))
    if not index:
        return spark.createDataFrame([], "z int, x long, y long, tile binary")
    idx_df = spark.createDataFrame(
        index, "z int, x long, y long, off long, ln long")

    def fetch(batches):
        with open(path, "rb") as f:
            for pdf in batches:
                tiles = []
                for off, ln in zip(pdf["off"], pdf["ln"]):
                    f.seek(int(off))
                    tiles.append(f.read(int(ln)))
                out = pdf[["z", "x", "y"]].copy()
                out["tile"] = tiles
                yield out

    n_parts = max(1, min((len(index) + chunk_tiles - 1) // chunk_tiles, 32))
    return (idx_df.repartition(n_parts)
            .mapInPandas(fetch, schema="z int, x long, y long, tile binary"))


def tileid_to_zxy(tid: int):
    z = 0
    acc = 0
    while acc + (1 << (2 * z)) <= tid:
        acc += 1 << (2 * z)
        z += 1
    d = tid - acc
    # inverse hilbert
    n = 1 << z
    x = y = 0
    s = 1
    t = d
    while s < n:
        rx = 1 & (t // 2)
        ry = 1 & (t ^ rx)
        if ry == 0:
            if rx == 1:
                x = s - 1 - x
                y = s - 1 - y
            x, y = y, x
        x += s * rx
        y += s * ry
        t //= 4
        s <<= 1
    return z, x, y


# ------------------------------------------------------- file-per-tile

def write_tile_directory(tiles: DataFrame, out_dir: str,
                         metadata: dict | None = None) -> int:
    """S7: {out}/{z}/{x}/{y}.pbf + metadata.json — fully parallel
    (foreachPartition writes its own files; no single-writer choke)."""
    os.makedirs(out_dir, exist_ok=True)

    def write_part(rows):
        for r in rows:
            d = os.path.join(out_dir, str(r.z), str(r.x))
            os.makedirs(d, exist_ok=True)
            with open(os.path.join(d, f"{r.y}.pbf"), "wb") as f:
                f.write(bytes(r.tile))

    tiles.select("z", "x", "y", "tile").foreachPartition(write_part)
    with open(os.path.join(out_dir, "metadata.json"), "w") as f:
        json.dump(metadata or {}, f)
    n = 0
    for root, _, files in os.walk(out_dir):
        n += sum(1 for fn in files if fn.endswith(".pbf"))
    return n


# ------------------------------------------------------ merge (S8/J9)

def merge_tilesets(old: DataFrame, new: DataFrame,
                   compress: str = "none") -> DataFrame:
    """J9: full-outer merge on (z, x, y); where both sides have a tile,
    decode both MVTs and concatenate their layers (existing features
    copied through, reference src/tile_worker.cpp:405-417). Runs as a
    distributed mapInPandas over the co-partitioned union; both sides'
    tiles are compressed with ``compress``."""
    tagged = (old.select("z", "x", "y", "tile", F.lit(0).alias("src"))
              .unionByName(new.select("z", "x", "y", "tile",
                                      F.lit(1).alias("src"))))
    return (tagged.repartition("z", "x", "y")
            .sortWithinPartitions("z", "x", "y", "src")
            .mapInPandas(lambda batches: carry_batches(
                batches, ("z", "x", "y"),
                lambda pdf: _merge_tile_groups(pdf, compress)),
                schema="z int, x long, y long, tile binary"))


def _merge_tile_groups(pdf, compress):
    """One tile per (z, x, y) run, old before new. Merging by layer
    name, not byte concatenation: the MVT spec wants unique layer names
    per tile (the reference merges features into the existing layer,
    src/tile_worker.cpp:405-417), and readers, including our
    decode_tile, keep only one of two same-named layers."""
    za, xa, ya = (pdf[c].to_numpy() for c in ("z", "x", "y"))
    blobs = pdf["tile"].to_list()
    starts, ends = run_bounds(za, xa, ya)
    tiles = [blobs[s] if e - s == 1 else mvt.compress_tile(
                 mvt.merge_tiles_fast(
                     [mvt.decompress_tile(b, compress) for b in blobs[s:e]]),
                 compress)
             for s, e in zip(starts, ends)]
    return pd.DataFrame({"z": za[starts], "x": xa[starts],
                         "y": ya[starts], "tile": tiles})


# ------------------------------------------------------- metadata (S7)

def tileset_metadata(config, layer_attrs: dict | None = None,
                     bounds=None) -> dict:
    """metadata.json / MBTiles metadata rows incl. vector_layers
    (src/shared_data.cpp:70-104, 181-206). layer_attrs: {layer: {attr:
    'String'|'Number'|'Boolean'}} discovered from the features DF."""
    vector_layers = []
    for target, members in config.layer_order():
        lc = config.layers[members[0]]
        fields = {}
        for m in members:
            for k, v in (layer_attrs or {}).get(m, {}).items():
                fields[k] = v
        vector_layers.append({
            "id": target, "minzoom": lc.minzoom, "maxzoom": lc.maxzoom,
            "fields": fields})
    b = bounds or config.bounding_box
    return {
        "name": config.name, "format": "pbf", "type": "baselayer",
        "version": "2", "minzoom": str(config.minzoom),
        "maxzoom": str(config.maxzoom),
        "bounds": ",".join(str(v) for v in b),
        "json": json.dumps({"vector_layers": vector_layers}),
    }


def discover_layer_attrs(features: DataFrame) -> dict:
    """Dynamic vector_layers field discovery
    (src/osm_lua_processing.cpp:978-981): distinct attr keys per layer.
    All our attrs are strings at the features level."""
    rows = (features.select("layer", F.explode(F.map_keys("attrs"))
                            .alias("k"))
            .distinct().collect())
    out: dict = {}
    for r in rows:
        out.setdefault(r.layer, {})[r.k] = "String"
    return out
