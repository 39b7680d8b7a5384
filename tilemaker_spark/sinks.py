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

A PMTiles directory is four int64 columns (tile_id, offset, length,
run_length) with one whole-array codec that the writer, the reader
and the tile server share: no per-entry or per-tile Python loop.

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
import zlib
from array import array

import numpy as np
import pandas as pd
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from tilemaker_spark.functions import mvt
from tilemaker_spark.operators.tile_assembly import (
    _default_partitions, carry_batches, run_bounds)


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


_ZOOM_FIRST_ID = ((np.int64(1) << (2 * np.arange(32))) - 1) // 3


def tileid_to_zxy(tid):
    """Inverse of zxy_to_tileid over scalars or arrays: the zoom by a
    search of each zoom's first id, then the inverse of hilbert_d_np,
    rows at different zooms masked per bit level as there."""
    tid = np.asarray(tid, dtype=np.int64)
    z = np.searchsorted(_ZOOM_FIRST_ID, tid, side="right") - 1
    t = tid - _ZOOM_FIRST_ID[z]
    x, y = np.zeros_like(t), np.zeros_like(t)
    for k in range(int(z.max(initial=0))):
        s = np.int64(1) << k
        active = k < z
        rx = (t >> 1) & 1
        ry = (t ^ rx) & 1
        flip = active & (ry == 0) & (rx == 1)
        swap = active & (ry == 0)
        xf = np.where(flip, s - 1 - x, x)
        yf = np.where(flip, s - 1 - y, y)
        x = np.where(swap, yf, xf) + s * rx
        y = np.where(swap, xf, yf) + s * ry
        t = t >> 2
    return z, x, y


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
        z, x, y = (b.column(c).to_numpy().astype(np.int64)
                   for c in ("z", "x", "y"))
        cur.executemany("INSERT OR REPLACE INTO tiles VALUES (?,?,?,?)",
                        zip(z.tolist(), x.tolist(),
                            ((1 << z) - 1 - y).tolist(),
                            b.column("tile").to_pylist()))
        n += b.num_rows
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
_PM_WORLD = (-180.0, -85.06, 180.0, 85.06)


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


# A directory is four int64 columns (tile_id, offset, length,
# run_length), one entry per row in tile-id order; run_length 0 points
# to a leaf directory (PMTiles v3 spec §4).

def _pm_serialize_dir(cols) -> bytes:
    """[n, Δtile_id…, run_length…, length…, offset + 1 or 0…] as one
    LEB128 encode (0: the entry starts where the one before ends); byte
    k of every value longer than k bytes is written in one step."""
    tid, off, ln, rl = cols
    step = np.diff(tid, prepend=0)
    if (step < 0).any():  # a negative delta would never end its varint
        i = int(np.argmax(step < 0))
        raise ValueError(f"tile ids out of order: {tid[i]} after "
                         f"{tid[i - 1] if i else 0}")
    follows = np.zeros(len(off), dtype=bool)
    follows[1:] = off[1:] == off[:-1] + ln[:-1]
    v = np.concatenate(([len(tid)], step, rl, ln,
                        np.where(follows, 0, off + 1))).astype(np.uint64)
    size = 1 + sum((v >> np.uint64(7 * k)) > 0 for k in range(1, 10))
    start = np.cumsum(size) - size
    out = np.empty(int(size.sum()), dtype=np.uint8)
    for k in range(int(size.max())):
        at = size > k
        out[start[at] + k] = ((v[at] >> np.uint64(7 * k)) & np.uint64(0x7F)
                              | np.uint64(0x80) * (size[at] > k + 1))
    return out.tobytes()


def _pm_parse_dir(d: bytes) -> tuple:
    """Inverse of _pm_serialize_dir: every varint decoded in one pass,
    then the four columns."""
    b = np.frombuffer(d, dtype=np.uint8)
    end = np.flatnonzero(b < 0x80)  # the last byte of each varint
    start = np.concatenate(([0], end[:-1] + 1))
    shift = 7 * (np.arange(end[-1] + 1) - np.repeat(start, end - start + 1))
    v = np.bitwise_or.reduceat((b[:end[-1] + 1] & 0x7F).astype(np.uint64)
                               << shift.astype(np.uint64),
                               start).astype(np.int64)
    n = int(v[0])
    tid = np.cumsum(v[1:n + 1])
    rl, ln, code = (v[1 + k * n:1 + (k + 1) * n] for k in (1, 2, 3))
    # code 0: the last written offset plus the lengths since
    before = np.cumsum(ln) - ln
    written = np.maximum.accumulate(np.where(code > 0, np.arange(n), 0))
    off = np.where(code > 0, code - 1 - before, 0)[written] + before
    return tid, off, ln, rl


# PMTiles v3: the root directory must stay small enough that clients
# can fetch header+root in one initial 16 KiB request (spec §3; the
# reference writer spills to leaves the same way, src/pmtiles.cpp:16-
# 118). Entries beyond this move to a leaf-directory layer.
_PM_MAX_ROOT_BYTES = 16384 - 127


def _pm_gzip_within(data: bytes, cap: int) -> bytes | None:
    """gzip.compress(data, mtime=0) if at most ``cap`` bytes, else None,
    given up once the output passes ``cap``: a streamed compressor's
    output only grows."""
    z = zlib.compressobj(9, zlib.DEFLATED, 31)
    out = b""
    for i in range(0, len(data), 1 << 16):
        out += z.compress(data[i:i + (1 << 16)])
        if len(out) > cap:
            return None
    out += z.flush()
    return out if len(out) <= cap else None


def _pm_build_directories(cols):
    """(root_bytes, leaves_blob): the entries themselves when their
    directory fits the 16 KiB initial-fetch budget, else one layer of
    ``leaf_size``-entry leaves, doubled until the root of leaf pointers
    fits. A leaf pointer's offset is relative to the leaf section."""
    root = _pm_gzip_within(_pm_serialize_dir(cols), _PM_MAX_ROOT_BYTES)
    if root is not None:
        return root, b""
    n = len(cols[0])
    leaf_size = 4096
    while True:
        first = np.arange(0, n, leaf_size)
        leaves = [gzip.compress(_pm_serialize_dir(
                      [c[i:i + leaf_size] for c in cols]), mtime=0)
                  for i in first]
        lens = np.array([len(b) for b in leaves], dtype=np.int64)
        root = gzip.compress(_pm_serialize_dir(
            (cols[0][first], np.cumsum(lens) - lens, lens,
             np.zeros_like(lens))), mtime=0)
        if len(root) <= _PM_MAX_ROOT_BYTES or leaf_size > n:
            return root, b"".join(leaves)
        leaf_size *= 2


def write_pmtiles(tiles: DataFrame, path: str,
                  metadata: dict | None = None) -> int:
    """Export tiles to a PMTiles v3 archive (clustered, Hilbert order,
    run-length dedup of identical consecutive tiles, leaf directories
    when the root exceeds the spec's 16 KiB initial-fetch budget).
    Returns addressed tile count. The header's bounds and center are
    ``metadata["bounds"]`` ("minlon,minlat,maxlon,maxlat", as
    tileset_metadata writes it), else the world.

    One writer, like the reference's single-file write
    (src/pmtiles.cpp:16-173), reads the tile-id-ordered stream one
    Arrow batch at a time. Tile DATA goes to a sidecar file as it
    arrives and is concatenated after the directories are sized, so
    driver RAM is O(directory) — (sha256 -> offset) per unique tile
    plus 24 bytes per tile — never O(archive). Only the sha256 dedup
    runs per tile; zoom range, lengths and runs are array work."""
    # one entry per tile; the empty seeds keep an empty archive int64
    tids, lens = [np.zeros(0, np.int64)], [np.zeros(0, np.int64)]
    offs = array("q")
    # sha256 digest -> offset: collision-safe content dedup (Python
    # hash() of bytes can collide and would alias tile content).
    seen = {}
    minz, maxz = 99, 0
    data_len = 0
    data_tmp = path + ".data.tmp"
    try:
        with open(data_tmp, "wb") as dataf:
            for batch in _tileid_ordered(tiles, path):
                zr = pc.min_max(batch.column("z")).as_py()
                minz, maxz = min(minz, zr["min"]), max(maxz, zr["max"])
                tids.append(batch.column("tileid").to_numpy())
                lens.append(pc.binary_length(batch.column("tile"))
                            .to_numpy())
                for b in batch.column("tile").to_pylist():
                    key = hashlib.sha256(b).digest()
                    off = seen.get(key)
                    if off is None:
                        off = seen[key] = data_len
                        dataf.write(b)
                        data_len += len(b)
                    offs.append(off)
        tid, ln = np.concatenate(tids), np.concatenate(lens)
        off = np.asarray(offs, dtype=np.int64)
        # a run: consecutive tile ids that share one copy of their data
        new = np.ones(len(tid), dtype=bool)
        new[1:] = (tid[1:] != tid[:-1] + 1) | (off[1:] != off[:-1])
        first = np.flatnonzero(new)
        root, leaves = _pm_build_directories((
            tid[first], off[first], ln[first],
            np.diff(first, append=len(tid))))
        meta = gzip.compress(json.dumps(metadata or {}).encode(),
                            mtime=0)
        bounds = (metadata or {}).get("bounds")
        root_off = 127
        meta_off = root_off + len(root)
        leaf_off = meta_off + len(meta)
        data_off = leaf_off + len(leaves)
        header = _pm_header(root_off, len(root), meta_off, len(meta),
                            leaf_off, len(leaves), data_off, data_len,
                            len(tid), len(first), len(seen),
                            True, 0 if minz == 99 else minz, maxz,
                            tuple(map(float, bounds.split(",")))
                            if bounds else _PM_WORLD)
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
    return len(tid)


def pm_read_entries(f) -> tuple[tuple, int, dict]:
    """Walk a PMTiles v3 archive open for binary reads: header, JSON
    metadata, root directory and the leaf directories its
    ``run_length == 0`` entries point to. Returns (the tile entries'
    four columns, data offset, metadata); a tile's bytes start at data
    offset + offset."""
    header = f.read(127)
    if header[0:7] != _PM_MAGIC or header[7] != _PM_VERSION:
        raise ValueError("not a PMTiles v3 archive")
    (root_off, root_len, meta_off, meta_len, leaf_off, _leaf_len, data_off,
     _dl) = struct.unpack_from("<QQQQQQQQ", header, 8)
    f.seek(meta_off)
    meta = json.loads(gzip.decompress(f.read(meta_len)) or b"{}")
    f.seek(root_off)
    root = _pm_parse_dir(gzip.decompress(f.read(root_len)))
    parts, at = [], 0
    for i in np.flatnonzero(root[3] == 0):
        f.seek(leaf_off + int(root[1][i]))
        parts += [[c[at:i] for c in root],
                  _pm_parse_dir(gzip.decompress(f.read(int(root[2][i]))))]
        at = i + 1
    parts.append([c[at:] for c in root])
    return tuple(np.concatenate(c) for c in zip(*parts)), data_off, meta


def read_pmtiles(spark, path: str, chunk_tiles: int = 20_000) -> DataFrame:
    """Read back a PMTiles v3 archive (root + leaf directories) into a
    tiles DF. The driver reads only the header and the directories and
    expands their runs into a (z, x, y, offset, length) index in
    whole-array steps; executors pread their tiles' byte ranges, so the
    tile DATA never flows through the driver (mirrors read_mbtiles)."""
    with open(path, "rb") as f:
        (tid, off, ln, rl), data_off, _meta = pm_read_entries(f)
    n = int(rl.sum())
    if not n:
        return spark.createDataFrame([], "z int, x long, y long, tile binary")
    # tile i: its run's first id + i - the tiles of the runs before it
    z, x, y = tileid_to_zxy(np.repeat(tid - np.cumsum(rl) + rl, rl)
                            + np.arange(n))
    idx_df = spark.createDataFrame(pd.DataFrame({
        "z": z.astype(np.int32), "x": x, "y": y,
        "off": data_off + np.repeat(off, rl), "ln": np.repeat(ln, rl)}),
        "z int, x long, y long, off long, ln long")

    def fetch(batches):
        with open(path, "rb") as f:
            for pdf in batches:
                out = pdf[["z", "x", "y"]].copy()
                out["tile"] = [os.pread(f.fileno(), ln, off) for off, ln in
                               zip(pdf["off"].tolist(), pdf["ln"].tolist())]
                yield out

    n_parts = max(1, min((n + chunk_tiles - 1) // chunk_tiles, 32))
    return (idx_df.repartition(n_parts)
            .mapInPandas(fetch, schema="z int, x long, y long, tile binary"))


# ------------------------------------------------------- file-per-tile

def write_tile_directory(tiles: DataFrame, out_dir: str,
                         metadata: dict | None = None) -> int:
    """S7: {out}/{z}/{x}/{y}.pbf + metadata.json — fully parallel
    (foreachPartition writes its own files; no single-writer choke).
    Returns the number of tiles this call wrote, counted by an
    accumulator, which Spark applies once per task in an action."""
    os.makedirs(out_dir, exist_ok=True)
    written = tiles.sparkSession.sparkContext.accumulator(0)

    def write_part(rows):
        n = 0
        for r in rows:
            d = os.path.join(out_dir, str(r.z), str(r.x))
            os.makedirs(d, exist_ok=True)
            with open(os.path.join(d, f"{r.y}.pbf"), "wb") as f:
                f.write(bytes(r.tile))
            n += 1
        written.add(n)

    tiles.select("z", "x", "y", "tile").foreachPartition(write_part)
    with open(os.path.join(out_dir, "metadata.json"), "w") as f:
        json.dump(metadata or {}, f)
    return written.value


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
    return (tagged.repartition(_default_partitions(tagged), "z", "x", "y")
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
