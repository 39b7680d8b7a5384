"""OSM PBF scan (S1) — block-parallel reader for .osm.pbf files.

Re-expresses the reference's PbfReader/PbfProcessor
(src/pbf_reader.cpp, src/pbf_processor.cpp:506-748) Spark-first:

  1. the DRIVER walks only the blob framing (4-byte BE length +
     BlobHeader) to build the blob list — a few bytes per ~8k-entity
     block, the same cheap pass the reference does to plan work;
  2. the blob list becomes a DataFrame; a mapInPandas stage opens the
     file per partition, decompresses and parses its blobs — the
     reference's per-phase thread pools become input-split parallelism
     (blobs ↔ splits), and the mutable node/way stores become plain
     DataFrames downstream.

The protobuf wire decoding is hand-rolled (same style as the MVT codec
in functions/mvt.py): OSM PBF fileformat/osmformat per the public spec
(wiki.openstreetmap.org/wiki/PBF_Format). DenseNodes delta decoding
vectorizes with numpy cumsum.

Output: one entities DataFrame
    (etype: 'node'|'way'|'relation', id, lat, lon, tags,
     refs array<long>, members array<struct<mtype,ref,role>>)
split into nodes/ways/relations by a cheap filter (partition-pruned by
the etype column when persisted partitioned).
"""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tilemaker_spark.functions.mvt import _read_varint, _unzigzag

ENTITY_SCHEMA = (
    "etype string, id long, lat double, lon double, "
    "tags map<string,string>, refs array<long>, "
    "members array<struct<mtype:string, ref:long, role:string>>, "
    "lats array<double>, lons array<double>")

_MEMBER_TYPES = ("node", "way", "relation")


# ------------------------------------------------------ wire primitives

def _fields(buf: bytes):
    """Iterate (field_no, wire_type, value_or_bytes) of one message."""
    pos = 0
    n = len(buf)
    while pos < n:
        key, pos = _read_varint(buf, pos)
        field, wire = key >> 3, key & 7
        if wire == 0:
            v, pos = _read_varint(buf, pos)
            yield field, 0, v
        elif wire == 2:
            ln, pos = _read_varint(buf, pos)
            yield field, 2, buf[pos:pos + ln]
            pos += ln
        elif wire == 5:
            yield field, 5, buf[pos:pos + 4]
            pos += 4
        elif wire == 1:
            yield field, 1, buf[pos:pos + 8]
            pos += 8
        else:
            raise ValueError(f"unsupported wire type {wire}")


def _packed_varints(buf: bytes) -> np.ndarray:
    out = []
    pos = 0
    n = len(buf)
    while pos < n:
        v, pos = _read_varint(buf, pos)
        out.append(v)
    return np.asarray(out, dtype=np.uint64)


def _packed_sint_delta(buf: bytes) -> np.ndarray:
    """Packed sint64 with per-element delta coding -> absolute values."""
    raw = _packed_varints(buf).astype(np.int64)
    dezz = (raw >> 1) ^ -(raw & 1)
    return np.cumsum(dezz)


# -------------------------------------------------------- blob framing

def scan_blobs(path: str) -> list:
    """Walk the file's blob framing; returns
    [(offset, header_len, data_len, type), ...] without reading blob
    payloads (the planning pass)."""
    blobs = []
    with open(path, "rb") as f:
        while True:
            lenbuf = f.read(4)
            if len(lenbuf) < 4:
                break
            hlen = struct.unpack(">I", lenbuf)[0]
            header = f.read(hlen)
            btype = ""
            datasize = 0
            for field, wire, val in _fields(header):
                if field == 1:
                    btype = val.decode()
                elif field == 3:
                    datasize = val
            offset = f.tell()
            blobs.append((offset, hlen, datasize, btype))
            f.seek(offset + datasize)
    return blobs


def _blob_payload(raw: bytes) -> bytes:
    """Blob message -> decompressed PrimitiveBlock/HeaderBlock bytes."""
    data = b""
    for field, wire, val in _fields(raw):
        if field == 1:      # raw
            data = val
        elif field == 3:    # zlib_data
            data = zlib.decompress(val)
    return data


# ------------------------------------------------------- block parsing

def _dense_tags(kv: np.ndarray, n: int, strings: list) -> list:
    """keys_vals (k,v index pairs per node, 0-terminated) -> list of
    dicts. Vectorized fast path: tag-free nodes (the overwhelming
    majority on a planet file) are found by splitting on the zero
    terminators with numpy; only the tagged minority pays a dict build
    (reference per-node loop: src/pbf_processor.cpp:60-76)."""
    if kv.size == 0 or not kv.any():
        return [{}] * n
    zeros = np.flatnonzero(kv == 0)
    if kv[-1] != 0:
        # encoders may omit the trailing 0 delimiter for the LAST node;
        # treat end-of-array as a sentinel boundary so its tags survive
        zeros = np.concatenate([zeros, [kv.size]])
    starts = np.concatenate([[0], zeros[:-1] + 1])
    out = []
    for s, e in zip(starts.tolist(), zeros.tolist()):
        if e > s:
            seg = kv[s:e].tolist()
            out.append({strings[seg[j]]: strings[seg[j + 1]]
                        for j in range(0, len(seg), 2)})
        else:
            out.append({})
    if len(out) < n:
        out.extend([{}] * (n - len(out)))
    return out


def _parse_primitive_block(buf: bytes):
    """PrimitiveBlock -> (node_frames, row_list).

    Dense/plain node groups come back as columnar dicts (numpy arrays +
    tag list) so the scan never builds a Python tuple per node; ways and
    relations (orders of magnitude fewer) stay row tuples in
    ENTITY_SCHEMA order."""
    strings: list = []
    groups: list = []
    granularity = 100
    lat_off = 0
    lon_off = 0
    for field, wire, val in _fields(buf):
        if field == 1:       # stringtable
            for f2, w2, s in _fields(val):
                if f2 == 1:
                    strings.append(s.decode("utf-8", "replace"))
        elif field == 2:     # primitivegroup
            groups.append(val)
        elif field == 17:
            granularity = val
        elif field == 19:
            lat_off = val
        elif field == 20:
            lon_off = val

    scale = 1e-9
    node_frames = []
    out = []
    for g in groups:
        plain_ids, plain_lats, plain_lons, plain_tags = [], [], [], []
        for field, wire, val in _fields(g):
            if field == 1:    # plain (non-dense) Node
                # (src/pbf_processor.cpp:41 iterates pg.nodes(); files
                # written without DenseNodes use this encoding)
                nid = 0
                nlat = nlon = 0
                keys = vals = np.asarray([], dtype=np.uint64)
                for f2, w2, v2 in _fields(val):
                    if f2 == 1:
                        nid = _unzigzag(v2)
                    elif f2 == 2:
                        keys = _packed_varints(v2)
                    elif f2 == 3:
                        vals = _packed_varints(v2)
                    elif f2 == 8:
                        nlat = _unzigzag(v2)
                    elif f2 == 9:
                        nlon = _unzigzag(v2)
                plain_ids.append(nid)
                plain_lats.append(scale * (lat_off + granularity * nlat))
                plain_lons.append(scale * (lon_off + granularity * nlon))
                plain_tags.append({strings[int(k)]: strings[int(v)]
                                   for k, v in zip(keys, vals)})
            elif field == 2:    # DenseNodes
                ids = lats = lons = None
                kv = np.asarray([], dtype=np.int64)
                for f2, w2, v2 in _fields(val):
                    if f2 == 1:
                        ids = _packed_sint_delta(v2)
                    elif f2 == 8:
                        lats = _packed_sint_delta(v2)
                    elif f2 == 9:
                        lons = _packed_sint_delta(v2)
                    elif f2 == 10:
                        kv = _packed_varints(v2).astype(np.int64)
                if ids is None:
                    continue
                node_frames.append({
                    "id": ids.astype(np.int64),
                    "lat": scale * (lat_off + granularity * lats),
                    "lon": scale * (lon_off + granularity * lons),
                    "tags": _dense_tags(kv, len(ids), strings),
                })
            elif field == 3:  # Way
                wid = 0
                keys = vals = np.asarray([], dtype=np.uint64)
                refs = np.asarray([], dtype=np.int64)
                wlats = wlons = None
                for f2, w2, v2 in _fields(val):
                    if f2 == 1:
                        wid = v2
                    elif f2 == 2:
                        keys = _packed_varints(v2)
                    elif f2 == 3:
                        vals = _packed_varints(v2)
                    elif f2 == 8:
                        refs = _packed_sint_delta(v2)
                    elif f2 == 9:   # LocationsOnWays lat
                        wlats = _packed_sint_delta(v2)
                    elif f2 == 10:  # LocationsOnWays lon
                        wlons = _packed_sint_delta(v2)
                tags = {strings[int(k)]: strings[int(v)]
                        for k, v in zip(keys, vals)}
                # LocationsOnWays (src/pbf_processor.cpp:115-118,524):
                # inline way coords make the node join unnecessary
                lat_list = (None if wlats is None else
                            (scale * (lat_off + granularity * wlats)).tolist())
                lon_list = (None if wlons is None else
                            (scale * (lon_off + granularity * wlons)).tolist())
                out.append(("way", int(wid), None, None, tags,
                            [int(r) for r in refs], None,
                            lat_list, lon_list))
            elif field == 4:  # Relation
                rid = 0
                keys = vals = roles = types = np.asarray([], dtype=np.uint64)
                memids = np.asarray([], dtype=np.int64)
                for f2, w2, v2 in _fields(val):
                    if f2 == 1:
                        rid = v2
                    elif f2 == 2:
                        keys = _packed_varints(v2)
                    elif f2 == 3:
                        vals = _packed_varints(v2)
                    elif f2 == 8:
                        roles = _packed_varints(v2)
                    elif f2 == 9:
                        memids = _packed_sint_delta(v2)
                    elif f2 == 10:
                        types = _packed_varints(v2)
                tags = {strings[int(k)]: strings[int(v)]
                        for k, v in zip(keys, vals)}
                members = [
                    {"mtype": _MEMBER_TYPES[int(t)], "ref": int(m),
                     "role": strings[int(r)]}
                    for t, m, r in zip(types, memids, roles)]
                out.append(("relation", int(rid), None, None, tags,
                            None, members, None, None))
        if plain_ids:
            node_frames.append({
                "id": np.asarray(plain_ids, dtype=np.int64),
                "lat": np.asarray(plain_lats, dtype=np.float64),
                "lon": np.asarray(plain_lons, dtype=np.float64),
                "tags": plain_tags,
            })
    return node_frames, out


def read_pbf_header(path: str) -> dict:
    """S2 — header/bbox probe (reference src/pbf_processor.cpp:762-785)."""
    for offset, hlen, dlen, btype in scan_blobs(path):
        if btype != "OSMHeader":
            continue
        with open(path, "rb") as f:
            f.seek(offset)
            block = _blob_payload(f.read(dlen))
        info: dict = {"features": []}
        for field, wire, val in _fields(block):
            if field == 1:    # HeaderBBox, nanodegrees
                bb = {}
                for f2, w2, v2 in _fields(val):
                    bb[f2] = _unzigzag(v2)
                info["bbox"] = [bb.get(1, 0) * 1e-9, bb.get(3, 0) * 1e-9,
                                bb.get(2, 0) * 1e-9, bb.get(4, 0) * 1e-9]
            elif field == 4:
                info["features"].append(val.decode())
        return info
    return {}


def read_pbf(spark: SparkSession, path: str,
             partitions: int | None = None) -> DataFrame:
    """Block-parallel PBF scan -> entities DataFrame (ENTITY_SCHEMA).

    Split nodes/ways/relations with ``.filter(F.col('etype') == ...)``
    (or use :func:`read_pbf_tables`).
    """
    blobs = [(o, h, d, t) for o, h, d, t in scan_blobs(path)
             if t == "OSMData"]
    n_part = partitions or min(
        len(blobs), spark.sparkContext.defaultParallelism * 2) or 1
    blob_df = spark.createDataFrame(
        [(o, d) for o, h, d, _ in blobs],
        "offset long, datasize long").repartition(n_part)

    cols = ["etype", "id", "lat", "lon", "tags", "refs", "members",
            "lats", "lons"]

    def parse(batches):
        with open(path, "rb") as f:
            for pdf in batches:
                node_frames, rows = [], []
                for off, size in zip(pdf["offset"], pdf["datasize"]):
                    f.seek(int(off))
                    block = _blob_payload(f.read(int(size)))
                    nf, rr = _parse_primitive_block(block)
                    node_frames.extend(nf)
                    rows.extend(rr)
                frames = []
                for nf in node_frames:
                    n = len(nf["id"])
                    frames.append(pd.DataFrame({
                        "etype": np.full(n, "node", dtype=object),
                        "id": nf["id"], "lat": nf["lat"], "lon": nf["lon"],
                        "tags": nf["tags"],
                        "refs": [None] * n, "members": [None] * n,
                        "lats": [None] * n, "lons": [None] * n}))
                if rows:
                    frames.append(pd.DataFrame(rows, columns=cols))
                if frames:
                    yield pd.concat(frames, ignore_index=True)

    return blob_df.mapInPandas(parse, schema=ENTITY_SCHEMA)


def read_pbf_tables(spark: SparkSession, path: str):
    """(nodes, ways, relations) DataFrames in the engine's fixture
    schemas (FIXTURES.md §2/§3)."""
    ents = read_pbf(spark, path)
    nodes = ents.filter(F.col("etype") == "node") \
        .select("id", "lat", "lon", "tags")
    # lats/lons carry LocationsOnWays inline coords (null for files
    # without that option); assemble_way_geoms takes the join-free fast
    # path for ways that have them
    ways = ents.filter(F.col("etype") == "way") \
        .select("id", "refs", "tags", "lats", "lons")
    relations = ents.filter(F.col("etype") == "relation") \
        .select("id", "members", "tags")
    return nodes, ways, relations
