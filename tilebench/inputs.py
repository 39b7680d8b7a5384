"""Seeded input tables for the benchmark workloads.

Every generator is a pure function of ``(seed, size)``: the same seed
writes byte-identical parquet. Tables are written with pyarrow (no
Spark), so the engine only ever sees finished input files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DOC_ID_SPACE = 3_000_000_000  # ids < ~3e9 keep geocode's hash in int64
LANGS = ["en", "de", "fr", "es", "ja"]

PAGES_SCHEMA = pa.schema([("doc_id", pa.int64()), ("url", pa.string()),
                          ("text", pa.string()), ("lang", pa.string())])
POLY_SCHEMA = pa.schema([("name", pa.string()),
                         ("rings", pa.list_(pa.list_(pa.float64())))])
TAGS = pa.map_(pa.string(), pa.string())
NODES_SCHEMA = pa.schema([("id", pa.int64()), ("lat", pa.float64()),
                          ("lon", pa.float64()), ("tags", TAGS)])
WAYS_SCHEMA = pa.schema([("id", pa.int64()), ("refs", pa.list_(pa.int64())),
                         ("tags", TAGS)])


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-0.parquet"))


def _doc_ids(rng, n: int) -> np.ndarray:
    """n distinct ids drawn uniformly from [0, DOC_ID_SPACE): about a
    fifth satisfy geocode's ``id % 5 == 0`` city-hotspot rule."""
    ids = np.unique(rng.integers(0, DOC_ID_SPACE, size=n + n // 100 + 16))
    return rng.permutation(ids)[:n]


def _texts(rng, lengths: np.ndarray) -> list:
    words = ["".join(rng.choice(list("abcdefghijklmnopqrstuvwxyz"),
                                size=int(k)))
             for k in rng.integers(2, 10, size=400)]
    corpus = " ".join(words[int(i)] for i in rng.integers(0, 400, size=1200))
    span = len(corpus) - int(lengths.max()) - 1
    offs = rng.integers(0, span, size=len(lengths))
    return [corpus[o:o + ln] for o, ln in zip(offs.tolist(), lengths.tolist())]


def pages_table(seed: int, n: int, length_mix) -> pa.Table:
    """Pages with text lengths drawn from ``length_mix``: a list of
    (weight, min_len, max_len) bands; the profile maps text length to
    min_zoom (>300 -> 0, >150 -> 6, else 10)."""
    rng = np.random.default_rng(seed)
    ids = _doc_ids(rng, n)
    w = np.array([b[0] for b in length_mix], dtype=float)
    band = rng.choice(len(length_mix), size=n, p=w / w.sum())
    lo = np.array([b[1] for b in length_mix])[band]
    hi = np.array([b[2] for b in length_mix])[band]
    lengths = rng.integers(lo, hi + 1)
    hosts = rng.integers(0, 1000, size=n)
    urls = [f"https://site{h}.example/p/{d}" for h, d in
            zip(hosts.tolist(), ids.tolist())]
    langs = [LANGS[i] for i in rng.integers(0, len(LANGS), size=n).tolist()]
    return pa.table({"doc_id": ids, "url": urls, "text": _texts(rng, lengths),
                     "lang": langs}, schema=PAGES_SCHEMA)


def _star_ring(rng, cx: float, cy: float, r: float, n: int) -> np.ndarray:
    """A simple (star-shaped, so non-self-intersecting) ring of n
    vertices with radius in [0.6r, r] around (cx, cy), open (first
    vertex not repeated), counter-clockwise."""
    ang = np.sort(rng.uniform(0, 2 * np.pi, size=n))
    k = rng.integers(3, 9, size=2)
    ph = rng.uniform(0, 2 * np.pi, size=2)
    rad = r * (0.8 + 0.12 * np.sin(k[0] * ang + ph[0])
               + 0.06 * np.sin(k[1] * ang + ph[1])
               + 0.02 * rng.uniform(-1, 1, size=n))
    return np.column_stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang)])


def world_polygons(seed: int, cols: int, rows: int, vertices: int) -> pa.Table:
    """A cols x rows grid of disjoint country polygons over the world
    (lon, lat rings): each sits inside its own grid cell, so a point
    matches at most one polygon."""
    rng = np.random.default_rng(seed + 1)
    dx, dy = 360.0 / cols, 150.0 / rows
    names, rings = [], []
    for j in range(rows):
        for i in range(cols):
            cx, cy = -180.0 + (i + 0.5) * dx, -65.0 + (j + 0.5) * dy
            ring = _star_ring(rng, cx, cy, 0.5 * min(dx, dy), vertices)
            names.append(f"country_{j:02d}_{i:02d}")
            rings.append([ring.reshape(-1).tolist()])
    return pa.table({"name": names, "rings": rings}, schema=POLY_SCHEMA)


def osm_tables(seed: int, roads: int, buildings: int, waters: int,
               water_vertices: int, lon0: float = 5.0, lat0: float = 45.0,
               width: float = 2.0, height: float = 1.0):
    """nodes + ways over a width x height degree box: random-walk roads
    of 10-60 nodes, small rectangular buildings and large star-shaped
    water polygons. Every ref resolves (no way is dropped).

    Road lengths, road step sizes and water radii are spread evenly over
    their ranges rather than drawn, so the amount of geometry is the
    same for every seed; the seed moves positions and shapes."""
    rng = np.random.default_rng(seed + 2)
    lons, lats, ways = [], [], []
    next_id = [1]

    def add_nodes(xy: np.ndarray) -> list:
        ids = list(range(next_id[0], next_id[0] + len(xy)))
        next_id[0] += len(xy)
        lons.append(xy[:, 0])
        lats.append(xy[:, 1])
        return ids

    wid = 1_000_000
    for k in range(roads):
        n = 10 + (k * 51) // roads
        heading = rng.uniform(0, 2 * np.pi) + np.cumsum(
            rng.normal(0, 0.25, size=n))
        step = 0.001 + 0.003 * ((k * 7) % roads) / roads
        start = (lon0 + rng.uniform(0, width), lat0 + rng.uniform(0, height))
        xy = np.column_stack([start[0] + np.cumsum(step * np.cos(heading)),
                              start[1] + np.cumsum(step * np.sin(heading))])
        cls = "primary" if k % 10 == 0 else "residential"
        ways.append((wid, add_nodes(xy), [("highway", cls),
                                          ("name", f"road{k}")]))
        wid += 1
    for k in range(buildings):
        x, y = lon0 + rng.uniform(0, width), lat0 + rng.uniform(0, height)
        w, h = rng.uniform(0.0001, 0.0005, size=2)
        ids = add_nodes(np.array([[x, y], [x + w, y], [x + w, y + h],
                                  [x, y + h]]))
        ways.append((wid, ids + ids[:1], [("building", "yes")]))
        wid += 1
    for k in range(waters):
        r = 0.06 + 0.04 * k / max(waters - 1, 1)
        cx = lon0 + rng.uniform(r, width - r)
        cy = lat0 + rng.uniform(r, height - r)
        ids = add_nodes(_star_ring(rng, cx, cy, r, water_vertices))
        ways.append((wid, ids + ids[:1], [("natural", "water"),
                                          ("name", f"lake{k}")]))
        wid += 1
    lon = np.concatenate(lons)
    lat = np.concatenate(lats)
    nodes = pa.table({"id": np.arange(1, len(lon) + 1, dtype=np.int64),
                      "lat": lat, "lon": lon,
                      "tags": [[] for _ in range(len(lon))]},
                     schema=NODES_SCHEMA)
    ways_t = pa.table({"id": [w[0] for w in ways], "refs": [w[1] for w in ways],
                       "tags": [w[2] for w in ways]}, schema=WAYS_SCHEMA)
    return nodes, ways_t


def write_inputs(spec: dict, seed: int, root: str) -> dict:
    """Write the workload's input tables under ``root``; returns
    {table name: directory}."""
    paths = {}
    if spec.get("pages"):
        p = spec["pages"]
        paths["pages"] = os.path.join(root, "pages")
        _write(pages_table(seed, p["n"], p["length_mix"]), paths["pages"])
    else:
        paths["pages"] = os.path.join(root, "pages")
        _write(PAGES_SCHEMA.empty_table(), paths["pages"])
    if spec.get("countries"):
        c = spec["countries"]
        paths["countries"] = os.path.join(root, "countries")
        _write(world_polygons(seed, c["cols"], c["rows"], c["vertices"]),
               paths["countries"])
    if spec.get("osm"):
        o = spec["osm"]
        nodes, ways = osm_tables(seed, o["roads"], o["buildings"],
                                 o["waters"], o["water_vertices"])
        paths["nodes"] = os.path.join(root, "nodes")
        paths["ways"] = os.path.join(root, "ways")
        _write(nodes, paths["nodes"])
        _write(ways, paths["ways"])
    return paths
