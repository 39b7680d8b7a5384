"""S9 — tile HTTP server: serve z/x/y MVT tiles from an exported
tileset (MBTiles or PMTiles archive).

Reference analog: the built-in demo server (`tilemaker-server`,
/root/reference/server/server.cpp) that serves `/{z}/{x}/{y}.pbf` plus
a metadata endpoint from a generated .mbtiles. This is an EXPORT-side
convenience, not a distributed component: the engine's parallel output
is the tiles DataFrame/parquet; a single stdlib ThreadingHTTPServer in
front of the single-file archive matches the reference's role (local
preview), with zero extra dependencies. A PMTiles archive is served
from its directory's entry columns and one pread per tile.

Routes:
    /{z}/{x}/{y}.pbf   tile bytes (Content-Encoding: gzip when the
                       stored tile is gzip-compressed)
    /metadata.json     the tileset metadata (MBTiles metadata table /
                       PMTiles JSON metadata)
    /health            200 "ok"
"""

from __future__ import annotations

import json
import os
import sqlite3
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import numpy as np

from tilemaker_spark.sinks import pm_read_entries, zxy_to_tileid


class _MbtilesBackend:
    def __init__(self, path: str):
        self.path = path
        self._local = threading.local()

    def _con(self):
        con = getattr(self._local, "con", None)
        if con is None:
            con = sqlite3.connect(f"file:{self.path}?mode=ro", uri=True)
            self._local.con = con
        return con

    def tile(self, z: int, x: int, y: int) -> bytes | None:
        flipped = (1 << z) - 1 - y  # stored TMS, served XYZ
        row = self._con().execute(
            "SELECT tile_data FROM tiles WHERE zoom_level=? AND "
            "tile_column=? AND tile_row=?", (z, x, flipped)).fetchone()
        return bytes(row[0]) if row else None

    def metadata(self) -> dict:
        rows = self._con().execute(
            "SELECT name, value FROM metadata").fetchall()
        return {k: v for k, v in rows}


class _PmtilesBackend:
    """Serves a PMTiles v3 archive written by sinks.write_pmtiles, root
    and leaf directories alike: a lookup is a binary search of the tile
    ids, a check that the tile is inside its entry's run, and a pread."""

    def __init__(self, path: str):
        self.path = path
        with open(path, "rb") as f:
            (self.tid, self.off, self.ln, self.rl), self.data_off, \
                self.meta = pm_read_entries(f)

    def tile(self, z: int, x: int, y: int) -> bytes | None:
        tid = int(zxy_to_tileid(z, x, y))
        i = int(np.searchsorted(self.tid, tid, side="right")) - 1
        if i < 0 or tid >= self.tid[i] + self.rl[i]:
            return None
        with open(self.path, "rb") as f:
            return os.pread(f.fileno(), int(self.ln[i]),
                            self.data_off + int(self.off[i]))

    def metadata(self) -> dict:
        return self.meta


def _make_handler(backend):
    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *a):  # quiet
            pass

        def do_GET(self):
            path = self.path.split("?", 1)[0]
            if path == "/health":
                body = b"ok"
                self.send_response(200)
                self.send_header("Content-Type", "text/plain")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)
                return
            if path == "/metadata.json":
                body = json.dumps(backend.metadata()).encode()
                self.send_response(200)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)
                return
            parts = path.strip("/").split("/")
            if len(parts) == 3 and parts[2].endswith(".pbf"):
                try:
                    z = int(parts[0])
                    x = int(parts[1])
                    y = int(parts[2][:-4])
                except ValueError:
                    self.send_error(400)
                    return
                # tile ids are 64-bit: z <= 31, and x, y on the 2^z grid
                if not (0 <= z <= 31 and 0 <= x < 1 << z and 0 <= y < 1 << z):
                    self.send_error(404)
                    return
                tile = backend.tile(z, x, y)
                if tile is None:
                    self.send_error(404)
                    return
                self.send_response(200)
                self.send_header("Content-Type",
                                 "application/vnd.mapbox-vector-tile")
                if tile[:2] == b"\x1f\x8b":
                    self.send_header("Content-Encoding", "gzip")
                self.send_header("Content-Length", str(len(tile)))
                self.end_headers()
                self.wfile.write(tile)
                return
            self.send_error(404)

    return Handler


def serve_tiles(path: str, port: int = 0, host: str = "127.0.0.1"):
    """Start a (threaded, daemonized) tile server over an .mbtiles or
    .pmtiles archive. Returns the running HTTPServer — `.server_port`
    for the bound port, `.shutdown()` to stop."""
    backend = (_PmtilesBackend(path) if path.endswith(".pmtiles")
               else _MbtilesBackend(path))
    srv = ThreadingHTTPServer((host, port), _make_handler(backend))
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    return srv
