"""S9 tile HTTP server over MBTiles and PMTiles exports."""

import gzip
import json
import urllib.request

import pytest
from pyspark.sql import functions as F

from tilemaker_spark.server import serve_tiles
from tilemaker_spark.sinks import write_mbtiles, write_pmtiles


@pytest.fixture(scope="module")
def tiles_df(spark):
    rows = [
        (0, 0, 0, gzip.compress(b"tile-z0", mtime=0)),
        (1, 0, 0, b"tile-z1-raw"),
        (1, 1, 1, gzip.compress(b"tile-z1-11", mtime=0)),
    ]
    return spark.createDataFrame(rows, "z int, x long, y long, tile binary")


def _get(url):
    req = urllib.request.Request(url)
    with urllib.request.urlopen(req) as r:
        return r.status, dict(r.headers), r.read()


@pytest.mark.parametrize("fmt", ["mbtiles", "pmtiles"])
def test_serve_tiles(tiles_df, tmp_path_factory, fmt):
    d = tmp_path_factory.mktemp("srv")
    path = str(d / f"t.{fmt}")
    if fmt == "mbtiles":
        write_mbtiles(tiles_df, path, metadata={"name": "t", "format": "pbf"})
    else:
        write_pmtiles(tiles_df, path, metadata={"name": "t", "format": "pbf"})
    srv = serve_tiles(path)
    try:
        base = f"http://127.0.0.1:{srv.server_port}"
        st, _, body = _get(f"{base}/health")
        assert st == 200 and body == b"ok"

        # gzip tile served with Content-Encoding (urllib auto-decodes
        # nothing; raw bytes compare against the stored blob)
        st, hdr, body = _get(f"{base}/0/0/0.pbf")
        assert st == 200
        assert hdr.get("Content-Encoding") == "gzip"
        assert gzip.decompress(body) == b"tile-z0"

        st, hdr, body = _get(f"{base}/1/0/0.pbf")
        assert st == 200 and body == b"tile-z1-raw"
        assert "Content-Encoding" not in hdr

        st, _, body = _get(f"{base}/1/1/1.pbf")
        assert gzip.decompress(body) == b"tile-z1-11"

        st, _, body = _get(f"{base}/metadata.json")
        meta = json.loads(body)
        assert meta.get("name") == "t"

        # absent, off-grid (x or y >= 2^z) and out-of-range zooms
        for zxy in ("5/0/0", "1/2/0", "1/0/2", "32/0/0", "-1/0/0"):
            with pytest.raises(urllib.error.HTTPError) as e:
                _get(f"{base}/{zxy}.pbf")
            assert e.value.code == 404, zxy
    finally:
        srv.shutdown()


def test_serve_pmtiles_leaf_directories(spark, tmp_path, monkeypatch):
    """Tiles whose entries spilled from the root into leaf directories
    (run_length == 0 pointers) are served like root ones."""
    import struct

    from tilemaker_spark import sinks

    monkeypatch.setattr(sinks, "_PM_MAX_ROOT_BYTES", 64)
    rows = [(8, x, y, f"t{x}-{y}".encode())
            for x in range(20) for y in range(20)]
    path = str(tmp_path / "leafy.pmtiles")
    write_pmtiles(spark.createDataFrame(
        rows, "z int, x long, y long, tile binary"), path)
    with open(path, "rb") as f:
        leaf_len = struct.unpack_from("<Q", f.read(127), 48)[0]
    assert leaf_len > 0
    srv = serve_tiles(path)
    try:
        base = f"http://127.0.0.1:{srv.server_port}"
        for z, x, y, tile in rows:
            assert _get(f"{base}/{z}/{x}/{y}.pbf")[2] == tile
    finally:
        srv.shutdown()


def test_pmtiles_backend_holds_no_archive_buffer(spark, tmp_path):
    """Opening a PMTiles archive for serving reads its directories, not
    its data: over 8 MB of incompressible tiles the backend's Python
    peak stays below a quarter of the data, and a lookup still returns
    each tile's bytes."""
    import tracemalloc

    import numpy as np

    from tilemaker_spark.server import _PmtilesBackend

    rng = np.random.default_rng(7)
    rows = [(12, i % 64, i // 64, rng.bytes(4096)) for i in range(2048)]
    path = str(tmp_path / "big.pmtiles")
    write_pmtiles(spark.createDataFrame(
        rows, "z int, x long, y long, tile binary"), path)
    total_data = 2048 * 4096
    tracemalloc.start()
    backend = _PmtilesBackend(path)
    _, peak = tracemalloc.get_traced_memory()
    tracemalloc.stop()
    assert peak < total_data // 4, f"backend buffered {peak} bytes"
    for z, x, y, tile in rows[::97]:
        assert backend.tile(z, x, y) == tile
    assert backend.tile(12, 63, 63) is None
