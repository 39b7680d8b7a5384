"""Output checks, run outside the timed region.

* ``tileset_digest``: an order-independent digest of a committed tiles
  directory (count of tiles + Σ blake2b-64(z, x, y, tile) mod 2^64),
  plus Σ n_bytes. Identical tiles give identical digests whatever order
  Spark wrote them in.
* ``decode_check``: every tile must gunzip, ``mvt.decode_tile`` and
  hold exactly its ``n_features``; ``n_bytes`` must equal the blob size
  and (x, y) must lie inside the zoom's grid. The same pass counts tiles
  and features per zoom.
* ``pages_oracle``: for the pages profile every page is one point
  feature at each zoom >= its min_zoom, so Σ n_features and the number
  of distinct (x, y) per zoom follow from the pages table alone. DuckDB
  computes them with the engine's public ANSI-SQL geocode twins.
"""

from __future__ import annotations

import glob
import hashlib
import os
import struct

import pandas as pd
import pyarrow.compute as pc
import pyarrow.parquet as pq


def tileset_digest(tiles_dir: str) -> dict:
    """Tile count, Σ n_bytes and the order-independent digest of a
    committed tiles directory, read with pyarrow in this process."""
    t = pq.read_table(tiles_dir, columns=["z", "x", "y", "tile", "n_bytes"])
    h = 0
    for z, x, y, blob in zip(*(t.column(c).to_pylist()
                               for c in ("z", "x", "y", "tile"))):
        key = struct.pack("<iqq", z, x, y) + blob
        h += int.from_bytes(hashlib.blake2b(key, digest_size=8).digest(),
                            "little")
    n = t.num_rows
    return {"tiles": n, "bytes": int(pc.sum(t.column("n_bytes")).as_py() or 0),
            "digest": f"{n}-{h % (1 << 64):016x}"}


def decode_check(spark, tiles_dir: str, compress: str) -> tuple:
    """Decode every tile in Spark's Python workers. Returns (bad tiles,
    {z: (distinct tiles, Σ n_features)}); (z, x, y) keys are unique in a
    committed tileset, so the tile count per zoom is a row count."""
    from pyspark.sql import functions as F

    def check(batches):
        import gzip
        import zlib

        from tilemaker_spark.functions import mvt

        for pdf in batches:
            bad = []
            for z, x, y, blob, nf, nb in zip(pdf["z"], pdf["x"], pdf["y"],
                                             pdf["tile"], pdf["n_features"],
                                             pdf["n_bytes"]):
                blob = bytes(blob)
                try:
                    raw = (gzip.decompress(blob) if compress == "gzip" else
                           zlib.decompress(blob) if compress == "deflate"
                           else blob)
                    layers = mvt.decode_tile(raw)
                    n = sum(len(v["features"]) for v in layers.values())
                except Exception:  # any decode failure is a bad tile
                    n = -1
                bad.append(int(n != nf or nb != len(blob)
                               or not (0 <= x < (1 << z)
                                       and 0 <= y < (1 << z))))
            yield pd.DataFrame({"z": pdf["z"], "bad": bad,
                                "n_features": pdf["n_features"]})

    rows = (spark.read.parquet(tiles_dir)
            .mapInPandas(check, schema="z int, bad int, n_features int")
            .groupBy("z")
            .agg(F.count(F.lit(1)).alias("t"), F.sum("bad").alias("bad"),
                 F.sum("n_features").alias("f")).collect())
    bad = sum(int(r["bad"]) for r in rows)
    return bad, {int(r["z"]): (int(r["t"]), int(r["f"])) for r in rows}


def pages_oracle(pages_dir: str, minzoom: int, maxzoom: int) -> dict:
    """{z: (distinct tiles, features)} the pages profile must produce."""
    import duckdb

    from tilemaker_spark.operators.geocode import (sql_lat, sql_lon,
                                                   sql_tile_x, sql_tile_y)

    files = sorted(glob.glob(os.path.join(pages_dir, "*.parquet")))
    con = duckdb.connect()
    try:
        con.execute(
            "CREATE TEMP TABLE p AS SELECT "
            f"{sql_lon('doc_id')} AS lon, {sql_lat('doc_id')} AS lat, "
            "CASE WHEN length(text) > 300 THEN 0 "
            "WHEN length(text) > 150 THEN 6 ELSE 10 END AS mz "
            f"FROM read_parquet({files!r})")
        out = {}
        for z in range(minzoom, maxzoom + 1):
            t, f = con.execute(
                f"SELECT count(DISTINCT ({sql_tile_x('lon', z)}, "
                f"{sql_tile_y('lat', z)})), count(*) FROM p "
                f"WHERE mz <= {z}").fetchone()
            if f:
                out[z] = (int(t), int(f))
        return out
    finally:
        con.close()
