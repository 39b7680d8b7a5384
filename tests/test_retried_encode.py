"""A retried encode task gives the same tiles: a task that fails once
after the encoder ran is rerun whole by Spark (``local[n,2]`` allows
one retry), and the tiles equal a clean run's byte for byte, for the
plain and the salted assembly."""

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SCRIPT = """
import os
import sys
sys.path.insert(0, {root!r})
from pyspark.sql import functions as F
from tilemaker_spark.config import EngineConfig, LayerConfig
from tilemaker_spark.functions.coords import lat2latp
from tilemaker_spark.operators.tile_assembly import (
    assemble_tiles, assemble_tiles_salted)
from tilemaker_spark.operators.tiling import cover_explode
from tilemaker_spark.session import get_spark

spark = get_spark("retried_encode", master="local[4,2]",
                  shuffle_partitions=4)
spark.sparkContext.setLogLevel("OFF")
cfg = EngineConfig(basezoom=10, minzoom=10, maxzoom=10, compress="gzip",
                   hot_tile_salt=4, hot_tile_threshold=50)
cfg.layers["pts"] = LayerConfig(name="pts")
# 300 points in one hot z10 tile, 200 spread over cold ones
feats = spark.range(500).select(
    F.col("id").alias("feature_id"), F.lit("pts").alias("layer"),
    F.lit(1).alias("geom_type"), F.lit(0).alias("min_zoom"),
    (F.col("id") % 7).cast("int").alias("z_order"),
    F.map_from_arrays(F.array(F.lit("k")),
                      F.array((F.col("id") % 3).cast("string")))
    .alias("attrs"),
    F.array(F.array(
        F.when(F.col("id") < 300, F.lit(10.0) + F.col("id") * 0.0001)
        .otherwise(F.lit(-50.0) + F.col("id") * 0.3),
        F.lit(lat2latp(45.0)) + F.col("id") * 0.0001)).alias("geom"))
feature_tiles = cover_explode(feats, 10)


def fail_once(marker):
    # the first task to create the marker consumes the encoder's whole
    # output, then raises; its retry (and every other task) passes
    def fn(batches):
        out = list(batches)
        try:
            os.close(os.open(marker, os.O_CREAT | os.O_EXCL))
        except FileExistsError:
            yield from out
            return
        raise RuntimeError("injected encode-task failure")
    return fn


def tiles(df):
    return sorted((r.z, r.x, r.y, bytes(r.tile)) for r in df.collect())


for name, assemble in (("plain", assemble_tiles),
                       ("salted", assemble_tiles_salted)):
    clean = assemble(feature_tiles, cfg)
    marker = os.path.join({tmp!r}, name)
    retried = clean.mapInPandas(fail_once(marker), schema=clean.schema)
    a, b = tiles(clean), tiles(retried)
    assert os.path.exists(marker), name
    assert len(a) > 10 and a == b, name
    print(name, len(a), "tiles equal")
"""


def test_retried_encode_task_gives_the_same_tiles(tmp_path):
    env = {**os.environ, "SPARK_DRIVER_MEM": "1g"}
    run = subprocess.run(
        [sys.executable, "-c", SCRIPT.format(root=ROOT, tmp=str(tmp_path))],
        cwd=str(tmp_path), env=env, capture_output=True, text=True,
        timeout=600)
    assert run.returncode == 0, run.stderr[-3000:]
    assert "plain" in run.stdout and "salted" in run.stdout, run.stdout
