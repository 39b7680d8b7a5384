"""Incremental tileset maintenance via Structured Streaming.

The reference's only incremental mode is ``--merge`` (re-run over a new
extract, union features into the existing tileset —
src/tile_worker.cpp:405-417, 486-490; S8/J9 in SURVEY.md). This module
is that mode made continuous: a Structured Streaming file source
watches a directory for new pages parquet, and each micro-batch runs
the batch pipeline (``TilePipeline``, force-run in ``{workdir}/_batch``:
every gate, the bbox prune and the hot-tile salting apply) over ONLY the
new rows, then merges the resulting tiles into the persistent tileset
with the same MVT layer-concat merge the salted assembly uses.

State model: the tileset lives in versioned parquet dirs
``{workdir}/tiles_v{n}`` with a ``CURRENT`` pointer file updated
atomically (rename) after each batch — a reader always sees a complete
snapshot, and the stream's checkpointLocation guarantees each input
file is processed exactly once across restarts (the sandbox analog of
Iceberg snapshot commits).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession

PAGES_SCHEMA = ("doc_id long, url string, warc_ts timestamp, html binary, "
                "text string, lang string")


def current_tiles_path(workdir: str) -> str | None:
    ptr = os.path.join(workdir, "CURRENT")
    if not os.path.exists(ptr):
        return None
    with open(ptr) as f:
        return json.load(f)["path"]


def read_current_tiles(spark: SparkSession, workdir: str) -> DataFrame | None:
    path = current_tiles_path(workdir)
    if path is None or not os.path.exists(os.path.join(path, "_SUCCESS")):
        return None
    return spark.read.parquet(path)


def _commit_pointer(workdir: str, path: str, batch_id: int, n_tiles: int):
    ptr = os.path.join(workdir, "CURRENT")
    tmp = ptr + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"path": path, "batch_id": batch_id, "tiles": n_tiles}, f)
    os.replace(tmp, ptr)  # atomic snapshot commit


def start_incremental(spark: SparkSession, pages_dir: str, workdir: str,
                      config=None, available_now: bool = True):
    """Start the incremental tile maintenance stream.

    pages_dir: directory where new pages parquet files appear.
    workdir:   tileset state dir (versions + CURRENT + checkpoint).
    available_now=True processes all pending files then stops (the
    testable trigger); False runs continuously per micro-batch.
    Returns the StreamingQuery.
    """
    from tilemaker_spark import sinks
    from tilemaker_spark.config import default_config
    from tilemaker_spark.plans.pipeline import TilePipeline

    cfg = config or default_config()
    os.makedirs(workdir, exist_ok=True)
    batch_pipe = TilePipeline(spark, cfg,
                              workdir=os.path.join(workdir, "_batch"))

    stream = (spark.readStream.schema(PAGES_SCHEMA)
              .option("maxFilesPerTrigger", "16")
              .parquet(pages_dir))

    def process_batch(batch_df: DataFrame, batch_id: int):
        if batch_df.isEmpty():
            return
        new_tiles = batch_pipe.run(batch_df, force=True)
        old = read_current_tiles(spark, workdir)
        if old is not None:
            merged = sinks.merge_tilesets(
                old.select("z", "x", "y", "tile"),
                new_tiles.select("z", "x", "y", "tile"),
                compress=cfg.compress)
        else:
            merged = new_tiles.select("z", "x", "y", "tile")
        out = os.path.join(workdir, f"tiles_v{batch_id}")
        merged.write.mode("overwrite").parquet(out)
        n = spark.read.parquet(out).count()
        _commit_pointer(workdir, out, batch_id, n)

    writer = (stream.writeStream
              .foreachBatch(process_batch)
              .option("checkpointLocation",
                      os.path.join(workdir, "_checkpoint")))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
