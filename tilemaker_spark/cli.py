"""Command-line surface — parity with the reference's options parser
(/root/reference/src/options_parser.cpp:20-43; tilemaker --help), run
as ``python -m tilemaker_spark [options] [input] [output]``.

Every reference option is accepted. Storage/performance flags whose
mechanics SURVEY §4 maps onto Spark built-ins (--store, --fast,
--compact, --no-compress-nodes, --no-compress-ways,
--materialize-geometries, --shard-stores) are honored by their Spark
equivalents or accepted as no-ops with a note in --verbose mode:
parquet checkpoints + Tungsten replace the hand-rolled node/way stores,
so there is nothing to toggle.

Inputs: a directory holding documents.parquet (the web-pages table), a
.osm.pbf file, a .warc/.warc.gz crawl file (records become extracted-
text pages), or several (repeat --input). Output: .mbtiles, .pmtiles,
or a tile directory. --process takes a declarative-profile JSON (the
Lua analog, see operators.profile_compiler) applied to PBF entities.
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def build_parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser(
        prog="tilemaker_spark",
        description="Convert geo-tagged pages / OSM .pbf into vector "
                    "tiles (PySpark-native tilemaker)")
    ap.add_argument("input", nargs="*", default=[],
                    help="source: dir with documents.parquet, .osm.pbf, "
                         "or .warc[.gz] (positional, like the reference)")
    ap.add_argument("--input", dest="input_opt", action="append",
                    default=[], help="additional input (repeatable)")
    ap.add_argument("--table", default=None,
                    help="pages table resolved through the session "
                         "catalog (e.g. an Iceberg catalog.db.table); "
                         "alternative to a documents.parquet input dir")
    ap.add_argument("--snapshot-id", type=int, default=None,
                    help="Iceberg time-travel: read --table at this "
                         "snapshot id")
    ap.add_argument("--output", default=None,
                    help="target directory or .mbtiles/.pmtiles file")
    ap.add_argument("--bbox", default=None,
                    help="minlon,minlat,maxlon,maxlat")
    ap.add_argument("--merge", action="store_true",
                    help="merge with existing .mbtiles (overwrites "
                         "otherwise)")
    ap.add_argument("--config", default="config.json",
                    help="config JSON file (EngineConfig schema)")
    ap.add_argument("--process", default=None,
                    help="declarative profile JSON (tag-processing "
                         "rules; the Lua-script analog)")
    ap.add_argument("--quiet", action="store_true")
    ap.add_argument("--verbose", action="store_true")
    ap.add_argument("--skip-integrity", action="store_true",
                    help="accepted for parity; way/node resolution "
                         "already drops dangling refs")
    ap.add_argument("--log-tile-timings", action="store_true",
                    help="include per-stage lineage timings in output")
    # performance options (reference parity; Spark-mapped)
    ap.add_argument("--store", default="/tmp/tilemaker_spark_cli",
                    help="checkpoint/workdir (the reference's on-disk "
                         "store analog; resumable)")
    ap.add_argument("--threads", type=int, default=0,
                    help="executor threads (0 = all cores)")
    ap.add_argument("--fast", action="store_true")
    ap.add_argument("--compact", action="store_true")
    ap.add_argument("--no-compress-nodes", action="store_true")
    ap.add_argument("--no-compress-ways", action="store_true")
    ap.add_argument("--materialize-geometries", action="store_true")
    ap.add_argument("--shard-stores", action="store_true")
    ap.add_argument("--force", action="store_true",
                    help="ignore existing checkpoints in --store")
    return ap


_NOOP_FLAGS = ("fast", "compact", "no_compress_nodes", "no_compress_ways",
               "materialize_geometries", "shard_stores")


def main(argv=None, spark=None) -> dict:
    args = build_parser().parse_args(argv)
    inputs = list(args.input) + list(args.input_opt)
    if not inputs and not args.table:
        build_parser().error("at least one input (or --table) is required")
    if inputs and args.table:
        # file inputs win the `pages` slot, so a --table here would be
        # silently dropped — refuse rather than tile the wrong source
        build_parser().error("--table cannot be combined with file "
                             "inputs; run them as separate invocations")

    def say(msg):
        if not args.quiet:
            print(msg, file=sys.stderr)

    if args.verbose:
        for f in _NOOP_FLAGS:
            if getattr(args, f):
                say(f"--{f.replace('_', '-')}: mapped to Spark-native "
                    "storage (parquet checkpoints / Tungsten); no-op here")

    from tilemaker_spark.config import EngineConfig, default_config
    if os.path.exists(args.config):
        cfg = EngineConfig.from_json_file(args.config)
        if not cfg.layers:
            cfg.layers = default_config().layers
    else:
        cfg = default_config()
    if args.bbox:
        cfg.bounding_box = [float(v) for v in args.bbox.split(",")]

    if spark is None:
        from tilemaker_spark.session import get_spark
        master = f"local[{args.threads}]" if args.threads > 0 else None
        spark = get_spark("tilemaker-cli", master=master)
        if args.quiet or not args.verbose:
            spark.sparkContext.setLogLevel("ERROR")

    from tilemaker_spark import sinks
    from tilemaker_spark.fixtures import make_pages, pages_from_documents
    from tilemaker_spark.plans.pipeline import TilePipeline

    pages = None
    nodes = ways = relations = extra = None
    for inp in inputs:
        if inp.endswith(".pbf"):
            from tilemaker_spark import sources_pbf
            nodes, ways, relations = sources_pbf.read_pbf_tables(spark, inp)
            if args.process:
                with open(args.process) as f:
                    rules = json.load(f)
                from tilemaker_spark.operators.profile import (
                    assemble_way_geoms)
                from tilemaker_spark.operators.profile_compiler import (
                    compile_node_profile, compile_way_profile)
                from pyspark.sql import functions as F
                way_feats = compile_way_profile(rules)(
                    assemble_way_geoms(nodes, ways))
                pieces = [way_feats]
                tagged = nodes.filter(F.size("tags") > 0)
                if any(r.get("geometry", "line") == "point" for r in rules):
                    pieces.append(compile_node_profile(rules)(tagged))
                extra = pieces[0]
                for p in pieces[1:]:
                    extra = extra.unionByName(p, allowMissingColumns=True)
                # the compiled profile REPLACES the built-in way profile
                nodes = ways = relations = None
        elif inp.endswith(".warc") or inp.endswith(".warc.gz"):
            # Common Crawl ingest: WARC records -> extracted-text pages
            from tilemaker_spark.sources import pages_from_warc
            pages = pages_from_warc(spark, inp)
        elif os.path.isdir(inp) and os.path.exists(
                os.path.join(inp, "_spatial_layout.json")):
            # write_pages_spatial layout: --bbox prunes the SCAN to the
            # intersecting (cx, cy) partitions before any IO
            from tilemaker_spark.sources import read_pages_spatial
            bbox = (tuple(float(v) for v in args.bbox.split(","))
                    if args.bbox else None)
            pages = read_pages_spatial(spark, inp, bbox=bbox) \
                .drop("cx", "cy")
        elif os.path.isdir(inp) and os.path.exists(
                os.path.join(inp, "documents.parquet")):
            pages = pages_from_documents(spark, inp)
        else:
            build_parser().error(f"unrecognized input: {inp}")
    if pages is None and args.table:
        from tilemaker_spark.sources import read_pages_table
        pages = read_pages_table(spark, table=args.table,
                                 snapshot_id=args.snapshot_id)
    if pages is None:
        pages = make_pages(spark, 0)

    pipe = TilePipeline(spark, cfg, workdir=args.store)
    tiles = pipe.run(pages, nodes=nodes, ways=ways, relations=relations,
                     extra_features=extra, force=args.force)

    md = sinks.tileset_metadata(cfg, {})
    out = args.output
    n = None
    if out:
        if out.endswith(".mbtiles"):
            if args.merge and os.path.exists(out):
                old = sinks.read_mbtiles(spark, out)
                merged = sinks.merge_tilesets(old, tiles,
                                              compress=cfg.compress)
                tmp = out + ".merge.tmp"
                n = sinks.write_mbtiles(merged, tmp, md)
                os.replace(tmp, out)
            else:
                n = sinks.write_mbtiles(tiles, out, md)
        elif out.endswith(".pmtiles"):
            n = sinks.write_pmtiles(tiles, out, md)
        else:
            n = sinks.write_tile_directory(tiles, out, md)
        say(f"wrote {n} tiles -> {out}")

    metrics = dict(pipe.metrics)
    if not args.log_tile_timings:
        metrics.pop("stages", None)
    metrics["output"] = out
    metrics["written"] = n
    if not args.quiet:
        print(json.dumps(metrics))
    return metrics


if __name__ == "__main__":
    main()
