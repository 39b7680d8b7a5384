"""tilemaker_spark — a from-scratch PySpark-native vector-tile analytics engine.

Re-expresses the query/data-processing capabilities of the reference
(cldellow/tilemaker, C++14, see /root/reference) as an idiomatic Spark
DataFrame pipeline:

    pages(url, warc_ts, html, text, lang)
      -> geo-derive (deterministic lon/lat)          [Column exprs]
      -> features(layer, geom_type, geom, attrs)     [profile]
      -> feature_tiles(z, x, y, feature_id)          [cover-explode pUDF]
      -> per-tile clip/simplify/MVT assembly         [sorted mapInPandas + carry]
      -> tiles(z, x, y, tile:binary)                 [parquet/mbtiles/pmtiles]

Design notes:
  * All geometry math is numpy-vectorized inside Arrow pandas UDFs
    (no shapely in this environment; the reference's own algorithms --
    Sutherland-Hodgman clip, Douglas-Peucker / Visvalingam simplify,
    supercover Bresenham tile cover -- are reimplemented in numpy).
  * Everything that can be a Column expression is one (tile math,
    filters, tag predicates), so Catalyst pushes it into the scan.
  * Spatial joins are cell-id equi-joins + exact numpy predicates,
    replacing the reference's R-tree probes (src/shp_mem_tiles.cpp).
"""

__version__ = "0.1.0"

from tilemaker_spark import _zipguard
from tilemaker_spark.config import EngineConfig, LayerConfig  # noqa: F401

# every UDF worker unpickles an engine function, so importing the
# package is what installs the guard in the worker
_zipguard.install()
