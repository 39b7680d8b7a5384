"""Geometry measurement operators: centroid, pole-of-inaccessibility,
spherical area, haversine length (A8/A9, G13/G14).

Reference: Area()/Length() spherical strategies R=6371000
(src/osm_lua_processing.cpp:483-531); Centroid(algorithm)
(src/osm_lua_processing.cpp:804-869, include/polylabel.h).

Vectorized Arrow pandas UDFs over the rings column; one UDF call per
batch, numpy per row (rings are ragged). Input rings are flat
[x,y,x,y,...] arrays in (lon, lat).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from tilemaker_spark.functions import geomnp as G


def _rings_np(parts):
    return [np.asarray(p, dtype=np.float64).reshape(-1, 2) for p in parts]


def geometry_measures(polygons: DataFrame,
                      rings_col: str = "rings") -> DataFrame:
    """Add centroid_lon/centroid_lat (planar shoelace centroid, the
    reference's default Centroid algorithm), area_m2 (spherical excess)
    and perimeter_m (haversine over every ring) columns."""

    @pandas_udf("struct<centroid_lon:double, centroid_lat:double, "
                "area_m2:double, perimeter_m:double>")
    def measures(rings: pd.Series) -> pd.DataFrame:
        rows = []
        for parts in rings:
            parts_np = _rings_np(parts)
            cx, cy = G.centroid_xy(parts_np, G.GEOM_POLYGON)
            area = G.polygon_area_spherical_m2(parts_np)
            perim = sum(
                G.haversine_length_m(np.vstack([r, r[:1]]))
                for r in parts_np)
            rows.append((cx, cy, area, perim))
        return pd.DataFrame(rows, columns=["centroid_lon", "centroid_lat",
                                           "area_m2", "perimeter_m"])

    return polygons.withColumn("_m", measures(F.col(rings_col))) \
        .select("*", "_m.centroid_lon", "_m.centroid_lat", "_m.area_m2",
                "_m.perimeter_m").drop("_m")


def polylabel(polygons: DataFrame, rings_col: str = "rings",
              precision_frac: float = 1e-3) -> DataFrame:
    """Pole of inaccessibility per polygon (LayerAsCentroid 'polylabel'
    algorithm, include/polylabel.h) — grid-refinement search."""

    @pandas_udf("struct<label_lon:double, label_lat:double>")
    def pl(rings: pd.Series) -> pd.DataFrame:
        rows = []
        for parts in rings:
            x, y = G.polylabel_xy(_rings_np(parts), precision_frac)
            rows.append((x, y))
        return pd.DataFrame(rows, columns=["label_lon", "label_lat"])

    return polygons.withColumn("_p", pl(F.col(rings_col))) \
        .select("*", "_p.label_lon", "_p.label_lat").drop("_p")
