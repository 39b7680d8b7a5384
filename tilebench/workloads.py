"""The benchmark's workloads and their input sizes (BENCHMARK.json
records why each one was chosen).

Sizes are scaled so that one invocation (session start, inputs, a cold
run, two measured runs and the output check) stays near 45 s on a
4-core host: the engine's fixed cost per invocation (session start and
the cold first run) is 25-30 s whatever the input size.

``hot_tile_threshold`` overrides ``default_config()``'s salting
threshold, scaled with the input (5000 features per tile at the 50k
pages the pages workload was first sized for), so the scaled-down input
keeps its salted hot tiles.
"""

from __future__ import annotations

# text-length bands (weight, min_len, max_len): the pages profile maps
# length > 300 -> min_zoom 0, > 150 -> 6, else 10
CRAWL_TEXT = [(80, 301, 1500), (15, 151, 300), (5, 40, 150)]

WORKLOADS = {
    # every page reaches z0: big salted low-zoom tiles, plus the spatial join
    "pages_world": {
        "pages": {"n": 2_500, "length_mix": CRAWL_TEXT},
        "hot_tile_threshold": 250,
        "countries": {"cols": 30, "rows": 20, "vertices": 400},
    },
    # OSM ways only: way-node join, cover/clip descent, clip and simplify
    "osm_geom": {
        "osm": {"roads": 40, "buildings": 200, "waters": 2,
                "water_vertices": 300},
    },
}

