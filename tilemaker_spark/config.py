"""Engine + layer configuration — the "query skeleton".

Mirrors the reference's config.json schema (parsed at
/root/reference/src/shared_data.cpp:245-351; documented in
docs/CONFIGURATION.md:29-98) as plain dataclasses consumable from JSON.
The Lua script counterpart is `tilemaker_spark.operators.profile`.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field


@dataclass
class LayerConfig:
    """Per-layer physical parameters (src/shared_data.cpp:301-351)."""

    name: str
    minzoom: int = 0
    maxzoom: int = 14
    # simplification: applied below simplify_below, tolerance scales by
    # ratio per zoom step (src/tile_worker.cpp:432-439)
    simplify_below: int = 0
    simplify_level: float = 0.0
    simplify_ratio: float = 2.0
    simplify_algorithm: str = "douglas-peucker"  # or "visvalingam"
    # small-polygon filter (src/tile_worker.cpp:440-442)
    filter_below: int = 0
    filter_area: float = 0.5
    # per-tile feature cap (src/tile_worker.cpp:448)
    feature_limit: int = 0
    feature_limit_below: int = 0
    # combines (src/tile_worker.cpp:291-361)
    combine_points: bool = False
    combine_polygons_below: int = 0
    # draw order (src/shared_data.cpp:320-321)
    z_order_ascending: bool = True
    # write_to: merge this layer into another output layer
    # (src/shared_data.cpp:157-171, 310)
    write_to: str | None = None

    @classmethod
    def from_json(cls, name: str, d: dict) -> "LayerConfig":
        return cls(
            name=name,
            minzoom=d.get("minzoom", 0),
            maxzoom=d.get("maxzoom", 14),
            simplify_below=d.get("simplify_below", 0),
            simplify_level=d.get("simplify_level", 0.0),
            simplify_ratio=d.get("simplify_ratio", 2.0),
            simplify_algorithm=d.get("simplify_algorithm", "douglas-peucker"),
            filter_below=d.get("filter_below", 0),
            filter_area=d.get("filter_area", 0.5),
            feature_limit=d.get("feature_limit", 0),
            feature_limit_below=d.get("feature_limit_below", 0),
            combine_points=d.get("combine_points", False),
            combine_polygons_below=d.get("combine_polygons_below", 0),
            z_order_ascending=d.get("z_order_ascending", True),
            write_to=d.get("write_to"),
        )

    def simplify_tolerance_at(self, zoom: int) -> float:
        """Zoom-scaled simplify tolerance in projected degrees.

        Reference formula (src/tile_worker.cpp:432-439):
        level * pow(ratio, simplify_below - 1 - zoom) when
        zoom < simplify_below, else 0.
        """
        if self.simplify_below <= 0 or zoom >= self.simplify_below:
            return 0.0
        base = self.simplify_level
        return base * (self.simplify_ratio ** (self.simplify_below - 1 - zoom))

    def filter_area_at(self, zoom: int, base_degp2: float = 1e-9) -> float:
        """Zoom-scaled min polygon area (src/tile_worker.cpp:440-442):
        filter_area * base * 2^(filter_below - 1 - zoom) below filter_below."""
        if self.filter_below <= 0 or zoom >= self.filter_below:
            return 0.0
        return self.filter_area * base_degp2 * (2.0 ** (self.filter_below - 1 - zoom))


@dataclass
class EngineConfig:
    """Global settings (src/shared_data.cpp:245-299)."""

    basezoom: int = 14  # the index zoom (feature_tiles is built here)
    minzoom: int = 0
    maxzoom: int = 14
    include_ids: bool = False
    compress: str = "gzip"  # gzip | deflate | none
    mvt_version: int = 2
    high_resolution: bool = False  # 8192 extent vs 4096
    combine_below: int = 0
    bounding_box: list = field(default_factory=lambda: [-180.0, -85.06, 180.0, 85.06])
    name: str = "tilemaker_spark"
    layers: dict = field(default_factory=dict)  # name -> LayerConfig
    # Spark-specific scale knobs (no reference analog; replaces the
    # zoom-weighted batching at src/tilemaker.cpp:506-524)
    hot_tile_salt: int = 8  # salt fan-out for skewed (z,x,y) groups
    hot_tile_threshold: int = 5000  # features per tile before salting

    @property
    def extent(self) -> int:
        return 8192 if self.high_resolution else 4096

    @classmethod
    def from_json_file(cls, path: str) -> "EngineConfig":
        with open(path) as f:
            d = json.load(f)
        return cls.from_dict(d)

    @classmethod
    def from_dict(cls, d: dict) -> "EngineConfig":
        s = d.get("settings", {})
        cfg = cls(
            basezoom=s.get("basezoom", 14),
            minzoom=s.get("minzoom", 0),
            maxzoom=s.get("maxzoom", 14),
            include_ids=s.get("include_ids", False),
            compress={"true": "gzip", "false": "none"}.get(
                str(s.get("compress", "gzip")).lower(), str(s.get("compress", "gzip"))),
            mvt_version=s.get("mvt_version", 2),
            high_resolution=s.get("high_resolution", False),
            combine_below=s.get("combine_below", 0),
            bounding_box=s.get("bounding_box",
                               [-180.0, -85.06, 180.0, 85.06]),
            name=s.get("name", "tilemaker_spark"),
        )
        for lname, ld in d.get("layers", {}).items():
            cfg.layers[lname] = LayerConfig.from_json(lname, ld)
        return cfg

    def layer_order(self) -> list:
        """Output layer grouping honoring write_to
        (src/shared_data.cpp:157-171): layers writing into the same
        target are emitted as one MVT layer, in config order."""
        groups: dict = {}
        order: list = []
        for name, lc in self.layers.items():
            target = lc.write_to or name
            if target not in groups:
                groups[target] = []
                order.append(target)
            groups[target].append(name)
        return [(t, groups[t]) for t in order]


def default_config() -> EngineConfig:
    """The engine's default web-pages profile config (fixture §5 analog,
    mirroring resources/config-example.json)."""
    cfg = EngineConfig(basezoom=14, minzoom=0, maxzoom=14, compress="gzip")
    cfg.layers["pages"] = LayerConfig(
        name="pages", minzoom=0, maxzoom=14, combine_points=False,
        feature_limit=0)
    cfg.layers["roads"] = LayerConfig(
        name="roads", minzoom=4, maxzoom=14,
        simplify_below=14, simplify_level=0.0001, simplify_ratio=2.0)
    cfg.layers["buildings"] = LayerConfig(
        name="buildings", minzoom=9, maxzoom=14,
        filter_below=13, filter_area=0.5,
        combine_polygons_below=0)
    cfg.layers["water"] = LayerConfig(
        name="water", minzoom=0, maxzoom=14,
        simplify_below=12, simplify_level=0.0002,
        simplify_algorithm="visvalingam")
    cfg.layers["landcover"] = LayerConfig(
        name="landcover", minzoom=0, maxzoom=14,
        simplify_below=10, simplify_level=0.0002)
    cfg.layers["countries"] = LayerConfig(
        name="countries", minzoom=0, maxzoom=14)
    return cfg
