"""Engine configuration.

Mirrors the reference ``Config`` dataclass (osm_waterway_extractor.py:100-237,
config.yaml) plus graft-specific knobs (tiling resolutions, checkpointing,
skew handling). Explicit and serializable: the SHA-256 of the per-stage
parameter subset keys checkpoint paths, reproducing the reference's
step-parameter-hash cache invalidation (osm_waterway_extractor.py:239-334,
3038-3055).
"""

from __future__ import annotations

import dataclasses
import hashlib
import json
from dataclasses import dataclass, field
from typing import Optional


@dataclass(frozen=True)
class EngineConfig:
    # processing (reference config.yaml:3-48)
    snap_tolerance_m: float = 6.0
    min_fragment_length_m: float = 50.0
    coordinate_precision: int = 5
    waterway_types: tuple[str, ...] = ("river", "canal")
    filter_waterway_types: bool = True  # reference test path bypasses the filter
    enable_geometry_simplification: bool = True
    simplification_tolerance_m: float = 5.0
    enable_intersection_detection: bool = True

    # clustering (config.yaml:50-72)
    max_displacement_multiplier: float = 3.0
    warning_displacement_multiplier: float = 2.0
    max_cluster_size_warning: int = 10

    # ids (config.yaml:74-103)
    hash_length: int = 8

    # graft: tiling (SURVEY.md F14/A10) — H3-calibrated resolutions
    tile_resolutions: tuple[int, ...] = (7, 8, 9)

    # graft: scale knobs
    # J5 skew cap: cells with more covering segments than this re-split to
    # child cells (8× finer per axis), bounding the quadratic per-cell
    # candidate fan-out of the intersection self-join. Output-invariant —
    # deliberately NOT part of any step-param hash.
    intersect_cell_cap: int = 512

    # QA sampling (reference config.yaml:145): edges re-measured with the
    # full-precision geodesic kernel post-build; 0 disables
    distance_validation_samples: int = 1000

    # QA thresholds (reference config.yaml:152-162 + Config :140-143; the
    # reference declares them but never evaluates them — this engine enforces
    # them post-build, operators.qa.enforce_qa_thresholds)
    max_unsnapped_near_miss_pct: float = 0.1  # % of nodes, 0..100
    min_width_parse_success_rate: float = 0.7  # fraction, 0..1
    max_crossing_edges_pct: float = 1.0  # % of edges, 0..100

    # graft: checkpoint/resume (SURVEY.md §2.8, S9)
    checkpoint_dir: Optional[str] = None
    resume: bool = True

    # ---- step-parameter subsets (reference :249-327): changing a late-stage
    # knob must not invalidate early-stage checkpoints.
    _STEP_PARAMS = {
        # parse_osm rounds coordinates only; the waterway-type filter applies
        # AFTER the checkpoint (ways_from_parsed), so changing the type list
        # correctly does not invalidate the parsed cache.
        "parsed": ("coordinate_precision",),
        # ways_from_parsed filters by type before assembly, so the type knobs
        # key simplified and every stage built from it
        "simplified": (
            "coordinate_precision",
            "waterway_types",
            "filter_waterway_types",
            "enable_geometry_simplification",
            "simplification_tolerance_m",
        ),
        "intersections": (
            "coordinate_precision",
            "waterway_types",
            "filter_waterway_types",
            "enable_geometry_simplification",
            "simplification_tolerance_m",
            "enable_intersection_detection",
            "snap_tolerance_m",
        ),
        # the snap domain is a pure function of the intersected ways
        "clustering_domain": (
            "coordinate_precision",
            "waterway_types",
            "filter_waterway_types",
            "enable_geometry_simplification",
            "simplification_tolerance_m",
            "enable_intersection_detection",
            "snap_tolerance_m",
        ),
        "clustering": (
            "coordinate_precision",
            "waterway_types",
            "filter_waterway_types",
            "enable_geometry_simplification",
            "simplification_tolerance_m",
            "enable_intersection_detection",
            "snap_tolerance_m",
            "max_displacement_multiplier",
        ),
        "edges": (
            "coordinate_precision",
            "waterway_types",
            "filter_waterway_types",
            "enable_geometry_simplification",
            "simplification_tolerance_m",
            "enable_intersection_detection",
            "snap_tolerance_m",
            "max_displacement_multiplier",
            "min_fragment_length_m",
            "hash_length",
        ),
        "nodes": (
            "coordinate_precision",
            "waterway_types",
            "filter_waterway_types",
            "enable_geometry_simplification",
            "simplification_tolerance_m",
            "enable_intersection_detection",
            "snap_tolerance_m",
            "max_displacement_multiplier",
            "hash_length",
        ),
        "nodes_tiled": (
            "coordinate_precision",
            "waterway_types",
            "filter_waterway_types",
            "enable_geometry_simplification",
            "simplification_tolerance_m",
            "enable_intersection_detection",
            "snap_tolerance_m",
            "max_displacement_multiplier",
            "hash_length",
            "tile_resolutions",
        ),
        "edges_tiled": (
            "coordinate_precision",
            "waterway_types",
            "filter_waterway_types",
            "enable_geometry_simplification",
            "simplification_tolerance_m",
            "enable_intersection_detection",
            "snap_tolerance_m",
            "max_displacement_multiplier",
            "min_fragment_length_m",
            "hash_length",
            "tile_resolutions",
        ),
    }
    # the channel-density rollup aggregates the tiled edges, so it keys on
    # everything they key on
    _STEP_PARAMS["tiles"] = _STEP_PARAMS["edges_tiled"]

    def step_param_hash(self, step: str) -> str:
        """16-hex param hash for a pipeline step (reference :245-334)."""
        keys = self._STEP_PARAMS.get(step)
        if keys is None:
            keys = tuple(sorted(f.name for f in dataclasses.fields(self)))
        payload = {k: getattr(self, k) for k in keys}
        blob = json.dumps(payload, sort_keys=True, default=list)
        return hashlib.sha256(blob.encode()).hexdigest()[:16]

    @classmethod
    def from_yaml(cls, path: str) -> "EngineConfig":
        """Load from a reference-shaped YAML (config.yaml sections)."""
        import yaml

        with open(path) as f:
            raw = yaml.safe_load(f) or {}
        proc = raw.get("processing", {})
        clus = raw.get("clustering", {})
        ids = raw.get("ids", {})
        kw = {}
        for k in (
            "snap_tolerance_m",
            "min_fragment_length_m",
            "coordinate_precision",
            "enable_geometry_simplification",
            "simplification_tolerance_m",
        ):
            if k in proc:
                kw[k] = proc[k]
        if "waterway_types" in proc:
            kw["waterway_types"] = tuple(proc["waterway_types"])
        for k in (
            "max_displacement_multiplier",
            "warning_displacement_multiplier",
            "max_cluster_size_warning",
        ):
            if k in clus:
                kw[k] = clus[k]
        if "hash_length" in ids:
            kw["hash_length"] = ids["hash_length"]
        qa = raw.get("qa", {})
        if "distance_validation_samples" in qa:
            kw["distance_validation_samples"] = qa["distance_validation_samples"]
        thr = raw.get("qa", {}).get("qa_thresholds", {})
        for k in (
            "max_unsnapped_near_miss_pct",
            "min_width_parse_success_rate",
            "max_crossing_edges_pct",
        ):
            if k in thr:
                kw[k] = thr[k]
        return cls(**kw)


DEFAULT_CONFIG = EngineConfig()

# reference test_config_no_simplify.yaml semantics (SURVEY.md §5)
NO_SIMPLIFY_CONFIG = EngineConfig(
    snap_tolerance_m=5.0,
    enable_geometry_simplification=False,
    max_displacement_multiplier=1.5,
    warning_displacement_multiplier=1.2,
)
