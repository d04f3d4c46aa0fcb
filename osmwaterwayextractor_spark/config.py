"""Engine configuration.

Mirrors the reference ``Config`` dataclass (osm_waterway_extractor.py:100-237,
config.yaml) plus graft-specific knobs (tiling resolutions, skew handling).
Explicit and serializable: the SHA-256 of the per-stage parameter subset keys
checkpoint paths, reproducing the reference's step-parameter-hash cache
invalidation (osm_waterway_extractor.py:239-334, 3038-3055).
"""

from __future__ import annotations

import dataclasses
import hashlib
import json
from dataclasses import dataclass
from typing import NamedTuple


class Stage(NamedTuple):
    parents: tuple[str, ...]  # stages whose outputs the builder reads
    knobs: tuple[str, ...]  # EngineConfig fields the stage itself reads


# The stage graph, the one place a stage's knobs are declared. A stage's
# checkpoint keys on its own knobs and its ancestors' (``stage_knobs``), so a
# late-stage knob never invalidates an earlier stage (reference :249-327),
# and plans.pipeline hands each builder exactly its parents' outputs. A new
# knob goes on the stage that reads it; a knob no stage declares (QA
# thresholds, the output-invariant skew cap) keys no checkpoint.
STAGES: dict[str, Stage] = {
    # parse_osm rounds coordinates only; the type filter applies after the
    # checkpoint (ways_from_parsed), so the type knobs key simplified
    "parsed": Stage((), ("coordinate_precision",)),
    "simplified": Stage(
        ("parsed",),
        (
            "waterway_types",
            "filter_waterway_types",
            "enable_geometry_simplification",
            "simplification_tolerance_m",
        ),
    ),
    "intersections": Stage(
        ("simplified",), ("enable_intersection_detection", "snap_tolerance_m")
    ),
    # the snap domain is a pure function of the intersected ways
    "clustering_domain": Stage(("intersections",), ()),
    "clustering": Stage(("clustering_domain",), ("max_displacement_multiplier",)),
    # edges and nodes are siblings that both mint ids, so both read hash_length
    "edges": Stage(("intersections", "clustering"), ("min_fragment_length_m", "hash_length")),
    "nodes": Stage(("clustering",), ("hash_length",)),
    "nodes_tiled": Stage(("nodes",), ("tile_resolutions",)),
    "edges_tiled": Stage(("edges",), ("tile_resolutions",)),
    # the channel-density rollup aggregates the tiled edges
    "tiles": Stage(("edges_tiled",), ()),
}

# The stages a checkpointer lands partitioned by tile (plans.pipeline). Their
# partition spec (operators.tiles.TILE_PARTITION_LEVEL) is part of the
# table's identity, so it keys their checkpoints and their descendants' like
# a knob: a root written under another layout recomputes them, never appends
# to them.
TILED_STAGES = ("nodes_tiled", "edges_tiled")


def _depth(stage: str) -> int:
    """The length of ``stage``'s longest parent chain: 0 for a root."""
    return max((_depth(p) + 1 for p in STAGES[stage].parents), default=0)


# The order plans.pipeline builds the stages in: each stage sits in the wave
# of its longest parent chain, in declared order, so every parent is built in
# an earlier wave and the stages of one wave (edges and nodes, then the tiled
# pair) overlap.
STAGE_WAVES: tuple[tuple[str, ...], ...] = tuple(
    tuple(s for s in STAGES if _depth(s) == d)
    for d in range(max(map(_depth, STAGES)) + 1)
)


def stage_and_ancestors(stage: str) -> frozenset[str]:
    """``stage`` and every stage it is built from."""
    return frozenset({stage}).union(*(stage_and_ancestors(p) for p in STAGES[stage].parents))


def stage_knobs(stage: str) -> frozenset[str]:
    """The knobs ``stage``'s checkpoint keys on: its own and its ancestors'."""
    return frozenset().union(*(STAGES[s].knobs for s in stage_and_ancestors(stage)))


# The stages built from a tiled stage, the tiled pair included: the tile
# layout keys their checkpoints (step_param_hash), and without a checkpointer
# plans.pipeline leaves these final tables lazy, with nothing to resume.
TILE_LAYOUT_STAGES = frozenset(s for s in STAGES if stage_and_ancestors(s) & set(TILED_STAGES))


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

    def step_param_hash(self, step: str) -> str:
        """16-hex param hash for a pipeline step (reference :245-334): the
        knobs of the step and of all its ancestors in ``STAGES``, plus the
        tile partition spec for a step built from a tiled stage; a step the
        table does not declare hashes every field."""
        if step in STAGES:
            keys = stage_knobs(step)
        else:
            keys = tuple(sorted(f.name for f in dataclasses.fields(self)))
        payload = {k: getattr(self, k) for k in keys}
        if step in TILE_LAYOUT_STAGES:
            from .operators.tiles import TILE_PART, TILE_PARTITION_LEVEL

            payload["tiled_layout"] = f"{TILE_PART}@level{TILE_PARTITION_LEVEL}"
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
        # the reference's warning thresholds (warning_displacement_multiplier,
        # max_cluster_size_warning) steer no output here: accepted, ignored
        if "max_displacement_multiplier" in clus:
            kw["max_displacement_multiplier"] = clus["max_displacement_multiplier"]
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
)
