"""EngineConfig: YAML loading of reference-shaped configs and
step-param-hash invalidation semantics (reference :239-334)."""

import dataclasses

import pytest

from osmwaterwayextractor_spark.config import (
    DEFAULT_CONFIG,
    NO_SIMPLIFY_CONFIG,
    STAGE_WAVES,
    STAGES,
    EngineConfig,
)

# the sections and keys of the reference's config.yaml that from_yaml reads
REFERENCE_YAML = """\
processing:
  snap_tolerance_m: 6.0
  min_fragment_length_m: 50.0
  coordinate_precision: 5
  waterway_types:
    - river
    - canal
  enable_geometry_simplification: true
  simplification_tolerance_m: 5.0
clustering:
  max_displacement_multiplier: 3.0
  warning_displacement_multiplier: 2.0
  max_cluster_size_warning: 10
ids:
  hash_length: 8
qa:
  distance_validation_samples: 1000
"""

# the reference's test_config_no_simplify.yaml
NO_SIMPLIFY_YAML = """\
processing:
  snap_tolerance_m: 5.0
  min_fragment_length_m: 50.0
  coordinate_precision: 5
  waterway_types:
    - river
    - canal
  enable_geometry_simplification: false
  simplification_tolerance_m: 5.0
clustering:
  max_displacement_multiplier: 1.5
  warning_displacement_multiplier: 1.2
ids:
  hash_length: 8
"""


def _from_yaml(tmp_path, text):
    path = tmp_path / "config.yaml"
    path.write_text(text)
    return EngineConfig.from_yaml(str(path))


def test_from_reference_yaml(tmp_path):
    cfg = _from_yaml(tmp_path, REFERENCE_YAML)
    assert cfg.snap_tolerance_m == 6.0
    assert cfg.min_fragment_length_m == 50.0
    assert cfg.coordinate_precision == 5
    assert cfg.waterway_types == ("river", "canal")
    assert cfg.enable_geometry_simplification is True
    assert cfg.simplification_tolerance_m == 5.0
    assert cfg.max_displacement_multiplier == 3.0
    assert cfg.hash_length == 8
    # the reference's warning thresholds steer no output: the keys load and
    # are ignored
    assert cfg == EngineConfig()


def test_from_no_simplify_yaml(tmp_path):
    cfg = _from_yaml(tmp_path, NO_SIMPLIFY_YAML)
    assert cfg.enable_geometry_simplification is False
    assert cfg.snap_tolerance_m == 5.0
    assert cfg.max_displacement_multiplier == 1.5
    assert cfg == NO_SIMPLIFY_CONFIG


def test_step_param_hash_scoping():
    base = EngineConfig()
    # late-stage knob must not invalidate early stages
    late = dataclasses.replace(base, min_fragment_length_m=99.0)
    assert base.step_param_hash("simplified") == late.step_param_hash("simplified")
    assert base.step_param_hash("clustering") == late.step_param_hash("clustering")
    assert base.step_param_hash("edges") != late.step_param_hash("edges")
    # early-stage knob invalidates downstream
    early = dataclasses.replace(base, coordinate_precision=6)
    assert base.step_param_hash("simplified") != early.step_param_hash("simplified")
    assert base.step_param_hash("edges") != early.step_param_hash("edges")
    # parse stage rounds coordinates → precision must invalidate it
    assert base.step_param_hash("parsed") != early.step_param_hash("parsed")
    # ...but snapping knobs must not
    snap = dataclasses.replace(base, snap_tolerance_m=9.0)
    assert base.step_param_hash("parsed") == snap.step_param_hash("parsed")
    assert base.step_param_hash("simplified") == snap.step_param_hash("simplified")
    # the snap domain is built from intersected (snap-tolerance) ways
    assert base.step_param_hash("clustering_domain") != snap.step_param_hash(
        "clustering_domain"
    )


@pytest.mark.parametrize(
    "field, value",
    [("intersect_cell_cap", 64)],
)
def test_clustering_domain_hash_ignores_output_invariant_knobs(field, value):
    # the snap domain depends only on the intersected ways: a skew cap must
    # not invalidate its checkpoint
    base = EngineConfig()
    other = dataclasses.replace(base, **{field: value})
    assert base.step_param_hash("clustering_domain") == other.step_param_hash(
        "clustering_domain"
    )
    assert base.step_param_hash("intersections") == other.step_param_hash(
        "intersections"
    )


# every stage built from the type-filtered ways, in pipeline order
TYPE_FILTERED_STAGES = (
    "simplified",
    "intersections",
    "clustering_domain",
    "clustering",
    "edges",
    "nodes",
    "nodes_tiled",
    "edges_tiled",
    "tiles",
)


@pytest.mark.parametrize(
    "field, value", [("waterway_types", ("river",)), ("filter_waterway_types", False)]
)
def test_type_filter_keys_every_stage_after_parse(field, value):
    # ways_from_parsed filters by type before assembly: a checkpointed rerun
    # with another type list must recompute from simplified on, while the
    # parsed checkpoint (written before the filter) stays valid
    base = EngineConfig()
    other = dataclasses.replace(base, **{field: value})
    assert base.step_param_hash("parsed") == other.step_param_hash("parsed")
    for stage in TYPE_FILTERED_STAGES:
        assert base.step_param_hash(stage) != other.step_param_hash(stage), stage


@pytest.mark.parametrize(
    "field, value",
    [("snap_tolerance_m", 9.0), ("min_fragment_length_m", 99.0), ("hash_length", 12)],
)
def test_tile_rollup_hash_follows_the_tiled_edges(field, value):
    # the rollup aggregates edges_tiled: a knob that recomputes the edges
    # must not resume the old rollup
    base = EngineConfig()
    other = dataclasses.replace(base, **{field: value})
    assert base.step_param_hash("edges_tiled") != other.step_param_hash("edges_tiled")
    assert base.step_param_hash("tiles") != other.step_param_hash("tiles")


# recorded before the stage table replaced the hand-kept per-stage key lists:
# equal hashes mean a checkpoint root written before still resumes every stage
DEFAULT_HASHES = {
    "parsed": "9449b72e90526bc1",
    "simplified": "8ea4beb7602d4eca",
    "intersections": "ad42a28026ea73c9",
    "clustering_domain": "ad42a28026ea73c9",
    "clustering": "da0a3169aa85d934",
    "edges": "0c1a804dc8cbd13e",
    "nodes": "e7251147c0ac2a88",
    "nodes_tiled": "8ee4be59aa568d37",
    "edges_tiled": "07482be590dea23c",
    "tiles": "07482be590dea23c",
}
NO_SIMPLIFY_HASHES = {
    "parsed": "9449b72e90526bc1",
    "simplified": "3dda5739daad3555",
    "intersections": "19b809f3bbe2372d",
    "clustering_domain": "19b809f3bbe2372d",
    "clustering": "f6ec0f2d0fa3c1e4",
    "edges": "c099baa45da23612",
    "nodes": "24e2b7de0087457b",
    "nodes_tiled": "4ce56d5e166c7b50",
    "edges_tiled": "5c5706c3aa1fccb9",
    "tiles": "5c5706c3aa1fccb9",
}


@pytest.mark.parametrize(
    "cfg, hashes",
    [(DEFAULT_CONFIG, DEFAULT_HASHES), (NO_SIMPLIFY_CONFIG, NO_SIMPLIFY_HASHES)],
    ids=["default", "no_simplify"],
)
def test_stage_hashes_are_stable(cfg, hashes):
    assert {stage: cfg.step_param_hash(stage) for stage in STAGES} == hashes


def _lineage(stage):
    """``stage`` and every stage it is built from."""
    return {stage}.union(*(_lineage(p) for p in STAGES[stage].parents))


def _perturbed(value):
    if isinstance(value, bool):
        return not value
    if isinstance(value, (int, float)):
        return value + 1
    return value[1:]  # the tuple knobs: drop the first type / resolution


# knobs that change no stage's output: the QA checks and the skew cap
OUTPUT_INVARIANT = {
    "intersect_cell_cap",
    "distance_validation_samples",
    "max_unsnapped_near_miss_pct",
    "min_width_parse_success_rate",
    "max_crossing_edges_pct",
}


@pytest.mark.parametrize("field", [f.name for f in dataclasses.fields(EngineConfig)])
def test_a_knob_keys_exactly_the_stages_downstream_of_its_readers(field):
    base = EngineConfig()
    other = dataclasses.replace(base, **{field: _perturbed(getattr(base, field))})
    changed = {s for s in STAGES if base.step_param_hash(s) != other.step_param_hash(s)}
    readers = {s for s, st in STAGES.items() if field in st.knobs}
    assert changed == {s for s in STAGES if _lineage(s) & readers}
    if field in OUTPUT_INVARIANT:
        assert not changed


def test_stage_table_declares_each_knob_once_per_lineage():
    fields = {f.name for f in dataclasses.fields(EngineConfig)}
    for stage, (parents, knobs) in STAGES.items():
        assert set(parents) <= set(STAGES), stage
        assert set(knobs) <= fields, stage
        # a knob an ancestor declares is already in this stage's hash
        inherited = set().union(*(STAGES[a].knobs for a in _lineage(stage) - {stage}))
        assert not set(knobs) & inherited, stage


def test_stage_waves_put_each_stage_one_past_its_deepest_parent():
    wave_of = {s: i for i, wave in enumerate(STAGE_WAVES) for s in wave}
    # every stage once, each wave in declared order
    assert sorted(wave_of) == sorted(STAGES)
    assert [s for wave in STAGE_WAVES for s in wave] == sorted(STAGES, key=wave_of.get)
    for stage, st in STAGES.items():
        assert all(wave_of[p] < wave_of[stage] for p in st.parents), stage
        assert wave_of[stage] == max((wave_of[p] + 1 for p in st.parents), default=0), stage
    # the sibling pairs the build overlaps
    assert ("edges", "nodes") in STAGE_WAVES and ("nodes_tiled", "edges_tiled") in STAGE_WAVES
