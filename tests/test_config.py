"""EngineConfig: YAML loading of reference-shaped configs and
step-param-hash invalidation semantics (reference :239-334)."""

import dataclasses

import pytest

from osmwaterwayextractor_spark.config import EngineConfig

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
    assert cfg.warning_displacement_multiplier == 2.0
    assert cfg.hash_length == 8


def test_from_no_simplify_yaml(tmp_path):
    cfg = _from_yaml(tmp_path, NO_SIMPLIFY_YAML)
    assert cfg.enable_geometry_simplification is False
    assert cfg.snap_tolerance_m == 5.0
    assert cfg.max_displacement_multiplier == 1.5


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
    [("intersect_cell_cap", 64), ("resume", False), ("checkpoint_dir", "/elsewhere")],
)
def test_clustering_domain_hash_ignores_output_invariant_knobs(field, value):
    # the snap domain depends only on the intersected ways: a skew cap, the
    # resume flag or the checkpoint root must not invalidate its checkpoint
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
