"""Unit tests for the scaling-evidence estimator (scripts/scaling_evidence.py).

The N->4N scaling claim (BASELINE.json north_rule) hinges on this
declared-in-advance estimator: best run per level among legs not flagged for
hypervisor steal, session interference-invalidated when a whole level is
flagged. Pure-Python — no Spark, no subprocess legs.
"""

import importlib.util
import os

import pytest

_SCRIPT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "scripts",
    "scaling_evidence.py",
)
_spec = importlib.util.spec_from_file_location("scaling_evidence", _SCRIPT)
scaling_evidence = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(scaling_evidence)
estimate = scaling_evidence.estimate


def leg(eps: float, steal: float = 0.2) -> dict:
    return {
        "edges_per_sec": eps,
        "steal_pct": steal,
        "interference": steal > scaling_evidence.STEAL_FLAG_PCT,
    }


def test_basic_efficiency_1_to_4():
    runs = {1: [leg(100.0), leg(110.0)], 4: [leg(380.0), leg(396.0)]}
    est = estimate(runs, [1, 4])
    # best-per-level: 110 and 396 -> (396/110)/4 = 0.9
    assert est["thr"] == [110.0, 396.0]
    assert est["eff"] == pytest.approx(0.9)
    assert est["factor"] == 4
    assert not est["invalidated"]
    assert est["passed"]


def test_steal_flagged_leg_excluded_from_best():
    # the fastest leg of EACH level ran under a steal storm; the estimator
    # must pick the best among clean legs only, in both directions
    runs = {
        1: [leg(150.0, steal=5.0), leg(100.0)],
        4: [leg(500.0, steal=4.5), leg(320.0)],
    }
    est = estimate(runs, [1, 4])
    assert est["thr"] == [100.0, 320.0]
    assert est["eff"] == pytest.approx(0.8)
    assert est["passed"]


def test_all_legs_flagged_invalidates_session():
    runs = {
        1: [leg(100.0, steal=3.0), leg(90.0, steal=4.0)],
        4: [leg(390.0), leg(380.0)],
    }
    est = estimate(runs, [1, 4])
    assert est["invalidated"]
    # all-legs fallback still reported for completeness...
    assert est["thr"] == [100.0, 390.0]
    assert est["eff"] == pytest.approx(0.975)
    # ...but an invalidated session can never pass
    assert not est["passed"]


def test_paired_efficiencies_per_round():
    runs = {
        1: [leg(100.0), leg(200.0)],
        4: [leg(200.0), leg(800.0)],
    }
    est = estimate(runs, [1, 4])
    assert est["paired"] == [0.5, 1.0]


def test_below_gate_fails_without_invalidating():
    runs = {1: [leg(100.0)], 4: [leg(200.0)]}
    est = estimate(runs, [1, 4])
    assert est["eff"] == pytest.approx(0.5)
    assert not est["invalidated"]
    assert not est["passed"]


def test_other_level_pairs_respect_factor():
    runs = {2: [leg(100.0)], 8: [leg(360.0)]}
    est = estimate(runs, [2, 8])
    assert est["factor"] == 4
    assert est["eff"] == pytest.approx(0.9)


def test_spread_cpuset_never_compact_never_cpu0():
    # spread pinning on the 32-vCPU scaling host: stride 32/k starting at
    # cpu1 — adjacent vCPUs share a memory path there and cpu0 hosts
    # IRQ/system load (host_probe.py)
    assert scaling_evidence.spread_cpuset(1, 32) == "1"
    assert scaling_evidence.spread_cpuset(4, 32) == "1,9,17,25"
    cpus = [int(c) for c in scaling_evidence.spread_cpuset(8, 32).split(",")]
    assert 0 not in cpus
    assert len(set(cpus)) == 8
    # uniform stride — no two pins adjacent
    assert min(b - a for a, b in zip(cpus, cpus[1:])) >= 2


def test_session_history_starts_from_the_committed_snapshot(tmp_path, monkeypatch):
    """BENCH/work/ is gitignored: the BASELINE.md history must not shrink to
    the sessions of one checkout."""
    (tmp_path / "BENCH" / "work").mkdir(parents=True)
    (tmp_path / "BENCH" / "sessions_r5.jsonl").write_text('{"ts": "a"}\n{"ts": "b"}\n')
    work = tmp_path / "BENCH" / "work" / "scaling_sessions.jsonl"
    work.write_text('{"ts": "b"}\n{"ts": "c"}\n')
    monkeypatch.setattr(scaling_evidence, "ROOT", str(tmp_path))
    monkeypatch.setattr(scaling_evidence, "SESSIONS", str(work))
    assert [s["ts"] for s in scaling_evidence.load_sessions()] == ["a", "b", "c"]


def _write_once(tmp_path, monkeypatch) -> str:
    (tmp_path / "BENCH" / "work").mkdir(parents=True, exist_ok=True)
    monkeypatch.setattr(scaling_evidence, "ROOT", str(tmp_path))
    monkeypatch.setattr(scaling_evidence, "SESSIONS", str(tmp_path / "BENCH/work/s.jsonl"))
    res = {"queries": {"waterway_pipeline": 1.0}, "n_edges": 9, "edges_per_sec": 9.0}
    res["tile_assign_sec"] = 1.0
    session = {"reps": 1, "n_docs": 9, "cpusets": {"1": "1", "4": "1,9"}}
    session["paired_efficiencies"] = [0.9]
    runs = {c: [{"edges_per_sec": 9.0, "steal_pct": 0.1}] for c in (1, 4)}
    scaling_evidence.write_baseline_md("sf", [1, 4], 4.0, runs, [res, res], 0.9, session)
    return (tmp_path / "BENCH" / "BASELINE.md").read_text()


def test_baseline_rewrite_keeps_sections_it_does_not_own(tmp_path, monkeypatch):
    """The supplementary protocols' recorded results outlive a session of
    the one protocol kept."""
    supplementary = "## Weak scaling\n\nmedian 0.9\n\n## Host controls\n\n| a | b |\n"
    (tmp_path / "BENCH").mkdir()
    (tmp_path / "BENCH" / "BASELINE.md").write_text(
        "# B\n\n## This session\n\nold\n\n## Session history (ALL)\n\nold rows\n\n" + supplementary
    )
    for _ in range(2):
        text = _write_once(tmp_path, monkeypatch)
        assert text.endswith("\n" + supplementary)
        assert text.count("## This session") == 1 and "old rows" not in text


def test_new_session_lands_in_the_committed_snapshot(tmp_path, monkeypatch):
    _write_once(tmp_path, monkeypatch)
    scaling_evidence.append_session({"ts": "z"})
    for path in ("sessions_r5.jsonl", "work/s.jsonl"):
        assert (tmp_path / "BENCH" / path).read_text() == '{"ts": "z"}\n'
    assert [s["ts"] for s in scaling_evidence.load_sessions()] == ["z"]
