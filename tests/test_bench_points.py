"""BENCH/points.py scaffold contracts, checked without a Spark session:
the point registry, the result files it writes, the host-sized session
and the core levels of the per-level points."""

import json
import os
import subprocess
import sys

import pytest

BENCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCH")
sys.path.insert(0, BENCH)

import points as P  # noqa: E402

OUTPUTS = {
    "sf1": "sf1_point.json",
    "dedup_scale": "dedup_scale.json",
    "assembly_scale": "assembly_scale.json",
    "compact_frontier": "compact_frontier.json",
    "incremental_neardup": "incremental_neardup.json",
    "neardup_stream": "neardup_stream_point.json",
    "compact_embedding": "compact_embedding.json",
    "ann_768": None,
    "streaming": "streaming_point.json",
    "hw_ceiling": "hw_ceiling.json",
    "scaling": "scaling_history.json",
}


def test_every_point_resolves_to_a_callable():
    assert set(P.POINTS) == set(OUTPUTS)
    for name, p in P.POINTS.items():
        assert callable(p.fn), name


def test_points_write_the_committed_result_files():
    assert {name: p.out for name, p in P.POINTS.items()} == OUTPUTS
    for out in filter(None, OUTPUTS.values()):
        assert os.path.exists(os.path.join(BENCH, out)), out


def test_points_session_is_sized_by_build_session(monkeypatch):
    from illumio_spark import session as S

    calls = []

    class _Stop(Exception):
        pass

    def fake_build_session(*args, **kwargs):
        calls.append((args, kwargs))
        raise _Stop

    monkeypatch.setattr(S, "build_session", fake_build_session)
    with pytest.raises(_Stop):
        P.session("dedup_scale")
    assert calls == [((), {"app_name": "dedup_scale"})]


def test_levels_are_a_quarter_of_the_host_and_the_host(monkeypatch):
    monkeypatch.setattr(os, "cpu_count", lambda: 4)
    assert P.levels() == (1, 4)


def test_per_level_runs_one_child_per_level(monkeypatch):
    """Each level is a child `points.py <point> <level> [<mode>]` whose
    SPARK_GRAFT_CPUS is the level, so build_session sizes it."""
    monkeypatch.setattr(os, "cpu_count", lambda: 4)
    runs = []

    def fake_run(args, env, **kw):
        runs.append((args[2:], env["SPARK_GRAFT_CPUS"]))
        line = json.dumps({"sec": 4.0 / int(env["SPARK_GRAFT_CPUS"])})
        return subprocess.CompletedProcess(args, 0, stdout=f"noise\n{line}\n")

    monkeypatch.setattr(subprocess, "run", fake_run)
    res = P.per_level("scaling", "e2e")
    assert runs == [(["scaling", "1", "e2e"], "1"), (["scaling", "4", "e2e"], "4")]
    assert res == {1: {"sec": 4.0}, 4: {"sec": 1.0}}
    assert P.efficiency({c: r["sec"] for c, r in res.items()}, 1, 4) == 1.0
