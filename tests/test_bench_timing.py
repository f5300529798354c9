"""The shared timing loop in ``bench.py`` and the measurement CLIs on it.

No JVM: ``best_of`` runs against a fake builder and a fake noop runner,
and the CLIs are only compiled and asked for ``--help`` (they import
Spark after ``parse_args``).
"""

from __future__ import annotations

import py_compile
import subprocess
import sys
from pathlib import Path

import pytest

import bench

ROOT = Path(__file__).resolve().parent.parent
CLI_FILES = sorted((ROOT / "scripts").glob("*.py")) + [ROOT / "bench.py"]


def _fake_timing(monkeypatch, durations: list[float]) -> list[str]:
    """Make each noop run advance a fake clock by the next duration.
    Returns the list a fake builder records its fixture dirs in."""
    builds: list[str] = []
    clock = [0.0]
    it = iter(durations)

    def fake_run(df):
        clock[0] += next(it)

    monkeypatch.setattr(bench, "run_noop", fake_run)
    monkeypatch.setattr(bench.time, "perf_counter", lambda: clock[0])
    return builds


def test_best_of_warms_once_then_times_reps(monkeypatch):
    builds = _fake_timing(monkeypatch, [0.5, 0.3, 0.2, 0.4])
    builder = lambda _spark, sf_dir: builds.append(sf_dir)  # noqa: E731

    best, first = bench.best_of(None, builder, "big", 3, "tiny")

    assert builds == ["tiny", "big", "big", "big"]
    assert best == pytest.approx(0.2)
    assert first == pytest.approx(0.3)


def test_best_of_without_warmup(monkeypatch):
    builds = _fake_timing(monkeypatch, [0.9, 0.4, 0.6])
    builder = lambda _spark, sf_dir: builds.append(sf_dir)  # noqa: E731

    best, first = bench.best_of(None, builder, "big", 3, None)

    assert builds == ["big"] * 3
    assert best == pytest.approx(0.4)
    assert first == pytest.approx(0.9)


def _probe(factor: float) -> dict:
    return {"sec": {}, "ratio": {}, "host_factor": factor}


def test_calibration_end_source_cold():
    rec = bench.calibration_record(_probe(1.0), _probe(4.0), _probe(9.0))
    assert rec["end_source"] == "cold"
    assert rec["end"]["host_factor"] == 4.0
    assert rec["end_warm"]["host_factor"] == 9.0
    assert rec["host_factor"] == 2.0


def test_calibration_end_source_warm_fallback():
    rec = bench.calibration_record(_probe(1.0), None, _probe(9.0))
    assert rec["end_source"] == "warm_fallback"
    assert rec["end"]["host_factor"] == 9.0
    assert rec["host_factor"] == 3.0


def test_calibration_record_needs_both_sides():
    assert bench.calibration_record(None, _probe(1.0), _probe(1.0)) is None
    assert bench.calibration_record(_probe(1.0), None, None) is None


@pytest.mark.parametrize("path", CLI_FILES, ids=lambda p: p.name)
def test_cli_compiles(path, tmp_path):
    py_compile.compile(str(path), cfile=str(tmp_path / "c.pyc"), doraise=True)


@pytest.mark.parametrize(
    "path",
    [p for p in CLI_FILES if "argparse" in p.read_text()],
    ids=lambda p: p.name,
)
def test_argparse_cli_help(path):
    out = subprocess.run(
        [sys.executable, str(path), "--help"],
        capture_output=True,
        text=True,
        timeout=60,
    )
    assert out.returncode == 0, out.stderr
    assert "usage:" in out.stdout
