"""bench.py warms its session up on smoke-scale data next to the
scale-factor directory it times, never on a fixed path."""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from bench import warmup_dir  # noqa: E402


def test_warmup_dir_prefers_smoke_sibling(tmp_path):
    (tmp_path / "sf0.001").mkdir()
    (tmp_path / "sf0.1").mkdir()
    assert warmup_dir(str(tmp_path / "sf0.1")) == str(tmp_path / "sf0.001")
    assert warmup_dir(str(tmp_path / "sf0.1") + "/") == str(tmp_path / "sf0.001")


def test_warmup_dir_falls_back_to_sf_dir(tmp_path):
    (tmp_path / "sf1.0").mkdir()
    assert warmup_dir(str(tmp_path / "sf1.0")) == str(tmp_path / "sf1.0")
