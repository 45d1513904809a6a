"""Config validation parity (reference main.py:108-163 raises; exercised by
reference tests/test_registration.py:93-98)."""

from __future__ import annotations

import pytest

from codem_spark.config import EngineConfig


def test_defaults_valid():
    EngineConfig()


@pytest.mark.parametrize(
    "kw",
    [
        {"min_resolution": 0.0},
        {"min_resolution": -1.0},
        {"dsm_akaze_threshold": 0.0},
        {"dsm_lowes_ratio": 0.001},
        {"dsm_lowes_ratio": 1.5},
        {"dsm_ransac_max_iter": 0},
        {"dsm_ransac_threshold": -1.0},
        {"dsm_strong_filter": 0.0},
        {"dsm_weak_filter": -2.0},
        {"icp_angle_threshold": 0.0},
        {"icp_distance_threshold": -0.1},
        {"icp_max_iter": 0},
        {"icp_rmse_threshold": 0.0},
        {"offset_x": "bogus"},
        {"scale_z": -3.0},
    ],
)
def test_invalid_raises(kw):
    with pytest.raises(ValueError):
        EngineConfig(**kw)


def test_dump_roundtrip(tmp_path):
    cfg = EngineConfig(min_resolution=2.0)
    p = tmp_path / "config.json"
    cfg.dump(str(p))
    import json

    d = json.loads(p.read_text())
    assert d["min_resolution"] == 2.0
