"""The CLI's option surface without Spark: which flags each subcommand
takes, their defaults, and the parsed values that reach ``config.json``.

Each run stops at the first input read (``_read_points`` raises), after
the command has written its ``config.json``."""

from __future__ import annotations

import dataclasses
import json
import re

import pytest

from codem_spark import main as cli
from codem_spark.config import EngineConfig
from codem_spark.vcd import VcdConfig


class _Stop(Exception):
    pass


def _config_json(monkeypatch, tmp_path, argv: list[str]) -> dict:
    def stop(spark, path):
        raise _Stop(path)

    monkeypatch.setattr(cli, "_read_points", stop)
    out = tmp_path / "out"
    with pytest.raises(_Stop):
        cli.main(argv[:1] + ["a.parquet", "b.parquet", "--output-dir", str(out)] + argv[1:],
                 spark=object())
    return json.loads((out / "config.json").read_text())


def _assert_same(got: dict, want: dict) -> None:
    # the JSON texts differ where == does not: 1 vs 1.0, (2, 6) vs [2, 6]
    assert got == want
    assert json.dumps(got, sort_keys=True) == json.dumps(want, sort_keys=True)


def _json(d: dict) -> dict:
    return json.loads(json.dumps(d))


def _vcd_json(cfg: dict) -> dict:
    return _json({**cfg, "before": "a.parquet", "after": "b.parquet"})


def test_bare_commands_write_the_config_defaults(monkeypatch, tmp_path):
    _assert_same(_config_json(monkeypatch, tmp_path / "r", ["register"]),
                 _json(EngineConfig().to_dict()))
    _assert_same(_config_json(monkeypatch, tmp_path / "v", ["vcd"]),
                 _vcd_json(dataclasses.asdict(VcdConfig())))


def test_register_flags_reach_config_json(monkeypatch, tmp_path):
    argv = [
        "register",
        "--min-resolution", "2.5",
        "--dsm-akaze-threshold", "0.002",
        "--dsm-lowes-ratio", "0.8",
        "--dsm-ransac-max-iter", "500",
        "--dsm-ransac-threshold", "5.5",
        "--dsm-solve-scale", "false",
        "--dsm-strong-filter", "8",
        "--dsm-weak-filter", "2",
        "--icp-angle-threshold", "0.01",
        "--icp-distance-threshold", "0.02",
        "--icp-max-iter", "7",
        "--icp-rmse-threshold", "0.001",
        "--icp-robust", "false",
        "--icp-solve-scale", "False",
        "--icp-full-density",
        "--icp-save-residuals",
        "--tight-search", "false",
        "--offset-x", "0",
        "--offset-y", "100",
        "--offset-z", "7",
        "--scale-x", "1",
        "--scale-y", "0.01",
        "--scale-z", "0.001",
        "--resolution", "3",
        "--fnd-units", "ft",
    ]
    _assert_same(_config_json(monkeypatch, tmp_path, argv), {
        "min_resolution": 2.5,
        "dsm_akaze_threshold": 0.002,
        "dsm_lowes_ratio": 0.8,
        "dsm_ransac_max_iter": 500,
        "dsm_ransac_threshold": 5.5,
        "dsm_solve_scale": False,
        "dsm_strong_filter": 8.0,
        "dsm_weak_filter": 2.0,
        "icp_angle_threshold": 0.01,
        "icp_distance_threshold": 0.02,
        "icp_max_iter": 7,
        "icp_rmse_threshold": 0.001,
        "icp_robust": False,
        "icp_solve_scale": False,
        "icp_full_density": True,
        "icp_save_residuals": True,
        "tight_search": False,
        "offset_x": 0,
        "offset_y": 100,
        "offset_z": 7,
        "scale_x": 1.0,
        "scale_y": 0.01,
        "scale_z": 0.001,
    })


def test_vcd_flags_reach_config_json(monkeypatch, tmp_path):
    argv = [
        "vcd",
        "--ground-height", "0.5",
        "--cluster-tolerance", "3",
        "--min-points", "12",
        "--resolution", "2",
        "--knn-radius", "20",
        "--trust-labels",
        "--compute-hag",
        "--class-labels", "2,6,9",
        "--cull-cluster-ids=-1,0",
        "--colormap", "viridis",
        "--spacing-override", "0.5",
    ]
    _assert_same(_config_json(monkeypatch, tmp_path, argv), _vcd_json({
        "ground_height": 0.5,
        "tolerance": 3.0,
        "min_points": 12,
        "resolution": 2.0,
        "knn_radius": 20.0,
        "trust_labels": True,
        "compute_hag": True,
        "class_labels": [2, 6, 9],
        "cull_cluster_ids": [-1, 0],
        "colormap": "viridis",
        "spacing_override": 0.5,
    }))


_OPTIONS = {
    "register": [
        "--aoi-units", "--dsm-akaze-threshold", "--dsm-lowes-ratio",
        "--dsm-ransac-max-iter", "--dsm-ransac-threshold", "--dsm-solve-scale",
        "--dsm-strong-filter", "--dsm-weak-filter", "--fnd-units", "--help",
        "--icp-angle-threshold", "--icp-distance-threshold", "--icp-full-density",
        "--icp-max-iter", "--icp-rmse-threshold", "--icp-robust",
        "--icp-save-residuals", "--icp-solve-scale", "--min-resolution",
        "--offset-x", "--offset-y", "--offset-z", "--output-dir", "--resolution",
        "--scale-x", "--scale-y", "--scale-z", "--tight-search",
    ],
    "vcd": [
        "--class-labels", "--cluster-tolerance", "--colormap", "--compute-hag",
        "--cull-cluster-ids", "--ground-height", "--help", "--knn-radius",
        "--min-points", "--output-dir", "--resolution", "--spacing-override",
        "--tolerance", "--trust-labels",
    ],
}


@pytest.mark.parametrize("command", list(_OPTIONS))
def test_help_lists_the_pinned_options(capsys, command):
    with pytest.raises(SystemExit) as exit_:
        cli.main([command, "--help"], spark=object())
    assert exit_.value.code == 0
    shown = set(re.findall(r"(?<![\w-])--[a-z][a-z-]*", capsys.readouterr().out))
    assert shown == set(_OPTIONS[command])
