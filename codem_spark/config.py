"""Engine configuration with validation parity.

The reference validates every pipeline parameter in
``CodemRunConfig.__post_init__`` (reference: src/codem/main.py:89-175) and the
VCD variant in src/vcd/main.py:20-73; the pytest suite exercises the raises
(tests/test_registration.py:93-98). This module re-creates that contract for
the Spark engine: same parameter names (lower-cased), same ranges, same
error-on-violation behavior, plus the engine's own switches (full-density
ICP, tight search).
"""

from __future__ import annotations

import dataclasses
import json
import math
import os
from dataclasses import dataclass, field
from typing import Any

import numpy as np


@dataclass
class EngineConfig:
    """Each field is also a flag of ``codem-spark register`` (main.py):
    ``--`` plus the field name with ``-`` for ``_``, with the field's default
    and a parser that follows from it. ``metadata`` holds the flag's
    ``help`` text and any ``aliases``."""

    # --- pipeline resolution (reference: main.py:108-114) ---
    min_resolution: float = 1.0
    # --- coarse (DSM) registration (reference: main.py:115-139) ---
    dsm_akaze_threshold: float = field(default=0.0001, metadata={"help": (
        "accepted and recorded in config.json for reference CLI parity; "
        "unused (the Harris detector has its own fixed threshold)")})
    dsm_lowes_ratio: float = 0.9
    dsm_ransac_max_iter: int = 10000
    dsm_ransac_threshold: float = 10.0
    dsm_solve_scale: bool = True
    dsm_strong_filter: float = 10.0
    dsm_weak_filter: float = 1.0
    # --- fine (ICP) registration (reference: main.py:140-163) ---
    icp_angle_threshold: float = 0.001
    icp_distance_threshold: float = 0.001
    icp_max_iter: int = 100
    icp_rmse_threshold: float = 0.0001
    icp_robust: bool = True
    icp_solve_scale: bool = True
    # Run fine ICP on the raw full-density clouds instead of the pipeline-
    # resolution DSM-derived clouds. The reference ALWAYS registers the
    # infilled-DSM-derived cloud (_dsm2pc, preprocess.py:285-315; "higher
    # density data is resampled to match the lower", docs/details.md:12) —
    # the early downsample that bounds every ICP iteration's row count. The
    # default here matches the reference; full density is an engine extra
    # for callers who want sub-resolution refinement on exact point subsets.
    icp_full_density: bool = False
    icp_save_residuals: bool = field(default=False, metadata={"help": (
        "append per-point residual columns to the registered table "
        "(reference --ICP_SAVE_RESIDUALS, main.py:318-323)")})
    # Clip both inputs to a bounded overlap window before registration
    # (reference TIGHT_SEARCH, main.py:366-373). The reference defaults this
    # OFF; the engine defaults it ON — at 10^12 rows the clip is the
    # partition-pruning step that makes the pipeline feasible, and on
    # overlapping scenes it is a no-op for correctness (deliberate
    # divergence, documented in COVERAGE.md).
    tight_search: bool = True
    # --- output quantization (reference --OFFSET_*/--SCALE_*,
    # main.py:150-163): any non-auto value adds a LAS-style int32 copy of
    # the registered table (io/tables.quantized_point_write) ---
    offset_x: str | int = "auto"
    offset_y: str | int = "auto"
    offset_z: str | int = "auto"
    scale_x: str | float = "auto"
    scale_y: str | float = "auto"
    scale_z: str | float = "auto"

    def __post_init__(self) -> None:
        # Range checks mirror reference main.py:108-163 one-for-one.
        if self.min_resolution <= 0:
            raise ValueError("Minimum pipeline resolution must be greater than 0.")
        if self.dsm_akaze_threshold <= 0:
            raise ValueError("DSM AKAZE threshold must be greater than 0.")
        if not 0.01 <= self.dsm_lowes_ratio <= 1.0:
            raise ValueError("DSM Lowes ratio must be between 0.01 and 1.0.")
        if self.dsm_ransac_max_iter < 1:
            raise ValueError("DSM RANSAC max iterations must be a positive integer.")
        if self.dsm_ransac_threshold <= 0:
            raise ValueError("DSM RANSAC threshold must be greater than 0.")
        if self.dsm_strong_filter <= 0:
            raise ValueError("DSM strong filter size must be greater than 0.")
        if self.dsm_weak_filter <= 0:
            raise ValueError("DSM weak filter size must be greater than 0.")
        if self.icp_angle_threshold <= 0:
            raise ValueError("ICP minimum angle convergence threshold must be greater than 0.")
        if self.icp_distance_threshold <= 0:
            raise ValueError("ICP minimum distance convergence threshold must be greater than 0.")
        if self.icp_max_iter < 1:
            raise ValueError("ICP max iterations must be a positive integer.")
        if self.icp_rmse_threshold <= 0:
            raise ValueError("ICP minimum change in RMSE convergence threshold must be greater than 0.")
        for name in ("offset_x", "offset_y", "offset_z"):
            v = getattr(self, name)
            if not (v == "auto" or isinstance(v, int)):
                raise ValueError(f"{name} must be 'auto' or an integer.")
        for name in ("scale_x", "scale_y", "scale_z"):
            v = getattr(self, name)
            if v == "auto":
                continue
            if not isinstance(v, (int, float)) or v <= 0:
                raise ValueError(f"{name} must be 'auto' or a positive number.")

    def to_dict(self) -> dict[str, Any]:
        return dataclasses.asdict(self)

    def dump(self, path: str) -> None:
        """Persist the run configuration (reference dumps config.yml,
        main.py:165-174); we write JSON next to stage manifests."""
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.to_dict(), f, indent=2, sort_keys=True)


@dataclass
class RegistrationParameters:
    """Result record (reference: preprocess.py:90-103 TypedDict)."""

    matrix: list[list[float]] = field(default_factory=lambda: [[0.0] * 4 for _ in range(4)])
    omega: float = 0.0
    phi: float = 0.0
    kappa: float = 0.0
    trans_x: float = 0.0
    trans_y: float = 0.0
    trans_z: float = 0.0
    scale: float = 1.0
    n_pairs: int = 0
    iterations: int = 0  # ICP iterations actually run (observability)
    rmse_x: float = 0.0
    rmse_y: float = 0.0
    rmse_z: float = 0.0
    rmse_3d: float = 0.0
    # F3: AOI-native-units -> foundation-native-units matrix (the reference's
    # get_registration_transformation output, apply.py:116-123). Equals
    # ``matrix`` when both datasets are metric; populated by pipeline.register
    # when unit factors are supplied.
    matrix_native: list[list[float]] | None = None

    @classmethod
    def from_fit(
        cls, matrix: np.ndarray, msr: np.ndarray, n_pairs: int, iterations: int = 0
    ) -> RegistrationParameters:
        """The record of a fitted 4x4 similarity ``matrix``: its scale, Euler
        angles and translation, and the RMSEs from ``msr``, the per-axis mean
        squared residuals over its ``n_pairs`` pairs."""
        from codem_spark.functions.geo import decompose_similarity

        mx, my, mz = (float(v) for v in msr)
        return cls(
            matrix=matrix.tolist(),
            n_pairs=n_pairs,
            iterations=iterations,
            rmse_x=math.sqrt(mx),
            rmse_y=math.sqrt(my),
            rmse_z=math.sqrt(mz),
            rmse_3d=math.sqrt(mx + my + mz),
            **decompose_similarity(matrix),
        )

    def to_dict(self) -> dict[str, Any]:
        return dataclasses.asdict(self)
