"""codem_spark — a from-scratch PySpark-native spatial-join + tiling engine.

Re-expresses the capabilities of NCALM-UH/CODEM (tile-based coarse-to-fine
co-registration: DSM feature extraction + matching, RANSAC similarity
transform, point-to-plane ICP) as idiomatic Spark DataFrame plans plus a
small library of vectorized pandas/Arrow UDF tile kernels over Z-order
(S2-style) indexed tables. See SURVEY.md at the repo root for the full
capability mapping (reference file:line citations live in each module's
docstrings).

Nothing here is a port: the reference is a single-process numpy/PDAL/OpenCV
pipeline; this engine is a distributed dataflow whose relational parts are
stock Catalyst and whose numerical kernels are new vectorized numpy code.
"""

import sys

from codem_spark.config import EngineConfig, RegistrationParameters
from codem_spark.session import get_spark, keep_unchanged_zip_directories

# inside a PySpark Python worker only: every task there invalidates the
# import caches (see codem_spark.session)
if "pyspark.worker" in sys.modules and sys.version_info < (3, 13):
    keep_unchanged_zip_directories()


def __getattr__(name: str):
    # Library API parity with the reference package surface
    # (reference src/codem/__init__.py:1-9) — lazy to keep import cheap.
    if name in {"preprocess", "coarse_registration", "fine_registration_stage",
                "apply_registration", "register", "with_residuals"}:
        from codem_spark.registration import pipeline

        return getattr(pipeline, name)
    raise AttributeError(name)


__all__ = [
    "EngineConfig",
    "RegistrationParameters",
    "get_spark",
    "preprocess",
    "coarse_registration",
    "fine_registration_stage",
    "apply_registration",
    "register",
]
__version__ = "0.1.0"
