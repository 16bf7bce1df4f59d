"""mtslake — PySpark-native time-series rollup/downsample/retention
engine generalizing int-brain-lab/mtscomp's chunked codec + chunk-offset
index into a lakehouse service (see README.md / SURVEY.md)."""

from .config import DEFAULT, EngineConfig, TIER_US  # noqa: F401
from .zipguard import guard_zip_rereads

guard_zip_rereads()

__version__ = "0.1.0"

__all__ = [
    "DEFAULT",
    "EngineConfig",
    "TIER_US",
    "__version__",
]
