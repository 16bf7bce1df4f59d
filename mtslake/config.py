"""Engine configuration.

Mirrors the reference's layered defaults (DEFAULT_CONFIG,
mtscomp.py:46-57, merged with ``~/.mtscomp`` and kwargs in
mtscomp.py:186-209) as a plain dataclass + two override layers:
persisted site defaults (a JSON file, ≙ ``~/.mtscomp`` read/write,
mtscomp.py:186-209) and per-call kwargs — non-None kwargs win over the
file, the file wins over code defaults. Spark-side knobs travel via
``spark.conf`` / ``spark-submit --conf``.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field, fields, replace

US_PER_SECOND = 1_000_000
US_PER_MINUTE = 60 * US_PER_SECOND
US_PER_HOUR = 60 * US_PER_MINUTE
US_PER_DAY = 24 * US_PER_HOUR


@dataclass(frozen=True)
class EngineConfig:
    # chunking (≙ chunk_duration=1., sample_rate-driven chunk_size,
    # mtscomp.py:51,324-339). Web snapshots are sparse/irregular, so the
    # chunk unit is wall-clock time, default 1 day of events per chunk.
    chunk_duration_us: int = US_PER_DAY
    # entropy stage (≙ algorithm='zlib' + comp_level, mtscomp.py:49-50).
    # Default 1, not the reference's -1(=6): the delta/xor/shuffle stages
    # do the heavy lifting, so higher zlib levels buy ~nothing at 3-6x
    # the CPU (measured in BENCH/profile_encode.py)
    comp_level: int = 1
    # ≙ do_time_diff (mtscomp.py:55): False stores timestamps raw-codec
    do_time_diff: bool = True
    check_after_compress: bool = True  # ≙ mtscomp.py:56
    check_after_decompress: bool = True  # ≙ mtscomp.py:57
    # rollup tiers (north_rule: 1m/1h/1d continuous aggregates)
    tiers: tuple[str, ...] = ("1m", "1h", "1d")
    # retention horizon per tier, μs (raw -> 1h -> 1d downsampling)
    retention_us: dict = field(
        default_factory=lambda: {
            "raw": 30 * US_PER_DAY,
            "1m": 90 * US_PER_DAY,
            "1h": 365 * US_PER_DAY,
            "1d": 10 * 365 * US_PER_DAY,
        }
    )
    # hot-chunk guard: encoder splits any (url, chunk_id) run longer than
    # this into bounded segment rows (chunk._segment_runs)
    hot_chunk_points: int = 250_000
    shuffle_partitions: int = 32

    def with_overrides(self, **kwargs) -> "EngineConfig":
        """kwargs-over-defaults merge (≙ read_config + kwargs merge,
        mtscomp.py:186-209 — non-None values win).

        Dict-valued fields (``retention_us``) MERGE key-by-key instead
        of being replaced wholesale: a persisted override shortening
        only the raw horizon must not silently delete the tier
        horizons (apply_retention would then skip — or worse, KeyError
        mid-run after raw partitions were already dropped)."""
        clean = {k: v for k, v in kwargs.items() if v is not None}
        if "retention_us" in clean:
            clean["retention_us"] = {
                **self.retention_us, **clean["retention_us"]
            }
        return replace(self, **clean)

    @classmethod
    def load(cls, path: str | None = None, **kwargs) -> "EngineConfig":
        """Layered load (≙ read_config, mtscomp.py:186-200):
        code defaults ← persisted file ← non-None kwargs."""
        return cls().with_overrides(**read_persisted(path)).with_overrides(
            **kwargs
        )


def session_width(spark) -> int:
    """The session's configured shuffle width
    (``spark.sql.shuffle.partitions``, else ``defaultParallelism``):
    the explicit partition count for an exchange feeding a
    per-row-expensive Python stage. An explicit-N repartition is exempt
    from AQE's byte-sized coalescing, which would otherwise run such a
    stage on a handful of tasks."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        return spark.sparkContext.defaultParallelism


def config_path(path: str | None = None) -> str:
    """Site-default file: $MTSLAKE_CONFIG or ~/.mtslake (JSON),
    ≙ CONFIG_PATH = ~/.mtscomp."""
    return path or os.environ.get(
        "MTSLAKE_CONFIG", os.path.expanduser("~/.mtslake")
    )


_FIELD_NAMES = {f.name for f in fields(EngineConfig)}


def read_persisted(path: str | None = None) -> dict:
    p = config_path(path)
    if not os.path.exists(p):
        return {}
    with open(p) as f:
        raw = json.load(f)
    out = {k: v for k, v in raw.items() if k in _FIELD_NAMES and v is not None}
    if "tiers" in out:
        out["tiers"] = tuple(out["tiers"])
    return out


def write_persisted(path: str | None = None, **kwargs) -> dict:
    """Persist site defaults (≙ write_config / ``--set-default``,
    mtscomp.py:203-209, 1080-1081): merge kwargs over the current file
    and write back; unknown keys are rejected loudly."""
    bad = set(kwargs) - _FIELD_NAMES
    if bad:
        raise KeyError(f"unknown config keys: {sorted(bad)}")
    merged = {**read_persisted(path),
              **{k: v for k, v in kwargs.items() if v is not None}}
    if "tiers" in merged:
        merged["tiers"] = list(merged["tiers"])
    p = config_path(path)
    os.makedirs(os.path.dirname(p) or ".", exist_ok=True)
    with open(p, "w") as f:
        json.dump(merged, f, indent=2, sort_keys=True)
    return merged


DEFAULT = EngineConfig()

TIER_US = {
    "1m": US_PER_MINUTE,
    "1h": US_PER_HOUR,
    "1d": US_PER_DAY,
}
