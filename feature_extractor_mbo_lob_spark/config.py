"""Pipeline configuration.

Mirrors the reference's declarative config layer (reference:
src/config.rs:41-55 PipelineConfig, src/export/config/mod.rs DatasetConfig):
a plain dataclass loadable from JSON/TOML, from which the feature width and
all window/label parameters derive. The config is the ONLY declarative layer;
the "plan" is the DataFrame pipeline built from it.
"""

from __future__ import annotations

import dataclasses
import json
from dataclasses import dataclass, field
from typing import Any

from . import contract


@dataclass(frozen=True)
class LabelConfig:
    """TLOB-style labeling parameters (reference: src/labeling/tlob.rs:215-250,
    horizons default mirrors src/labeling/multi_horizon.rs)."""

    smoothing_k: int = 2          # k: trailing/leading smoother width
    horizon: int = 5              # h: forward offset in samples
    threshold: float = 0.002      # theta: classify |l| > theta
    horizons: tuple[int, ...] = (5, 10, 20)   # multi-horizon variants
    # triple-barrier
    profit_take: float = 0.05
    stop_loss: float = 0.05
    max_holding: int = 20
    min_hold: int = 0


@dataclass(frozen=True)
class PipelineConfig:
    """Engine configuration over the transcript table
    (conv_id string, turn_idx int, role string, text string, tool string,
    ts timestamp)."""

    key_col: str = "conv_id"
    order_cols: tuple[str, ...] = ("turn_idx", "ts")  # stable total order
    ts_col: str = "ts"

    # rolling count-based frames — reference's fast/medium/slow windows
    # (reference: src/features/mbo_features/mod.rs:115-125: 100/1000/5000)
    window_sizes: tuple[int, ...] = (8, 32, 128)

    # sampling (reference: src/preprocessing/sampling.rs)
    sample_every_n: int = 4            # event-based sampler stride
    volume_target: float = 500.0       # volume sampler: chars accumulated per fire

    # sequence building (reference: src/sequence_builder/builder.rs:122-160)
    seq_window: int = 8
    seq_stride: int = 2
    multiscale_decimation: tuple[int, ...] = (1, 2, 4)

    # sessionization gap (reference analog: per-day reset boundary,
    # src/pipeline.rs:820-841 — here a time-gap rule within conv_id)
    session_gap_s: float = 1800.0

    # warmup before signal features are trusted
    # (reference: src/features/signals/ofi.rs:15 — 100 effective changes)
    warmup_turns: int = 8

    labels: LabelConfig = field(default_factory=LabelConfig)

    # skew handling: conversations longer than this are computed by the
    # kernel in chunks of this many turns (plans.vectorized.kernel_routed)
    skew_max_turns_per_task: int = 250_000

    def feature_count(self) -> int:
        return contract.feature_count(self.window_sizes)

    def feature_columns(self) -> list[str]:
        return contract.feature_columns(self.window_sizes)

    # --- (de)serialization -------------------------------------------------
    def to_json(self) -> str:
        return json.dumps(dataclasses.asdict(self), sort_keys=True, default=list)

    @classmethod
    def from_dict(cls, d: dict[str, Any]) -> "PipelineConfig":
        d = dict(d)
        # named schema preset (reference: src/schema/presets.rs:13-64):
        # `preset = "full"` in TOML/JSON seeds window/sequence/horizon
        # fields from the validated preset registry; any explicit keys in
        # the same document override the preset's values below.
        preset_name = d.pop("preset", None)
        if preset_name is not None:
            from .presets import get_preset

            base = get_preset(preset_name).build_config()
            merged = dataclasses.asdict(base)
            merged.update(d)
            d = merged
        if "labels" in d and isinstance(d["labels"], dict):
            lab = dict(d["labels"])
            if "horizons" in lab:
                lab["horizons"] = tuple(lab["horizons"])
            d["labels"] = LabelConfig(**lab)
        for k in ("order_cols", "window_sizes", "multiscale_decimation"):
            if k in d:
                d[k] = tuple(d[k])
        return cls(**d)

    @classmethod
    def from_json(cls, s: str) -> "PipelineConfig":
        return cls.from_dict(json.loads(s))

    @classmethod
    def from_toml(cls, s: str) -> "PipelineConfig":
        """TOML twin of the JSON loader (reference: export_dataset.rs:178-180
        loads the run config from TOML). Uses stdlib tomllib — no new deps."""
        import tomllib

        return cls.from_dict(tomllib.loads(s))

    @classmethod
    def from_file(cls, path: str) -> "PipelineConfig":
        """Load by extension: .toml -> TOML, anything else -> JSON."""
        with open(path, "rb") as f:
            data = f.read()
        if str(path).endswith(".toml"):
            return cls.from_toml(data.decode())
        return cls.from_json(data.decode())

    def config_hash(self) -> str:
        """Stable hash recorded in lineage manifests (reference:
        src/export_aligned/metadata.rs config hash)."""
        import hashlib

        return hashlib.sha256(self.to_json().encode()).hexdigest()[:16]


DEFAULT_CONFIG = PipelineConfig()
