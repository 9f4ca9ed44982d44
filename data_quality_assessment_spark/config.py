"""Declarative pipeline configuration.

Mirrors the reference's per-dataset JSON config (its config selects input
file, the dedup/IAT key columns and the outlier alpha —
``/root/reference/scripts/PreProcessing.py:26-48``,
``/root/reference/config/suratITMSConfig.json:7-19``). Ours holds the
rule thresholds, the dedup keys, the resumable run's part count and its
run id; the input and output locations are job arguments. All thresholds
live here so the Spark plan and the test oracle read the same numbers.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from typing import Any


@dataclass(frozen=True)
class RuleThresholds:
    """Thresholds for the heuristic quality rules (Gopher/C4-style)."""

    min_words: int = 10
    max_words: int = 100_000
    min_mean_word_len: float = 2.5
    max_mean_word_len: float = 12.0
    max_symbol_word_ratio: float = 0.30
    min_stopword_frac: float = 0.02
    max_dup_line_frac: float = 0.30
    max_top_bigram_share: float = 0.20
    max_perplexity: float = 450.0
    allowed_langs: tuple[str, ...] = ("en",)


@dataclass(frozen=True)
class PipelineConfig:
    """Everything the flagship job needs, loadable from JSON."""

    # dedup keys — reference uses (entity_id, observationDateTime)
    # (config/suratITMSConfig.json:9-11); ours is (url, warc_ts).
    dedup_keys: tuple[str, ...] = ("url", "warc_ts")
    thresholds: RuleThresholds = field(default_factory=RuleThresholds)
    # resumability: work units (part_ids) and the checkpoint's run id
    num_partitions: int = 32
    run_id: str = "run0"

    @staticmethod
    def from_json(path: str) -> "PipelineConfig":
        with open(path) as f:
            raw: dict[str, Any] = json.load(f)
        th = RuleThresholds(**{
            k: (tuple(v) if k == "allowed_langs" else v)
            for k, v in raw.pop("thresholds", {}).items()
        })
        if "dedup_keys" in raw:
            raw["dedup_keys"] = tuple(raw["dedup_keys"])
        return PipelineConfig(thresholds=th, **raw)


DEFAULT_CONFIG = PipelineConfig()
