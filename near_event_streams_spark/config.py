"""Pipeline configuration — parity with the reference's CLI + TOML config.

Mirrors the keys of the reference's ``NesConfig`` that this job reads
(reference: ``src/configs.rs:148-186``, sample keys ``nes.toml.sample:1-17``),
loaded from ``{home}/nes.toml`` with the ``[kafka]`` table passed through
verbatim to the Kafka client options. The run args (``RunArgs``,
``configs.rs:71-82``) are CLI flags (``cli.py``); ``load`` ignores keys it
does not know, so a ``nes.toml`` that still carries them loads.

Topic creation (``force_create_new_topic``, ``new_topic_partitions``,
``new_topic_replication``; ``events.rs:23-74``) and NFT-metadata
enrichment (``enrich_metadata``; ``token.rs``, ``events.rs:198-264``) are
not ported, so those keys are accepted and ignored the same way.
"""

from __future__ import annotations

import os
import tomllib
from dataclasses import dataclass, field


@dataclass
class NesConfig:
    # nes.toml.sample:1-9 keys (configs.rs:148-166)
    near_events_all_topic: str = "near_events_all"
    topic_prefix: str = "near_events"
    whitelist_contract_ids: list[str] = field(default_factory=list)
    blacklist_contract_ids: list[str] = field(default_factory=list)
    stats_enabled: bool = True
    # [kafka] table, verbatim client config (configs.rs:180-186)
    kafka: dict[str, str] = field(default_factory=dict)

    @classmethod
    def load(cls, home: str) -> "NesConfig":
        """Read ``{home}/nes.toml`` (configs.rs:167-178)."""
        path = os.path.join(home, "nes.toml")
        with open(path, "rb") as f:
            raw = tomllib.load(f)
        kafka = {k: str(v) for k, v in raw.pop("kafka", {}).items()}
        known = {f_.name for f_ in cls.__dataclass_fields__.values()}  # type: ignore[attr-defined]
        kwargs = {k: v for k, v in raw.items() if k in known}
        return cls(kafka=kafka, **kwargs)
