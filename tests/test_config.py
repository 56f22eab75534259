"""Config loader parity tests (configs.rs:148-186, nes.toml.sample)."""

import dataclasses
import tomllib

from near_event_streams_spark.cli import SAMPLE_TOML
from near_event_streams_spark.config import NesConfig


def test_load_toml(tmp_path):
    (tmp_path / "nes.toml").write_text(
        """
near_events_all_topic = "all_topic"
topic_prefix = "pfx"
force_create_new_topic = true
new_topic_partitions = 3
new_topic_replication = 2
whitelist_contract_ids = ["a.near"]
blacklist_contract_ids = []
enrich_metadata = true
stats_enabled = false
concurrency = 4

[kafka]
"bootstrap.servers" = "broker:9092"
"session.timeout.ms" = 45000
"""
    )
    # keys NesConfig does not know (an old file's run arg, the unported
    # topic-creation and enrichment keys) are ignored
    cfg = NesConfig.load(str(tmp_path))
    for key in (
        "concurrency",
        "force_create_new_topic",
        "new_topic_partitions",
        "new_topic_replication",
        "enrich_metadata",
    ):
        assert not hasattr(cfg, key), key
    assert cfg.near_events_all_topic == "all_topic"
    assert cfg.topic_prefix == "pfx"
    assert cfg.whitelist_contract_ids == ["a.near"]
    assert cfg.stats_enabled is False
    assert cfg.kafka["bootstrap.servers"] == "broker:9092"
    assert cfg.kafka["session.timeout.ms"] == "45000"


def test_sample_toml_loads_to_defaults(tmp_path):
    """``init`` writes exactly the defaults, and no key ``load`` ignores."""
    (tmp_path / "nes.toml").write_text(SAMPLE_TOML)
    assert NesConfig.load(str(tmp_path)) == NesConfig()
    fields = {f.name for f in dataclasses.fields(NesConfig)}
    assert set(tomllib.loads(SAMPLE_TOML)) <= fields
