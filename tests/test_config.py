"""Config loader parity tests (configs.rs:148-186, nes.toml.sample)."""

from near_event_streams_spark.config import NesConfig
from near_event_streams_spark.sinks import ensure_topics


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
    # a key NesConfig does not know (an old file's run arg) is ignored
    cfg = NesConfig.load(str(tmp_path))
    assert not hasattr(cfg, "concurrency")
    assert cfg.near_events_all_topic == "all_topic"
    assert cfg.topic_prefix == "pfx"
    assert cfg.force_create_new_topic is True
    assert cfg.new_topic_partitions == 3
    assert cfg.whitelist_contract_ids == ["a.near"]
    assert cfg.enrich_metadata is True
    assert cfg.stats_enabled is False
    assert cfg.kafka["bootstrap.servers"] == "broker:9092"
    assert cfg.kafka["session.timeout.ms"] == "45000"


def test_defaults_match_sample():
    cfg = NesConfig()
    assert cfg.new_topic_partitions == 1
    assert cfg.new_topic_replication == 3


def test_ensure_topics_without_client_warns_and_continues():
    cfg = NesConfig(force_create_new_topic=True)
    # no kafka client library in this container -> False, no raise
    assert ensure_topics(cfg, ["t1", "t2"]) is False


def test_ensure_topics_disabled_is_noop():
    assert ensure_topics(NesConfig(), ["t1"]) is False
