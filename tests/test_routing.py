"""Routing parity tests (SURVEY §2.1 ops 8, 9, 12, 13)."""

import json
import os
import re

from pyspark.sql import functions as F

from near_event_streams_spark.config import NesConfig
from near_event_streams_spark.operators.extract import extract_events
from near_event_streams_spark.operators.routing import (
    contract_filter,
    ordered_for_sink,
)
from near_event_streams_spark.sources.streamer import (
    read_messages_json,
    stream_messages_json,
)
from near_event_streams_spark.streaming.job import build_routed_stream


def _events(spark, fixture_messages_path):
    ok, _ = extract_events(read_messages_json(spark, fixture_messages_path))
    return ok


def _routed(spark, fixture_messages_path, config=NesConfig()):
    messages = read_messages_json(spark, fixture_messages_path)
    routed, _ = build_routed_stream(messages, config)
    return routed


def test_whitelist_empty_keeps_all(spark, fixture_messages_path):
    ev = _events(spark, fixture_messages_path)
    assert contract_filter([], []) is None
    assert _routed(spark, fixture_messages_path).count() == 2 * ev.count()


def test_whitelist_filters(spark, fixture_messages_path):
    ev = _events(spark, fixture_messages_path)
    # a quote and a backslash must stay literal in the SQL IN list
    names = ["nft.contract-a.near", "o'dd\\.near"]
    kept = ev.filter(contract_filter(names, []))
    assert {
        r["emit_info"]["contract_account_id"] for r in kept.collect()
    } == {"nft.contract-a.near"}


def test_blacklist_filters(spark, fixture_messages_path):
    ev = _events(spark, fixture_messages_path)
    names = ["nft.contract-a.near", "o'dd\\.near"]
    kept = ev.filter(contract_filter([], names))
    assert "nft.contract-a.near" not in {
        r["emit_info"]["contract_account_id"] for r in kept.collect()
    }
    assert kept.count() == ev.count() - 2


def test_fanout_two_topics_per_event(spark, fixture_messages_path):
    ev = _events(spark, fixture_messages_path)
    recs = _routed(spark, fixture_messages_path)
    n = ev.count()
    assert recs.count() == 2 * n
    topics = {r["topic"] for r in recs.collect()}
    assert "near_events_all" in topics
    assert "near_events.nep171.nft_mint" in topics
    assert "near_events.custom.thing_happened" in topics


def test_routed_plan_scans_source_once(spark, fixture_messages_path):
    """The 2-topic fan-out is one explode over one projection: the
    executed plan reads the source once and holds no Union (a union of
    per-topic projections re-runs scan, explode and parse per branch)."""
    routed, _ = build_routed_stream(
        read_messages_json(spark, fixture_messages_path), NesConfig()
    )
    plan = routed._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"\bFileScan\b", plan)) == 1, plan
    assert not re.search(r"\bUnion\b", plan), plan


def test_routed_stream_builds_in_few_round_trips(
    spark, fixture_messages_path, monkeypatch
):
    """The parity plan is built from SQL text: a query start costs about a
    hundred py4j commands, not the ~1,800 of a per-``Column`` DSL build
    (each ``F.col``/``F.when``/``.alias`` is several round trips)."""
    from py4j.clientserver import ClientServerConnection

    messages = stream_messages_json(spark, os.path.dirname(fixture_messages_path))
    send = ClientServerConnection.send_command
    sent = []

    def counting(self, command):
        sent.append(command)
        return send(self, command)

    monkeypatch.setattr(ClientServerConnection, "send_command", counting)
    build_routed_stream(messages, NesConfig())
    monkeypatch.undo()
    assert len(sent) <= 300, len(sent)


def test_key_is_contract_account(spark, fixture_messages_path):
    recs = _routed(spark, fixture_messages_path)
    keys = {r["key"] for r in recs.collect()}
    assert keys == {
        "nft.contract-a.near",
        "nft.contract-b.near",
        "app.other.near",
    }


def test_serialized_value_round_trips(spark, fixture_messages_path):
    row = _routed(spark, fixture_messages_path).filter(
        (F.col("topic") == "near_events.nep171.nft_mint")
        & (F.col("block_height") == 100)
    ).collect()[0]
    payload = json.loads(row["value"])
    assert payload["standard"] == "nep171"
    assert payload["event"] == "nft_mint"
    assert payload["data"][0]["owner_id"] == "sigilnet.testnet"
    assert payload["data"][0]["token_ids"] == ["1:1", "1:2"]
    assert payload["emit_info"]["block_height"] == 100
    assert payload["emit_info"]["contract_account_id"] == "nft.contract-a.near"
    # field order parity with serde struct order
    assert row["value"].startswith('{"standard":')


def test_generic_data_passthrough_in_value(spark, fixture_messages_path):
    row = (
        _routed(spark, fixture_messages_path)
        .filter(F.col("topic") == "near_events.custom.thing_happened")
        .collect()[0]
    )
    payload = json.loads(row["value"])
    assert payload["data"] == {"foo": 1, "bar": [True, None]}


def test_ordered_for_sink_per_key_order(spark, fixture_messages_path):
    recs = ordered_for_sink(_routed(spark, fixture_messages_path))
    # within each partition, rows for the same key are contiguous & height-ordered
    def check(it):
        last = {}
        seen_done = set()
        prev_key = None
        for row in it:
            k, h = row["key"], row["block_height"]
            if k != prev_key:
                assert k not in seen_done, "key split across runs in partition"
                if prev_key is not None:
                    seen_done.add(prev_key)
                prev_key = k
            assert last.get(k, -1) <= h, "heights out of order within key"
            last[k] = h
        return iter(())

    recs.rdd.mapPartitions(lambda it: check(it)).count()
