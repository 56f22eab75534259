"""Routing: whitelist/blacklist, Kafka key/topic derivation, 2-way fan-out.

Reference behavior being re-expressed:

* whitelist keeps events whose contract is listed (empty list ⇒ keep all);
  blacklist drops listed contracts (empty ⇒ drop none)
  (reference: ``src/events.rs:276-293``).
* Kafka message key = ``contract_account_id`` when emit_info is present,
  else ``"{standard}.{event}"`` (``src/event_types.rs:26-35``); a missing
  contract id defaults to ``""`` for grouping (``src/events.rs:123``,
  ``unwrap_or_default``).
* every event goes to 2 topics — the all-events topic and
  ``"{prefix}.{standard}.{event}"`` (``src/events.rs:147-196``). The
  reference's third topic, ``…_metadata`` for enriched flat events
  (``:216``), carries a record this job does not build, so it is not routed.

Spark-first design: one projection computes key, value, block height and
the event's destination-topic array once per event, and a single
``explode`` emits one record per topic into ONE Kafka sink (dynamic topic
routing) — one scan and one parse of the source, no per-row fan-out code.
Per-contract ordering (the reference sends each contract group
sequentially, groups concurrently — ``src/events.rs:119-193``) maps to
``repartition(key) + sortWithinPartitions(block_height, …)`` before the
sink: Kafka preserves order within a producer/partition, and each Spark
partition holds complete key groups.

Scale note: whitelist/blacklist are config-sized (10s-1000s of entries) →
``isin`` literals, which Catalyst turns into an in-predicate pushed to the
scan.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def apply_whitelist(events: DataFrame, whitelist: Sequence[str]) -> DataFrame:
    """Empty whitelist ⇒ all pass (src/events.rs:276-284)."""
    if not whitelist:
        return events
    return events.filter(
        F.col("emit_info.contract_account_id").isin(list(whitelist))
    )


def apply_blacklist(events: DataFrame, blacklist: Sequence[str]) -> DataFrame:
    """Empty blacklist ⇒ none dropped (src/events.rs:285-293)."""
    if not blacklist:
        return events
    return events.filter(
        ~F.col("emit_info.contract_account_id").isin(list(blacklist))
    )


def event_key() -> Column:
    """Kafka message key (src/event_types.rs:26-35)."""
    return F.when(
        F.col("emit_info").isNotNull(),
        F.coalesce(F.col("emit_info.contract_account_id"), F.lit("")),
    ).otherwise(F.format_string("%s.%s", F.col("standard"), F.col("event")))


def specific_topic(prefix: str) -> Column:
    """``"{prefix}.{standard}.{event}"`` (src/event_types.rs:37-39)."""
    return F.format_string(
        "%s.%s.%s", F.lit(prefix), F.col("standard"), F.col("event")
    )


def routed_records(
    events: DataFrame, topic_prefix: str, all_topic: str
) -> DataFrame:
    """Fan events out to (topic, key, value, block_height) records.

    One record per (event, destination topic): the all-events topic
    (src/events.rs:158-166) and the specific ``{prefix}.{standard}.{event}``
    topic (:168-176). Key and value are computed once per event, below the
    explode, so the fan-out only copies them.
    """
    per_event = events.select(
        F.array(F.lit(all_topic), specific_topic(topic_prefix)).alias("topics"),
        event_key().alias("key"),
        serialize_event().alias("value"),
        F.col("emit_info.block_height").alias("block_height"),
    )
    return per_event.select(
        F.explode("topics").alias("topic"), "key", "value", "block_height"
    )


def ordered_for_sink(records: DataFrame, partitions: int | None = None) -> DataFrame:
    """Per-key ordering discipline before a Kafka sink.

    ``repartition(key)`` co-locates each key's records in one partition;
    ``sortWithinPartitions`` restores block order inside it. Kafka then
    preserves intra-partition send order per key (with
    ``max.in.flight.requests.per.connection=1`` or an idempotent producer).
    Mirrors src/events.rs:119-193 (per-contract sequential, cross-contract
    concurrent).
    """
    parts = records.repartition(partitions, "key") if partitions else records.repartition("key")
    return parts.sortWithinPartitions("key", "block_height")


def serialize_event() -> Column:
    """Compact JSON of the full event, preserving the reference field order
    (standard, version, event, data, emit_info) and the untagged ``data``
    union (typed variant if matched, else raw JSON passthrough)."""
    data = F.coalesce(
        F.when(F.col("data_mint").isNotNull(), F.to_json(F.col("data_mint"))),
        F.when(
            F.col("data_transfer").isNotNull(),
            F.to_json(F.col("data_transfer")),
        ),
        F.col("data_json"),
    )
    emit = F.when(
        F.col("emit_info").isNotNull(),
        F.concat(F.lit(',"emit_info":'), F.to_json(F.col("emit_info"))),
    ).otherwise(F.lit(""))
    envelope = F.to_json(
        F.struct(F.col("standard"), F.col("version"), F.col("event"))
    )
    # splice data/emit_info into the envelope JSON: drop the closing brace,
    # append the extra members, re-close.
    return F.concat(
        F.substring(envelope, F.lit(1), F.length(envelope) - 1),
        F.when(data.isNotNull(), F.concat(F.lit(',"data":'), data)).otherwise(
            F.lit("")
        ),
        emit,
        F.lit("}"),
    )
