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
sequentially, groups concurrently — ``src/events.rs:119-193``) is a
Kafka-producer contract. Before the Kafka sink it maps to
``repartition(key) + sortWithinPartitions(key, block_height)``
(``ordered_for_sink``): Kafka preserves order within a producer/partition,
and each Spark partition holds complete key groups. The parquet sink needs
no such exchange (see ``streaming/job.py``).

The projections and filters are SQL text for ``selectExpr``/``filter``/
``F.expr``, so building them costs a few py4j round trips instead of
several per ``Column`` call (see ``operators/extract.py``).

Scale note: whitelist/blacklist are config-sized (10s-1000s of entries) →
one SQL ``IN`` list of quoted literals, which Catalyst turns into an
in-predicate pushed to the scan.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from near_event_streams_spark.operators.extract import sql_string


def _contract_in(names: Sequence[str]) -> str:
    listed = ", ".join(sql_string(n) for n in names)
    return f"emit_info.contract_account_id IN ({listed})"


def apply_whitelist(events: DataFrame, whitelist: Sequence[str]) -> DataFrame:
    """Empty whitelist ⇒ all pass (src/events.rs:276-284)."""
    if not whitelist:
        return events
    return events.filter(_contract_in(whitelist))


def apply_blacklist(events: DataFrame, blacklist: Sequence[str]) -> DataFrame:
    """Empty blacklist ⇒ none dropped (src/events.rs:285-293)."""
    if not blacklist:
        return events
    return events.filter(f"NOT ({_contract_in(blacklist)})")


# Kafka message key (src/event_types.rs:26-35).
_KEY = (
    "CASE WHEN emit_info IS NOT NULL "
    "THEN coalesce(emit_info.contract_account_id, '') "
    "ELSE format_string('%s.%s', standard, event) END"
)


def _specific_topic(prefix: str) -> str:
    """``"{prefix}.{standard}.{event}"`` (src/event_types.rs:37-39)."""
    return f"format_string('%s.%s.%s', {sql_string(prefix)}, standard, event)"


# Compact JSON of the full event, preserving the reference field order
# (standard, version, event, data, emit_info) and the untagged ``data``
# union (typed variant if matched, else raw JSON passthrough). ``data`` and
# ``emit_info`` are spliced into the envelope JSON: drop its closing brace,
# append the extra members, re-close.
_DATA = (
    "coalesce("
    "CASE WHEN data_mint IS NOT NULL THEN to_json(data_mint) END, "
    "CASE WHEN data_transfer IS NOT NULL THEN to_json(data_transfer) END, "
    "data_json)"
)
_ENVELOPE_JSON = "to_json(struct(standard, version, event))"
_VALUE = (
    f"concat(substring({_ENVELOPE_JSON}, 1, length({_ENVELOPE_JSON}) - 1), "
    f"CASE WHEN {_DATA} IS NOT NULL THEN concat(',\"data\":', {_DATA}) "
    "ELSE '' END, "
    "CASE WHEN emit_info IS NOT NULL "
    "THEN concat(',\"emit_info\":', to_json(emit_info)) ELSE '' END, "
    "'}')"
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
    per_event = events.selectExpr(
        f"array({sql_string(all_topic)}, {_specific_topic(topic_prefix)}) "
        "AS topics",
        f"{_KEY} AS key",
        f"{_VALUE} AS value",
        "emit_info.block_height AS block_height",
    )
    return per_event.selectExpr(
        "explode(topics) AS topic", "key", "value", "block_height"
    )


def ordered_for_sink(records: DataFrame, partitions: int | None = None) -> DataFrame:
    """Per-key ordering discipline before a Kafka sink.

    ``repartition(key)`` co-locates each key's records in one partition;
    ``sortWithinPartitions`` restores block order inside it. Kafka then
    preserves intra-partition send order per key (with
    ``max.in.flight.requests.per.connection=1`` or an idempotent producer).
    Mirrors src/events.rs:119-193 (per-contract sequential, cross-contract
    concurrent). Only the Kafka sink needs this exchange; the parquet sink
    sorts within partitions without one (``streaming/job.py``).
    """
    parts = records.repartition(partitions, "key") if partitions else records.repartition("key")
    return parts.sortWithinPartitions("key", "block_height")


def serialize_event() -> Column:
    """Compact JSON of the full event, preserving the reference field order
    (standard, version, event, data, emit_info) and the untagged ``data``
    union (typed variant if matched, else raw JSON passthrough)."""
    return F.expr(_VALUE)
