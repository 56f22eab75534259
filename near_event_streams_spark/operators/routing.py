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

The projections and filters are SQL text for ``selectExpr``/``filter``,
so building them costs a few py4j round trips instead of several per
``Column`` call (see ``operators/extract.py``).

Scale note: whitelist/blacklist are config-sized (10s-1000s of entries) →
one SQL ``IN`` list of quoted literals, which Catalyst turns into an
in-predicate pushed to the scan.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame

from near_event_streams_spark.operators.extract import DATA_VARIANT, sql_string


def _contract_in(names: Sequence[str]) -> str:
    listed = ", ".join(sql_string(n) for n in names)
    return f"emit_info.contract_account_id IN ({listed})"


def contract_filter(
    whitelist: Sequence[str], blacklist: Sequence[str]
) -> str | None:
    """SQL predicate for the events the whitelist and blacklist keep, or
    None when both lists are empty (src/events.rs:276-293)."""
    keep = []
    if whitelist:
        keep.append(_contract_in(whitelist))
    if blacklist:
        keep.append(f"NOT ({_contract_in(blacklist)})")
    return " AND ".join(keep) or None


# Kafka message key (src/event_types.rs:26-35).
_KEY = (
    "CASE WHEN emit_info IS NOT NULL "
    "THEN coalesce(emit_info.contract_account_id, '') "
    "ELSE format_string('%s.%s', standard, event) END"
)


def _specific_topic(prefix: str) -> str:
    """``"{prefix}.{standard}.{event}"`` (src/event_types.rs:37-39)."""
    return f"format_string('%s.%s.%s', {sql_string(prefix)}, standard, event)"


# ``from_json`` returns a JSON string payload as its text without the
# quotes, while serde's ``Generic(Value)`` keeps them
# (src/event_types.rs:81). Only the raw ``event_json`` can tell a string
# from an object, array, number or boolean, so every payload's type is
# read from it as a VARIANT and a ``STRING`` is re-quoted. Every other
# type keeps its ``data_json`` text (a VARIANT's ``to_json`` would sort an
# object's keys).
_GENERIC = (
    f"CASE WHEN schema_of_variant({DATA_VARIANT}) = 'STRING' "
    f"THEN to_json({DATA_VARIANT}) ELSE data_json END"
)
# Compact JSON of the full event, preserving the reference field order
# (standard, version, event, data, emit_info) and the untagged ``data``
# union (typed variant if matched, else raw JSON passthrough). ``data`` and
# ``emit_info`` are spliced into the envelope JSON: drop its closing brace,
# append the extra members, re-close. ``_DATA`` is never null on a routed
# row: extraction rejects a null ``data_json``.
_DATA = (
    "coalesce("
    "CASE WHEN data_mint IS NOT NULL THEN to_json(data_mint) END, "
    "CASE WHEN data_transfer IS NOT NULL THEN to_json(data_transfer) END, "
    f"{_GENERIC})"
)
_ENVELOPE_JSON = "to_json(struct(standard, version, event))"
_VALUE = (
    f"concat(substring({_ENVELOPE_JSON}, 1, length({_ENVELOPE_JSON}) - 1), "
    f"',\"data\":', {_DATA}, "
    "CASE WHEN emit_info IS NOT NULL "
    "THEN concat(',\"emit_info\":', to_json(emit_info)) ELSE '' END, "
    "'}')"
)


def event_columns(topic_prefix: str, all_topic: str) -> list[str]:
    """SQL of an event's routed columns, computed once per event below the
    fan-out: its destination ``topics`` — the all-events topic
    (src/events.rs:158-166) and ``{prefix}.{standard}.{event}`` (:168-176)
    — its ``key`` and its ``value``."""
    return [
        f"array({sql_string(all_topic)}, {_specific_topic(topic_prefix)}) "
        "AS topics",
        f"{_KEY} AS key",
        f"{_VALUE} AS value",
    ]


# One record per (event, destination topic): the explode only copies the
# event's key and value.
FAN_OUT = ("explode(topics) AS topic", "key", "value", "block_height")


def ordered_for_sink(records: DataFrame) -> DataFrame:
    """Per-key ordering discipline before a Kafka sink.

    ``repartition(key)`` co-locates each key's records in one partition;
    ``sortWithinPartitions`` restores block order inside it. Kafka then
    preserves intra-partition send order per key (with
    ``max.in.flight.requests.per.connection=1`` or an idempotent producer).
    Mirrors src/events.rs:119-193 (per-contract sequential, cross-contract
    concurrent). Only the Kafka sink needs this exchange; the parquet sink
    sorts within partitions without one (``streaming/job.py``).
    """
    parts = records.repartition("key")
    return parts.sortWithinPartitions("key", "block_height")
