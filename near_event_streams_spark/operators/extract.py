"""Event extraction: StreamerMessage rows → validated NearEvent rows.

Re-expresses the reference's per-block extraction loop
(reference: ``src/events.rs:102-145, 272-350``) as one declarative plan of
narrow transformations — it runs identically on a static DataFrame or a
streaming DataFrame, in one pass per partition with no exchange.

Pipeline (each step cites the reference behavior it mirrors):

1. explode ``shards`` → explode ``receipt_execution_outcomes`` → explode
   ``logs``  (3-level unnest, ``src/events.rs:115-118, 272-275, 312``)
2. cheap prefix filter on the *raw* string before any JSON parse
   (``src/events.rs:313-315``), then one regexp pass strips the
   ``EVENT_JSON:`` prefix and trims (``src/events.rs:318-319``)
3. one ``from_json`` per line into ``standard, version, event`` plus
   ``data`` as raw JSON text (``src/events.rs:320``), inside a ``Generate``
   (inline of a one-element array). A Filter on generator output cannot be
   pushed below it, so step 4 reads the parsed fields instead of Catalyst
   inlining, and re-running, the parse in the Filter. One more
   ``from_json`` types an object or array payload as a superset NEP-171
   item array, from which the mint and transfer variants are projected
   (``src/event_types.rs:77-91``). Both parses refuse single quotes and
   NaN/Infinity, as serde does
4. tag each line with its ``reject_reason`` (null for a valid event):
   - unparseable envelope → rejected, reason ``parse_error``
     (``src/events.rs:336-344`` warn-and-drop)
   - regex-invalid ``standard``/``event`` → rejected, reason
     ``validation_error`` (``src/events.rs:322-334``,
     pattern ``src/event_types.rs:9-10``)
5. stamp ``emit_info`` provenance (``src/events.rs:304-310, 346-349``)

At 100 TB scale every step here is a narrow map. No shuffle is introduced
before the sink, and only the Kafka sink repartitions by key (see
routing.py). The explodes multiply rows but never exchange them.

Every projection is SQL text for ``selectExpr``/``filter``, built once at
import from the ``schemas.py`` types (``simpleString()``). In classic
PySpark each DSL ``Column`` call is several py4j round trips, paid at
every query start; from text, building the routed stream takes about a
hundred (``tests/test_routing.py`` gates it).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import ArrayType, StructType

from near_event_streams_spark.schemas import (
    EVENT_ENVELOPE_SCHEMA,
    EVENT_FIELD_PATTERN,
    EVENT_JSON_PREFIX,
    NEP171_ITEM_SCHEMA,
    NEP171_MINT_SCHEMA,
    NEP171_TRANSFER_SCHEMA,
)


def sql_string(value: str) -> str:
    """``value`` as a Spark SQL string literal. SQL literals take backslash
    escapes, so a regex's ``\\s`` must reach the parser as ``\\\\s``."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


def explode_to_logs(messages: DataFrame) -> DataFrame:
    """3-level unnest: blocks → shards → outcomes → log lines.

    Keeps block/shard/receipt provenance columns alongside each log line so
    emit_info can be stamped without re-joining (the reference threads the
    same values through its call stack, ``src/events.rs:104-118, 297-310``).
    """
    return (
        messages.selectExpr(
            "block.header.height AS block_height",
            "block.header.timestamp AS block_timestamp",
            "explode(shards) AS shard",
        )
        .selectExpr(
            "block_height",
            "block_timestamp",
            "shard.shard_id AS shard_id",
            "explode(shard.receipt_execution_outcomes) AS outcome",
        )
        .selectExpr(
            "block_height",
            "block_timestamp",
            "shard_id",
            "outcome.receipt.receipt_id AS receipt_id",
            "outcome.receipt.receiver_id AS contract_account_id",
            "explode(outcome.execution_outcome.outcome.logs) AS log",
        )
    )


# Rust's ``str::trim`` strips tabs and newlines as well as spaces, so the
# trims are regexps over ``\s``, not Spark's space-only ``trim``. The prefix
# has no regex metacharacters.
_PREFIX_PATTERN = r"^\s*" + EVENT_JSON_PREFIX
# Leading whitespace + prefix + whitespace, or trailing whitespace.
_STRIP_PATTERN = _PREFIX_PATTERN + r"\s*|\s+$"


def _every_item_has(*fields: str) -> str:
    checks = " AND ".join(f"x.{f} IS NOT NULL" for f in fields)
    return f"(size(_items) > 0 AND forall(_items, x -> {checks}))"


def _typed(schema: StructType) -> str:
    """Superset ``_items`` projected back to one NEP-171 variant's item
    shape."""
    fields = ", ".join(f"x.{f.name} AS {f.name}" for f in schema)
    return (
        f"CAST(transform(_items, x -> struct({fields})) "
        f"AS {ArrayType(schema).simpleString()})"
    )


# Untagged-union matching (src/event_types.rs:84-91). serde tries
# Mint(Vec) → Transfer(Vec) → MintFlat → TransferFlat, and a variant
# matches only when its required fields are present (owner_id+token_ids
# for mint; old/new_owner_id+token_ids for transfer). Under an
# array-of-struct schema ``from_json`` reads a lone object as a
# one-element array, so the flat variants need no case of their own.
_IS_MINT = _every_item_has("owner_id", "token_ids")
_IS_TRANSFER = (
    f"(NOT {_IS_MINT}) AND "
    + _every_item_has("old_owner_id", "new_owner_id", "token_ids")
)
_ENVELOPE = sql_string(EVENT_ENVELOPE_SCHEMA.simpleString())
_ITEMS = sql_string(ArrayType(NEP171_ITEM_SCHEMA).simpleString())
# serde_json's grammar: ``from_json`` defaults accept single-quoted
# strings and NaN/Infinity, which serde rejects.
_STRICT = "map('allowSingleQuotes', 'false', 'allowNonNumericNumbers', 'false')"
# The payload as a VARIANT, read from the raw event JSON: only it tells a
# JSON string from the object, array or number its text may spell
# (``data_json`` holds a string's text without its quotes).
DATA_VARIANT = "variant_get(try_parse_json(event_json), '$.data')"
# serde types only an object or array payload as NEP-171; a string stays
# ``Generic(String)`` even when its text is NEP-171 JSON. Such a text holds
# ``"``, which a JSON string escapes with a backslash, so a line without
# one skips the VARIANT parse. A line ``try_parse_json`` rejects (a
# duplicate key) is typed as ``from_json`` reads it.
_NOT_STRING = (
    "(instr(event_json, '\\\\') = 0 "
    f"OR schema_of_variant({DATA_VARIANT}) IS DISTINCT FROM 'STRING')"
)


def parse_events(logs: DataFrame, log_col: str = "log") -> DataFrame:
    """Prefix-filter, parse, and type event log lines (no validation yet).

    Output adds:
      ``event_json`` — the full raw event JSON after prefix strip
      ``standard, version, event`` — envelope fields (null if parse failed)
      ``data_json`` — the raw payload JSON (always retained; the reference's
        ``Generic(Value)`` escape hatch, ``src/event_types.rs:81``)
      ``data_mint, data_transfer`` — typed arrays when the payload matches
        that NEP-171 shape (``src/event_types.rs:84-91`` untagged union)
    """
    return (
        logs.filter(f"{log_col} RLIKE {sql_string(_PREFIX_PATTERN)}")
        .selectExpr(
            "*",
            f"regexp_replace({log_col}, {sql_string(_STRIP_PATTERN)}, '') "
            "AS event_json",
        )
        # The barrier: a filter on generator output cannot move below the
        # Generate, so the envelope is parsed here once per line.
        .selectExpr(
            "*",
            f"inline(array(from_json(event_json, {_ENVELOPE}, {_STRICT}))) "
            "AS (standard, version, event, data_json)",
        )
        .selectExpr(
            "*",
            f"CASE WHEN {_NOT_STRING} "
            f"THEN from_json(data_json, {_ITEMS}, {_STRICT}) END AS _items",
        )
        .selectExpr(
            "*",
            f"CASE WHEN {_IS_MINT} THEN {_typed(NEP171_MINT_SCHEMA)} END "
            "AS data_mint",
            f"CASE WHEN {_IS_TRANSFER} THEN {_typed(NEP171_TRANSFER_SCHEMA)} "
            "END AS data_transfer",
        )
        .drop("_items")
    )


# NearEvent.data is a required serde field (src/event_types.rs:75-81): an
# envelope with standard/version/event but no `data` member is a parse
# error in the reference, not a valid event with a null payload.
_PARSE_FAILED = (
    "(standard IS NULL OR version IS NULL OR event IS NULL "
    "OR data_json IS NULL)"
)
_FIELD_PATTERN = sql_string(EVENT_FIELD_PATTERN)
_INVALID = (
    f"(NOT (standard RLIKE {_FIELD_PATTERN} AND event RLIKE {_FIELD_PATTERN}))"
)
_REJECT_REASON = (
    f"CASE WHEN {_PARSE_FAILED} THEN 'parse_error' "
    f"WHEN {_INVALID} THEN 'validation_error' END"
)


def tag_rejects(parsed: DataFrame) -> DataFrame:
    """Add ``reject_reason``: ``parse_error`` (the reference's
    drop-and-warn, ``src/events.rs:336-344``), ``validation_error``
    (``:322-334``) or null for a valid event. We keep the rejects so
    sinks can count or persist them."""
    return parsed.selectExpr("*", f"{_REJECT_REASON} AS reject_reason")


def split_valid(parsed: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Split parsed rows into (valid events, rejected rows with reason)."""
    tagged = tag_rejects(parsed)
    ok = tagged.filter("reject_reason IS NULL").drop("reject_reason")
    return ok, tagged.filter("reject_reason IS NOT NULL")


def with_emit_info(events: DataFrame) -> DataFrame:
    """Stamp provenance (reference: src/events.rs:304-310, 346-349)."""
    return events.selectExpr(
        "*",
        "struct(receipt_id, block_timestamp, block_height, shard_id, "
        "contract_account_id) AS emit_info",
    )


def extract_events(
    messages: DataFrame,
) -> tuple[DataFrame, DataFrame]:
    """Full extraction: StreamerMessage frame → (events, rejected).

    The composed plan is: explode×3 → prefix filter → parse → tag and split
    → emit_info. All narrow; one stage under whole-stage codegen.
    """
    logs = explode_to_logs(messages)
    parsed = parse_events(logs)
    ok, rejected = split_valid(parsed)
    return with_emit_info(ok), rejected
