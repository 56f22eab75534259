"""Explicit StructType schemas for the parity layer.

The reference declares its data model as compile-time Rust structs
(reference: ``src/event_types.rs:13-23,67-119``); we mirror the parts the
streaming job reads with explicit StructTypes — schema inference is never
used on a production path (SURVEY §1.3).

Untagged unions (``EventData``, ``Nep171Data`` — ``src/event_types.rs:77-91``)
have no Spark equivalent; we model them as a *superset struct*: typed NEP-171
``mint`` / ``transfer`` arrays plus a raw-JSON fallback string. The envelope
parse keeps ``data`` as JSON text, which is parsed once more under the
superset item schema; a payload that matches neither typed shape leaves the
typed columns null and the raw string retained — mirroring the reference's
``Generic(Value)`` variant.

All ``u64`` fields (block heights, nanosecond timestamps, shard ids) map to
``LongType``: NEAR heights and ns-timestamps fit in i64 until ~year 2262;
the signedness caveat is accepted and documented here.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# --------------------------------------------------------------------------
# Input: StreamerMessage envelope — only the fields the reference reads
# (reference: src/events.rs:110-118, 272-275, 308-312).
# --------------------------------------------------------------------------

RECEIPT_SCHEMA = StructType(
    [
        StructField("receipt_id", StringType()),
        StructField("receiver_id", StringType()),
    ]
)

EXECUTION_OUTCOME_SCHEMA = StructType(
    [
        StructField(
            "outcome",
            StructType([StructField("logs", ArrayType(StringType()))]),
        )
    ]
)

OUTCOME_WITH_RECEIPT_SCHEMA = StructType(
    [
        StructField("receipt", RECEIPT_SCHEMA),
        StructField("execution_outcome", EXECUTION_OUTCOME_SCHEMA),
    ]
)

SHARD_SCHEMA = StructType(
    [
        StructField("shard_id", LongType()),
        StructField(
            "receipt_execution_outcomes", ArrayType(OUTCOME_WITH_RECEIPT_SCHEMA)
        ),
    ]
)

STREAMER_MESSAGE_SCHEMA = StructType(
    [
        StructField(
            "block",
            StructType(
                [
                    StructField(
                        "header",
                        StructType(
                            [
                                StructField("height", LongType()),
                                StructField("timestamp", LongType()),  # ns epoch
                            ]
                        ),
                    )
                ]
            ),
        ),
        StructField("shards", ArrayType(SHARD_SCHEMA)),
    ]
)

# --------------------------------------------------------------------------
# Output: NearEvent (reference: src/event_types.rs:13-23).
# ``data`` is the superset-struct encoding of the untagged union.
# --------------------------------------------------------------------------

NEP171_MINT_SCHEMA = StructType(
    [
        StructField("owner_id", StringType()),
        StructField("token_ids", ArrayType(StringType())),
        StructField("memo", StringType()),
    ]
)

NEP171_TRANSFER_SCHEMA = StructType(
    [
        StructField("authorized_id", StringType()),
        StructField("old_owner_id", StringType()),
        StructField("new_owner_id", StringType()),
        StructField("token_ids", ArrayType(StringType())),
        StructField("memo", StringType()),
    ]
)

# Superset of both NEP-171 item shapes: the payload is parsed once under
# ``ArrayType(NEP171_ITEM_SCHEMA)`` and each variant is projected from it
# (see operators/extract.py).
NEP171_ITEM_SCHEMA = StructType(
    list({f.name: f for f in [*NEP171_MINT_SCHEMA, *NEP171_TRANSFER_SCHEMA]}.values())
)

# Typed parse target for the event JSON. ``data`` is a string field: for a
# non-string value ``from_json`` keeps the value's compact JSON text, the
# ``Generic(Value)`` passthrough, which the NEP-171 parse then types.
EVENT_ENVELOPE_SCHEMA = StructType(
    [
        StructField("standard", StringType()),
        StructField("version", StringType()),
        StructField("event", StringType()),
        StructField("data", StringType()),
    ]
)

# Validation regex for `standard` and `event`
# (reference: src/event_types.rs:9-10).
EVENT_FIELD_PATTERN = "^[a-zA-Z0-9._-]+$"

# The `EVENT_JSON:` log prefix (reference: src/events.rs:303).
EVENT_JSON_PREFIX = "EVENT_JSON:"
