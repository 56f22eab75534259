"""Extraction-path parity tests (SURVEY §2.1 ops 3-7, §5 strategy)."""

import re

from pyspark.sql import functions as F

from near_event_streams_spark.config import NesConfig
from near_event_streams_spark.operators.extract import (
    extract_events,
    parse_events,
    split_valid,
)
from near_event_streams_spark.operators.routing import event_columns
from near_event_streams_spark.sources.streamer import read_messages_json
from near_event_streams_spark.streaming.job import build_routed_stream


def _extract(spark, fixture_messages_path):
    msgs = read_messages_json(spark, fixture_messages_path)
    return extract_events(msgs)


def test_valid_events_extracted(spark, fixture_messages_path):
    ok, rejected = _extract(spark, fixture_messages_path)
    rows = {
        (r["standard"], r["event"], r["emit_info"]["contract_account_id"])
        for r in ok.collect()
    }
    assert rows == {
        ("nep171", "nft_mint", "nft.contract-a.near"),
        ("nep171", "nft_transfer", "nft.contract-b.near"),
        ("custom", "thing_happened", "app.other.near"),
    }
    # two nft_mint events (array variant + flat variant)
    assert ok.filter(F.col("event") == "nft_mint").count() == 2


def test_canonical_fixture_mint_typed(spark, fixture_messages_path):
    """Port of the reference's only unit test (event_types.rs:121-132)."""
    ok, _ = _extract(spark, fixture_messages_path)
    mint = ok.filter(
        (F.col("event") == "nft_mint")
        & (F.col("emit_info.block_height") == 100)
    ).collect()
    assert len(mint) == 1
    data = mint[0]["data_mint"]
    assert len(data) == 1
    assert data[0]["owner_id"] == "sigilnet.testnet"
    assert list(data[0]["token_ids"]) == ["1:1", "1:2"]
    assert mint[0]["data_transfer"] is None


def test_transfer_typed_and_whitespace_tolerated(spark, fixture_messages_path):
    ok, _ = _extract(spark, fixture_messages_path)
    tx = ok.filter(F.col("event") == "nft_transfer").collect()
    assert len(tx) == 1
    assert tx[0]["data_mint"] is None
    item = tx[0]["data_transfer"][0]
    assert item["old_owner_id"] == "a.near"
    assert item["new_owner_id"] == "b.near"


def test_generic_data_kept_as_raw_json(spark, fixture_messages_path):
    ok, _ = _extract(spark, fixture_messages_path)
    gen = ok.filter(F.col("standard") == "custom").collect()[0]
    assert gen["data_mint"] is None
    assert gen["data_transfer"] is None
    assert '"foo":1' in gen["data_json"]


def test_flat_mint_normalized_to_array(spark, fixture_messages_path):
    ok, _ = _extract(spark, fixture_messages_path)
    flat = ok.filter(F.col("emit_info.block_height") == 101).collect()[0]
    assert [m["owner_id"] for m in flat["data_mint"]] == ["c.near"]


def test_drop_paths(spark, fixture_messages_path):
    """parse_error (events.rs:336-344) + validation_error (events.rs:322-334)."""
    _, rejected = _extract(spark, fixture_messages_path)
    reasons = sorted(r["reject_reason"] for r in rejected.collect())
    assert reasons == ["parse_error", "validation_error"]


def test_envelope_without_data_is_parse_error(spark):
    """NearEvent.data is required serde-side (event_types.rs:75-81): an
    envelope with standard/version/event but no `data` member must land in
    the parse_error reject stream, not pass as a null-payload event."""
    logs = spark.createDataFrame(
        [
            (
                'EVENT_JSON:{"standard":"nep171","version":"1.0.0",'
                '"event":"nft_mint"}',
            ),
            (
                'EVENT_JSON:{"standard":"nep171","version":"1.0.0",'
                '"event":"nft_mint","data":[{"owner_id":"a.near",'
                '"token_ids":["1"]}]}',
            ),
        ],
        "log string",
    )
    ok, rejected = split_valid(parse_events(logs))
    assert ok.count() == 1
    rej = rejected.collect()
    assert len(rej) == 1
    assert rej[0]["reject_reason"] == "parse_error"
    assert rej[0]["data_json"] is None


def test_non_event_logs_never_parsed(spark, fixture_messages_path):
    ok, rejected = _extract(spark, fixture_messages_path)
    # the plain log line appears in neither stream (prefix filter drops it)
    assert ok.count() + rejected.count() == 6


def test_emit_info_provenance(spark, fixture_messages_path):
    ok, _ = _extract(spark, fixture_messages_path)
    e = ok.filter(F.col("event") == "nft_transfer").collect()[0]["emit_info"]
    assert e["receipt_id"] == "r2"
    assert e["block_height"] == 100
    assert e["block_timestamp"] == 1_700_000_000_000_000_000
    assert e["shard_id"] == 0
    assert e["contract_account_id"] == "nft.contract-b.near"


def _plan_nodes(df):
    """(node name, node line) for each operator of the optimized plan."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    nodes = []
    for line in plan.splitlines():
        body = re.sub(r"^[\s:|+\-]*", "", line)
        if body:
            nodes.append((body.split(" ", 1)[0], body))
    return nodes


def test_event_line_parsed_once(spark, fixture_messages_path):
    """The envelope is parsed once per log line, behind a Generate the
    validity filters cannot be pushed under: no parse in any Filter, no
    second ``get_json_object`` pass for ``data``."""
    spark.catalog.clearCache()
    for frame in _extract(spark, fixture_messages_path):
        nodes = _plan_nodes(frame)
        for name, body in nodes:
            if name == "Filter":
                assert "from_json" not in body, body
                assert "get_json_object" not in body, body
        plan = "\n".join(body for _, body in nodes)
        assert "get_json_object" not in plan
        assert plan.count("from_json(StructField(standard,") == 1, plan


def test_routed_value_variant_parses_bounded(spark, fixture_messages_path):
    """The routed plan's generated code holds at most 5 VARIANT parse
    sites: a null test around ``routing._DATA`` (never null on a routed
    row) evaluates the generic payload's parse a second time."""
    spark.catalog.clearCache()
    routed, _ = build_routed_stream(
        read_messages_json(spark, fixture_messages_path), NesConfig()
    )
    code = spark._jvm.PythonSQLUtils.explainString(
        routed._jdf.queryExecution(), "codegen"
    )
    assert code.count("VariantExpressionEvalUtils.parseJson") <= 5


# Payloads that take each route through serde's untagged-union order
# (src/event_types.rs:77-91): value expected after ``"data":``, or None
# for a parse error.
_UNION_CASES = [
    ("[]", "[]"),
    ("{}", "{}"),
    ("[1,2]", "[1,2]"),
    ("12.500", "12.5"),
    ("true", "true"),
    # JSON strings keep their quotes and escapes (serde_json's output)
    ('"abc"', '"abc"'),
    (r'"a\"b"', r'"a\"b"'),
    ('""', '""'),
    ('"12"', '"12"'),
    (r'"é\n\t\/"', r'"é\n\t/"'),
    # a string whose text looks like an object or array stays a string
    ('"{x"', '"{x"'),
    ('"[1"', '"[1"'),
    (r'"{\"a\":1}"', r'"{\"a\":1}"'),
    # flat mint / flat transfer → typed one-element arrays
    (
        '{"owner_id":"a.near","token_ids":["1"]}',
        '[{"owner_id":"a.near","token_ids":["1"]}]',
    ),
    (
        '{"old_owner_id":"a.near","new_owner_id":"b.near",'
        '"token_ids":["1"],"memo":"m"}',
        '[{"old_owner_id":"a.near","new_owner_id":"b.near",'
        '"token_ids":["1"],"memo":"m"}]',
    ),
    # mint and transfer fields together: mint is declared first
    (
        '{"owner_id":"o.near","old_owner_id":"a.near",'
        '"new_owner_id":"b.near","token_ids":["1"]}',
        '[{"owner_id":"o.near","token_ids":["1"]}]',
    ),
    # mixed and partially valid arrays match no typed variant
    (
        '[{"owner_id":"o.near","token_ids":["1"]},'
        '{"old_owner_id":"a.near","new_owner_id":"b.near","token_ids":["2"]}]',
        '[{"owner_id":"o.near","token_ids":["1"]},'
        '{"old_owner_id":"a.near","new_owner_id":"b.near","token_ids":["2"]}]',
    ),
    (
        '[{"owner_id":"o.near","token_ids":["1"]},{"owner_id":"p.near"}]',
        '[{"owner_id":"o.near","token_ids":["1"]},{"owner_id":"p.near"}]',
    ),
    (
        '{"owner_id":"a","token_ids":"1"}',
        '{"owner_id":"a","token_ids":"1"}',
    ),
    # generic payloads keep insertion order, compacted
    (
        '{"pool_id": 7, "amounts": [{"x": 1.50, "y": [true, null]}], '
        '"z": {"k": "v"}}',
        '{"pool_id":7,"amounts":[{"x":1.5,"y":[true,null]}],"z":{"k":"v"}}',
    ),
    # a string whose text is NEP-171 JSON stays a string (serde's
    # Generic(String)), not a typed array
    (
        r'"[{\"owner_id\":\"a.near\",\"token_ids\":[\"1\"]}]"',
        r'"[{\"owner_id\":\"a.near\",\"token_ids\":[\"1\"]}]"',
    ),
    (
        r'"{\"old_owner_id\":\"a.near\",\"new_owner_id\":\"b.near\",'
        r'\"token_ids\":[\"1\"]}"',
        r'"{\"old_owner_id\":\"a.near\",\"new_owner_id\":\"b.near\",'
        r'\"token_ids\":[\"1\"]}"',
    ),
    ("null", None),
    # serde rejects single quotes and non-numeric numbers
    ("'abc'", None),
    ("NaN", None),
    ('{"x":NaN}', None),
]


def test_untagged_union_serialization(spark):
    logs = spark.createDataFrame(
        [
            (
                i,
                'EVENT_JSON:{"standard":"nep171","version":"1.0.0",'
                f'"event":"e{i}","data":{payload}}}',
            )
            for i, (payload, _) in enumerate(_UNION_CASES)
        ],
        "i int, log string",
    )
    ok, rejected = split_valid(parse_events(logs))
    # no emit_info: the routed value is the bare event envelope
    value = event_columns("p", "all")[-1]
    got = {
        r["i"]: r["value"]
        for r in ok.selectExpr(
            "*", "CAST(NULL AS struct<contract_account_id:string>) AS emit_info"
        )
        .selectExpr("i", value)
        .collect()
    }
    rejects = {r["i"]: r["reject_reason"] for r in rejected.collect()}
    for i, (payload, data) in enumerate(_UNION_CASES):
        if data is None:
            assert i not in got and rejects.get(i) == "parse_error", payload
        else:
            assert got.get(i) == (
                '{"standard":"nep171","version":"1.0.0",'
                f'"event":"e{i}","data":{data}}}'
            ), payload
    assert set(rejects) == {
        i for i, (_, data) in enumerate(_UNION_CASES) if data is None
    }
