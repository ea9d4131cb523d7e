"""Unit tests for the wire-format transform chain (T1-T9, E1-E4) against
the reference's exact semantics, using the DAG's canned test messages
(Streamingdag.py:384-404) and the app's sample events
(web-application.py:475-481) as known-answer inputs, plus the semantic
traps from SURVEY.md §4 (truthiness, 'unknown' sentinel, parse-fail->0)."""

import datetime
import json

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from streaming_data_pipeline_spark.operators.transforms import (
    parse_wire,
    quality_filter,
    wire_pipeline,
)
from tests.conftest import count_plan_expressions

AS_OF = "2024-01-31 00:00:00"


def wire_df(spark, events):
    return spark.createDataFrame([Row(value=json.dumps(e)) for e in events])


GOOD = {
    "id": "test-dag-001",
    "timestamp": "2024-01-15T10:00:00Z",
    "message": "Test message from DAG",
    "user_id": "dag_user",
    "event_type": "dag_test",
    "value": 1.0,
    "source": "airflow_dag",
}


def run(spark, events):
    return wire_pipeline(wire_df(spark, events), as_of=AS_OF).collect()


def test_happy_path_full_enrichment(spark):
    [r] = run(spark, [GOOD])
    assert r.id == "test-dag-001"
    assert r.message_length == len("Test message from DAG")
    assert r.event_hour == 10
    assert r.data_quality_score == 100  # all four +25 rules pass
    assert r.source == "airflow_dag"
    assert r.processed_at.isoformat().startswith("2024-01-31T00:00:00")
    assert r.timestamp.isoformat() == "2024-01-15T10:00:00"


def test_second_canned_message_with_product(spark):
    e = dict(GOOD, id="test-dag-002", value=99.99, product_id="test_product_123")
    [r] = run(spark, [e])
    assert r.value == 99.99
    assert r.product_id == "test_product_123"
    assert r.currency is None  # absent optional -> NULL (T8)


def test_malformed_json_dropped(spark):
    df = wire_df(spark, [GOOD])
    bad = df.union(df.select(F.lit("{not json").alias("value")))
    assert len(wire_pipeline(bad, as_of=AS_OF).collect()) == 1  # T3


def test_missing_required_field_dropped(spark):
    e = {k: v for k, v in GOOD.items() if k != "user_id"}
    assert run(spark, [e]) == []  # T5


def test_unknown_keys_dropped(spark):
    e = dict(GOOD, totally_unknown_key="x", another=123)
    [r] = run(spark, [e])
    assert "totally_unknown_key" not in r.asDict()  # T9


def test_value_default_zero_and_score(spark):
    e = {k: v for k, v in GOOD.items() if k != "value"}
    [r] = run(spark, [e])
    assert r.value == 0.0  # T7 default
    assert r.data_quality_score == 75  # value>0 rule fails


def test_unknown_user_sentinel(spark):
    e = dict(GOOD, user_id="unknown")
    [r] = run(spark, [e])
    assert r.data_quality_score == 75  # E3 rule (a) fails


def test_empty_message_truthiness(spark):
    # empty string is falsy in Python: message rule AND required-presence
    # still passes (key present), but score drops by 25 and length is 0
    e = dict(GOOD, message="")
    [r] = run(spark, [e])
    assert r.data_quality_score == 75
    assert r.message_length == 0


def test_bad_timestamp_hour_fallback_zero(spark):
    e = dict(GOOD, timestamp="not-a-timestamp")
    [r] = run(spark, [e])
    assert r.event_hour == 0  # E2 bare-except -> 0
    # rule (d) scores RAW-string truthiness (Streamingdag.py:222): an
    # unparseable-but-non-empty timestamp still earns its 25
    assert r.data_quality_score == 100


def test_quality_filter_threshold(spark):
    # two rules fail -> score 50 -> kept; three fail -> 25 -> dropped (E4)
    keep = dict(GOOD, user_id="unknown", value=-1.0)
    drop = dict(GOOD, user_id="unknown", value=-1.0, message="")
    out = run(spark, [keep, drop])
    assert len(out) == 1 and out[0].data_quality_score == 50


def test_parse_wire_handles_binary_payload(spark):
    df = spark.createDataFrame(
        [Row(value=bytearray(json.dumps(GOOD).encode("utf-8")))]
    )
    out = wire_pipeline(df, as_of=AS_OF).collect()
    assert len(out) == 1  # T1: bytes -> string decode via cast


def test_sample_events_scoring(spark):
    # the app's five sample events (web-application.py:475-481 shape)
    events = [
        dict(GOOD, id=f"s{i}", event_type=t, value=v)
        for i, (t, v) in enumerate(
            [("login", 1.0), ("purchase", 29.99), ("page_view", 1.0), ("logout", 0.5), ("click", 2.0)]
        )
    ]
    out = run(spark, events)
    assert len(out) == 5
    assert {r.data_quality_score for r in out} == {100}


def _json_parses(df) -> int:
    plan = df._jdf.queryExecution().optimizedPlan()
    return count_plan_expressions(plan, "JsonToStructs")


def test_transform_parses_each_message_once(spark, tmp_path):
    """The validate and quality filters must not be pushed below the
    parse: over a Project, Catalyst inlines from_json into every
    predicate and prunes each field access into its own single-field
    parse (14 per row). The Generate keeps it at one."""
    from streaming_data_pipeline_spark.streaming.pipeline import transform

    (tmp_path / "m.jsonl").write_text(json.dumps(GOOD) + "\n")
    df = transform(spark.read.text(str(tmp_path)), as_of=AS_OF)
    assert _json_parses(df) == 1
    assert df.count() == 1


def test_observed_wire_pipeline_parses_each_message_once(spark):
    df = wire_pipeline(wire_df(spark, [GOOD]), as_of=AS_OF, observe_quality="quality")
    assert _json_parses(df) == 1
    assert df.count() == 1


def test_edge_case_lines_enrich_to_pinned_rows(spark):
    """Known answers for payloads at the edges of the parse: non-object
    JSON, empty and cut-off lines drop; a numeric id is kept as its
    text; a string-typed value fails its DOUBLE field (-> default 0.0,
    score 75); unicode length counts code points; an offset timestamp
    converts to UTC while event_hour reads the wire clock."""
    base = {
        "timestamp": "2024-01-15T10:00:00Z",
        "message": "m",
        "user_id": "u1",
        "event_type": "click",
        "value": 2.5,
    }
    lines = [
        "null",
        "[]",
        "{}",
        "",
        '{"id":"cut-1","timestamp":"2024-01-15T10:00:00Z","message":"tr',
        json.dumps(dict(base, id=12345)),
        json.dumps(dict(base, id="sv-1", value="3.75")),
        json.dumps(dict(base, id="uni-1", message="h\u00e9llo \u4e16\u754c \U0001F680"), ensure_ascii=False),
        json.dumps(dict(base, id="tz-1", timestamp="2024-01-15T10:00:00+05:30")),
    ]
    df = spark.createDataFrame([Row(value=line) for line in lines])
    got = {r.id: r.asDict() for r in wire_pipeline(df, as_of=AS_OF).collect()}

    ten = datetime.datetime(2024, 1, 15, 10, 0)
    common = {
        "timestamp": ten,
        "message": "m",
        "user_id": "u1",
        "event_type": "click",
        "value": 2.5,
        "processed_at": datetime.datetime(2024, 1, 31, 0, 0),
        **{f: None for f in ("source", "ip_address", "user_agent", "page",
                             "referrer", "product_id", "currency",
                             "device_id", "location")},
        "message_length": 1,
        "event_hour": 10,
        "data_quality_score": 100,
    }
    want = {
        "12345": dict(common, id="12345"),
        "sv-1": dict(common, id="sv-1", value=0.0, data_quality_score=75),
        "uni-1": dict(
            common, id="uni-1", message="h\u00e9llo \u4e16\u754c \U0001F680",
            message_length=10,
        ),
        "tz-1": dict(common, id="tz-1", timestamp=datetime.datetime(2024, 1, 15, 4, 30)),
    }
    assert got == want
