"""Golden-bytes tests for the pure-Python protobuf wire encoder.

Expected byte strings are hand-derived from the public protobuf wire
spec (NOT produced by the encoder under test): tag = (field_no << 3) |
wire_type as varint; wire types 0=varint, 1=64-bit LE, 2=len-delimited.
Field numbers mirror the reference generated code (see
meteor_spark/functions/protowire.py module docstring for file:line).
"""

from __future__ import annotations

import struct
from datetime import datetime, timezone

from meteor_spark.functions import protowire as pw


# ---------------------------------------------------------------------------
# primitives
# ---------------------------------------------------------------------------


def test_varint_golden():
    assert pw.varint(0) == b"\x00"
    assert pw.varint(1) == b"\x01"
    assert pw.varint(127) == b"\x7f"
    assert pw.varint(128) == b"\x80\x01"
    assert pw.varint(150) == b"\x96\x01"  # the protobuf docs' example
    assert pw.varint(300) == b"\xac\x02"
    # negative int64: two's complement, always 10 bytes
    assert pw.varint(-1) == b"\xff" * 9 + b"\x01"


def test_tag_golden():
    assert pw.tag(1, 2) == b"\x0a"   # field 1 LEN
    assert pw.tag(2, 0) == b"\x10"   # field 2 VARINT
    assert pw.tag(21, 2) == b"\xaa\x01"  # field 21 LEN (two-byte tag)
    assert pw.tag(100, 2) == b"\xa2\x06"  # field 100 LEN


def test_scalar_fields_golden():
    assert pw.enc_string_field(1, "urn:a") == b"\x0a\x05urn:a"
    assert pw.enc_varint_field(2, 150) == b"\x10\x96\x01"
    assert pw.enc_double_field(3, 1.5) == b"\x19" + struct.pack("<d", 1.5)
    assert struct.pack("<d", 1.5) == b"\x00\x00\x00\x00\x00\x00\xf8\x3f"


# ---------------------------------------------------------------------------
# well-known types
# ---------------------------------------------------------------------------


def test_timestamp_golden():
    dt = datetime(2024, 1, 2, 3, 4, 5, tzinfo=timezone.utc)
    secs = int(dt.timestamp())
    assert pw.enc_timestamp(dt) == b"\x08" + pw.varint(secs)
    # naive datetimes are UTC by convention
    assert pw.enc_timestamp(datetime(2024, 1, 2, 3, 4, 5)) == b"\x08" + pw.varint(secs)
    # epoch encodes as empty message (proto3 zero omission)
    assert pw.enc_timestamp(datetime(1970, 1, 1, tzinfo=timezone.utc)) == b""


def test_value_golden():
    assert pw.enc_value(None) == b"\x08\x00"            # null_value=1 enum 0
    assert pw.enc_value(True) == b"\x20\x01"            # bool_value=4
    assert pw.enc_value(False) == b"\x20\x00"           # proto3 oneof: explicit
    assert pw.enc_value("x") == b"\x1a\x01x"            # string_value=3
    assert pw.enc_value(1.5) == b"\x11" + struct.pack("<d", 1.5)  # number=2
    # ints are JSON numbers -> number_value double
    assert pw.enc_value(2) == b"\x11" + struct.pack("<d", 2.0)


def test_struct_golden_sorted_keys():
    # {"b": "x", "a": 1.5} -> entries sorted a, b
    val_a = b"\x11" + struct.pack("<d", 1.5)
    entry_a = b"\x0a\x01a" + b"\x12" + bytes([len(val_a)]) + val_a
    val_b = b"\x1a\x01x"
    entry_b = b"\x0a\x01b" + b"\x12" + bytes([len(val_b)]) + val_b
    want = (
        b"\x0a" + bytes([len(entry_a)]) + entry_a
        + b"\x0a" + bytes([len(entry_b)]) + entry_b
    )
    assert pw.enc_struct({"b": "x", "a": 1.5}) == want
    assert pw.enc_struct_json('{"b": "x", "a": 1.5}') == want


def test_list_value_golden():
    # ["x", 2] -> values=1 repeated
    want = b"\x0a\x03\x1a\x01x" + b"\x0a\x09\x11" + struct.pack("<d", 2.0)
    assert pw.enc_list_value(["x", 2]) == want


# ---------------------------------------------------------------------------
# messages
# ---------------------------------------------------------------------------


def test_resource_golden():
    got = pw.enc_message(pw.RESOURCE_DESC, {"urn": "urn:a", "name": "t"})
    assert got == b"\x0a\x05urn:a\x12\x01t"


def test_proto3_zero_omission():
    got = pw.enc_message(
        pw.COLUMN_DESC,
        {"name": "c", "description": "", "is_nullable": False, "length": 0},
    )
    assert got == b"\x0a\x01c"  # only the non-zero field


def test_table_asset_golden():
    # Table{resource{urn:"urn:a", name:"t"}, profile{total_rows:150}}
    resource = b"\x0a\x05urn:a\x12\x01t"
    profile = b"\x08\x96\x01"  # total_rows=1 varint 150
    want = (
        b"\x0a" + bytes([len(resource)]) + resource
        + b"\xaa\x01" + bytes([len(profile)]) + profile  # field 21
    )
    got = pw.encode_asset(
        {
            "asset_type": "Table",
            "resource": {"urn": "urn:a", "name": "t"},
            "profile": {"total_rows": 150},
        }
    )
    assert got == want


def test_table_schema_wrapper_and_properties():
    # schema -> Columns{columns=1 repeated}; column at field 1
    col = b"\x0a\x02c1" + b"\x1a\x03int" + b"\x20\x01"  # name, data_type, is_nullable
    columns_msg = b"\x0a" + bytes([len(col)]) + col
    # properties -> Properties{tags=1 rep, labels=2 map sorted}
    lbl_a = b"\x0a\x01a\x12\x011"
    lbl_b = b"\x0a\x01b\x12\x012"
    props = (
        b"\x0a\x02t1"
        + b"\x12" + bytes([len(lbl_a)]) + lbl_a
        + b"\x12" + bytes([len(lbl_b)]) + lbl_b
    )
    want = (
        b"\xb2\x01" + bytes([len(columns_msg)]) + columns_msg  # field 22
        + b"\x8a\x02" + bytes([len(props)]) + props            # field 33
    )
    got = pw.encode_asset(
        {
            "asset_type": "Table",
            "schema": [{"name": "c1", "data_type": "int", "is_nullable": True}],
            "properties": {"tags": ["t1"], "labels": {"b": "2", "a": "1"}},
        }
    )
    assert got == want


def test_topic_asset_field_numbers():
    # Topic puts profile at 21, schema facet at 31, properties at 34
    got = pw.encode_asset(
        {
            "asset_type": "Topic",
            "resource": {"urn": "u"},
            "topic_profile": {"number_of_partitions": 3},
            "topic_schema": {"format": "avro"},
        }
    )
    want = (
        b"\x0a\x03\x0a\x01u"            # field 1: Resource{urn=1: "u"}
        + b"\xaa\x01\x02\x10\x03"       # field 21: {number_of_partitions=2: 3}
        + b"\xfa\x01\x06\x12\x04avro"   # field 31: {format=2: "avro"}
    )
    assert got == want


def test_timestamps_and_event_fields():
    dt = datetime(2024, 1, 2, tzinfo=timezone.utc)
    ts_payload = b"\x08" + pw.varint(int(dt.timestamp()))
    inner = b"\x0a" + bytes([len(ts_payload)]) + ts_payload  # create_time=1
    ev = (
        b"\x0a" + bytes([len(ts_payload)]) + ts_payload  # timestamp=1
        + b"\x12\x04sync"                                # action=2
    )
    want = (
        b"\x92\x02" + bytes([len(inner)]) + inner  # field 34 timestamps
        + b"\xa2\x06" + bytes([len(ev)]) + ev      # field 100 event
    )
    got = pw.encode_asset(
        {
            "asset_type": "Table",
            "timestamps": {"create_time": dt},
            "event": {"timestamp": dt, "action": "sync"},
        }
    )
    assert got == want


# ---------------------------------------------------------------------------
# kafka sink integration (mapInPandas path)
# ---------------------------------------------------------------------------


def test_kafka_rows_protobuf_roundtrip(spark):
    from pyspark.sql import functions as F

    from meteor_spark.model import ASSET_SCHEMA
    from meteor_spark.model.schema import empty_asset
    from meteor_spark.sinks.kafka_sink import kafka_rows

    a = empty_asset()
    a["asset_type"] = "Table"
    a["resource"] = {
        "urn": "urn:a", "name": "t", "service": "parquet",
        "type": "table", "url": None, "description": None,
    }
    a["profile"] = {
        "total_rows": 150, "partition_key": None, "partition_value": None,
        "usage_count": 0, "joins": None, "filters": None,
    }
    df = spark.createDataFrame([a], ASSET_SCHEMA)
    out = kafka_rows(df, key_path="resource.urn", value_format="protobuf").collect()
    assert len(out) == 1
    resource = b"\x0a\x05urn:a\x12\x01t\x1a\x07parquet\x22\x05table"
    profile = b"\x08\x96\x01"
    want_value = (
        b"\x0a" + bytes([len(resource)]) + resource
        + b"\xaa\x01" + bytes([len(profile)]) + profile
    )
    assert bytes(out[0]["value"]) == want_value
    # key = Table{resource{urn:"urn:a"}} only (reference sink.go:121-150)
    key_res = b"\x0a\x05urn:a"
    assert bytes(out[0]["key"]) == b"\x0a" + bytes([len(key_res)]) + key_res


def test_kafka_rows_default_is_protobuf(spark):
    # reference parity (kafka/sink.go:112-118): protobuf is the default
    # wire format since ADR-0001 v3; JSON stays a supported opt-in
    from meteor_spark.model import ASSET_SCHEMA
    from meteor_spark.model.schema import empty_asset
    from meteor_spark.sinks.kafka_sink import KafkaSink, kafka_rows

    a = empty_asset()
    a["asset_type"] = "Table"
    a["resource"] = {
        "urn": "urn:a", "name": "t", "service": "parquet",
        "type": "table", "url": None, "description": None,
    }
    df = spark.createDataFrame([a], ASSET_SCHEMA)
    row = kafka_rows(df, key_path="resource.urn").collect()[0]
    key_res = b"\x0a\x05urn:a"
    assert bytes(row["key"]) == b"\x0a" + bytes([len(key_res)]) + key_res
    assert KafkaSink.CONFIG["value_format"].default == "protobuf"


def test_kafka_rows_json_optin_unchanged(spark):
    from meteor_spark.model import ASSET_SCHEMA
    from meteor_spark.model.schema import empty_asset
    from meteor_spark.sinks.kafka_sink import kafka_rows

    a = empty_asset()
    a["asset_type"] = "Table"
    a["resource"] = {
        "urn": "urn:a", "name": "t", "service": "parquet",
        "type": "table", "url": None, "description": None,
    }
    df = spark.createDataFrame([a], ASSET_SCHEMA)
    row = kafka_rows(df, key_path="resource.urn", value_format="json").collect()[0]
    assert row["key"] == "urn:a"
    assert '"urn":"urn:a"' in row["value"]


def test_timestamp_subsecond_nanos_exact():
    # regression: the float dt.timestamp() path encoded microsecond=3 as
    # nanos=3099; integer arithmetic must give exactly micros * 1000
    from datetime import datetime, timezone

    from meteor_spark.functions.protowire import enc_timestamp, enc_varint_field

    dt = datetime(2026, 8, 14, 12, 0, 0, 3, tzinfo=timezone.utc)
    secs = int(dt.replace(microsecond=0).timestamp())
    assert enc_timestamp(dt) == enc_varint_field(1, secs) + enc_varint_field(2, 3000)
    dt2 = datetime(2026, 8, 14, 12, 0, 0, 123456, tzinfo=timezone.utc)
    assert enc_timestamp(dt2) == enc_varint_field(1, secs) + enc_varint_field(2, 123_456_000)
    # pre-epoch: nanos stays in [0, 1e9) with floored seconds
    dt3 = datetime(1969, 12, 31, 23, 59, 59, 750000, tzinfo=timezone.utc)
    assert enc_timestamp(dt3) == enc_varint_field(1, -1) + enc_varint_field(2, 750_000_000)


def test_map_str_null_value_encodes_as_go_zero_string():
    from meteor_spark.functions.protowire import enc_len_field, enc_message, enc_string_field

    desc = {"labels": (9, "map_str")}
    out = enc_message(desc, {"labels": {"team": None}})
    # entry with key + EMPTY value field, as Go appendMapItem emits for ""
    assert out == enc_len_field(9, enc_string_field(1, "team") + enc_string_field(2, ""))


def test_column_properties_json_string():
    # regression: COLUMN_DESC.properties is a nested facets.Properties
    # message but the model stores a raw JSON string per column —
    # enc_message recursed into the str and crashed on __fields__
    got = pw.enc_message(pw.COLUMN_DESC, {"name": "c", "properties": '{"k": "v"}'})
    # field 31 (0xfa 0x01), nested Properties{attributes struct{k: "v"}}
    assert got.startswith(b"\x0a\x01c\xfa\x01")
    assert b"\x01k" in got and b"\x01v" in got


def test_nan_scalar_treated_as_missing():
    # a nullable numeric that surfaces as float NaN through the pandas
    # path must be OMITTED like proto.Marshal omits unset fields — not
    # encoded as a NaN double or crash int(v)
    nan = float("nan")
    desc = {"avg": (3, "double"), "unique": (5, "int64")}
    assert pw.enc_message(desc, {"avg": nan, "unique": nan}) == b""
    # repeated (list) values still encode — the NaN check must not run
    # elementwise comparisons on sequences
    desc2 = {"tags": (2, "repeated_string")}
    assert pw.enc_message(desc2, {"tags": ["a"]}) == pw.enc_string_field(2, "a")


def test_nat_timestamp_treated_as_missing():
    import pandas as pd

    desc = {"create_time": (1, "timestamp")}
    assert pw.enc_message(desc, {"create_time": pd.NaT}) == b""


def test_enc_timestamp_naive_uses_given_zone():
    from zoneinfo import ZoneInfo

    # 2026-08-14 12:00 naive: as UTC vs as New York local (UTC-4 in
    # August) the encoded seconds must differ by exactly 4 hours
    naive = datetime(2026, 8, 14, 12, 0, 0)
    utc_bytes = pw.enc_timestamp(naive)
    ny_bytes = pw.enc_timestamp(naive, naive_tz=ZoneInfo("America/New_York"))
    utc_secs = int(datetime(2026, 8, 14, 12, tzinfo=timezone.utc).timestamp())
    assert utc_bytes == pw.enc_varint_field(1, utc_secs)
    assert ny_bytes == pw.enc_varint_field(1, utc_secs + 4 * 3600)


def test_resolve_session_tz_offset_and_region_forms():
    # Spark accepts java.time.ZoneId forms zoneinfo does not: fixed and
    # prefixed offsets previously crashed executors mid-task via
    # ZoneInfoNotFoundError in the protobuf (default) kafka path
    from datetime import timedelta, timezone
    from zoneinfo import ZoneInfo

    import pytest

    from meteor_spark.sinks.kafka_sink import _resolve_session_tz

    assert _resolve_session_tz("GMT+08:00").utcoffset(None) == timedelta(hours=8)
    assert _resolve_session_tz("+08:00").utcoffset(None) == timedelta(hours=8)
    assert _resolve_session_tz("UTC+2").utcoffset(None) == timedelta(hours=2)
    assert _resolve_session_tz("UT+05:30").utcoffset(None) == timedelta(hours=5, minutes=30)
    assert _resolve_session_tz("-0330").utcoffset(None) == -timedelta(hours=3, minutes=30)
    assert _resolve_session_tz("Z") == timezone.utc
    assert _resolve_session_tz("GMT") == timezone.utc
    assert _resolve_session_tz("") == timezone.utc
    assert isinstance(_resolve_session_tz("America/New_York"), ZoneInfo)
    # bad zones fail at PLAN time with context, not inside the task
    with pytest.raises(ValueError, match="cannot resolve session timezone"):
        _resolve_session_tz("Not/AZone")


def test_kafka_rows_protobuf_offset_session_timezone(spark):
    # e2e: a bare-offset session zone ('+08:00' — accepted by Spark and
    # by the Arrow serializer but NOT by zoneinfo) must not crash the
    # encode, and the absolute instant must survive the round trip:
    # 04:00Z stored -> surfaces in pandas as naive 12:00 session-local
    # -> encoder re-anchors at +08:00 -> 04:00Z on the wire
    from datetime import datetime, timezone

    from meteor_spark.model import ASSET_SCHEMA
    from meteor_spark.model.schema import empty_asset
    from meteor_spark.sinks.kafka_sink import kafka_rows

    a = empty_asset()
    a["asset_type"] = "Table"
    a["resource"] = {
        "urn": "urn:a", "name": "t", "service": "parquet",
        "type": "table", "url": None, "description": None,
    }
    a["timestamps"] = {
        "create_time": datetime(2026, 8, 14, 4, 0, 0, tzinfo=timezone.utc),
        "update_time": None,
    }
    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "+08:00")
        df = spark.createDataFrame([a], ASSET_SCHEMA)
        value = bytes(kafka_rows(df, key_path=None, value_format="protobuf").collect()[0]["value"])
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
    secs = int(datetime(2026, 8, 14, 4, 0, 0, tzinfo=timezone.utc).timestamp())
    assert pw.enc_varint_field(1, secs) in value


def test_kafka_rows_protobuf_serializer_hostile_tz_fails_at_plan_time(spark):
    # 'GMT+08:00' is a valid Spark ZoneId but PySpark's Arrow->pandas
    # serializer (pytz) rejects it — without the plan-time probe every
    # executor task dies with an opaque UnknownTimeZoneError
    import pytest

    from meteor_spark.model import ASSET_SCHEMA
    from meteor_spark.model.schema import empty_asset
    from meteor_spark.sinks.kafka_sink import kafka_rows

    a = empty_asset()
    a["asset_type"] = "Table"
    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "GMT+08:00")
        df = spark.createDataFrame([a], ASSET_SCHEMA)
        with pytest.raises(ValueError, match="Etc/GMT-8"):
            kafka_rows(df, key_path=None, value_format="protobuf")
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_kafka_rows_protobuf_missing_asset_type_raises(spark):
    # with >1 registered descriptor, silently defaulting to Table would
    # emit wrong-typed bytes for a non-Table asset — must fail instead
    import pytest
    from pyspark.errors.exceptions.captured import PythonException

    from meteor_spark.model import ASSET_SCHEMA
    from meteor_spark.model.schema import empty_asset
    from meteor_spark.sinks.kafka_sink import kafka_rows

    a = empty_asset()
    a["asset_type"] = None
    a["resource"] = {
        "urn": "urn:a", "name": "t", "service": "parquet",
        "type": "table", "url": None, "description": None,
    }
    df = spark.createDataFrame([a], ASSET_SCHEMA)
    with pytest.raises(PythonException, match="no asset_type"):
        kafka_rows(df, key_path=None, value_format="protobuf").collect()


# ---------------------------------------------------------------------------
# wire round trip: encode -> decode -> equal (no google.protobuf needed)
# ---------------------------------------------------------------------------


def _jsonf(v):
    """Struct/ListValue carry only doubles — normalize parsed-JSON ints
    (except bools) to float for comparison."""
    if isinstance(v, bool):
        return v
    if isinstance(v, int):
        return float(v)
    if isinstance(v, dict):
        return {k: _jsonf(x) for k, x in v.items()}
    if isinstance(v, list):
        return [_jsonf(x) for x in v]
    return v


def _expected(desc, row, naive_tz=timezone.utc):
    """What decode_message must return for enc_message(desc, row):
    enc_message's own proto3 omission rules, mirrored."""
    import json as _json

    out = {}
    for name, spec in desc.items():
        kind = spec[1]
        v = row.get(name)
        if v is None or (isinstance(v, (float, datetime)) and v != v):
            continue
        if kind == "string":
            if v != "":
                out[name] = v
        elif kind == "int64":
            if int(v) != 0:
                out[name] = int(v)
        elif kind == "bool":
            if v:
                out[name] = True
        elif kind == "double":
            if float(v) != 0.0:
                out[name] = float(v)
        elif kind == "timestamp":
            dt = v if v.tzinfo else v.replace(tzinfo=naive_tz)
            out[name] = dt.astimezone(timezone.utc)
        elif kind == "struct_json":
            if v:
                out[name] = _jsonf(_json.loads(v))
        elif kind == "list_json":
            if v:
                out[name] = _jsonf(_json.loads(v))
        elif kind == "message":
            vv = {"attributes": v} if isinstance(v, str) else v
            out[name] = _expected(spec[2], vv, naive_tz)
        elif kind == "repeated_message":
            if v:
                out[name] = [_expected(spec[2], i, naive_tz) for i in v]
        elif kind == "repeated_string":
            if v:
                out[name] = [s or "" for s in v]
        elif kind == "map_str":
            items = v.items() if isinstance(v, dict) else v
            d = {k: (mv or "") for k, mv in items}
            if d:
                out[name] = d
    return out


def _full_table_asset():
    from meteor_spark.model.schema import empty_asset

    a = empty_asset()
    a["asset_type"] = "Table"
    a["resource"] = {
        "urn": "urn:x", "name": "t1", "service": "parquet",
        "type": "table", "url": "s3a://b/t1", "description": "d",
    }
    a["profile"] = {
        "total_rows": 12345, "partition_key": "dt", "partition_value": "2026-08-01",
        "usage_count": 7,
        "joins": [{"urn": "urn:y", "count": 3, "conditions": ["a.id = b.id", ""]}],
        "filters": ["x > 0"],
    }
    a["schema"] = [
        {
            "name": "c1", "description": None, "data_type": "bigint",
            "is_nullable": True, "length": 0,
            "profile": {"min": "1", "max": "9", "avg": 4.5, "med": 0.0,
                        "unique": 9, "count": 10, "top": "1"},
            "properties": '{"pii": true, "note": "x", "n": 3}',
        },
        {
            "name": "c2", "description": "二", "data_type": "string",
            "is_nullable": False, "length": -5, "profile": None,
            "properties": None,
        },
    ]
    a["preview"] = {"fields": ["c1", "c2"], "rows": '[[1, "a"], [2, null]]'}
    a["ownership"] = [
        {"urn": "u:1", "name": "o", "role": "owner", "email": "o@x.io"},
        {"urn": "", "name": None, "role": "viewer", "email": None},
    ]
    a["lineage"] = {
        "upstreams": [{"urn": "urn:up", "name": None, "service": "bq",
                       "type": "table", "url": None, "description": None}],
        "downstreams": [],
    }
    a["properties"] = {
        "tags": ["gold", ""],
        "labels": {"team": "data", "tier": None},
        "attributes": '{"k": {"nested": [1, false, null]}}',
    }
    a["timestamps"] = {
        "create_time": datetime(1969, 12, 31, 23, 59, 59, 750000, tzinfo=timezone.utc),
        "update_time": datetime(2026, 8, 14, 12, 0, 0, 123456),
    }
    a["event"] = {"timestamp": datetime(1970, 1, 1, tzinfo=timezone.utc),
                  "action": "create", "description": ""}
    return a


def _topic_asset():
    from meteor_spark.model.schema import empty_asset

    a = empty_asset()
    a["asset_type"] = "Topic"
    a["resource"] = {"urn": "urn:topic", "name": "clicks", "service": "kafka",
                     "type": "topic", "url": None, "description": None}
    a["topic_profile"] = {"throughput": "100/s", "number_of_partitions": 12}
    a["topic_schema"] = {"schema_url": "http://reg/1", "format": "AVRO"}
    a["ownership"] = [{"urn": "u:2", "name": "s", "role": None, "email": None}]
    a["properties"] = {"tags": None, "labels": {"env": "prod"}, "attributes": None}
    a["timestamps"] = None
    return a


def test_wire_round_trip_full_fixture_set():
    """encode -> decode -> equal over every registered descriptor and
    every field kind (string/int64/bool/double/timestamp pre- and
    post-epoch/struct/list/map/repeated, empty strings, None map values,
    negative int64, non-ASCII, nested Struct values). The decoder is
    strict — unknown field numbers raise — so this also proves the two
    directions share one descriptor truth."""
    from zoneinfo import ZoneInfo

    tz = ZoneInfo("America/New_York")
    for asset in (_full_table_asset(), _topic_asset()):
        at, desc, plain = pw.asset_plain(asset)
        got = pw.decode_message(desc, pw.encode_asset(asset, naive_tz=tz))
        assert got == _expected(desc, plain, naive_tz=tz), at


def test_wire_round_trip_negative_int64_and_unknown_field():
    import pytest

    desc = {"n": (3, "int64"), "s": (5, "string")}
    enc = pw.enc_message(desc, {"n": -42, "s": "neg"})
    assert pw.decode_message(desc, enc) == {"n": -42, "s": "neg"}
    # strictness: bytes carrying a field number outside the descriptor fail
    stray = pw.enc_varint_field(9, 1)
    with pytest.raises(ValueError, match="field number 9"):
        pw.decode_message(desc, enc + stray)


def test_wire_round_trip_catalog_extraction(spark):
    """the real extractor output (parquet_catalog over sf0.001) survives
    the wire round trip row-for-row — the closest in-container analogue
    of 'a Go consumer can read what the sink publishes'."""
    from meteor_spark.registry import extractors

    ex = extractors.get("parquet_catalog")
    ex.init({"path": "/root/testdata/sf0.001", "include_row_count": True})
    rows = ex.extract(spark).collect()
    assert rows
    for r in rows:
        at, desc, plain = pw.asset_plain(r)
        got = pw.decode_message(desc, pw.encode_asset(r))
        assert got == _expected(desc, plain), plain["resource"]["urn"]
