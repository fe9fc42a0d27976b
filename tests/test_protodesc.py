"""Structural validation of the pinned binary FileDescriptorSet.

protoc and google.protobuf are not dependencies of this package, so
the descriptor set can't always be loaded into a real DescriptorPool (that
interop check lives in test_protobuf_interop.py and SKIPS without the
library).
What CAN be checked everywhere: the bytes parse under the strict wire
decoder against hand-written descriptor.proto descriptors (public field
numbers, independently re-derived here), and the parsed structure
matches the protowire descriptor dicts field-for-field — the single
source of truth cannot drift from what a protobuf runtime would load.
"""

from __future__ import annotations

from meteor_spark.functions import protodesc as pd
from meteor_spark.functions import protowire as pw

# hand-written descriptor.proto descriptors for the DECODER (field
# numbers from the public spec, written independently of protodesc.py's
# emitters)
ENUM_VALUE_DP = {"name": (1, "string"), "number": (2, "int64")}
ENUM_DP = {"name": (1, "string"), "value": (2, "repeated_message", ENUM_VALUE_DP)}
FIELD_DP = {
    "name": (1, "string"),
    "number": (3, "int64"),
    "label": (4, "int64"),
    "type": (5, "int64"),
    "type_name": (6, "string"),
    "oneof_index": (9, "int64"),
}
ONEOF_DP = {"name": (1, "string")}
MSG_OPTIONS_DP = {"map_entry": (7, "bool")}
MESSAGE_DP: dict = {
    "name": (1, "string"),
    "field": (2, "repeated_message", FIELD_DP),
    "options": (7, "message", MSG_OPTIONS_DP),
    "oneof_decl": (8, "repeated_message", ONEOF_DP),
}
MESSAGE_DP["nested_type"] = (3, "repeated_message", MESSAGE_DP)  # recursive
FILE_DP = {
    "name": (1, "string"),
    "package": (2, "string"),
    "dependency": (3, "repeated_string"),
    "message_type": (4, "repeated_message", MESSAGE_DP),
    "enum_type": (5, "repeated_message", ENUM_DP),
    "syntax": (12, "string"),
}
SET_DP = {"file": (1, "repeated_message", FILE_DP)}

KIND_TO_TYPE = {
    "string": 9, "int64": 3, "bool": 8, "double": 1,
    "timestamp": 11, "struct_json": 11, "list_json": 11,
    "message": 11, "repeated_message": 11, "repeated_string": 9,
    "map_str": 11,
}


def _parse():
    return pw.decode_message(SET_DP, pd.file_descriptor_set())


def test_descriptor_set_parses_and_names_files():
    s = _parse()
    assert [f["name"] for f in s["file"]] == [
        "google/protobuf/timestamp.proto",
        "google/protobuf/struct.proto",
        "meteor_assets.proto",
    ]
    assert all(f["syntax"] == "proto3" for f in s["file"])
    assets = s["file"][2]
    assert assets["package"] == "odpf.assets.v1beta1"
    # dependencies precede dependents in the set
    assert assets["dependency"] == [
        "google/protobuf/timestamp.proto", "google/protobuf/struct.proto"
    ]


def test_asset_messages_match_protowire_descriptors():
    assets = _parse()["file"][2]
    by_name = {m["name"]: m for m in assets["message_type"]}
    for desc, name in pd._NAMES:
        msg = by_name[name]
        got = {f["name"]: f for f in msg["field"]}
        assert set(got) == set(desc), name
        for fname, spec in desc.items():
            f = got[fname]
            assert f["number"] == spec[0], (name, fname)
            assert f["type"] == KIND_TO_TYPE[spec[1]], (name, fname)
            want_label = 3 if spec[1].startswith("repeated") or spec[1] == "map_str" else 1
            assert f["label"] == want_label, (name, fname)
            if spec[1] == "timestamp":
                assert f["type_name"] == ".google.protobuf.Timestamp"
            if spec[1] == "struct_json":
                assert f["type_name"] == ".google.protobuf.Struct"
            if spec[1] == "map_str":
                # the nested map-entry message exists and is flagged
                entry = f["type_name"].rsplit(".", 1)[-1]
                nested = {m["name"]: m for m in msg.get("nested_type", [])}
                assert nested[entry]["options"] == {"map_entry": True}
                ef = {x["name"]: x for x in nested[entry]["field"]}
                assert ef["key"]["type"] == 9 and ef["value"]["type"] == 9


def test_well_known_struct_value_oneof():
    struct_file = _parse()["file"][1]
    by_name = {m["name"]: m for m in struct_file["message_type"]}
    value = by_name["Value"]
    assert [o["name"] for o in value["oneof_decl"]] == ["kind"]
    # every Value field sits in oneof 0 — including field 1, whose
    # zero-valued oneof_index must be force-emitted, not omitted
    assert all(f["oneof_index"] == 0 for f in value["field"])
    assert {f["name"]: f["number"] for f in value["field"]} == {
        "null_value": 1, "number_value": 2, "string_value": 3,
        "bool_value": 4, "struct_value": 5, "list_value": 6,
    }
    ts = _parse()["file"][0]["message_type"][0]
    assert {f["name"]: f["number"] for f in ts["field"]} == {"seconds": 1, "nanos": 2}
    # Struct.fields map entry carries a message value type
    fe = {m["name"]: m for m in by_name["Struct"]["nested_type"]}["FieldsEntry"]
    assert fe["options"] == {"map_entry": True}
    vf = next(f for f in fe["field"] if f["name"] == "value")
    assert vf["type_name"] == ".google.protobuf.Value"


def test_message_full_name():
    import pytest

    assert pd.message_full_name("Table") == "odpf.assets.v1beta1.Table"
    assert pd.message_full_name("Topic") == "odpf.assets.v1beta1.Topic"
    with pytest.raises(ValueError):
        pd.message_full_name("Dashboard")
