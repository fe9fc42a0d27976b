"""Pinned binary FileDescriptorSet for the asset messages.

A serialized google.protobuf.FileDescriptorSet lets any protobuf
runtime load the asset message types without the .proto sources; its
consumer here is tests/test_protobuf_interop.py, which loads it into
google.protobuf's DescriptorPool and checks the Python wire encoder's
bytes against the real library wherever that library is installed.
protoc is not a dependency of this package — but a FileDescriptorSet is ITSELF
a protobuf message whose schema (descriptor.proto) is public, so it is
generated here with the same wire primitives as functions/protowire.py,
derived from the SAME declarative descriptors the encoder uses (single
source of truth; the two cannot drift apart silently).

Field numbers below are from the public descriptor.proto:
  FileDescriptorSet   { file = 1 repeated FileDescriptorProto }
  FileDescriptorProto { name=1, package=2, dependency=3 repeated,
                        message_type=4 repeated, enum_type=5 repeated,
                        syntax=12 }
  DescriptorProto     { name=1, field=2 repeated, nested_type=3
                        repeated, oneof_decl=8 repeated, options=7 }
  FieldDescriptorProto{ name=1, number=3, label=4, type=5, type_name=6,
                        oneof_index=9 }
  MessageOptions      { map_entry = 7 bool }
  OneofDescriptorProto{ name=1 }
  EnumDescriptorProto { name=1, value=2 repeated }
  EnumValueDescriptorProto { name=1, number=2 }

Types/labels (public enums): TYPE_DOUBLE=1, TYPE_INT64=3, TYPE_INT32=5,
TYPE_BOOL=8, TYPE_STRING=9, TYPE_MESSAGE=11, TYPE_ENUM=14;
LABEL_OPTIONAL=1, LABEL_REPEATED=3.

Caveat: google.protobuf is not a dependency either, so without it the
descriptor set is validated structurally (round-tripped through the
strict wire decoder against hand-written descriptor-proto descriptors,
tests/test_protodesc.py); the real-runtime load runs where the library
is installed.
"""

from __future__ import annotations

from meteor_spark.functions import protowire as pw

# descriptor.proto enum values
T_DOUBLE, T_INT64, T_INT32, T_BOOL, T_STRING, T_MESSAGE, T_ENUM = 1, 3, 5, 8, 9, 11, 14
L_OPTIONAL, L_REPEATED = 1, 3

PKG = "odpf.assets.v1beta1"

# message names for the shared descriptor dicts (identity-keyed: the
# dicts in protowire.py ARE the schema; this only names them)
_NAMES = [
    (pw.RESOURCE_DESC, "Resource"),
    (pw.COLUMN_PROFILE_DESC, "ColumnProfile"),
    (pw.COLUMN_DESC, "Column"),
    (pw.COLUMNS_WRAPPER_DESC, "Columns"),
    (pw.JOIN_DESC, "Join"),
    (pw.TABLE_PROFILE_DESC, "TableProfile"),
    (pw.PREVIEW_DESC, "Preview"),
    (pw.OWNER_DESC, "Owner"),
    (pw.OWNERSHIP_WRAPPER_DESC, "Ownership"),
    (pw.LINEAGE_DESC, "Lineage"),
    (pw.PROPERTIES_DESC, "Properties"),
    (pw.TIMESTAMPS_DESC, "Timestamps"),
    (pw.EVENT_DESC, "Event"),
    (pw.TOPIC_PROFILE_DESC, "TopicProfile"),
    (pw.TOPIC_SCHEMA_DESC, "TopicSchema"),
    (pw.TABLE_DESC, "Table"),
    (pw.TOPIC_DESC, "Topic"),
]


def _name_of(desc: dict) -> str | None:
    for d, n in _NAMES:
        if d is desc:
            return n
    return None


# --------------------------------------------------------------- emitters


def _field(
    name: str,
    number: int,
    ftype: int,
    label: int = L_OPTIONAL,
    type_name: str = "",
    oneof_index: int | None = None,
) -> bytes:
    out = pw.enc_string_field(1, name)
    out += pw.enc_varint_field(3, number)
    out += pw.enc_varint_field(4, label)
    out += pw.enc_varint_field(5, ftype)
    if type_name:
        out += pw.enc_string_field(6, type_name)
    if oneof_index is not None:
        # force-emit even for index 0: omission would drop the field
        # out of the oneof entirely
        out += pw.tag(9, 0) + pw.varint(oneof_index)
    return out


def _message(name: str, fields: list[bytes], nested: list[bytes] = (),
             oneofs: list[str] = (), map_entry: bool = False) -> bytes:
    out = pw.enc_string_field(1, name)
    for f in fields:
        out += pw.enc_len_field(2, f)
    for n in nested:
        out += pw.enc_len_field(3, n)
    if map_entry:
        out += pw.enc_len_field(7, pw.enc_varint_field(7, 1))  # options.map_entry
    for o in oneofs:
        out += pw.enc_len_field(8, pw.enc_string_field(1, o))
    return out


def _map_entry(name: str, value_type: int, value_type_name: str = "") -> bytes:
    return _message(
        name,
        [
            _field("key", 1, T_STRING),
            _field("value", 2, value_type, type_name=value_type_name),
        ],
        map_entry=True,
    )


def _enum(name: str, values: list[tuple[str, int]]) -> bytes:
    out = pw.enc_string_field(1, name)
    for vn, num in values:
        entry = pw.enc_string_field(1, vn)
        entry += pw.tag(2, 0) + pw.varint(num)  # force-emit number 0
        out += pw.enc_len_field(2, entry)
    return out


def _file(name: str, package: str, messages: list[bytes],
          deps: list[str] = (), enums: list[bytes] = ()) -> bytes:
    out = pw.enc_string_field(1, name)
    out += pw.enc_string_field(2, package)
    for d in deps:
        out += pw.enc_string_field(3, d)
    for m in messages:
        out += pw.enc_len_field(4, m)
    for e in enums:
        out += pw.enc_len_field(5, e)
    out += pw.enc_string_field(12, "proto3")
    return out


# ------------------------------------------------- well-known type files


def _timestamp_file() -> bytes:
    ts = _message(
        "Timestamp",
        [_field("seconds", 1, T_INT64), _field("nanos", 2, T_INT32)],
    )
    return _file("google/protobuf/timestamp.proto", "google.protobuf", [ts])


def _struct_file() -> bytes:
    struct_msg = _message(
        "Struct",
        [_field("fields", 1, T_MESSAGE, L_REPEATED,
                ".google.protobuf.Struct.FieldsEntry")],
        nested=[_map_entry("FieldsEntry", T_MESSAGE, ".google.protobuf.Value")],
    )
    value_msg = _message(
        "Value",
        [
            _field("null_value", 1, T_ENUM,
                   type_name=".google.protobuf.NullValue", oneof_index=0),
            _field("number_value", 2, T_DOUBLE, oneof_index=0),
            _field("string_value", 3, T_STRING, oneof_index=0),
            _field("bool_value", 4, T_BOOL, oneof_index=0),
            _field("struct_value", 5, T_MESSAGE,
                   type_name=".google.protobuf.Struct", oneof_index=0),
            _field("list_value", 6, T_MESSAGE,
                   type_name=".google.protobuf.ListValue", oneof_index=0),
        ],
        oneofs=["kind"],
    )
    list_msg = _message(
        "ListValue",
        [_field("values", 1, T_MESSAGE, L_REPEATED, ".google.protobuf.Value")],
    )
    null_enum = _enum("NullValue", [("NULL_VALUE", 0)])
    return _file(
        "google/protobuf/struct.proto", "google.protobuf",
        [struct_msg, value_msg, list_msg], enums=[null_enum],
    )


# ------------------------------------------------- asset message file


def _kind_to_field(name: str, spec, parent: str) -> tuple[bytes, list[bytes]]:
    """One protowire descriptor entry -> (FieldDescriptorProto bytes,
    any nested map-entry messages it needs)."""
    no, kind = spec[0], spec[1]
    if kind == "string":
        return _field(name, no, T_STRING), []
    if kind == "int64":
        return _field(name, no, T_INT64), []
    if kind == "bool":
        return _field(name, no, T_BOOL), []
    if kind == "double":
        return _field(name, no, T_DOUBLE), []
    if kind == "timestamp":
        return _field(name, no, T_MESSAGE,
                      type_name=".google.protobuf.Timestamp"), []
    if kind == "struct_json":
        return _field(name, no, T_MESSAGE,
                      type_name=".google.protobuf.Struct"), []
    if kind == "list_json":
        return _field(name, no, T_MESSAGE,
                      type_name=".google.protobuf.ListValue"), []
    if kind in ("message", "repeated_message"):
        sub = _name_of(spec[2])
        if sub is None:
            # the Column.properties subset descriptor: wire-compatible
            # Properties carrying only the attributes Struct
            sub = "ColumnProperties"
        label = L_REPEATED if kind == "repeated_message" else L_OPTIONAL
        return _field(name, no, T_MESSAGE, label, f".{PKG}.{sub}"), []
    if kind == "repeated_string":
        return _field(name, no, T_STRING, L_REPEATED), []
    if kind == "map_str":
        entry_name = "".join(p.capitalize() for p in name.split("_")) + "Entry"
        return (
            _field(name, no, T_MESSAGE, L_REPEATED,
                   f".{PKG}.{parent}.{entry_name}"),
            [_map_entry(entry_name, T_STRING)],
        )
    raise ValueError(f"unknown kind {kind}")  # pragma: no cover


def _assets_file() -> bytes:
    messages = []
    for desc, name in _NAMES:
        fields, nested = [], []
        for fname, spec in desc.items():
            fb, nb = _kind_to_field(fname, spec, name)
            fields.append(fb)
            nested.extend(nb)
        messages.append(_message(name, fields, nested=nested))
    # the Column.properties subset message (attributes Struct only)
    messages.append(
        _message(
            "ColumnProperties",
            [_field("attributes", 3, T_MESSAGE,
                    type_name=".google.protobuf.Struct")],
        )
    )
    return _file(
        "meteor_assets.proto", PKG, messages,
        deps=["google/protobuf/timestamp.proto", "google/protobuf/struct.proto"],
    )


def file_descriptor_set() -> bytes:
    """The pinned binary FileDescriptorSet: well-known dependencies
    first (protobuf resolvers require dependencies to precede
    dependents), then the asset messages."""
    out = b""
    for f in (_timestamp_file(), _struct_file(), _assets_file()):
        out += pw.enc_len_field(1, f)
    return out


def message_full_name(asset_type: str) -> str:
    if asset_type not in pw._ASSET_DESCS:
        raise ValueError(f"no protobuf descriptor for asset_type {asset_type!r}")
    return f"{PKG}.{asset_type}"
