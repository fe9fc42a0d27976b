"""Pure-Python protobuf wire-format encoder for the asset messages.

The reference's Kafka sink publishes each asset as the compiled protobuf
message (reference plugins/sinks/kafka/sink.go:112-118, proto.Marshal).
It is the Kafka sink's only protobuf encoder and needs neither protoc
nor a JVM connector jar: the protobuf wire format is a small public
specification (varint tags; wire types 0=varint, 1=i64,
2=len-delimited), so the encoder is implemented directly and driven by declarative descriptors whose field
numbers are copied from the reference's generated code:

- Table        models/odpf/assets/v1beta1/table.pb.go:33-57
- TableProfile table.pb.go:163-173, Join :256-260
- Topic        models/odpf/assets/v1beta1/topic.pb.go:33-54,153-156
- Resource     models/odpf/assets/common/v1beta1/resource.pb.go:32-47
- Columns      models/odpf/assets/facets/v1beta1/schema.pb.go:31-96,
  ColumnProfile :185-191, TopicSchema :282-283
- Preview      facets/v1beta1/preview.pb.go:31-34
- Properties   facets/v1beta1/properties.pb.go:30-34
- Ownership    facets/v1beta1/ownership.pb.go:31-88
- Lineage      facets/v1beta1/lineage.pb.go:33-36
- Timestamp    common/v1beta1/timestamp.pb.go:31-33, Event event.pb.go:34-40
- google.protobuf.{Timestamp, Struct, Value, ListValue} — public
  well-known types (seconds=1/nanos=2; fields=1; null=1 number=2
  string=3 bool=4 struct=5 list=6; values=1).

Determinism note: this encoder emits fields in ascending field-number
order and map entries sorted by key, so its output is byte-stable.
Go's proto.Marshal deliberately RANDOMIZES map iteration order, so byte
equality with a Go-encoded fixture is only guaranteed for map-free
messages; for messages with maps the encodings are semantically equal
(any conformant decoder yields the same message). The golden-bytes
tests (tests/test_protowire.py) therefore pin hand-derived expected
bytes per the wire spec, the strongest check available in-container.

proto3 semantics honored: zero-valued scalars (0, "", false, 0.0) and
None are omitted; nested messages are emitted when present even if
empty; repeated fields emit one tagged element each.
"""

from __future__ import annotations

import json
import struct as _struct
from datetime import datetime, timezone

# ---------------------------------------------------------------------------
# wire primitives
# ---------------------------------------------------------------------------


def varint(n: int) -> bytes:
    """Unsigned LEB128. Negative int64 values encode as their two's
    complement in 10 bytes (the protobuf int64 rule)."""
    if n < 0:
        n += 1 << 64
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def tag(field_no: int, wire_type: int) -> bytes:
    return varint((field_no << 3) | wire_type)


def enc_varint_field(field_no: int, value: int) -> bytes:
    return tag(field_no, 0) + varint(value)


def enc_double_field(field_no: int, value: float) -> bytes:
    return tag(field_no, 1) + _struct.pack("<d", value)


def enc_len_field(field_no: int, payload: bytes) -> bytes:
    return tag(field_no, 2) + varint(len(payload)) + payload


def enc_string_field(field_no: int, value: str) -> bytes:
    return enc_len_field(field_no, value.encode("utf-8"))


# ---------------------------------------------------------------------------
# well-known types
# ---------------------------------------------------------------------------


def enc_timestamp(dt: datetime, naive_tz=timezone.utc) -> bytes:
    """google.protobuf.Timestamp: seconds=1 varint, nanos=2 varint.
    Naive datetimes are taken as naive_tz (default UTC). Spark collects
    TimestampType as session-timezone-LOCAL naive datetimes, so the
    kafka sink path passes the session timezone here — assuming UTC
    would shift encoded seconds on any non-UTC session relative to the
    reference's Go encoding.

    Integer arithmetic end to end: timedelta subtraction carries exact
    microseconds, divmod floors toward -inf (proto Timestamp wants
    nanos in [0, 1e9) even before 1970), nanos = micros * 1000. The
    float dt.timestamp() path this replaced rounded sub-second
    datetimes to the wrong nanosecond (e.g. microsecond=3 encoded
    nanos=3099) — a byte-level divergence from proto.Marshal."""
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=naive_tz)
    delta = dt - datetime(1970, 1, 1, tzinfo=timezone.utc)
    total_us = (delta.days * 86_400 + delta.seconds) * 1_000_000 + delta.microseconds
    seconds, rem_us = divmod(total_us, 1_000_000)
    nanos = rem_us * 1000
    out = b""
    if seconds:
        out += enc_varint_field(1, seconds)
    if nanos:
        out += enc_varint_field(2, nanos)
    return out


def enc_value(v) -> bytes:
    """google.protobuf.Value: null_value=1 (enum varint), number_value=2
    (double), string_value=3, bool_value=4, struct_value=5, list_value=6.
    bool checked before number (bool is an int subclass in Python)."""
    if v is None:
        return enc_varint_field(1, 0)
    if isinstance(v, bool):
        return enc_varint_field(4, 1 if v else 0)
    if isinstance(v, (int, float)):
        return enc_double_field(2, float(v))
    if isinstance(v, str):
        return enc_string_field(3, v)
    if isinstance(v, dict):
        return enc_len_field(5, enc_struct(v))
    if isinstance(v, (list, tuple)):
        return enc_len_field(6, enc_list_value(v))
    raise TypeError(f"unsupported Value type: {type(v).__name__}")


def enc_struct(d: dict) -> bytes:
    """google.protobuf.Struct: fields=1, map<string, Value> — entry
    messages (key=1, value=2), sorted by key for byte stability."""
    out = b""
    for k in sorted(d):
        entry = enc_string_field(1, k) + enc_len_field(2, enc_value(d[k]))
        out += enc_len_field(1, entry)
    return out


def enc_list_value(items) -> bytes:
    """google.protobuf.ListValue: values=1 repeated Value."""
    out = b""
    for v in items:
        out += enc_len_field(1, enc_value(v))
    return out


def enc_struct_json(js: str | None) -> bytes | None:
    """Struct from the model's open-JSON-object string columns."""
    if not js:
        return None
    return enc_struct(json.loads(js))


def enc_list_value_json(js: str | None) -> bytes | None:
    if not js:
        return None
    return enc_list_value(json.loads(js))


# ---------------------------------------------------------------------------
# descriptor-driven message encoding
#
# A descriptor maps field name -> (field_no, kind[, sub]) where kind is
# one of: "string", "int64", "bool", "double", "message" (sub =
# descriptor dict), "timestamp" (google Timestamp from datetime),
# "struct_json" / "list_json" (google Struct/ListValue from a JSON
# string), "map_str" (map<string,string>), and "repeated_*" variants.
# Field order in the descriptor IS emission order (keep ascending).
# ---------------------------------------------------------------------------


def enc_message(desc: dict, row, naive_tz=timezone.utc) -> bytes:
    """Encode a dict / pyspark Row against a descriptor. Missing keys
    and None values are omitted; proto3 zero-valued scalars too. Float
    NaN (and pandas NaT, which is also != itself) counts as missing —
    a nullable numeric surfacing as NaN through the pandas path would
    otherwise encode as a NaN double or crash int(v), where
    proto.Marshal omits unset fields."""
    get = row.get if isinstance(row, dict) else (lambda k: row[k] if k in row.__fields__ else None)  # type: ignore[union-attr]
    out = b""
    for name, spec in desc.items():
        no, kind = spec[0], spec[1]
        v = get(name)
        # NaN check restricted to scalars: lists/arrays define __ne__
        # elementwise. isinstance covers np.float64 (a float subclass)
        # and pd.NaT (a datetime subclass, != itself).
        if v is None or (isinstance(v, (float, datetime)) and v != v):
            continue
        if kind == "string":
            if v != "":
                out += enc_string_field(no, v)
        elif kind == "int64":
            if int(v) != 0:
                out += enc_varint_field(no, int(v))
        elif kind == "bool":
            if v:
                out += enc_varint_field(no, 1)
        elif kind == "double":
            if float(v) != 0.0:
                out += enc_double_field(no, float(v))
        elif kind == "timestamp":
            out += enc_len_field(no, enc_timestamp(v, naive_tz))
        elif kind == "struct_json":
            p = enc_struct_json(v)
            if p is not None:
                out += enc_len_field(no, p)
        elif kind == "list_json":
            p = enc_list_value_json(v)
            if p is not None:
                out += enc_len_field(no, p)
        elif kind == "message":
            if isinstance(v, str):
                # Column.properties arrives as the raw attributes JSON
                # string (column_dict stores an open JSON object);
                # wrap it into the facets.Properties row shape the
                # sub-descriptor expects instead of recursing into str
                v = {"attributes": v}
            out += enc_len_field(no, enc_message(spec[2], v, naive_tz))
        elif kind == "repeated_message":
            for item in v:
                out += enc_len_field(no, enc_message(spec[2], item, naive_tz))
        elif kind == "repeated_string":
            for s in v:
                out += enc_string_field(no, s or "")
        elif kind == "map_str":
            # Spark's MapType permits null values; proto3 string maps
            # cannot carry nil, and Go's zero value is "" — encode the
            # entry with an empty value field, exactly as proto.Marshal
            # does for map[string]string{"k": ""} (appendMapItem emits
            # key and value unconditionally)
            items = sorted(v.items()) if isinstance(v, dict) else sorted(v)
            for k, mv in items:
                out += enc_len_field(
                    no, enc_string_field(1, k) + enc_string_field(2, mv or "")
                )
        else:  # pragma: no cover - descriptor authoring error
            raise ValueError(f"unknown kind {kind}")
    return out


# ---------------------------------------------------------------------------
# asset descriptors (field numbers from the reference generated code)
# ---------------------------------------------------------------------------

RESOURCE_DESC = {
    "urn": (1, "string"),
    "name": (2, "string"),
    "service": (3, "string"),
    "type": (4, "string"),
    "url": (5, "string"),
    "description": (6, "string"),
}

COLUMN_PROFILE_DESC = {
    "min": (1, "string"),
    "max": (2, "string"),
    "avg": (3, "double"),
    "med": (4, "double"),
    "unique": (5, "int64"),
    "count": (6, "int64"),
    "top": (7, "string"),
}

COLUMN_DESC = {
    "name": (1, "string"),
    "description": (2, "string"),
    "data_type": (3, "string"),
    "is_nullable": (4, "bool"),
    "length": (5, "int64"),
    "profile": (6, "message", COLUMN_PROFILE_DESC),
    # Column.properties is facets.Properties at 31; the model stores an
    # open JSON object string -> encoded as the attributes Struct only
    "properties": (31, "message", {"attributes": (3, "struct_json")}),
}

# wrapper: facets Columns{columns: repeated Column = 1}
COLUMNS_WRAPPER_DESC = {"columns": (1, "repeated_message", COLUMN_DESC)}

JOIN_DESC = {
    "urn": (1, "string"),
    "count": (2, "int64"),
    "conditions": (3, "repeated_string"),
}

TABLE_PROFILE_DESC = {
    "total_rows": (1, "int64"),
    "partition_key": (2, "string"),
    "partition_value": (3, "string"),
    "usage_count": (4, "int64"),
    "joins": (5, "repeated_message", JOIN_DESC),
    "filters": (6, "repeated_string"),
}

PREVIEW_DESC = {
    "fields": (1, "repeated_string"),
    "rows": (2, "list_json"),
}

OWNER_DESC = {
    "urn": (1, "string"),
    "name": (2, "string"),
    "role": (3, "string"),
    "email": (4, "string"),
}

OWNERSHIP_WRAPPER_DESC = {"owners": (7, "repeated_message", OWNER_DESC)}

LINEAGE_DESC = {
    "upstreams": (1, "repeated_message", RESOURCE_DESC),
    "downstreams": (2, "repeated_message", RESOURCE_DESC),
}

PROPERTIES_DESC = {
    "tags": (1, "repeated_string"),
    "labels": (2, "map_str"),
    "attributes": (3, "struct_json"),
}

TIMESTAMPS_DESC = {
    "create_time": (1, "timestamp"),
    "update_time": (2, "timestamp"),
}

EVENT_DESC = {
    "timestamp": (1, "timestamp"),
    "action": (2, "string"),
    "description": (3, "string"),
}

TOPIC_PROFILE_DESC = {
    "throughput": (1, "string"),
    "number_of_partitions": (2, "int64"),
}

TOPIC_SCHEMA_DESC = {
    "schema_url": (1, "string"),
    "format": (2, "string"),
}

# odpf.assets.v1beta1.Table (table.pb.go:33-57)
TABLE_DESC = {
    "resource": (1, "message", RESOURCE_DESC),
    "profile": (21, "message", TABLE_PROFILE_DESC),
    "schema": (22, "message", COLUMNS_WRAPPER_DESC),
    "preview": (23, "message", PREVIEW_DESC),
    "ownership": (31, "message", OWNERSHIP_WRAPPER_DESC),
    "lineage": (32, "message", LINEAGE_DESC),
    "properties": (33, "message", PROPERTIES_DESC),
    "timestamps": (34, "message", TIMESTAMPS_DESC),
    "event": (100, "message", EVENT_DESC),
}

# odpf.assets.v1beta1.Topic (topic.pb.go:33-54)
TOPIC_DESC = {
    "resource": (1, "message", RESOURCE_DESC),
    "profile": (21, "message", TOPIC_PROFILE_DESC),
    "schema": (31, "message", TOPIC_SCHEMA_DESC),
    "ownership": (32, "message", OWNERSHIP_WRAPPER_DESC),
    "lineage": (33, "message", LINEAGE_DESC),
    "properties": (34, "message", PROPERTIES_DESC),
    "timestamps": (35, "message", TIMESTAMPS_DESC),
    "event": (100, "message", EVENT_DESC),
}

_ASSET_DESCS = {"Table": TABLE_DESC, "Topic": TOPIC_DESC}


def _row_to_plain(v):
    """Recursively convert pyspark Rows to dicts so enc_message sees one
    shape (Row.get semantics differ across nesting levels)."""
    from pyspark.sql import Row

    if isinstance(v, Row):
        return {k: _row_to_plain(x) for k, x in v.asDict().items()}
    if isinstance(v, dict):
        return {k: _row_to_plain(x) for k, x in v.items()}
    if isinstance(v, (list, tuple)):
        return [_row_to_plain(x) for x in v]
    return v


def encode_asset(asset, asset_type: str | None = None, naive_tz=timezone.utc) -> bytes:
    """Encode one asset row (ASSET_SCHEMA shape, pyspark Row or dict) as
    the reference's protobuf message for its asset_type.

    The unified model nests per-type facets under one wide schema; the
    descriptor picks out the fields the target message carries. Table
    maps (resource, profile, schema, preview, ownership, lineage,
    properties, timestamps, event); Topic maps its own facet numbering.
    """
    at, desc, plain = asset_plain(asset, asset_type)
    return enc_message(desc, plain, naive_tz)


def asset_plain(asset, asset_type: str | None = None) -> tuple[str, dict, dict]:
    """The (asset_type, descriptor, message-shaped dict) an asset row
    encodes as — the model->message mapping shared by encode_asset and
    the round-trip tests."""
    plain = _row_to_plain(asset)
    at = asset_type or plain.get("asset_type") or "Table"
    desc = _ASSET_DESCS.get(at)
    if desc is None:
        raise ValueError(f"no protobuf descriptor for asset_type {at!r}")
    if at == "Topic":
        # the unified schema stores topic facets under distinct names
        plain = dict(plain)
        plain["profile"] = plain.get("topic_profile")
        plain["schema"] = plain.get("topic_schema")
    elif plain.get("schema") is not None:
        plain = dict(plain)
        plain["schema"] = {"columns": plain["schema"]}
    if plain.get("ownership") is not None:
        plain = dict(plain)
        plain["ownership"] = {"owners": plain["ownership"]}
    return at, desc, plain


# ---------------------------------------------------------------------------
# wire-format DECODER — the round-trip proof for the encoder above.
#
# google.protobuf is not installed in this container, so the encoder was
# validated by hand-derived golden bytes only. This minimal decoder
# parses the encoder's output back to plain Python per the same public
# wire spec (and the same descriptors), so tests can assert
# encode -> decode -> equal over the full asset fixture set without any
# new dependency. It is deliberately strict: unknown field numbers or
# wire types raise instead of being skipped, so a descriptor drift
# between the two directions cannot pass silently.
# ---------------------------------------------------------------------------


def _read_varint(buf: bytes, i: int) -> tuple[int, int]:
    n = shift = 0
    while True:
        b = buf[i]
        i += 1
        n |= (b & 0x7F) << shift
        if not b & 0x80:
            return n, i
        shift += 7
        if shift > 63:
            raise ValueError("varint longer than 10 bytes")


def _to_signed64(n: int) -> int:
    return n - (1 << 64) if n >= (1 << 63) else n


def _wire_fields(buf: bytes):
    """Yield (field_no, wire_type, raw) — raw is an int for wire type 0,
    bytes for 1 (8 bytes), 2 (len-delimited payload), 5 (4 bytes)."""
    i = 0
    while i < len(buf):
        t, i = _read_varint(buf, i)
        no, wt = t >> 3, t & 7
        if wt == 0:
            v, i = _read_varint(buf, i)
        elif wt == 1:
            v, i = buf[i : i + 8], i + 8
        elif wt == 2:
            ln, i = _read_varint(buf, i)
            v, i = buf[i : i + ln], i + ln
            if len(v) != ln:
                raise ValueError("truncated len-delimited field")
        elif wt == 5:
            v, i = buf[i : i + 4], i + 4
        else:
            raise ValueError(f"unsupported wire type {wt}")
        yield no, wt, v


def dec_timestamp(buf: bytes) -> datetime:
    seconds = nanos = 0
    for no, _wt, v in _wire_fields(buf):
        if no == 1:
            seconds = _to_signed64(v)
        elif no == 2:
            nanos = v
        else:
            raise ValueError(f"unknown Timestamp field {no}")
    return datetime.fromtimestamp(seconds, tz=timezone.utc).replace(
        microsecond=nanos // 1000
    )


def dec_value(buf: bytes):
    for no, _wt, v in _wire_fields(buf):
        if no == 1:
            return None
        if no == 2:
            return _struct.unpack("<d", v)[0]
        if no == 3:
            return v.decode("utf-8")
        if no == 4:
            return bool(v)
        if no == 5:
            return dec_struct(v)
        if no == 6:
            return dec_list_value(v)
        raise ValueError(f"unknown Value field {no}")
    return None  # empty Value == null (proto3 zero enum omitted)


def dec_struct(buf: bytes) -> dict:
    d: dict = {}
    for no, _wt, entry in _wire_fields(buf):
        if no != 1:
            raise ValueError(f"unknown Struct field {no}")
        k, val = None, None
        for eno, _ewt, ev in _wire_fields(entry):
            if eno == 1:
                k = ev.decode("utf-8")
            elif eno == 2:
                val = dec_value(ev)
            else:
                raise ValueError(f"unknown Struct entry field {eno}")
        d[k if k is not None else ""] = val
    return d


def dec_list_value(buf: bytes) -> list:
    return [dec_value(v) for no, _wt, v in _wire_fields(buf) if no == 1]


def decode_message(desc: dict, buf: bytes) -> dict:
    """Inverse of enc_message against the same descriptor: returns a
    plain dict holding only the fields present on the wire (proto3
    omitted zero-values simply don't appear). struct_json / list_json
    fields decode to the parsed object (dict / list), not the original
    JSON string — compare via json.loads."""
    by_no = {spec[0]: (name, spec) for name, spec in desc.items()}
    out: dict = {}
    for no, _wt, v in _wire_fields(buf):
        if no not in by_no:
            raise ValueError(f"field number {no} not in descriptor")
        name, spec = by_no[no]
        kind = spec[1]
        if kind == "string":
            out[name] = v.decode("utf-8")
        elif kind == "int64":
            out[name] = _to_signed64(v)
        elif kind == "bool":
            out[name] = bool(v)
        elif kind == "double":
            out[name] = _struct.unpack("<d", v)[0]
        elif kind == "timestamp":
            out[name] = dec_timestamp(v)
        elif kind == "struct_json":
            out[name] = dec_struct(v)
        elif kind == "list_json":
            out[name] = dec_list_value(v)
        elif kind == "message":
            out[name] = decode_message(spec[2], v)
        elif kind == "repeated_message":
            out.setdefault(name, []).append(decode_message(spec[2], v))
        elif kind == "repeated_string":
            out.setdefault(name, []).append(v.decode("utf-8"))
        elif kind == "map_str":
            k = mv = ""
            for eno, _ewt, ev in _wire_fields(v):
                if eno == 1:
                    k = ev.decode("utf-8")
                elif eno == 2:
                    mv = ev.decode("utf-8")
                else:
                    raise ValueError(f"unknown map entry field {eno}")
            out.setdefault(name, {})[k] = mv
        else:  # pragma: no cover - descriptor authoring error
            raise ValueError(f"unknown kind {kind}")
    return out
