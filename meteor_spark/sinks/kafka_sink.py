"""Kafka sink — publish records to a topic.

Reference (plugins/sinks/kafka/sink.go:74-197): protobuf-serialized
value; optional message key from a 1-level field path (e.g. `.Urn`)
resolved by reflection (:121-188); LeastBytes balancer (:190-197).

Spark-first translation: `kafka_rows` builds the (key, value) frame
and `df.write.format("kafka")` publishes it; Spark's Kafka partitioner
plays the balancer role. `kafka_rows` is a pure transformation
(tested); the write needs the spark-sql-kafka connector jar, which
pyspark does not bundle, so sink() raises a clear error without it.

Wire format: protobuf by default (reference parity, kafka/sink.go:
112-118), JSON opt-in (value_format config). The protobuf path has one
encoder: the pure-Python wire encoder (functions/protowire.py, field
numbers pinned from the reference generated code) in ONE Arrow-batched
mapInPandas pass. See docs/ADR-0001-kafka-wire-format.md (v5) for the
interop matrix and the map-field byte-ordering caveat.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from meteor_spark.plugins_base import Field, Sink
from meteor_spark.registry import register_sink


def _resolve_session_tz(tz_name: str):
    """Resolve a Spark session timezone string to a tzinfo, at PLAN
    time (driver side) so a bad zone fails with a clear message instead
    of inside a mapInPandas task on every executor.

    Spark accepts java.time.ZoneId forms the IANA database does not:
    fixed offsets ('+08:00', '-0330', '+8') and prefixed offsets
    ('UTC+2', 'GMT-08:00', 'UT+05:30') raise ZoneInfoNotFoundError in
    zoneinfo. Parse those into a datetime.timezone; everything else
    goes through ZoneInfo."""
    import re
    from datetime import timedelta, timezone
    from zoneinfo import ZoneInfo

    s = (tz_name or "UTC").strip()
    if s in ("Z", "z"):
        return timezone.utc
    m = re.fullmatch(
        r"(?:UTC|GMT|UT)?([+-])(\d{1,2})(?::?(\d{2}))?(?::?(\d{2}))?", s
    )
    if m:
        sign = 1 if m.group(1) == "+" else -1
        delta = timedelta(
            hours=int(m.group(2)),
            minutes=int(m.group(3) or 0),
            seconds=int(m.group(4) or 0),
        )
        return timezone(sign * delta)
    if s in ("UTC", "GMT", "UT"):
        return timezone.utc
    try:
        return ZoneInfo(s)
    except Exception as exc:  # noqa: BLE001 - re-raise with plan-time context
        raise ValueError(
            f"protobuf kafka sink: cannot resolve session timezone {tz_name!r} "
            "(spark.sql.session.timeZone) to a tzinfo for timestamp encoding"
        ) from exc


def _schema_has_timestamp(dt) -> bool:
    from pyspark.sql import types as T

    if isinstance(dt, T.TimestampType):
        return True
    if isinstance(dt, T.StructType):
        return any(_schema_has_timestamp(f.dataType) for f in dt.fields)
    if isinstance(dt, T.ArrayType):
        return _schema_has_timestamp(dt.elementType)
    if isinstance(dt, T.MapType):
        return _schema_has_timestamp(dt.keyType) or _schema_has_timestamp(dt.valueType)
    return False


def _check_pandas_tz(tz_name: str, schema) -> None:
    """PySpark's Arrow->pandas serializer localizes TimestampType
    columns with pandas/pytz, which rejects some ZoneId forms Spark
    itself accepts ('GMT+08:00', 'UTC+2') — the task would then die in
    every executor with an opaque UnknownTimeZoneError. Probe the exact
    operation at PLAN time and fail with an actionable message."""
    if not _schema_has_timestamp(schema):
        return
    import pandas as pd

    try:
        pd.Timestamp(0).tz_localize(tz_name or "UTC")
    except Exception as exc:  # noqa: BLE001
        raise ValueError(
            f"protobuf kafka sink: session timezone {tz_name!r} "
            "(spark.sql.session.timeZone) is not understood by the "
            "Arrow-to-pandas serializer that feeds the protobuf encoder; "
            "set an equivalent IANA zone (e.g. 'Etc/GMT-8' for +08:00 — "
            "note Etc/GMT signs are inverted) or a bare offset like "
            "'+08:00' before writing"
        ) from exc


def _key_message(key_path: str, key: str, asset_type: str) -> bytes:
    """Protobuf record key per reference kafka/sink.go:121-150: a message
    of the SAME descriptor with only the key field populated, marshaled.
    The reference supports only top-level string fields (`.Urn`); this
    model's key fields live one level down (e.g. resource.urn), so the
    dynamic message nests the path — the natural generalization."""
    from meteor_spark.functions import protowire

    parts = key_path.split(".")
    shell: dict = {parts[-1]: key}
    for p in reversed(parts[:-1]):
        shell = {p: shell}
    return protowire.encode_asset(shell, asset_type=asset_type)


def kafka_rows(
    df: DataFrame,
    key_path: str | None = None,
    value_format: str = "protobuf",
) -> DataFrame:
    """(key, value) frame ready for the kafka writer.

    key_path mirrors the reference's `.Urn`-style 1-level path
    (kafka/sink.go:121-188); here it is a column path into the asset
    struct, e.g. 'resource.urn'.

    value_format="json": to_json(struct(*)) value, string key — pure
    JVM. value_format="protobuf": the reference wire format
    (kafka/sink.go:112-118) — value is the marshaled asset message,
    key is the same-descriptor message carrying only the key field
    (sink.go:121-150).

    The protobuf path encodes with the Python wire encoder
    (functions/protowire.py) in one Arrow-batched mapInPandas pass; each
    row's own `asset_type` column picks its message type.
    """
    if value_format == "protobuf":
        import pandas as pd

        from meteor_spark.functions import protowire

        # Spark hands TimestampType to pandas as session-timezone-LOCAL
        # naive datetimes; capture the session zone at plan time so the
        # executors encode the correct absolute instant (a non-UTC
        # session would otherwise shift every encoded Timestamp).
        tz_name = df.sparkSession.conf.get("spark.sql.session.timeZone") or "UTC"
        # resolved on the DRIVER: offset-style zones Spark accepts
        # ('GMT+08:00', '+08:00', 'UTC+2') are not IANA names and would
        # crash ZoneInfo inside every executor task; tzinfo objects
        # pickle cleanly into the closure
        naive_tz = _resolve_session_tz(tz_name)
        _check_pandas_tz(tz_name, df.schema)

        def encode(batches):
            for pdf in batches:
                keys, values = [], []
                for rec in pdf.to_dict("records"):
                    at = rec.get("asset_type")
                    if not at or at != at:
                        # reference sink.go always knows its message
                        # type; guessing between descriptors would emit
                        # wrong-typed bytes silently — fail instead
                        raise ValueError(
                            "protobuf kafka sink: row has no asset_type "
                            "and multiple descriptors are registered "
                            f"({sorted(protowire._ASSET_DESCS)}); cannot "
                            "pick a message type safely"
                        )
                    values.append(
                        protowire.encode_asset(rec, asset_type=at, naive_tz=naive_tz)
                    )
                    if key_path:
                        k = rec
                        for part in key_path.split("."):
                            k = k.get(part) if isinstance(k, dict) else None
                            if k is None:
                                break
                        keys.append(
                            _key_message(key_path, str(k), at) if k is not None else None
                        )
                    else:
                        keys.append(None)
                yield pd.DataFrame({"key": keys, "value": values})

        return df.mapInPandas(encode, "key binary, value binary")
    value = F.to_json(F.struct(*df.columns)).alias("value")
    if key_path:
        return df.select(F.col(key_path).cast("string").alias("key"), value)
    return df.select(F.lit(None).cast("string").alias("key"), value)


@register_sink("kafka", "Publish records to a Kafka topic")
class KafkaSink(Sink):
    CONFIG = {
        "brokers": Field(required=True, type=str),
        "topic": Field(required=True, type=str),
        "key_path": Field(default=None, type=str),  # e.g. resource.urn
        "value_format": Field(default="protobuf", type=str, oneof=("json", "protobuf")),
    }

    def sink(self, df: DataFrame) -> int:
        out = kafka_rows(df, self.config["key_path"], self.config["value_format"])
        try:
            (
                out.write.format("kafka")
                .option("kafka.bootstrap.servers", self.config["brokers"])
                .option("topic", self.config["topic"])
                .save()
            )
        except Exception as e:  # noqa: BLE001
            # only the missing-connector case gets the classpath hint; a
            # blanket rewrite here masked broker/auth/topic failures
            # behind a misleading message and made them non-retryable
            msg = str(e)
            if "ClassNotFoundException" in msg or "Failed to find data source" in msg:
                raise RuntimeError(
                    "kafka write requires the spark-sql-kafka connector on the classpath"
                ) from e
            raise
        return df.count()
