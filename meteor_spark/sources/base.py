"""Shared helpers for sources that build asset DataFrames.

Catalog walks, CSV headers, API scans and lakehouse logs all produce a
handful of asset rows in driver memory. `assets_df` hands them to the JVM
as one Arrow table, not through `createDataFrame(list)`: that path slices
the rows into `defaultParallelism` partitions and re-serializes them
through Python worker tasks, which costs more than the rows themselves.
The frame is one partition because the rows already fit in driver
memory: every later action over it (the runner's count, each sink) is
then one task instead of one per slice.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema

from meteor_spark.model.schema import ASSET_SCHEMA


def assets_df(spark: SparkSession, rows: list[dict[str, Any]]) -> DataFrame:
    """Build a one-partition asset DataFrame from plain dicts; absent
    fields are null.

    The result always conforms to ASSET_SCHEMA so every downstream
    processor/sink sees one contract. Values go through
    `ASSET_SCHEMA.toInternal`, the conversion `createDataFrame(list)`
    applies, before Arrow sees them: a naive datetime means local time
    there (Arrow alone would read it as UTC), structs become tuples and
    timestamps epoch microseconds.
    """
    import pyarrow as pa  # here, not at import: registering plugins must not load Arrow

    schema = to_arrow_schema(ASSET_SCHEMA)
    internal = [ASSET_SCHEMA.toInternal(r) for r in rows]
    columns = list(zip(*internal)) if internal else [()] * len(schema)
    table = pa.Table.from_arrays([pa.array(c, type=f.type) for c, f in zip(columns, schema)], schema=schema)
    return spark.createDataFrame(table, schema=ASSET_SCHEMA).coalesce(1)


def column_dict(
    name: str,
    data_type: str | None = None,
    description: str | None = None,
    is_nullable: bool | None = None,
    length: int | None = None,
    profile: dict | None = None,
    properties: str | None = None,
) -> dict:
    return {
        "name": name,
        "description": description,
        "data_type": data_type,
        "is_nullable": is_nullable,
        "length": length,
        "profile": profile,
        "properties": properties,
    }
