"""JSON-line encoding shared by the driver-side sinks.

Each row is encoded in the JVM by `to_json(struct(*))` and streamed to
the driver one partition at a time by `toLocalIterator`, so memory stays
bounded by the largest partition. The lines are byte-identical to
`df.toJSON()`, which encodes the same way but then ships every line
through a Python-worker RDD, one job per partition.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def json_lines(df: DataFrame) -> Iterator[str]:
    """One JSON object per row, as `df.toJSON()` would write it."""
    for row in df.select(F.to_json(F.struct("*"))).toLocalIterator():
        yield row[0]
