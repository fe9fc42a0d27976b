"""Console sink — JSON per record to stdout.

Reference (plugins/sinks/console/sink.go:43-61): marshal each record to
JSON and print. The first `max_rows` rows are encoded by the shared
`json_lines` helper; for large frames this is a debugging sink, so
output is capped (the reference has no cap because its record streams
are tiny metadata sets).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from meteor_spark.plugins_base import Field, Sink
from meteor_spark.registry import register_sink
from meteor_spark.sinks.lines import json_lines


@register_sink("console", "Print records to stdout")
class ConsoleSink(Sink):
    CONFIG = {"max_rows": Field(default=1000, type=int)}

    def sink(self, df: DataFrame) -> int:
        n = 0
        for line in json_lines(df.limit(self.config["max_rows"])):
            print(line)
            n += 1
        return n
