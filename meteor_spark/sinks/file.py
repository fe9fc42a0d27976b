"""File sink — ndjson or YAML, append or overwrite.

Reference (plugins/sinks/file/file.go:57-146): path must look like
`name.ext`; format json => newline-delimited JSON; yaml => YAML docs;
`overwrite` config selects truncate vs append.

Spark translation: ndjson is exactly Spark's json lines format. To honor
the reference's single-file contract the rows are encoded to JSON in the
JVM (`sinks.lines.json_lines`, byte-identical to `toJSON`) and streamed
to the target path one partition at a time, never one big `.collect()`
list; a driver-built asset frame is one partition, so that is one job.
For cluster-scale output use `distributed: true` (or format parquet),
which maps to df.write — the distributed path. It returns None: the
write covers every row of the frame, whose count the runner already has.
"""

from __future__ import annotations

import json
from pathlib import Path

import yaml

from pyspark.sql import DataFrame

from meteor_spark.plugins_base import Field, InvalidConfigError, ConfigError, Sink
from meteor_spark.registry import register_sink
from meteor_spark.sinks.lines import json_lines


@register_sink("file", "Save output to a file (ndjson/yaml)")
class FileSink(Sink):
    CONFIG = {
        "path": Field(required=True, type=str),
        "format": Field(default="json", oneof=("json", "yaml", "ndjson", "parquet")),
        "overwrite": Field(default=True),
        "distributed": Field(default=False),  # True => df.write directory output
    }

    def init(self, config):
        super().init(config)
        p = Path(self.config["path"])
        # parquet is always the distributed df.write path (directory output)
        distributed = self.config["distributed"] or self.config["format"] == "parquet"
        if not distributed and "." not in p.name:
            # reference: file.go:128-136 requires name.ext
            raise InvalidConfigError([ConfigError("path", "path must be a file name like name.ext")])

    def sink(self, df: DataFrame) -> int | None:
        path = Path(self.config["path"])
        fmt = self.config["format"]
        if self.config["distributed"] or fmt == "parquet":
            mode = "overwrite" if self.config["overwrite"] else "append"
            if fmt == "parquet":
                df.write.mode(mode).parquet(str(path))
            else:
                df.write.mode(mode).json(str(path))
            return None
        path.parent.mkdir(parents=True, exist_ok=True)
        mode = "w" if self.config["overwrite"] else "a"
        n = 0
        with open(path, mode) as f:
            for line in json_lines(df):
                if fmt in ("json", "ndjson"):
                    f.write(line + "\n")
                else:
                    yaml.safe_dump(json.loads(line), f, explicit_start=True, sort_keys=False)
                n += 1
        return n
