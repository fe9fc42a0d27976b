"""Plugin contracts + config validation.

The reference's plugin interfaces (reference: plugins/plugin.go:30-61):
  - Extractor: Init(ctx, config) + Extract(ctx, emit)  -> here: a class with
    init(config) and extract(spark) -> DataFrame of assets (the Spark
    translation of "emit many records" is "return a DataFrame").
  - Processor: Process(record) -> record                -> process(df) -> df.
  - Sink: Sink(ctx, batch) + Close()                    -> sink(df) -> int rows written.

Config validation mirrors reference utils/config.go:29-55 +
plugins/errors.go:11-24: declarative field specs with `required`,
`oneof`, and defaults; violations collect into InvalidConfigError
carrying (key, message) pairs — the shape the lint CLI renders.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession


@dataclass
class ConfigError:
    key: str
    message: str


class InvalidConfigError(ValueError):
    def __init__(self, errors: list[ConfigError]):
        super().__init__("; ".join(f"{e.key}: {e.message}" for e in errors))
        self.errors = errors


class RetryError(RuntimeError):
    """Marks a transient failure eligible for retry — the analogue of the
    reference's RetryError wrapper (reference: plugins/errors.go:35-58).
    Only errors of this type are retried by the runner's retrier."""


@dataclass
class Field:
    required: bool = False
    default: Any = None
    oneof: tuple | None = None
    required_without: str | None = None
    type: type | None = None


def build_config(raw: dict[str, Any] | None, spec: dict[str, Field]) -> dict[str, Any]:
    """Validate + default a raw config map against a spec.

    Mirrors the decode/validate/default pipeline of reference
    utils/config.go:29-55 (mapstructure + defaults + go-playground tags).
    """
    raw = dict(raw or {})
    errors: list[ConfigError] = []
    out: dict[str, Any] = {}
    for key, f in spec.items():
        val = raw.pop(key, None)
        if val is None:
            if f.required:
                errors.append(ConfigError(key, "validation for 'required' failed"))
            # required_without is validated in the second pass below,
            # once every field's resolved value is known
            val = f.default
        if val is not None and f.oneof is not None and val not in f.oneof:
            errors.append(ConfigError(key, f"validation for 'oneof' failed: must be one of {list(f.oneof)}"))
        if val is not None and f.type is not None and not isinstance(val, f.type):
            try:
                val = f.type(val)
            except (TypeError, ValueError):
                errors.append(ConfigError(key, f"expected {f.type.__name__}"))
        out[key] = val
    # required_without pass (reference tag `required_without`, e.g. file sink)
    for key, f in spec.items():
        if f.required_without and out.get(key) is None and out.get(f.required_without) is None:
            errors.append(ConfigError(key, f"validation for 'required_without={f.required_without}' failed"))
    # unknown keys are preserved (the reference decodes weakly)
    out.update(raw)
    if errors:
        raise InvalidConfigError(errors)
    return out


class Plugin:
    """What every plugin kind shares: a CONFIG spec, validated and
    defaulted by init() into self.config."""

    CONFIG: dict[str, Field] = {}

    def __init__(self) -> None:
        self.config: dict[str, Any] = {}

    def init(self, config: dict[str, Any] | None) -> None:
        self.config = build_config(config, self.CONFIG)

    def validate(self, config: dict[str, Any] | None) -> None:
        build_config(config, self.CONFIG)


class Extractor(Plugin):
    """Base extractor. Subclasses set CONFIG spec and implement extract()."""

    def extract(self, spark: SparkSession) -> DataFrame:
        raise NotImplementedError


class Processor(Plugin):
    def process(self, df: DataFrame) -> DataFrame:
        raise NotImplementedError


class Sink(Plugin):
    def sink(self, df: DataFrame) -> int | None:
        """Write the DataFrame; return the number of records written, or
        None for "every row of the frame" (the runner then reports its
        own record count instead of paying another count job)."""
        raise NotImplementedError

    def close(self) -> None:
        pass
