"""Plugin registries: name -> factory for extractors, processors, sinks.

Mirrors the reference's registry semantics (reference:
registry/registry.go:8-35, registry/extractors.go:9-47): duplicate
registration is rejected, lookup of a missing plugin raises NotFoundError,
and each Get returns a *fresh* plugin instance (factories, not singletons).

Plugins self-register at import time via decorators, the Python analogue of
the reference's init() + blank-import pattern
(reference: plugins/extractors/populate.go).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field


class NotFoundError(KeyError):
    def __init__(self, kind: str, name: str):
        super().__init__(f"could not find {kind} plugin: {name!r}")
        self.kind = kind
        self.name = name


class DuplicateError(ValueError):
    def __init__(self, kind: str, name: str):
        super().__init__(f"duplicate {kind} plugin: {name!r}")


@dataclass
class PluginInfo:
    name: str
    description: str = ""
    sample_config: str = ""
    tags: tuple[str, ...] = ()


@dataclass
class Registry:
    """One registry per plugin kind (reference: registry/extractors.go)."""

    kind: str
    _factories: dict[str, Callable] = field(default_factory=dict)
    _infos: dict[str, PluginInfo] = field(default_factory=dict)

    def register(self, name: str, factory: Callable, info: PluginInfo | None = None) -> None:
        if name in self._factories:
            raise DuplicateError(self.kind, name)
        self._factories[name] = factory
        self._infos[name] = info or PluginInfo(name=name)

    def get(self, name: str):
        try:
            factory = self._factories[name]
        except KeyError:
            raise NotFoundError(self.kind, name) from None
        # call OUTSIDE the try: a KeyError raised by the plugin's own
        # constructor must surface as itself, not as "could not find
        # plugin" with the real traceback suppressed
        return factory()

    def info(self, name: str) -> PluginInfo:
        try:
            return self._infos[name]
        except KeyError:
            raise NotFoundError(self.kind, name) from None

    def list(self) -> list[PluginInfo]:
        return [self._infos[k] for k in sorted(self._infos)]

    def has(self, name: str) -> bool:
        return name in self._factories


extractors = Registry("extractor")
processors = Registry("processor")
sinks = Registry("sink")


def _registrar(registry: Registry):
    """Class decorator factory that registers into `registry`."""

    def register(name: str, description: str = "", sample_config: str = ""):
        def deco(cls):
            registry.register(name, cls, PluginInfo(name, description, sample_config))
            return cls

        return deco

    return register


register_extractor = _registrar(extractors)
register_processor = _registrar(processors)
register_sink = _registrar(sinks)
