"""Every top-level function and class in ``meteor_spark/`` has a caller.

A caller is code outside the name's own definition in ``meteor_spark/``,
``bench.py``, ``__spark_entry__.py``, ``tools/`` or ``perfbench/``, or a
recipe in ``examples/``. Tests and docs do not count: an engine function
that only its own test reaches is API nobody runs. Registered plugins
and gates are reached through their registries. The scan is
syntactic (no import, no Spark) and matches by bare name, so it errs
toward "reached" when two modules define the same name.
"""

from __future__ import annotations

import ast
from collections import Counter
from pathlib import Path

import yaml

ROOT = Path(__file__).resolve().parent.parent
ENGINE = ROOT / "meteor_spark"
CALLER_PY = [ENGINE, ROOT / "bench.py", ROOT / "__spark_entry__.py", ROOT / "tools", ROOT / "perfbench"]
RECIPES = ROOT / "examples"

# Unreferenced on purpose; each reason names who needs the definition.
KEEP = {
    "LoggingMonitor": "public API of Agent: passed in by callers as a run monitor",
    "RunHistoryMonitor": "public API of Agent: passed in by callers as a run monitor",
    "file_descriptor_set": "the protobuf interop check builds its descriptor with it",
    "message_full_name": "the protobuf interop check resolves the message type with it",
    "empty_asset": "builds Asset fixtures for tests and callers",
    "decode_message": "inverse of enc_message: the wire-format tests round-trip Kafka payloads through it",
    "compact_files": "the maintenance path RunHistoryMonitor's docstring points to",
    "compact_fingerprint_store": "the only producer of the compacted layout incremental_dedup_stream reads",
    "parse_join_conditions": "plain-Python restatement that pins JOIN_ON_PATTERN in tests",
    "parse_filter_conditions": "plain-Python restatement that pins FILTER_PATTERN in tests",
}


def _py_files(paths):
    for p in paths:
        yield from ([p] if p.is_file() else sorted(p.rglob("*.py")))


def _is_registered(node) -> bool:
    """A @register_* plugin (a recipe names it) or a @query gate (the
    gate registry lists it)."""
    for d in node.decorator_list:
        f = d.func if isinstance(d, ast.Call) else d
        name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", "")
        if name == "query" or name.startswith("register_"):
            return True
    return False


def _names_in(tree: ast.AST) -> Counter[str]:
    """How often a tree references each name."""
    out: Counter[str] = Counter()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            out[node.id] += 1
        elif isinstance(node, ast.Attribute):
            out[node.attr] += 1
        elif isinstance(node, ast.alias):
            out[node.name.rsplit(".", 1)[-1]] += 1
        elif isinstance(node, ast.Constant) and isinstance(node.value, str) and node.value.isidentifier():
            out[node.value] += 1
    return out


def _recipe_strings(obj) -> set[str]:
    if isinstance(obj, dict):
        return set().union(*map(_recipe_strings, obj.keys()), *map(_recipe_strings, obj.values()))
    if isinstance(obj, list):
        return set().union(*map(_recipe_strings, obj))
    return {obj} if isinstance(obj, str) and obj.isidentifier() else set()


def unreferenced() -> list[str]:
    trees = {path: ast.parse(path.read_text()) for path in _py_files(CALLER_PY)}
    defs = [
        node
        for path, tree in trees.items()
        if path.is_relative_to(ENGINE)
        for node in tree.body
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)) and not _is_registered(node)
    ]
    refs: Counter[str] = Counter()
    for tree in trees.values():
        refs += _names_in(tree)
    for recipe in sorted(RECIPES.glob("*.yaml")):
        refs.update(_recipe_strings(yaml.safe_load(recipe.read_text())))
    for node in defs:  # a definition's references to itself do not count
        refs[node.name] -= _names_in(node)[node.name]
    return sorted({node.name for node in defs if refs[node.name] <= 0})


def test_every_engine_definition_has_a_caller():
    assert [n for n in unreferenced() if n not in KEEP] == []


def test_keep_list_names_live_unreferenced_definitions():
    # a kept name that gained a caller, or was deleted, leaves the list
    assert sorted(KEEP) == sorted(n for n in unreferenced() if n in KEEP)
