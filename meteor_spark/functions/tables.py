"""Table-name extraction from SQL text — lineage mining.

Reference (plugins/extractors/metabase/queryhelper.go): a parser walk
over Select/Union/ParenSelect collecting table expressions from FROM and
JOIN clauses (:73-137), recursing into subqueries (:139-160), after
substituting metabase {{template}} tags with their defaults (:11-54).

No SQL parser library ships in this container, so the walk is a
normalize-then-scan over FROM/JOIN keywords that handles the same corpus
shapes: comma lists in FROM, chained JOINs, UNION branches, aliased
tables, and parenthesized subqueries (recursed into because
normalization keeps their FROM/JOIN keywords visible). Quoted and
schema-qualified names are preserved.
"""

from __future__ import annotations

import re

from meteor_spark.functions.sqlparser import normalize_query

_TEMPLATE_TAG_RE = re.compile(r"\{\{\s*([^}]+?)\s*\}\}")

# a table reference: `quoted`, "quoted", schema.qualified, or bare name
_NAME = r"((?:`[^`]+`|\"[^\"]+\"|[\w$]+)(?:\.(?:`[^`]+`|\"[^\"]+\"|[\w$]+))*)"
_FROM_RE = re.compile(rf"(?i)\bFROM\s+{_NAME}")
_JOIN_RE = re.compile(rf"(?i)\bJOIN\s+{_NAME}")
_FROM_LIST_RE = re.compile(rf"(?i)\bFROM\s+((?:{_NAME}(?:\s+(?:AS\s+)?\w+)?\s*,\s*)+{_NAME})")

_KEYWORDS = {"select", "lateral", "unnest", "values", "dual"}


def substitute_template_tags(q: str, defaults: dict[str, str] | None = None) -> str:
    """{{var}} -> default value or 1=1 placeholder (queryhelper.go:11-54)."""
    defaults = defaults or {}

    def sub(m: re.Match) -> str:
        return str(defaults.get(m.group(1).strip(), "1=1"))

    return _TEMPLATE_TAG_RE.sub(sub, q)


def extract_table_names(q: str, defaults: dict[str, str] | None = None) -> list[str]:
    """Distinct table names referenced by FROM/JOIN, in first-seen order."""
    q = normalize_query(substitute_template_tags(q, defaults))
    seen: list[str] = []

    def add(name: str) -> None:
        bare = name.strip().strip('`"')
        if bare.lower() in _KEYWORDS or not bare:
            return
        if name not in seen:
            seen.append(name)

    # comma lists in FROM: FROM a, b c, d
    for m in _FROM_LIST_RE.finditer(q):
        for part in m.group(1).split(","):
            token = part.strip().split(" ")[0]
            add(token)
    for m in _FROM_RE.finditer(q):
        add(m.group(1))
    for m in _JOIN_RE.finditer(q):
        add(m.group(1))
    return seen
