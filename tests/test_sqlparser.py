"""SQL condition mining (reference: bigquery/sqlparser/parser_test.go
corpus shapes — ON chains, USING, WHERE/HAVING predicate forms)."""

from __future__ import annotations

from meteor_spark.functions.sqlparser import (
    normalize_query,
    parse_filter_conditions,
    parse_join_conditions,
)


def test_join_on_simple():
    q = "SELECT * FROM a JOIN b ON a.x = b.y"
    assert parse_join_conditions(q) == ["a.x = b.y"]


def test_join_on_chain():
    q = "SELECT * FROM a JOIN b ON a.x = b.y AND a.z = b.w"
    assert parse_join_conditions(q) == ["a.x = b.y AND a.z = b.w"]


def test_join_using():
    q = "SELECT * FROM a JOIN b USING (x, y)"
    assert parse_join_conditions(q) == ["USING(x,y)"]


def test_multiple_joins():
    q = "SELECT * FROM a JOIN b ON a.x = b.x JOIN c ON b.y = c.y"
    assert parse_join_conditions(q) == ["a.x = b.x", "b.y = c.y"]


def test_filter_forms():
    assert parse_filter_conditions("SELECT * FROM t WHERE t.a = 1") == ["t.a = 1"]
    assert parse_filter_conditions("SELECT * FROM t WHERE a > 5 ORDER BY b") == ["a > 5"]
    assert parse_filter_conditions("SELECT * FROM t WHERE a LIKE 'x%'") == ["a LIKE 'x%'"]
    assert parse_filter_conditions("SELECT a FROM t GROUP BY a HAVING count(a) > 1")
    assert parse_filter_conditions("SELECT * FROM t WHERE a BETWEEN 1 AND 2") == ["a BETWEEN 1 AND 2"]


def test_comment_stripping():
    # reference: parser.go:79-95
    q = "SELECT * -- a comment\nFROM t /* block */ WHERE x = 1"
    assert normalize_query(q) == "SELECT * FROM t WHERE x = 1"
    assert parse_filter_conditions(q) == ["x = 1"]


def test_filter_paren_forms():
    # regression: a [^;()]*? predicate tail could not cross ANY paren, so
    # IN-lists and function calls after the operator extracted NOTHING
    assert parse_filter_conditions("SELECT * FROM t WHERE x IN (1,2)") == ["x IN (1,2)"]
    assert parse_filter_conditions("SELECT * FROM t WHERE a = f(b) AND c > 2") == ["a = f(b) AND c > 2"]
    assert parse_filter_conditions("SELECT * FROM t WHERE a = 1 AND x IN (1,2) GROUP BY a") == [
        "a = 1 AND x IN (1,2)"
    ]


def test_join_on_parenthesized():
    # regression: `ON (a.id = b.id)` (standard ORM output) yielded no
    # join condition; the capture stays paren-free either way
    assert parse_join_conditions("SELECT * FROM a JOIN b ON (a.id = b.id)") == ["a.id = b.id"]
    assert parse_join_conditions("SELECT * FROM a JOIN b ON a.id = b.id") == ["a.id = b.id"]
