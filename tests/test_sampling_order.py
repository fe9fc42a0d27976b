"""queries() is ordered from the CORRECTNESS_r{N}.json records alone:
red at the latest row first, then never checked, then checked
stalest-first; oracle-bearing gates lead within each tier."""

from __future__ import annotations

import json

from __spark_entry__ import _sampling_order

GREEN = {"rows_match": True, "schema_match": True, "hash_match": True, "err": None}
HASH_RED = {**GREEN, "hash_match": False}
NO_ORACLE = {"rows_match": None, "schema_match": None, "hash_match": None, "err": "no_oracle"}


def _record(tmp_path, rnd, rows):
    (tmp_path / f"CORRECTNESS_r{rnd:02d}.json").write_text(json.dumps(rows))


def test_tiers_follow_each_gates_latest_row(tmp_path):
    _record(tmp_path, 1, {"regressed": GREEN, "fixed": HASH_RED, "stale": GREEN, "no_oracle_gate": NO_ORACLE})
    _record(tmp_path, 2, {"fixed": GREEN, "crashed": {**GREEN, "err": "Traceback ..."}})
    _record(tmp_path, 3, {"regressed": HASH_RED, "fresh": GREEN})
    # a later round that cannot be parsed is skipped, not read as empty rows
    (tmp_path / "CORRECTNESS_r04.json").write_text('{"fresh": ')
    gates = ["fresh", "stale", "fixed", "regressed", "crashed", "unchecked", "unchecked_rows_only", "no_oracle_gate"]
    oracles = set(gates) - {"unchecked_rows_only"}

    assert _sampling_order(gates, oracles, str(tmp_path)) == [
        # red at the latest row, stalest first
        "crashed",  # r2 error
        "regressed",  # green r1, red r3
        # no row in any record; rows-only gates after oracle-bearing ones
        "unchecked",
        "unchecked_rows_only",
        # checked, stalest row first, then name
        "no_oracle_gate",  # r1 "no_oracle" is checked, not red
        "stale",  # r1
        "fixed",  # red r1, green r2
        "fresh",  # r3
    ]


def test_no_records_orders_by_oracle_then_name(tmp_path):
    assert _sampling_order(["b", "c", "a"], {"c"}, str(tmp_path)) == ["c", "a", "b"]
