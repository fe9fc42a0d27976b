"""Unit tests for the certification tooling (tools/check_parity.py).

The r7 advisor flagged four ledger-hygiene defects; these tests pin the
fixes:
  1. --record entries carry fixture_digest + oracle_md5 (stale rows are
     detectable) and are REMOVED when a recorded gate fails.
  2. fixture_digest folds in file content (head+tail 4KB), not just
     size, so a same-size content rewrite invalidates cache entries —
     while a byte-identical rebuild keeps them.
  3. _dump_json merge-on-write holds an exclusive flock and supports
     key drops.
  4. legacy (size-only) cache keys migrate to the content-aware key
     on hit without re-running the oracle.
A run that would check nothing is an error before Spark starts.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from tools.check_parity import (
    _dump_json,
    _load_json,
    fixture_digest,
    fixture_digest_legacy,
    frame_hash,
)


def test_dump_json_merges_and_drops(tmp_path):
    p = str(tmp_path / "reg.json")
    _dump_json(p, {"a": 1, "b": 2})
    # a second writer with its own view merges, not clobbers
    other = {"c": 3}
    _dump_json(p, other)
    assert _load_json(p) == {"a": 1, "b": 2, "c": 3}
    # the caller's dict now mirrors the merged file
    assert other == {"a": 1, "b": 2, "c": 3}
    # drop removes keys even if present in the overlay dict
    _dump_json(p, other, drop={"a"})
    assert _load_json(p) == {"b": 2, "c": 3}
    assert "a" not in other
    # lock sidecar exists (and is ignorable — *.json.lock in .gitignore)
    assert os.path.exists(p + ".lock")


def test_dump_json_lock_is_exclusive(tmp_path):
    import fcntl

    p = str(tmp_path / "reg.json")
    _dump_json(p, {"x": 1})
    # while we hold the lock, a concurrent _dump_json would block; we
    # can't deadlock the test, so assert the non-blocking acquire fails
    with open(p + ".lock", "w") as lk:
        fcntl.flock(lk, fcntl.LOCK_EX)
        with open(p + ".lock", "w") as lk2:
            with pytest.raises(OSError):
                fcntl.flock(lk2, fcntl.LOCK_EX | fcntl.LOCK_NB)


def _mini_fixture(d, payloads):
    for name, payload in payloads.items():
        (d / f"{name}.parquet").write_bytes(payload)


def test_fixture_digest_sees_content_not_just_size(tmp_path):
    a = tmp_path / "a"
    b = tmp_path / "b"
    c = tmp_path / "c"
    for d in (a, b, c):
        d.mkdir()
    _mini_fixture(a, {"region": b"PAR1" + b"\x00" * 100 + b"PAR1"})
    # same sizes, different bytes -> different digest (the legacy
    # size-only digest cannot tell these apart)
    _mini_fixture(b, {"region": b"PAR1" + b"\x01" * 100 + b"PAR1"})
    # byte-identical rebuild -> same digest (mtime differs, content not)
    _mini_fixture(c, {"region": b"PAR1" + b"\x00" * 100 + b"PAR1"})
    da, db, dc = (fixture_digest(str(x)) for x in (a, b, c))
    assert da != db
    assert da == dc
    assert fixture_digest_legacy(str(a)) == fixture_digest_legacy(str(b))


def test_fixture_digest_tail_change_detected(tmp_path):
    # a change ONLY in the last bytes (parquet footer region) must flip
    # the digest even when the head 4KB and the size are unchanged
    a = tmp_path / "a"
    b = tmp_path / "b"
    a.mkdir()
    b.mkdir()
    body = b"H" * 8192
    _mini_fixture(a, {"region": body + b"FOOTER_A"})
    _mini_fixture(b, {"region": body + b"FOOTER_B"})
    assert fixture_digest(str(a)) != fixture_digest(str(b))


def test_frame_hash_column_order_insensitive():
    h1 = frame_hash(["b", "a"], [(2, 1), (4, 3)])
    h2 = frame_hash(["a", "b"], [(1, 2), (3, 4)])
    assert h1 == h2


def test_record_entry_shape_and_decertify_contract():
    """The PASS upsert shape and the FAIL drop are exercised end-to-end
    by tools/check_parity.py runs in the round logs; here we pin the
    machine-checkable halves: every entry written by the current tool
    must carry fixture_digest + oracle_md5 so an auditor can recompute
    both, and the committed 10x ledger must contain no entry whose
    oracle_md5 (when present) disagrees with the live oracle SQL."""
    import hashlib

    import __spark_entry__ as entrymod

    oracles = entrymod.oracle_sql()
    reg_path = os.path.join(os.path.dirname(__file__), "..", "docs", "CERT10X.json")
    reg = json.load(open(reg_path))
    stale = [
        name
        for name, entry in reg.items()
        if "oracle_md5" in entry
        # entries carrying an "oracle" marker are not recomputable from
        # the default-env oracle text: "scale-tier" rows hash a
        # tools/scale_oracles.py restatement, "path-embedded" rows hash
        # SQL whose text is keyed by $SPARK_GRAFT_FIXTURE (the zorder
        # layout dir) — check_parity stamps both markers at record time
        and entry.get("oracle") is None
        and name in oracles
        and entry["oracle_md5"] != hashlib.md5(oracles[name].encode()).hexdigest()
    ]
    assert stale == [], f"stale certified rows (oracle SQL changed): {stale}"


def test_pareto_scale_oracle_equivalence():
    """The scale-tier window restatement of document_pareto_frontier
    must stay equal to the canonical O(N^2) NOT-EXISTS dominance
    definition — pinned here at sf0.01 so an edit to either form that
    breaks the identity fails before the 10x sweep trusts it."""
    import duckdb

    from meteor_spark.queries import ORACLES
    from tools.scale_oracles import SCALE_ORACLES

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        "'/root/testdata/sf0.01/documents.parquet'"
    )
    a = sorted(map(tuple, con.sql(ORACLES["document_pareto_frontier"]).fetchall()))
    b = sorted(map(tuple, con.sql(SCALE_ORACLES["document_pareto_frontier"]).fetchall()))
    assert a == b and len(a) > 0


def test_r12_callable_scale_oracle_equivalence_sf001():
    """The r12 callable restatements (containment bincount, ngram
    posting-bincount, staged simhash/ahash pigeonholes) must return
    EXACTLY the canonical brute-force oracle's rows at sf0.01 — the
    validate-before-first-scale-use discipline every scale-tier
    restatement has followed since r9. Each callable also runs its own
    internal independent-sample arm (raises on divergence), so this
    test exercises that too."""
    import duckdb

    from meteor_spark.queries import ORACLES
    from tools.scale_oracles import SCALE_ORACLE_FNS

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        "'/root/testdata/sf0.01/documents.parquet'"
    )
    for gate in (
        "doc_containment_pairs",
        "ngram_jaccard_pairs",
        "simhash_hamming_pairs",
        "image_ahash_pairs",
    ):
        a = sorted(map(tuple, con.sql(ORACLES[gate]).fetchall()))
        b = sorted(map(tuple, SCALE_ORACLE_FNS[gate](con).fetchall()))
        assert len(a) > 0, f"{gate}: canonical oracle empty at sf0.01"
        assert a == b, (
            f"{gate}: callable restatement diverges from canonical "
            f"({len(a)} vs {len(b)} rows)"
        )


# runs the tool's main() with get_spark replaced by an exit, so a case
# that starts Spark fails with "Spark started"
_NO_SPARK_MAIN = """
import sys
import meteor_spark.session
def _no_spark(*a, **k):
    sys.exit("Spark started")
meteor_spark.session.get_spark = _no_spark
from tools.check_parity import main
sys.argv[0] = "check_parity.py"
sys.exit(main())
"""


@pytest.mark.parametrize(
    "args, code, message",
    [
        pytest.param(["--help"], 0, "usage:", id="help"),
        pytest.param(["/nonexistent/fixture"], 2, "not a directory", id="missing_dir"),
        pytest.param(["SF", "no_such_gate"], 2, "unknown gate(s): no_such_gate", id="unknown_gate"),
        pytest.param(["SF", "--skip", "no_such_gate"], 2, "unknown gate(s): no_such_gate", id="unknown_skip"),
        pytest.param(
            ["SF", "image_ahash_pairs", "--skip", "image_ahash_pairs"], 2, "no gate left to check",
            id="nothing_left",
        ),
    ],
)
def test_cli_rejects_runs_that_check_nothing_before_spark(sf_dir, args, code, message):
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", _NO_SPARK_MAIN, *(sf_dir if a == "SF" else a for a in args)],
        cwd=root, capture_output=True, text=True, timeout=300,
    )
    assert "Spark started" not in out.stderr
    assert (out.returncode, message in out.stdout + out.stderr) == (code, True), out.stderr
