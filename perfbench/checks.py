"""Output checks. Every expected value is computed from the fixtures with
pyarrow or DuckDB, never by the program under test, except the curate
record counts, which are pinned in expected.json (see ``curate_counts``).

Gate results are compared with the DuckDB oracle the way
tools/check_parity.py compares them: row count, sorted column names and
an order-insensitive value hash. Oracle results are cached in
oracle_cache.json, keyed by fixture digest and the md5 of the oracle SQL,
so an edit to either invalidates the entry.
"""

from __future__ import annotations

import hashlib
import json
import os
from pathlib import Path

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import yaml

from tools.check_parity import TABLES, fixture_digest, frame_hash

HERE = Path(__file__).resolve().parent
ORACLE_CACHE = HERE / "oracle_cache.json"
EXPECTED = HERE / "expected.json"

PREVIEW_ROWS = 30  # parquet_catalog's max_preview_rows default


class Checker:
    """Computes expected outputs once per fixture and judges each unit."""

    def __init__(self, data_dir: str):
        self.data_dir = data_dir
        self.con = duckdb.connect()
        self.con.execute("SET threads=2")
        self._oracles: dict | None = None
        self._fdig: str | None = None
        self.tables = {
            p.stem: pq.ParquetFile(p).metadata
            for p in sorted(Path(data_dir).glob("*.parquet"))
        }
        # a deliberately wrong expectation, set by the self-test only
        self.skew = 0

    # -- recipes -----------------------------------------------------------

    def recipe(self, unit, out_dir: Path) -> str | None:
        """None when the recipe's outputs are right, else the reason."""
        run = unit.run
        if not unit.ok:
            return f"run failed: {unit.error}"
        check = getattr(self, f"_{unit.shape}")
        why = check(unit.records - self.skew, out_dir / unit.shape)
        if why is None and set(run.sink_records.values()) != {unit.records}:
            why = f"sink record counts {run.sink_records} != {unit.records}"
        return why

    def _catalog(self, records: int, odir: Path) -> str | None:
        expect = {t: m.num_rows for t, m in self.tables.items() if m.num_rows > 0}
        if records != len(expect):
            return f"catalog records {records} != {len(expect)}"
        got = {}
        for line in (odir / "catalog.ndjson").read_text().splitlines():
            a = json.loads(line)
            name = a["resource"]["name"]
            got[name] = a["profile"]["total_rows"]
            ncols = self.tables[name].num_columns
            if len(a["schema"]) != ncols:
                return f"catalog {name}: {len(a['schema'])} columns != {ncols}"
            flat = {
                f.name for f in self.tables[name].schema.to_arrow_schema()
                if not pa.types.is_nested(f.type)
            }
            profiled = {c["name"] for c in a["schema"] if c.get("profile")}
            if profiled != flat:
                return f"catalog {name}: profiled columns {sorted(profiled)} != {sorted(flat)}"
            preview = json.loads((a.get("preview") or {}).get("rows") or "[]")
            if len(preview) != min(PREVIEW_ROWS, got[name]):
                return f"catalog {name}: {len(preview)} preview rows"
        if got != expect:
            return f"catalog total_rows {got} != {expect}"
        with open(odir / "catalog.yaml") as f:
            names = sorted(d["resource"]["name"] for d in yaml.safe_load_all(f))
        if names != sorted(expect):
            return f"catalog yaml names {names} != {sorted(expect)}"
        return None

    def _dependency_profile(self, records: int, odir: Path) -> str | None:
        # fd_profile emits one row per ordered pair of the listed columns
        expect = 3 * 2
        lines = (odir / "dependencies.ndjson").read_text().splitlines()
        if records != expect or len(lines) != expect:
            return f"dependency pairs {records}/{len(lines)} != {expect}"
        return None

    def _curate(self, shape: str, records: int, odir: Path, sub: str) -> str | None:
        expect = self.curate_counts().get(shape)
        if expect is None:
            return f"{shape}: no pinned record count for fixture {self.data_dir}"
        written = pq.read_table(odir / sub).num_rows
        if records != expect or written != expect:
            return f"{shape} records {records}, written {written} != {expect}"
        return None

    def _curate_documents(self, records: int, odir: Path) -> str | None:
        return self._curate("curate_documents", records, odir, "curated_chunks")

    def _pack_training_bins(self, records: int, odir: Path) -> str | None:
        return self._curate("pack_training_bins", records, odir, "packed_bins")

    def curate_counts(self) -> dict:
        """Record counts of the two curate recipes on this fixture.

        curate's token, quality and PII rules have no independent
        restatement here, so their counts are pinned per fixture digest
        in expected.json, each written once from a run whose every other
        check passed.
        """
        pinned = json.loads(EXPECTED.read_text()) if EXPECTED.exists() else {}
        return pinned.get(self.fixture_digest(), {})

    # -- gates -------------------------------------------------------------

    def fixture_digest(self) -> str:
        if self._fdig is None:
            self._fdig = fixture_digest(self.data_dir)
        return self._fdig

    def gate(self, unit) -> str | None:
        if not unit.ok:
            return f"gate raised: {unit.error}"
        exp = self.oracle(unit.name)
        want = exp["nrows"] + self.skew
        if unit.records != want:
            return f"{unit.name} rows {unit.records} != {want}"
        if sorted(unit.cols) != sorted(exp["cols"]):
            return f"{unit.name} columns {sorted(unit.cols)} != {sorted(exp['cols'])}"
        if frame_hash(unit.cols, unit.rows) != exp["hash"]:
            return f"{unit.name} value hash differs from the oracle"
        return None

    def oracle(self, gate: str) -> dict:
        from meteor_spark.queries import ORACLES

        sql = ORACLES[gate]
        key = f"{self.fixture_digest()}:{hashlib.md5(sql.encode()).hexdigest()}"
        if self._oracles is None:
            self._oracles = json.loads(ORACLE_CACHE.read_text()) if ORACLE_CACHE.exists() else {}
        hit = self._oracles.get(key)
        if hit is None:
            for t in TABLES:
                p = f"{self.data_dir}/{t}.parquet"
                if os.path.exists(p):
                    self.con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{p}'")
            rel = self.con.sql(sql)
            cols = list(rel.columns)
            rows = rel.fetchall()
            hit = {"gate": gate, "cols": cols, "nrows": len(rows), "hash": frame_hash(cols, rows)}
            self._oracles[key] = hit
            tmp = ORACLE_CACHE.with_suffix(".tmp")
            tmp.write_text(json.dumps(self._oracles, indent=1, sort_keys=True) + "\n")
            os.replace(tmp, ORACLE_CACHE)
        return hit

    def close(self) -> None:
        self.con.close()
