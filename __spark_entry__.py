"""Entry-point contract.

entry(spark)  -> the flagship workload: the parquet_catalog extractor over
                 sf0.001, one row per table (urn, table_name, asset_type,
                 n_columns, total_rows), ordered by table name.
queries()     -> every registered gate, name -> fn(spark, sf_dir) returning a
                 DataFrame, in correctness-sampling order (see _sampling_order).
oracle_sql()  -> DuckDB SQL per oracle-bearing gate, in the same order.
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections.abc import Callable, Container, Iterable

from pyspark.sql import DataFrame, SparkSession

import meteor_spark.sources  # noqa: F401 — registers extractors
import meteor_spark.processors  # noqa: F401
import meteor_spark.sinks  # noqa: F401
from meteor_spark.queries import ORACLES, QUERIES


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: extract the full catalog of sf0.001 as asset records."""
    from meteor_spark.registry import extractors
    from pyspark.sql import functions as F

    ex = extractors.get("parquet_catalog")
    ex.init({"path": "/root/testdata/sf0.001", "include_row_count": True})
    assets = ex.extract(spark)
    return assets.select(
        F.col("resource.urn").alias("urn"),
        F.col("resource.name").alias("table_name"),
        F.col("asset_type"),
        F.size("schema").alias("n_columns"),
        F.col("profile.total_rows").alias("total_rows"),
    ).orderBy("table_name")


_RECORDS_DIR = os.path.dirname(os.path.abspath(__file__))


def _latest_rows(records_dir: str) -> dict[str, tuple[int, object]]:
    """gate -> (round, row) of its most recent CORRECTNESS_r{N}.json row.
    A record that cannot be read or parsed is skipped."""
    latest: dict[str, tuple[int, object]] = {}
    for p in glob.glob(os.path.join(records_dir, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", p)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(p) as f:
                rec = json.load(f)
        except (OSError, ValueError):
            continue
        if isinstance(rec, dict):
            for gate, row in rec.items():
                if gate not in latest or rnd > latest[gate][0]:
                    latest[gate] = (rnd, row)
    return latest


def _is_red(row: object) -> bool:
    """A failed comparison or an error other than "no_oracle"; a row that
    is not a dict cannot show it passed, so it counts as red too."""
    if not isinstance(row, dict):
        return True
    failed = any(row.get(k) is False for k in ("rows_match", "schema_match", "hash_match"))
    return failed or row.get("err") not in (None, "no_oracle")


def _sampling_order(gates: Iterable[str], oracles: Container[str], records_dir: str) -> list[str]:
    """The harness samples a prefix of this order, so it puts first what
    most needs a correctness check: gates red at their latest row, then gates
    with no row, then the rest. Within a tier, oracle-bearing gates come
    first, then the stalest latest row: with every gate green, a fixed
    order would re-sample the same prefix each round, while stalest-first
    makes each round's sample cover the gates checked longest ago."""
    latest = _latest_rows(records_dir)

    def key(n: str) -> tuple:
        rnd, row = latest.get(n, (0, None))
        tier = 1 if n not in latest else (0 if _is_red(row) else 2)
        return (tier, n not in oracles, rnd, n)

    return sorted(gates, key=key)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {n: QUERIES[n] for n in _sampling_order(QUERIES, ORACLES, _RECORDS_DIR)}


def oracle_sql() -> dict[str, str]:
    return {n: ORACLES[n] for n in queries() if n in ORACLES}
