"""Catalog-wide plan audit: NO registered query may plan a
CartesianProduct at any scale — the one join strategy that can never be
right at 100 TB. (Broadcast-of-one-row scalar joins plan as
BroadcastNestedLoopJoin with a 1-row build side and are fine; a
CartesianProduct means two real relations crossed.)

The same sweep guards session residue: each gate is built inside an
`io.cache_scope()`, and once the scope exits the CacheManager must be
empty and the catalog must list the same tables as before the call.
Building is enough: `persist` registers its CacheManager entry when it
is called, not when the frame is first collected."""

from __future__ import annotations

import pathlib

import pytest

from meteor_spark import io
from meteor_spark.queries import QUERIES

SF = "/root/testdata/sf0.001"

# streaming queries execute a bounded stream during construction; they
# are covered (plans included) but listed here so a slow state-store
# round doesn't fail the sweep on timeout-ish flakiness grounds.
_ALL = sorted(QUERIES)


def _tables(spark) -> list[tuple[str, bool]]:
    return sorted((t.name, t.isTemporary) for t in spark.catalog.listTables())


@pytest.mark.parametrize("name", _ALL)
def test_no_cartesian_product(spark, name):
    spark.catalog.clearCache()
    tables = _tables(spark)
    with io.cache_scope():
        df = QUERIES[name](spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, f"{name} plans a CartesianProduct"
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty(), (
        f"{name} leaves a cached frame its scope does not own"
    )
    assert _tables(spark) == tables, f"{name} leaves catalog tables or views behind"


def test_persist_only_through_io():
    # a bare .persist() would escape every cache scope
    owner = pathlib.Path(io.__file__)
    offenders = [
        str(p.relative_to(owner.parent))
        for p in sorted(owner.parent.rglob("*.py"))
        if p != owner and ".persist(" in p.read_text()
    ]
    assert offenders == []
