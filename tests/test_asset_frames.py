"""Driver-built asset frames and the driver-side JSON sinks.

`assets_df` hands rows to the JVM as an Arrow table instead of
`createDataFrame(list)`, and the file/compass/stencil/console sinks encode
JSON with `to_json` instead of `toJSON()`. These tests pin that neither
change moves a value, and that the catalog recipe's job count stays down.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import time
from pathlib import Path

import pytest

from meteor_spark import registry
from meteor_spark.model.schema import ASSET_SCHEMA
from meteor_spark.sinks.lines import json_lines
from meteor_spark.sources.base import assets_df, column_dict


def _assets() -> list[dict]:
    node = {"urn": "urn:up", "name": "up", "service": "pg", "type": "table", "url": None, "description": None}
    return [
        {
            "resource": {"urn": "urn:a", "name": "a", "service": "pg", "type": "table"},
            "asset_type": "Table",
            "schema": [column_dict("id", "bigint", is_nullable=False, length=0), column_dict("s", "string")],
            "profile": {"total_rows": 3, "joins": [{"urn": "urn:b", "count": 2, "conditions": ["a.id = b.id"]}]},
            "lineage": {"upstreams": [node], "downstreams": []},
            "ownership": [{"urn": "u1", "name": "ann", "role": "owner", "email": None}],
            "properties": {"tags": ["gold"], "labels": {"team": "data", "tier": "1"}, "attributes": '{"x": 1}'},
            "timestamps": {"create_time": dt.datetime(2024, 3, 10, 1, 30, 5, 123456)},
            # naive: local time, as TimestampType.toInternal reads it
            "event": {"timestamp": dt.datetime(2024, 7, 1, 12, 0, 0, 7), "action": "create"},
        },
        {
            "resource": {"urn": "urn:b", "name": "b"},
            "asset_type": "Topic",
            "properties": {"tags": None, "labels": {}, "attributes": None},
            "blobs": [{"urn": "blob", "size": 5, "delete_time": None}],
            # aware: an absolute instant
            "event": {
                "timestamp": dt.datetime(2024, 1, 2, 3, 4, 5, tzinfo=dt.timezone(dt.timedelta(hours=-7))),
                "action": "update",
            },
        },
        {"resource": None, "asset_type": "Job", "profile": None, "lineage": None, "event": None},
    ]


@pytest.fixture()
def non_utc_tz():
    old = os.environ.get("TZ")
    os.environ["TZ"] = "America/Sao_Paulo"
    time.tzset()
    try:
        yield
    finally:
        if old is None:
            del os.environ["TZ"]
        else:
            os.environ["TZ"] = old
        time.tzset()


def test_assets_df_matches_list_path(spark, non_utc_tz):
    rows = _assets()
    got = assets_df(spark, rows)
    want = spark.createDataFrame(rows, schema=ASSET_SCHEMA)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    # JSON compared parsed: a map's key order was the JVM HashMap's on the
    # list path and is the dict's insertion order now
    assert [json.loads(x) for x in got.toJSON().collect()] == [json.loads(x) for x in want.toJSON().collect()]


def test_assets_df_is_one_partition(spark):
    assert assets_df(spark, _assets()).rdd.getNumPartitions() == 1


def test_assets_df_empty(spark):
    df = assets_df(spark, [])
    assert df.schema == ASSET_SCHEMA and df.count() == 0


def test_json_lines_match_tojson(spark):
    df = assets_df(spark, _assets()).repartition(3)
    assert list(json_lines(df)) == df.toJSON().collect()


def test_catalog_job_budget(spark, sf_dir):
    # one catalog run with row count, profile and preview, then the frame
    # read out the way a file sink reads it. The profile aggregate carries
    # the row count (a separate count() adds 2 jobs per table) and the
    # asset frame is one partition (read out in one job, not one per
    # default-parallelism slice): 4 jobs per table plus 1
    tables = sorted(Path(sf_dir).glob("*.parquet"))
    ex = registry.extractors.get("parquet_catalog")
    ex.init({"path": sf_dir, "include_row_count": True, "include_column_profile": True, "include_preview": True})
    sched = spark.sparkContext._jsc.sc().dagScheduler()
    before = sched.numTotalJobs()
    df = ex.extract(spark)
    extract_jobs = sched.numTotalJobs() - before
    lines = list(json_lines(df))
    read_jobs = sched.numTotalJobs() - before - extract_jobs
    assert len(lines) == len(tables)
    assert extract_jobs <= 4 * len(tables), extract_jobs
    assert read_jobs == 1, read_jobs
