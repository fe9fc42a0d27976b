"""Lakehouse table-format catalog extractors: Delta Lake and Apache
Iceberg metadata, read directly from their open on-disk layouts.

Both formats keep their catalog metadata in PLAIN JSON, so a metadata
walk needs no format runtime (no delta-spark / iceberg jars):

- Delta Lake: `_delta_log/<version>.json` holds newline-delimited action
  records (`metaData` with the schema, `add`/`remove` with file paths and
  per-file stats). Log replay — latest action per path wins — yields the
  live file set, row counts, and byte sizes. The replay runs as Spark
  DataFrame ops (window max-version per path), so a table with millions
  of log actions reconciles distributedly, never in a driver loop.
- Iceberg: `metadata/*.metadata.json` is a single JSON doc per table
  version carrying the schema and snapshot summaries (`total-records`,
  `total-files-size`). The highest-version metadata file is the current
  table state. (Manifest-level walks need Avro manifests — out of scope
  for a catalog extractor; snapshot summaries already carry the totals.)

Reference parity: this extends the information-schema walker family
(mysql.go:95-192, gcs.go:100-192 blob walk) to lakehouse formats — the
traversal databases->tables->columns becomes directory->table
dirs->format metadata. Columns sort by name ascending like the
reference's `ORDER BY COLUMN_NAME ASC` (mysql.go:163-167); row counts
mirror oracle.go:145-146; properties carry format-specific facts
(partition columns, file counts, snapshot id) the way bigtable.go:93-158
stows column-family info.
"""

from __future__ import annotations

import json
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from meteor_spark.model.urn import table_urn
from meteor_spark.plugins_base import Extractor, Field
from meteor_spark.registry import register_extractor
from meteor_spark.sources.base import assets_df, column_dict


def _meta_version(name: str) -> int:
    """v12.metadata.json -> 12; non-versioned names sort first (-1)."""
    stem = name.split(".", 1)[0]
    return int(stem[1:]) if stem.startswith("v") and stem[1:].isdigit() else -1


def delta_live_files(spark: SparkSession, log_dir: str) -> DataFrame:
    """Replay a `_delta_log` directory into the live file set:
    (path, version, num_records, size_bytes). Latest action per path wins;
    a path whose latest action is `remove` is dead."""
    log = (
        spark.read.json(f"{log_dir}/*.json")
        .withColumn(
            "version",
            F.regexp_extract(F.input_file_name(), r"(\d+)\.json", 1).cast("long"),
        )
    )
    cols = set(log.columns)
    adds = (
        log.filter(F.col("add").isNotNull()).select(
            F.col("add.path").alias("path"),
            "version",
            F.lit(True).alias("live"),
            F.get_json_object("add.stats", "$.numRecords").cast("long").alias("num_records"),
            F.col("add.size").cast("long").alias("size_bytes"),
        )
        if "add" in cols
        else None
    )
    removes = (
        log.filter(F.col("remove").isNotNull()).select(
            F.col("remove.path").alias("path"),
            "version",
            F.lit(False).alias("live"),
            F.lit(None).cast("long").alias("num_records"),
            F.lit(None).cast("long").alias("size_bytes"),
        )
        if "remove" in cols
        else None
    )
    if adds is None:
        return spark.createDataFrame([], "path string, version long, num_records long, size_bytes long")
    actions = adds if removes is None else adds.unionByName(removes)
    w = Window.partitionBy("path").orderBy(F.col("version").desc())
    return (
        actions.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & F.col("live"))
        .select("path", "version", "num_records", "size_bytes")
    )


@register_extractor("delta_catalog", "Directory of Delta Lake tables (log-replay metadata walk)")
class DeltaCatalogExtractor(Extractor):
    CONFIG = {
        "path": Field(required=True, type=str),
        "database": Field(default=None, type=str),
        "exclude": Field(default=()),
        "include_row_count": Field(default=True),
    }

    def extract(self, spark: SparkSession) -> DataFrame:
        root = Path(self.config["path"])
        database = self.config["database"] or root.name
        exclude = set(self.config["exclude"] or ())
        tables = sorted(
            p for p in root.iterdir() if (p / "_delta_log").is_dir() and p.name not in exclude
        )
        rows = [self._table_asset(spark, root, database, t) for t in tables]
        return assets_df(spark, rows)

    def _table_asset(self, spark: SparkSession, root: Path, database: str, t: Path) -> dict:
        log_dir = t / "_delta_log"
        # latest metaData action wins (schema evolution): walk versions
        # descending driver-side — the log FILES are listed, only opened
        # until a metaData is found (it's in version 0 unless evolved)
        meta = None
        for f in sorted(log_dir.glob("*.json"), reverse=True):
            for line in f.read_text().splitlines():
                action = json.loads(line)
                if "metaData" in action:
                    meta = action["metaData"]
                    break
            if meta:
                break
        columns = []
        partition_cols: list[str] = []
        if meta:
            from pyspark.sql.types import StructType

            schema = StructType.fromJson(json.loads(meta["schemaString"]))
            partition_cols = meta.get("partitionColumns", [])
            columns = [
                column_dict(
                    name=fld.name,
                    data_type=fld.dataType.simpleString(),
                    is_nullable=fld.nullable,
                    length=0,
                )
                for fld in sorted(schema.fields, key=lambda x: x.name)
            ]
        profile = None
        props = {"format": "delta", "partition_columns": ",".join(partition_cols)}
        if self.config["include_row_count"]:
            live = delta_live_files(spark, str(log_dir))
            agg = live.agg(
                F.sum("num_records").alias("rows"),
                F.count("*").alias("files"),
                F.sum("size_bytes").alias("bytes"),
            ).first()
            profile = {"total_rows": int(agg["rows"] or 0)}
            props["num_files"] = str(agg["files"])
            props["size_bytes"] = str(agg["bytes"] or 0)
        return {
            "resource": {
                "urn": table_urn("delta", str(root), database, t.name),
                "name": t.name,
                "service": "delta",
                "type": "table",
                "url": None,
                "description": None,
            },
            "asset_type": "Table",
            "schema": columns,
            "profile": profile,
            "properties": {"attributes": json.dumps(props, sort_keys=True), "labels": None, "tags": None},
        }


_ICEBERG_PRIMS = {
    "boolean": "boolean", "int": "int", "long": "bigint", "float": "float",
    "double": "double", "date": "date", "time": "string", "timestamp": "timestamp",
    "timestamptz": "timestamp", "string": "string", "uuid": "string", "binary": "binary",
}


def _iceberg_type(t) -> str:
    if isinstance(t, str):
        if t.startswith("decimal"):
            return t
        if t.startswith("fixed"):
            return "binary"
        return _ICEBERG_PRIMS.get(t, t)
    # nested struct/list/map types render as their iceberg kind
    return t.get("type", "struct")


@register_extractor("iceberg_catalog", "Directory of Iceberg tables (metadata.json walk)")
class IcebergCatalogExtractor(Extractor):
    CONFIG = {
        "path": Field(required=True, type=str),
        "database": Field(default=None, type=str),
        "exclude": Field(default=()),
    }

    def extract(self, spark: SparkSession) -> DataFrame:
        root = Path(self.config["path"])
        database = self.config["database"] or root.name
        exclude = set(self.config["exclude"] or ())
        tables = sorted(
            p
            for p in root.iterdir()
            if (p / "metadata").is_dir() and p.name not in exclude
        )
        rows = [self._table_asset(root, database, t) for t in tables]
        return assets_df(spark, rows)

    def _table_asset(self, root: Path, database: str, t: Path) -> dict:
        # numeric version order: HadoopTables names are v<N>.metadata.json
        # with no zero padding, so a lexicographic sort would pick
        # v9.metadata.json over v10.metadata.json
        metas = sorted(
            (t / "metadata").glob("*.metadata.json"),
            key=lambda p: (_meta_version(p.name), p.name),
        )
        if not metas:
            raise FileNotFoundError(f"no *.metadata.json under {t}/metadata")
        doc = json.loads(metas[-1].read_text())
        schema = None
        if "schemas" in doc:
            current = doc.get("current-schema-id", 0)
            schema = next((s for s in doc["schemas"] if s.get("schema-id") == current), None)
        if schema is None:
            schema = doc.get("schema")
        fields = (schema or {}).get("fields", [])
        columns = [
            column_dict(
                name=fld["name"],
                data_type=_iceberg_type(fld["type"]),
                is_nullable=not fld.get("required", False),
                length=0,
            )
            for fld in sorted(fields, key=lambda x: x["name"])
        ]
        snap_id = doc.get("current-snapshot-id")
        snap = next((s for s in doc.get("snapshots", []) if s.get("snapshot-id") == snap_id), None)
        profile = None
        props = {"format": "iceberg", "format_version": str(doc.get("format-version", ""))}
        if snap:
            summary = snap.get("summary", {})
            if "total-records" in summary:
                profile = {"total_rows": int(summary["total-records"])}
            props["snapshot_id"] = str(snap_id)
            if "total-files-size" in summary:
                props["size_bytes"] = str(summary["total-files-size"])
        return {
            "resource": {
                "urn": table_urn("iceberg", str(root), database, t.name),
                "name": t.name,
                "service": "iceberg",
                "type": "table",
                "url": None,
                "description": None,
            },
            "asset_type": "Table",
            "schema": columns,
            "profile": profile,
            "properties": {"attributes": json.dumps(props, sort_keys=True), "labels": None, "tags": None},
        }
