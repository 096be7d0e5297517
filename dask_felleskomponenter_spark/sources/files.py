"""CSV / JSON / JDBC ingest surface (SURVEY.md §2B scan rows).

The reference only ever *writes* over JDBC and reads catalog tables;
this module adds the open ingest paths a shared component library needs,
with the ``Json2Spark`` compiler (X1) as the typing authority — a
declared JSON Schema becomes the read schema, so files are ingested
with explicit types instead of sampled inference.

Scale posture:
- Explicit schemas always (schema inference reads the data twice and
  locks in whatever the sample happened to contain).
- CSV/JSON readers default ``mode=PERMISSIVE`` with a
  ``_corrupt_record`` column so bad rows are quarantineable instead of
  failing 100 TB jobs; strict mode is opt-in.
- JDBC reads accept partitioning options (``partitionColumn`` /
  ``lowerBound`` / ``upperBound`` / ``numPartitions``) — without them a
  JDBC scan is a single connection on one executor.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StringType, StructField, StructType

from dask_felleskomponenter_spark.functions.json_schema import (
    convert_json_schema_to_spark,
)

CORRUPT_COL = "_corrupt_record"


def _resolve_schema(
    schema: StructType | dict[str, Any], with_corrupt_col: bool
) -> StructType:
    if isinstance(schema, dict):
        schema = convert_json_schema_to_spark(schema)
    # case-INSENSITIVE presence check (ensure_absent's casefold policy):
    # a user schema already declaring '_Corrupt_Record' would otherwise
    # get a second '_corrupt_record' appended and the read dies with
    # "Found duplicate column(s)" under default case-insensitive
    # analysis — a crash for a schema whose intent the guard honors
    declared = {f.casefold() for f in schema.fieldNames()}
    if with_corrupt_col and CORRUPT_COL.casefold() not in declared:
        schema = StructType(list(schema.fields) + [StructField(CORRUPT_COL, StringType())])
    return schema


def _with_quarantine(reader, strict: bool):
    """One definition of the malformed-row policy (PERMISSIVE quarantine
    vs FAILFAST) shared by the CSV/JSON readers."""
    return reader.option(
        "mode", "FAILFAST" if strict else "PERMISSIVE"
    ).option("columnNameOfCorruptRecord", CORRUPT_COL)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: StructType | dict[str, Any],
    header: bool = True,
    strict: bool = False,
    **options: str,
) -> DataFrame:
    """CSV scan with a declared schema (``StructType`` or a JSON-Schema
    dict compiled via X1). Permissive by default: malformed rows land in
    ``_corrupt_record`` instead of failing the job."""
    resolved = _resolve_schema(schema, with_corrupt_col=not strict)
    reader = _with_quarantine(
        spark.read.schema(resolved).option("header", str(header).lower()),
        strict,
    )
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.csv(path)


def read_json(
    spark: SparkSession,
    path: str,
    schema: StructType | dict[str, Any],
    strict: bool = False,
    multiline: bool = False,
    **options: str,
) -> DataFrame:
    """JSON-lines scan with a declared schema (``StructType`` or a
    JSON-Schema dict compiled via X1).

    Note: a query that references *only* ``_corrupt_record`` over raw
    JSON is disallowed by Spark (SPARK-21610) — cache the frame or
    select a data column alongside it when auditing corrupt rows."""
    resolved = _resolve_schema(schema, with_corrupt_col=not strict)
    reader = _with_quarantine(
        spark.read.schema(resolved).option(
            "multiLine", str(multiline).lower()
        ),
        strict,
    )
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.json(path)


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int = 8,
    **options: str,
) -> DataFrame:
    """JDBC scan — the read twin of the sync pack's staging write (S5).

    With a numeric ``partition_column`` and bounds the scan fans out to
    ``num_partitions`` parallel range queries; without them it is a
    single-connection read (fine for dimension tables only).
    """
    reader = spark.read.format("jdbc").option("url", url).option("dbtable", table)
    if partition_column is not None:
        if lower_bound is None or upper_bound is None:
            raise ValueError(
                "partition_column requires lower_bound and upper_bound"
            )
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
            .option("numPartitions", str(num_partitions))
        )
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load()
