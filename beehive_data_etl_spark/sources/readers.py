"""Schema-aware WAL reading (SURVEY.md §2 A1/A9).

Spark's ``mergeSchema`` refuses widening merges (int32 vs int64 n_tok
in an evolving log), so the WAL reader groups files by their parquet
footer schema, evolves a superset schema with the engine's widen-only
rule, reads each group with its *stored* schema, and aligns
declaratively (casts + typed nulls fold into the scan).

Footer inspection is driver-side metadata only — at cluster scale the
schema history comes from the table catalog / WAL DDL records instead
of file footers; the grouping logic is identical.
"""

from __future__ import annotations

import glob
import os
from functools import reduce

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import from_arrow_schema

from beehive_data_etl_spark.operators.schema_evolution import (
    align_to_schema,
    evolve_schema,
)


def wal_files(log_dir: str) -> list[str]:
    files = sorted(glob.glob(os.path.join(log_dir, "part-*.parquet")))
    if not files:
        raise FileNotFoundError(f"no part-*.parquet under {log_dir}")
    return files


def schema_groups(
    paths: list[str],
) -> tuple[T.StructType, list[tuple[T.StructType | None, list[str]]]]:
    """(evolved superset schema, [(read schema, paths)]) for a file set:
    one group per distinct footer schema, in first-seen order.

    A group's read schema is what Spark itself infers from those
    footers (a tz-naive timestamp is ``timestamp_ntz``), so reading
    under it skips Spark's schema-inference job. ``None`` marks a group
    holding INT96 columns (legacy Spark writers), which only Spark's
    own inference maps right. The evolved schema keeps mapping every
    timestamp to ``timestamp``, so read_wal's output types hold."""
    groups: dict[tuple, list[str]] = {}
    reads: dict[tuple, T.StructType | None] = {}
    schemas: dict[tuple, T.StructType] = {}
    for p in paths:
        with pq.ParquetFile(p) as pf:
            arrow, pschema = pf.schema_arrow, pf.schema
        int96 = any(
            pschema.column(i).physical_type == "INT96" for i in range(len(pschema))
        )
        s = from_arrow_schema(arrow, prefer_timestamp_ntz=True)
        key = (s.simpleString(), int96)
        if key not in groups:
            groups[key], reads[key] = [], None if int96 else s
            schemas[key] = from_arrow_schema(arrow)
        groups[key].append(p)
    evolved = reduce(
        lambda acc, s: evolve_schema(acc, s)[0], list(schemas.values())[1:],
        list(schemas.values())[0],
    )
    return evolved, [(reads[k], ps) for k, ps in groups.items()]


def read_wal(spark: SparkSession, paths_or_dir: list[str] | str) -> DataFrame:
    """Read WAL parquet files (possibly spanning schema versions) as one
    DataFrame under the evolved superset schema. Each group is read
    under its footer schema, so planning launches no Spark job."""
    paths = wal_files(paths_or_dir) if isinstance(paths_or_dir, str) else paths_or_dir
    evolved, groups = schema_groups(paths)
    parts = []
    for schema, ps in groups:
        reader = spark.read if schema is None else spark.read.schema(schema)
        parts.append(align_to_schema(reader.parquet(*ps), evolved))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
