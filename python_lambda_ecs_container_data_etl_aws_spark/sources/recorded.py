"""Recorded schemas — the one reader of the directories the package
writes and reads back: the bucketed permanent table, its staging
read-back, and the maintained report.

Spark infers a parquet directory's schema with a job that reads file
footers. The writer already knows the schema, so it records it: a
bucketed table in its ``.layout.json`` (pipeline), a report in a
``_schema`` file inside the report dir, which flips with the report's
swap (report). A read that passes the recorded schema launches no job.
A directory with no record (a table written before schemas were
recorded) is read once with inference.

A recorded schema must agree with the files. Spark reads a
DECIMAL(28,4) file as a recorded DECIMAL(38,4) and a renamed column as
NULLs, without a word, so :func:`read` first compares the footer of
one data file with the record, on the driver (pyarrow, no Spark job),
and raises on any difference in column names or types.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

SCHEMA_FILE = "_schema"


def write_schema(dir_path: str, schema: StructType) -> None:
    """Record ``schema`` in ``dir_path`` (underscore-prefixed, so parquet
    readers skip it)."""
    with open(os.path.join(dir_path, SCHEMA_FILE), "w") as fh:
        fh.write(schema.json())


def load_schema(dir_path: str) -> StructType | None:
    """The schema recorded in ``dir_path``, or None."""
    path = os.path.join(dir_path, SCHEMA_FILE)
    if not os.path.isfile(path):
        return None
    with open(path) as fh:
        return StructType.fromJson(json.load(fh))


def read(
    spark: SparkSession, paths: str | list[str], schema: StructType | None
) -> DataFrame:
    """Parquet ``paths`` with ``schema``; inferred when ``schema`` is
    None. Raises ``ValueError`` when the files disagree with
    ``schema``."""
    paths = [paths] if isinstance(paths, str) else list(paths)
    if schema is None:
        return spark.read.parquet(*paths)
    _check_footer(paths[0], schema)
    return spark.read.schema(schema).parquet(*paths)


def _columns(schema: StructType) -> list[tuple[str, str]]:
    return [(f.name, f.dataType.simpleString()) for f in schema.fields]


def _check_footer(path: str, schema: StructType) -> None:
    """Compare one data file under ``path`` with ``schema``, less the
    partition columns the directory names carry. A path with no local
    data file (empty, or remote) is not checked."""
    first, partition_cols = None, set()
    if os.path.isfile(path):
        first = path
    for dirpath, dirs, files in os.walk(path):
        # Spark's hidden-path rule: '.'/'_' prefixes, but '_x=v' is a
        # partition dir
        dirs[:] = sorted(
            d for d in dirs if not d.startswith(".") and (d[0] != "_" or "=" in d)
        )
        partition_cols |= {d.split("=", 1)[0] for d in dirs if "=" in d}
        data = sorted(
            f for f in files if f.endswith(".parquet") and not f.startswith(("_", "."))
        )
        if data:
            first = os.path.join(dirpath, data[0])
            break
    if first is None:
        return
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    found = _columns(from_arrow_schema(pq.read_schema(first)))
    want = [c for c in _columns(schema) if c[0] not in partition_cols]
    if sorted(found) != sorted(want):
        raise ValueError(
            f"{first} holds columns {found}, but the schema recorded for "
            f"{path} says {want}"
        )
