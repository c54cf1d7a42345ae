"""Recorded schemas — the one reader of the directories the package
writes and reads back — the bucketed tables, their staging read-back,
and the tables rewritten whole (:func:`replace`): the maintained
report and the streaming kept table.

Spark infers a parquet directory's schema with a job that reads file
footers. The writer already knows the schema, so it records it: a
bucketed table in its ``.layout.json`` (pipeline), a table rewritten
whole in a ``_schema`` file that flips with the table's swap. A read
that passes the recorded schema launches no job.
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

from . import swap

SCHEMA_FILE = "_schema"


def write_schema(dir_path: str, schema: StructType) -> None:
    """Record ``schema`` in ``dir_path`` (underscore-prefixed, so parquet
    readers skip it)."""
    with open(os.path.join(dir_path, SCHEMA_FILE), "w") as fh:
        fh.write(schema.json())


def replace(rows: DataFrame, path: str, files: dict[str, str] | None = None) -> None:
    """Replace the small table at ``path`` with ``rows``, one file: data,
    recorded schema and ``files`` (name -> text, '_'-prefixed) are
    staged together and flip in one crash-safe swap (sources/swap.py)."""
    staging = path.rstrip("/") + "__staging"
    rows.coalesce(1).write.mode("overwrite").parquet(staging)
    write_schema(staging, rows.schema)
    for name, text in (files or {}).items():
        with open(os.path.join(staging, name), "w") as fh:
            fh.write(text)
    swap.swap(staging, path)


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
