"""Recorded schemas — the one reader of the directories the package
writes and reads back, and the one installer of the tables it rewrites
in place (:func:`install`).

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

:func:`install` is the reference's count-gated temp→permanent move
(`2.2 loading-lambda-for-mysql.py:267-316`, gate `2.2:300-308`). Its
read-back sums the staged footers' row counts on the driver: what a
Spark ``count()`` of the files would read, without the job.
"""

from __future__ import annotations

import json
import os
import shutil
from collections.abc import Iterator

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from . import swap

SCHEMA_FILE = "_schema"


def write_schema(dir_path: str, schema: StructType) -> None:
    """Record ``schema`` in ``dir_path`` (underscore-prefixed, so parquet
    readers skip it)."""
    with open(os.path.join(dir_path, SCHEMA_FILE), "w") as fh:
        fh.write(schema.json())


class ShortWrite(RuntimeError):
    """A staged write whose files hold another row count than the write
    emitted. Nothing was swapped in; the live data is untouched."""

    def __init__(self, path: str, found: int, expected: int):
        super().__init__(
            f"{path}: staging read back {found} rows, expected {expected}; "
            "nothing swapped in"
        )


def install(
    rows: DataFrame,
    path: str,
    by: tuple[str, ...] = (),
    files: dict[str, str] | None = None,
) -> tuple[int, int]:
    """Replace the table at ``path`` with ``rows`` — or, with ``by``, the
    ``by``-partitions ``rows`` holds: write staging, observe the row
    count on the write, check it against the staged footers (a mismatch
    removes staging and raises :class:`ShortWrite`), swap in
    (sources/swap.py). A whole table flips in one swap with its recorded
    schema and ``files`` (name -> text, '_'-prefixed); partitions flip
    one by one. Returns (rows installed, directories swapped)."""
    staging = swap.staging(path)
    obs = Observation("staged")
    (
        rows.observe(obs, F.count(F.lit(1)).alias("rows"))
        .write.mode("overwrite")
        .partitionBy(*by)
        .parquet(staging)
    )
    expected = int(obs.get["rows"])
    found = footer_rows(staging)
    if found != expected:
        shutil.rmtree(staging, ignore_errors=True)
        raise ShortWrite(path, found, expected)
    if by:
        return expected, swap.swap_children(staging, path, f"{by[0]}=")
    write_schema(staging, rows.schema)
    for name, text in (files or {}).items():
        with open(os.path.join(staging, name), "w") as fh:
            fh.write(text)
    swap.swap(staging, path)
    return expected, 1


def footer_rows(path: str) -> int:
    """Rows in the data files under ``path`` (a dir or a file), summed
    from their parquet footers on the driver — no Spark job."""
    import pyarrow.parquet as pq

    return sum(pq.read_metadata(f).num_rows for f, _ in _data_files(path))


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


def _data_files(path: str) -> Iterator[tuple[str, set[str]]]:
    """Each parquet data file Spark would read under ``path`` (or
    ``path`` itself, a file), in a fixed order, with the partition
    columns the dirs walked so far name."""
    if os.path.isfile(path):
        yield path, set()
        return
    partition_cols: set[str] = set()
    for dirpath, dirs, files in os.walk(path):
        # Spark's hidden-path rule: '.'/'_' prefixes, but '_x=v' is a
        # partition dir
        dirs[:] = sorted(
            d for d in dirs if not d.startswith(".") and (d[0] != "_" or "=" in d)
        )
        partition_cols |= {d.split("=", 1)[0] for d in dirs if "=" in d}
        for f in sorted(files):
            if f.endswith(".parquet") and not f.startswith(("_", ".")):
                yield os.path.join(dirpath, f), partition_cols


def _check_footer(path: str, schema: StructType) -> None:
    """Compare one data file under ``path`` with ``schema``, less the
    partition columns the directory names carry. A path with no local
    data file (empty, or remote) is not checked."""
    first, partition_cols = next(_data_files(path), (None, set()))
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
