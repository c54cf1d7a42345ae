"""Recorded schemas — the one reader of parquet tables (the package's
own, and the catalog's test tables), and the one installer of the tables
the package rewrites in place (:func:`install`).

Spark infers a parquet directory's schema with a job that reads file
footers. :func:`read` never needs that job when the schema is known,
and it looks in three places, in order:

1. the record. The writer already knows the schema, so it records it:
   a bucketed table in its ``.layout.json`` (pipeline), a table
   rewritten whole in a ``_schema`` file that flips with the table's
   swap;
2. the footer. With no record, :func:`footer_schema` reads the schema
   Spark's inference would return from one footer, on the driver;
3. inference, only for a path with no local data file (remote, or
   empty): one Spark job.

A recorded schema must agree with the files. Spark reads a
DECIMAL(28,4) file as a recorded DECIMAL(38,4) and a renamed column as
NULLs, without a word, so :func:`read` first compares the footer schema
of one data file with the record and raises on any difference in
column names or types.

:func:`install` is the reference's count-gated temp→permanent move
(`2.2 loading-lambda-for-mysql.py:267-316`, gate `2.2:300-308`). Its
read-back sums the staged footers' row counts on the driver: what a
Spark ``count()`` of the files would read, without the job.
:func:`append_local` is the same gate for rows the driver already
holds (the audit log's one row per load): it writes them with pyarrow
and renames the checked file in, with no Spark job at all.
"""

from __future__ import annotations

import json
import os
import shutil
from collections.abc import Iterator

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DataType,
    LongType,
    MapType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)

from ..session import arrow_table
from . import swap

SCHEMA_FILE = "_schema"

# the footer key Spark writes its schema under, and reads it back from
SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"
NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"


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


def append_local(dir_path: str, rows: list[tuple], schema: StructType) -> None:
    """Append driver-held ``rows`` (tuples in ``schema``'s order) to the
    parquet table at ``dir_path`` as one new file, written by pyarrow on
    the driver — no Spark job. The file is written under a dot-prefixed
    name, which readers skip, its footer row count is checked (a
    mismatch removes it and raises :class:`ShortWrite`), and it is then
    renamed in, so a reader sees the whole file or none of it."""
    import uuid

    import pyarrow.parquet as pq

    os.makedirs(dir_path, exist_ok=True)
    name = f"part-{uuid.uuid4().hex}.parquet"
    hidden = os.path.join(dir_path, "." + name)
    pq.write_table(arrow_table(rows, schema), hidden)
    found = footer_rows(hidden)
    if found != len(rows):
        os.remove(hidden)
        raise ShortWrite(dir_path, found, len(rows))
    os.replace(hidden, os.path.join(dir_path, name))


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
    """Parquet ``paths`` with ``schema`` — or, when ``schema`` is None,
    with the footer schema of the first path (partition columns come
    from the directory names, as with inference). Inferred, with one
    Spark job, only when that path has no local data file. Raises
    ``ValueError`` when the files disagree with ``schema``."""
    paths = [paths] if isinstance(paths, str) else list(paths)
    if schema is None:
        schema = footer_schema(paths[0])
        if schema is None:
            return spark.read.parquet(*paths)
    else:
        _check_footer(paths[0], schema)
    return spark.read.schema(schema).parquet(*paths)


def footer_schema(path: str) -> StructType | None:
    """The schema Spark's inference gives the parquet data at ``path``
    (a file, or a dir: its first data file, less the partition columns
    the dir names carry), read from one footer on the driver — no Spark
    job. None when ``path`` holds no local data file.

    A file Spark wrote carries its schema under ``SPARK_SCHEMA_KEY``,
    which is what Spark's inference reads. Any other file maps through
    ``from_arrow_type(prefer_timestamp_ntz=True)``, except a top-level
    timestamp, which reads as the physical column decides in Spark's
    reader: INT96 as ``timestamp``, MICROS and MILLIS as ``timestamp``
    when adjusted to UTC and ``timestamp_ntz`` when not, NANOS as
    ``bigint`` (raising, as Spark does, on a session without
    ``nanosAsLong``). A type Spark would not read as exactly one type
    raises ``ValueError`` naming the column. Every field is nullable,
    as on any file-source read."""
    first = next(_data_files(path), None)
    if first is None:
        return None
    import pyarrow.parquet as pq

    meta = pq.read_metadata(first[0])
    spark_json = (meta.metadata or {}).get(SPARK_SCHEMA_KEY)
    if spark_json is not None:
        return _nullable(StructType.fromJson(json.loads(spark_json)))
    columns = {c.path: c for c in map(meta.schema.column, range(meta.num_columns))}
    return _nullable(
        StructType(
            [
                StructField(f.name, _spark_type(first[0], f, columns.get(f.name)))
                for f in meta.schema.to_arrow_schema()
            ]
        )
    )


def _spark_type(file: str, field, column) -> DataType:
    """Spark's type for the top-level arrow ``field`` of ``file``;
    ``column`` is its parquet leaf column when it has one (not nested)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import from_arrow_type

    def unmapped(why: str) -> ValueError:
        return ValueError(
            f"{file}: column '{field.name}' ({field.type}) {why}; "
            "declare the schema instead"
        )

    if pa.types.is_timestamp(field.type):
        if column.physical_type == "INT96":
            return TimestampType()
        logical = json.loads(column.logical_type.to_json())
        if logical.get("Type") != "Timestamp":
            raise unmapped(f"is stored as {column.physical_type}")
        if logical["timeUnit"] == "nanoseconds":
            if not _nanos_as_long():
                raise unmapped(
                    "is TIMESTAMP(NANOS): PARQUET_TYPE_ILLEGAL to Spark unless "
                    f"{NANOS_AS_LONG} is true"
                )
            return LongType()
        return TimestampType() if logical["isAdjustedToUTC"] else TimestampNTZType()

    def exact(t) -> bool:
        if pa.types.is_dictionary(t):
            return exact(t.value_type)
        if pa.types.is_list(t) or pa.types.is_large_list(t):
            return exact(t.value_type)
        if pa.types.is_map(t):
            return exact(t.key_type) and exact(t.item_type)
        if pa.types.is_struct(t):
            return all(exact(t.field(i).type) for i in range(t.num_fields))
        return (
            pa.types.is_boolean(t)
            or pa.types.is_signed_integer(t)
            or pa.types.is_float32(t)
            or pa.types.is_float64(t)
            or pa.types.is_string(t)
            or pa.types.is_large_string(t)
            or pa.types.is_binary(t)
            or pa.types.is_large_binary(t)
            or pa.types.is_date32(t)
            or pa.types.is_decimal128(t)
        )

    if not exact(field.type):
        raise unmapped("has no exact Spark type")
    return from_arrow_type(field.type, prefer_timestamp_ntz=True)


def _nanos_as_long() -> bool:
    """Whether the active session reads TIMESTAMP(NANOS) as ``bigint``
    (with no session: the package's posture, session.RUNTIME_CONFS)."""
    spark = SparkSession.getActiveSession()
    return spark is None or spark.conf.get(NANOS_AS_LONG, "false") == "true"


def _nullable(t: DataType) -> DataType:
    """``t`` with every field, element and value nullable (Spark's
    ``asNullable``)."""
    if isinstance(t, StructType):
        return StructType(
            [StructField(f.name, _nullable(f.dataType), True, f.metadata) for f in t]
        )
    if isinstance(t, ArrayType):
        return ArrayType(_nullable(t.elementType), True)
    if isinstance(t, MapType):
        return MapType(_nullable(t.keyType), _nullable(t.valueType), True)
    return t


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
    """Compare the footer schema of one data file under ``path`` with
    ``schema``, less the partition columns the directory names carry. A
    path with no local data file (empty, or remote) is not checked."""
    first, partition_cols = next(_data_files(path), (None, set()))
    if first is None:
        return
    found = _columns(footer_schema(first))
    want = [c for c in _columns(schema) if c[0] not in partition_cols]
    if sorted(found) != sorted(want):
        raise ValueError(
            f"{first} holds columns {found}, but the schema recorded for "
            f"{path} says {want}"
        )
