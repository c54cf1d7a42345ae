"""CSV ingest with canonical projection and quarantine.

Reference contract being re-expressed (cited, not copied):
- the loader hard-codes the expected column list and re-projects the
  file into that exact order to defend against upstream column
  reordering/addition (`2.2 loading-lambda-for-mysql.py:534-539`);
- malformed rows are tolerated up to ``maxerrors_allowed`` (=5) and
  counted, else the load aborts (`2.1:112`, `2.2:114,308`);
- per-extension delimiter: csv/txt → ',' (`2.1:284-287`);
- ISO-8859-1 tolerated on the raw-count path (`2.2:195-199`);
- unknown files are rejected with notification (`2.1:546-552`) — here,
  a quarantine DataFrame the caller can persist.

Spark shape: one PERMISSIVE read with a corrupt-record column; good
rows are re-projected to canonical order (missing columns become
typed NULLs, extras are dropped); bad rows go to quarantine. Source,
bad and good row counts come from one aggregate over the cached scan,
and so does, for a keyed load, the set of buckets the good rows hash
into.
The count-compare commit gate is :func:`validate_counts`.
"""

from __future__ import annotations

import codecs
import os
import re

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark.sql.types import StringType, StructField, StructType

from .registry import TableSpec

CORRUPT_COL = "_corrupt_record"


@dataclass
class IngestResult:
    good: DataFrame
    quarantine: DataFrame
    src_rows: int
    bad_rows: int
    good_rows: int
    accepted: bool
    raw: DataFrame | None = None  # the cached scan; release() when done
    buckets: list[int] | None = None  # distinct ``bucket`` values of good rows

    def release(self) -> None:
        """Drop the cached raw relation (call after the last action
        over good/quarantine) so repeated loads in one session don't
        accumulate cached file versions."""
        if self.raw is not None:
            self.raw.unpersist()


def read_csv_canonical(
    spark: SparkSession,
    path: str,
    spec: TableSpec,
    sep: str = ",",
    encoding: str = "UTF-8",
    maxerrors: int = 5,
    bucket: Column | None = None,
) -> IngestResult:
    """Read a CSV into the canonical column order, quarantining bad rows.

    The read is a single pass: Spark parses permissively, bad lines
    land in ``_corrupt_record``. Canonical projection tolerates column
    reordering and extra columns; missing canonical columns surface as
    NULL (schema drift is observable, not fatal).

    ``bucket`` (internal to the ingest pipeline) is an expression over
    the canonical columns; its distinct values over the good rows come
    back sorted in ``buckets``, from the same counting aggregate.
    """
    # Pass 1: header only → the file's own column order. Pass 2: full
    # read with an explicit all-string schema + corrupt-record column —
    # PERMISSIVE only captures malformed rows when a schema is given.
    file_cols = file_columns(spark, path, sep, encoding)
    schema = StructType(
        [StructField(c, StringType()) for c in file_cols]
        + [StructField(CORRUPT_COL, StringType())]
    )
    # version-stamp the plan before caching: Spark's cache manager
    # matches relations by logical plan, so re-reading the SAME path
    # after its content changed (a daily re-delivered file) would
    # silently return the previous content's cached rows. The stamp
    # (size+mtime literal, dropped below) makes each file version a
    # distinct plan. The cache itself is required — filtering on only
    # the corrupt column from a raw scan is disallowed.
    try:
        stamp = f"{os.path.getsize(path)}:{os.stat(path).st_mtime_ns}"
    except OSError:
        # un-stattable path (remote scheme): a CONSTANT fallback would
        # re-create the aliasing bug for every such path — a unique
        # stamp merely forgoes cache reuse, which fails safe
        import uuid

        stamp = f"uncached:{uuid.uuid4()}"
    raw = (
        spark.read.option("header", True)
        .option("sep", sep)
        .option("encoding", encoding)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .schema(schema)
        .csv(path)
        .withColumn("__src_version", F.lit(stamp))
    ).cache()
    have = set(file_cols)
    is_good = F.col(CORRUPT_COL).isNull()
    bad = raw.filter(~is_good).select(F.col(CORRUPT_COL).alias("raw_line"))
    good = raw.filter(is_good).drop("__src_version")
    canonical = [
        F.col(c) if c in have else F.lit(None).cast("string").alias(c)
        for c in spec.canonical_columns
    ]
    projected = good.select(*canonical)
    # one aggregate over the cached scan (its first action fills the
    # cache) yields every count the gates need, and the bucket set
    aggs = [
        F.count(F.lit(1)).alias("src"),
        F.count(F.col(CORRUPT_COL)).alias("bad"),
        F.count(F.when(is_good, 1)).alias("good"),
    ]
    if bucket is not None:
        aggs.append(F.collect_set(F.when(is_good, bucket)).alias("buckets"))
    counts = raw.select(CORRUPT_COL, *canonical).agg(*aggs).first()
    return IngestResult(
        good=projected,
        quarantine=bad,
        src_rows=counts["src"],
        bad_rows=counts["bad"],
        good_rows=counts["good"],
        accepted=counts["bad"] <= maxerrors,
        raw=raw,
        buckets=None if bucket is None else sorted(counts["buckets"]),
    )


def file_columns(
    spark: SparkSession, path: str, sep: str = ",", encoding: str = "UTF-8"
) -> list[str]:
    """The columns of the CSV at ``path`` as Spark's header inference
    names them: read on the driver (:func:`csv_header`, no job) for a
    plain header in a local file, by Spark's header pass (1 job) for
    any other."""
    try:
        return csv_header(spark, path, sep, encoding)
    except ValueError:
        return (
            spark.read.option("header", True)
            .option("sep", sep)
            .option("encoding", encoding)
            .csv(path)
            .limit(0)
            .columns
        )


# the charsets whose header the driver decodes as Spark does (Spark's
# names); a file in any other takes Spark's header pass
_DRIVER_CHARSETS = {"UTF-8", "ISO-8859-1", "US-ASCII"}
# the header is read in blocks of this size, and a header line that has
# not ended within _HEADER_MAX_BYTES takes Spark's header pass
_HEADER_BLOCK_BYTES = 1 << 16
_HEADER_MAX_BYTES = 1 << 20


def csv_header(
    spark: SparkSession, path: str, sep: str = ",", encoding: str = "UTF-8"
) -> list[str]:
    """The column names Spark's CSV header inference gives the local
    file ``path``, read on the driver — no Spark job — when the header
    is plain: it holds no quote and no backslash, so its fields are the
    text between separators, verbatim.

    Spark's rules: the header is the first line (split at LF, CRLF or
    CR; a leading UTF-8 BOM dropped) that is not empty once spaces are
    trimmed; an empty name becomes ``_c{i}`` and a name duplicated
    (case-insensitively, unless ``spark`` sets
    ``spark.sql.caseSensitive``) gets its index appended.

    Anything else raises ``ValueError`` naming the file, and Spark's
    header pass decides (:func:`file_columns`): a path that is not
    a local file, a quote or backslash in the header, a charset other
    than UTF-8, ISO-8859-1 or US-ASCII, an undecodable byte, a separator
    that is not one plain character, a header line longer than 1 MiB,
    names that still collide. It never returns a different column
    list."""

    def unparsable(why: str) -> ValueError:
        return ValueError(f"{path}: header left to Spark's header pass: {why}")

    if not os.path.isfile(path):
        raise unparsable("not a local file")
    if encoding.upper() not in _DRIVER_CHARSETS:
        raise unparsable(f"encoding {encoding!r}")
    if len(sep) != 1 or sep in '"\\\r\n ':
        raise unparsable(f"separator {sep!r}")
    line = _first_nonblank_line(path, unparsable)
    if line is None:
        return []
    if b'"' in line or b"\\" in line:
        raise unparsable("a quote or backslash in the header")
    try:
        fields = line.decode(encoding).split(sep)
    except UnicodeDecodeError as e:
        raise unparsable(f"an undecodable byte in the header ({e.reason})") from None
    case_sensitive = spark.conf.get("spark.sql.caseSensitive") == "true"
    key = (lambda n: n) if case_sensitive else str.lower
    seen = [key(f) for f in fields if f]
    dups = {k for k in seen if seen.count(k) > 1}
    names = [
        f"_c{i}" if not f else f"{f}{i}" if key(f) in dups else f
        for i, f in enumerate(fields)
    ]
    if len({key(n) for n in names}) != len(names):
        raise unparsable(f"column names {names} collide")
    return names


def _first_nonblank_line(path: str, unparsable) -> bytes | None:
    """The first line of ``path`` that is not empty once spaces are
    trimmed, without its terminator (LF, CRLF or CR, as Hadoop's line
    reader splits) and without a leading UTF-8 BOM; None if none. Reads
    fixed-size blocks up to the end of that line, so a file with no LF
    is not read whole."""
    with open(path, "rb") as fh:
        tail, first = b"", True
        while True:
            block = fh.read(_HEADER_BLOCK_BYTES)
            buf = tail + block
            if first:
                buf, first = buf.removeprefix(codecs.BOM_UTF8), False
            # the last piece is unterminated until the end of the file; a
            # CR split from its LF leaves an empty line, which is blank
            *lines, tail = re.split(rb"\r\n|\r|\n", buf)
            if not block:
                lines.append(tail)
            for line in lines:
                if line.strip(b" "):
                    return line
            if not block:
                return None
            if len(tail) > _HEADER_MAX_BYTES:
                raise unparsable("no line break in the first MiB")


def validate_counts(src_rows: int, loaded_rows: int, maxerrors: int = 5) -> bool:
    """The reference's commit gate: |source − loaded| within tolerance
    (`2.2:300-308`)."""
    return abs(src_rows - loaded_rows) <= maxerrors
