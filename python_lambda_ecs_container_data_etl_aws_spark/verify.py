"""Cross-engine verification: run a catalog query on Spark and its
ANSI-SQL oracle on DuckDB over the same parquet tables, canonicalize
both result sets, and compare row count, column order, and an
order-insensitive value hash — the same contract the round driver's
CORRECTNESS gate applies, packaged so a user can audit any query
themselves (``python -m python_lambda_ecs_container_data_etl_aws_spark verify q05_report_aggregate``).

DuckDB is an OPTIONAL dependency of this module only: the package
itself stays stdlib+pyspark (the import is deferred into the two
functions that need it, with a clear error if it is absent).
"""

from __future__ import annotations

import datetime as _dt
import hashlib
import math
from dataclasses import dataclass, field
from decimal import Decimal


def duck_connect(sf_dir: str):
    """A DuckDB connection with the test-schema tables mounted as views."""
    try:
        import duckdb
    except ImportError as e:  # pragma: no cover - present in this env
        raise RuntimeError(
            "cross-engine verification needs the optional duckdb package"
        ) from e
    from .catalog import TABLE_NAMES

    con = duckdb.connect()
    # Bound the oracle's buffer pool: a long parity sweep runs hundreds
    # of oracle queries in ONE process beside the Spark driver, and an
    # unbounded pool produced a std::bad_alloc 28 minutes into the sf3
    # sweep (the same query passed standalone). A fixed generous limit
    # keeps the sweep's memory footprint flat.
    try:
        import tempfile

        con.execute("SET memory_limit='48GB'")
        # spills go OUTSIDE the repo: DuckDB's default temp_directory is
        # the cwd-relative '.tmp', which pollutes the working tree (and
        # a deleted-mid-run spill dir killed an sf3 sweep with
        # IOExceptions)
        spill = tempfile.mkdtemp(prefix="duckdb_spill_")
        con.execute(f"SET temp_directory='{spill}'")
    except duckdb.Error:
        pass
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def canon_cell(v) -> str:
    """One engine-neutral string per value: floats via repr (bit-exact
    results render identically), Decimal through float, NaN→NULL,
    bools as ints, datetimes ISO — mirrors the driver canonicalizer."""
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NULL"
        return repr(v)
    if isinstance(v, Decimal):
        return repr(float(v))
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, int):
        return str(v)
    if isinstance(v, (_dt.datetime, _dt.date)):
        return v.isoformat()
    return str(v)


def canon_rows(rows, cols) -> list[tuple[str, ...]]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(canon_cell(r[i]) for i in order) for r in rows)


def result_hash(rows, cols) -> str:
    h = hashlib.sha256()
    for row in canon_rows(rows, cols):
        h.update(("\x1f".join(row) + "\x1e").encode())
    return h.hexdigest()


@dataclass
class VerifyResult:
    name: str
    rows_match: bool | None
    schema_match: bool | None
    hash_match: bool | None
    spark_rows: int
    oracle_rows: int | None
    diffs: list[tuple] = field(default_factory=list)

    @property
    def ok(self) -> bool:
        if self.oracle_rows is None:  # rows-only query (no oracle)
            return self.spark_rows >= 0
        return bool(self.rows_match and self.schema_match and self.hash_match)


def compare_frames(spark_df, duck_con, sql: str | None, name: str = "") -> VerifyResult:
    """Run both engines and report the driver-style three-way match.
    ``sql=None`` runs the rows-only check used for queries that are
    not SQL-expressible (q27/q35's recall-gated ANN)."""
    s_rows = spark_df.collect()
    s_cols = list(spark_df.columns)
    if sql is None:
        return VerifyResult(name, None, None, None, len(s_rows), None)
    res = duck_con.execute(sql)
    o_cols = [d[0] for d in res.description]
    o_rows = res.fetchall()
    schema_match = s_cols == o_cols
    rows_match = len(s_rows) == len(o_rows)
    hash_match = False
    diffs: list[tuple] = []
    if rows_match:
        hash_match = result_hash(s_rows, s_cols) == result_hash(o_rows, o_cols)
        if not hash_match:
            sc, oc = canon_rows(s_rows, s_cols), canon_rows(o_rows, o_cols)
            diffs = [(a, b) for a, b in zip(sc, oc) if a != b][:5]
    return VerifyResult(
        name, rows_match, schema_match, hash_match, len(s_rows), len(o_rows), diffs
    )
