"""Ingest-spine tests — each encodes a runtime check the reference
performs (SURVEY §5): canonical projection under schema drift, the
maxerrors gate, routing, AutoID density, chunk arithmetic, upsert
idempotence, archive moves, report export."""

from __future__ import annotations

import os
from collections import Counter

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameWriter
from pyspark.sql.types import StructType

from python_lambda_ecs_container_data_etl_aws_spark.catalog import load_table
from python_lambda_ecs_container_data_etl_aws_spark.export import export_report_csv
from python_lambda_ecs_container_data_etl_aws_spark.sources import (
    archive,
    chunking,
    merge,
    recorded,
    registry,
    swap,
)
from python_lambda_ecs_container_data_etl_aws_spark.sources.audit import (
    LOG_SCHEMA,
    expire_log,
    load_ingest_log,
    log_ingest,
)
from python_lambda_ecs_container_data_etl_aws_spark.sources.loader import (
    read_csv_canonical,
    validate_counts,
)
from python_lambda_ecs_container_data_etl_aws_spark.sources.pipeline import (
    IngestReport,
    ingest_file,
    read_permanent,
)
from python_lambda_ecs_container_data_etl_aws_spark.sources.report import (
    ReportSpec,
    aggregate_state,
    last_applied_marker,
    read_report,
    refresh_report,
)
from tests.conftest import SF_DIR

HEADER = ",".join(registry.PRICEINDEX.canonical_columns)
ROW = '2023-01-01,Canada,D1,food,unit,1,f,2,v,c,101.5,ok,,n,1'


def _write_csv(tmp_path, name, lines):
    p = tmp_path / name
    p.write_text("\n".join(lines) + "\n")
    return str(p)


def test_canonical_projection_handles_column_drift(spark, tmp_path):
    # shuffled column order + an extra column must still project canonically
    cols = list(registry.PRICEINDEX.canonical_columns)
    shuffled = cols[5:] + cols[:5] + ["EXTRA"]
    vals = {c: f"v_{c}" for c in cols}
    vals["VALUE"] = "101.5"
    line = ",".join(vals[c] if c in vals else "x" for c in shuffled[:-1]) + ",extra"
    path = _write_csv(tmp_path, "PriceIndex_drift.csv", [",".join(shuffled), line])
    res = read_csv_canonical(spark, path, registry.PRICEINDEX)
    assert res.good.columns == list(registry.PRICEINDEX.canonical_columns)
    row = res.good.collect()[0]
    assert row["VALUE"] == "101.5" and row["GEO"] == "v_GEO"


def test_missing_canonical_column_becomes_null(spark, tmp_path):
    cols = [c for c in registry.PRICEINDEX.canonical_columns if c != "SYMBOL"]
    line = ",".join("x" for _ in cols)
    path = _write_csv(tmp_path, "price_nosym.csv", [",".join(cols), line])
    res = read_csv_canonical(spark, path, registry.PRICEINDEX)
    assert res.good.collect()[0]["SYMBOL"] is None


def test_maxerrors_gate(spark, tmp_path):
    # PERMISSIVE CSV: rows with too many columns land in _corrupt_record
    good = [ROW] * 10
    bad = [ROW + ",overflow,overflow"] * 6
    path = _write_csv(tmp_path, "priceindex_bad.csv", [HEADER] + good + bad)
    res = read_csv_canonical(spark, path, registry.PRICEINDEX, maxerrors=5)
    assert res.bad_rows == 6
    assert not res.accepted
    res2 = read_csv_canonical(spark, path, registry.PRICEINDEX, maxerrors=6)
    assert res2.accepted
    assert validate_counts(16, res2.good.count(), maxerrors=6)


# (file bytes, sep, encoding) per case; the columns a load uses must be
# exactly Spark's, and the driver must read every header but the
# HEADER_TO_SPARK ones itself
HEADER_CORPUS = {
    "plain": (b"a,b,c\n1,2,3\n", ",", "UTF-8"),
    "quoted_sep": (b'"a,b",c\n1,2\n', ",", "UTF-8"),
    "escaped_quote": (b'"a\\"q",b\n1,2\n', ",", "UTF-8"),
    "escaped_backslash": (b'"a\\\\b","c\\\\",d\n', ",", "UTF-8"),
    "unquoted_backslash_and_quote": (b'a\\"q,b"c\n', ",", "UTF-8"),
    "empty": (b"a,,c\n1,2,3\n", ",", "UTF-8"),
    "quoted_empty": (b'a,"",c\n1,2,3\n', ",", "UTF-8"),
    "trailing_sep": (b"a,b,\n1,2,3\n", ",", "UTF-8"),
    "case_insensitive_dups": (b"a,A,b,a\n1,2,3,4\n", ",", "UTF-8"),
    "non_ascii_dups": ("\u00c9,\u00e9\n".encode(), ",", "UTF-8"),
    "surrounding_spaces": (b" a , b,c \n1,2,3\n", ",", "UTF-8"),
    "space_before_quote": (b' "a",b\n', ",", "UTF-8"),
    "blanks_after_quote": (b'"a" ,"b"\t,"c"  \n', ",", "UTF-8"),
    "bom": (b"\xef\xbb\xbfa,b\n1,2\n", ",", "UTF-8"),
    "bom_latin1": (b"\xef\xbb\xbfa,b\n", ",", "ISO-8859-1"),
    "bom_latin1_quoted": (b"\xef\xbb\xbf\"a\",b\n", ",", "ISO-8859-1"),
    "crlf": (b"a,b\r\n1,2\r\n", ",", "UTF-8"),
    "cr": (b"a,b\r1,2\r", ",", "UTF-8"),
    "leading_blank_lines": (b"\n\r\na,b\n1,2\n", ",", "UTF-8"),
    "leading_space_lines": (b"   \n \r\na,b\n1,2\n", ",", "UTF-8"),
    "leading_tab_line": (b"\t\na,b\n", ",", "UTF-8"),
    "iso_8859_1": ("caf\u00e9,b\n1,2\n".encode("latin-1"), ",", "ISO-8859-1"),
    "us_ascii": (b"a,b\n", ",", "US-ASCII"),
    "us_ascii_high_byte": (b"caf\xe9,b\n", ",", "US-ASCII"),
    "semicolon": (b"a;b,c;d\n1;2;3\n", ";", "UTF-8"),
    "semicolon_quoted": (b'a;"b;c";d,e\n1;2;3\n', ";", "UTF-8"),
    "tab": (b"a\tb c\td\n1\t2\t3\n", "\t", "UTF-8"),
    "tab_quoted": (b'a\t"b\tc"\td\n1\t2\t3\n', "\t", "UTF-8"),
    "multi_char_sep": (b"a||b\n1||2\n", "||", "UTF-8"),
    "empty_file": (b"", ",", "UTF-8"),
    "blank_file": (b"\n  \n", ",", "UTF-8"),
    "doubled_quote": (b'"a""q",b\n1,2\n', ",", "UTF-8"),
    "text_after_quote": (b'"a"x,b\n', ",", "UTF-8"),
    "unterminated_quote": (b'"a,b\n1,2\n', ",", "UTF-8"),
    "undecodable": (b"a\xff,b\n", ",", "UTF-8"),
    "suffixed_names_collide": (b"a,a,a1\n1,2,3\n", ",", "UTF-8"),
}
HEADER_TO_SPARK = {
    "quoted_sep", "escaped_quote", "escaped_backslash",
    "unquoted_backslash_and_quote", "quoted_empty", "space_before_quote",
    "blanks_after_quote", "bom_latin1_quoted", "us_ascii_high_byte",
    "semicolon_quoted", "tab_quoted", "multi_char_sep", "doubled_quote",
    "text_after_quote", "unterminated_quote", "undecodable",
    "suffixed_names_collide",
}


def test_csv_header_matches_spark_header_inference(spark, tmp_path):
    """Case by case, the columns a load reads (``file_columns``) are the
    ones Spark's header pass gives, and so is the driver's own read
    (``csv_header``) of every plain header. A header the driver does not
    read as Spark does — quoted, escaped, undecodable, or one whose
    suffixed names collide (``a,a,a1``, which Spark rejects) — raises a
    ValueError naming the file, and Spark's pass decides."""
    from python_lambda_ecs_container_data_etl_aws_spark.sources.loader import (
        csv_header,
        file_columns,
    )

    for name, (data, sep, encoding) in HEADER_CORPUS.items():
        path = tmp_path / f"{name}.csv"
        path.write_bytes(data)

        def spark_pass():
            return (
                spark.read.option("header", True)
                .option("sep", sep)
                .option("encoding", encoding)
                .csv(str(path))
                .columns
            )

        try:
            want = spark_pass()
        except AnalysisException:
            want = None
        try:
            got = csv_header(spark, str(path), sep, encoding)
        except ValueError as e:
            assert name in HEADER_TO_SPARK, (name, e)
            assert str(path) in str(e)
        else:
            assert name not in HEADER_TO_SPARK and got == want, name
        if want is None:
            with pytest.raises(AnalysisException):
                file_columns(spark, str(path), sep, encoding)
        else:
            assert file_columns(spark, str(path), sep, encoding) == want, name


def test_csv_header_reads_blocks_up_to_the_header_line(spark, tmp_path, monkeypatch):
    """The header is read in fixed-size blocks and the read stops at the
    end of its line, whatever the line break: a CR-only file is not read
    whole. A CRLF split across two blocks leaves only a blank line, and
    a header line that has not ended within the cap takes Spark's
    header pass."""
    from python_lambda_ecs_container_data_etl_aws_spark.sources import loader

    monkeypatch.setattr(loader, "_HEADER_BLOCK_BYTES", 4)
    monkeypatch.setattr(loader, "_HEADER_MAX_BYTES", 16)
    read = []
    real_open = open

    class Counting:
        def __init__(self, fh):
            self.fh = fh

        def read(self, n):
            block = self.fh.read(n)
            read.append(len(block))
            return block

        def __enter__(self):
            return self

        def __exit__(self, *exc):
            self.fh.close()

    monkeypatch.setattr(
        loader, "open", lambda p, mode: Counting(real_open(p, mode)), raising=False
    )
    cases = {
        "cr_only": b"alpha,beta\r" + b"1,2\r" * 1000,
        "crlf_across_blocks": b"   \r\nx,y\r\n1,2\r\n",
    }
    for name, data in cases.items():
        path = tmp_path / f"{name}.csv"
        path.write_bytes(data)
        read.clear()
        got = loader.csv_header(spark, str(path))
        assert sum(read) <= 16, name
        assert got == spark.read.option("header", True).csv(str(path)).columns, name
    long = tmp_path / "long_header.csv"
    long.write_bytes(b"a" * 40 + b",b\n1,2\n")
    with pytest.raises(ValueError, match="no line break"):
        loader.csv_header(spark, str(long))
    assert loader.file_columns(spark, str(long)) == ["a" * 40, "b"]


def test_quoted_header_file_loads_and_logs_its_row(spark, tmp_path):
    """A header the driver leaves to Spark (here a doubled quote, which
    Spark keeps verbatim) still loads through Spark's header pass, and
    its audit row is written."""
    path = _write_csv(
        tmp_path, "PriceIndex_dq.csv", ['"a""q",' + HEADER, "x," + ROW]
    )
    log_dir = str(tmp_path / "log")
    rep = ingest_file(spark, path, str(tmp_path / "wh"), log_dir=log_dir)
    assert (rep.status, rep.loaded_rows) == ("ok", 1)
    assert [(r.file, r.status) for r in load_ingest_log(spark, log_dir).collect()] == [
        (os.path.basename(path), "ok")
    ]


def test_read_csv_canonical_job_count_is_pinned(spark, tmp_path):
    """Reading a local CSV runs 3 Spark jobs, all of them the counting
    aggregate over the cached scan: the header is read on the driver.
    It was 4 while the header was a Spark pass."""
    path = _write_csv(tmp_path, "PriceIndex_h.csv", [HEADER, ROW])
    before = _jobs_so_far(spark)
    res = read_csv_canonical(spark, path, registry.PRICEINDEX)
    assert _jobs_so_far(spark) - before == 3
    assert res.good_rows == 1 and res.good.columns == list(registry.PRICEINDEX.canonical_columns)
    res.release()


def test_unresolved_column_still_raises_its_condition(spark):
    """With PySpark's call-site capture off (session.get_spark), an
    analysis error keeps its condition and names the column."""
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    with pytest.raises(AnalysisException, match="no_such_col") as e:
        spark.range(1).select(F.col("no_such_col"))
    assert e.value.getCondition().startswith("UNRESOLVED_COLUMN")


def test_routing_lookup():
    assert registry.lookup_table("PriceIndex2023.csv").table == "priceindex"
    assert registry.lookup_table("some_price_data.txt").table == "priceindex"
    assert registry.lookup_table("index_values.csv").table == "priceindex"
    assert registry.lookup_table("unrelated.csv") is None
    assert registry.lookup_table("converted_price.csv") is None  # loop guard


def test_add_autoid_dense_and_ordered(spark):
    li = load_table(spark, SF_DIR, "lineitem").select("l_orderkey", "l_linenumber")
    with_id = chunking.add_autoid(li, ["l_orderkey", "l_linenumber"], partitions=8)
    n = li.count()
    stats = with_id.agg(
        F.min("autoid").alias("mn"), F.max("autoid").alias("mx"), F.count(F.lit(1)).alias("c"),
        F.countDistinct("autoid").alias("d"),
    ).collect()[0]
    assert (stats.mn, stats.mx, stats.c, stats.d) == (1, n, n, n)
    # order agreement: autoid ascends with the sort key
    head = with_id.orderBy("l_orderkey", "l_linenumber").limit(5).collect()
    assert [r.autoid for r in head] == [1, 2, 3, 4, 5]


def test_chunk_arithmetic_short_last_chunk(spark):
    li = load_table(spark, SF_DIR, "lineitem").select("l_orderkey", "l_linenumber")
    n = li.count()
    with_id = chunking.add_autoid(li, ["l_orderkey", "l_linenumber"], partitions=4)
    chunked = chunking.assign_chunks(with_id, n, size_mib=23.0)
    sizes = {r.chunk: r.cnt for r in chunked.groupBy("chunk").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    lpf = chunking.lines_per_file(n, 23.0)
    assert len(sizes) == chunking.n_chunks(n, 23.0)
    full = [sizes[c] for c in sorted(sizes)[:-1]]
    assert all(s == lpf for s in full)
    assert sizes[max(sizes)] == n - lpf * (len(sizes) - 1)


def test_upsert_semantics_and_idempotence(spark):
    perm = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "k int, s string, v double"
    )
    delta = spark.createDataFrame(
        [(2, "B", None), (4, "d", 40.0)], "k int, s string, v double"
    )
    out = merge.upsert(perm, delta, ["k"])
    rows = {r.k: (r.s, r.v) for r in out.collect()}
    assert rows == {1: ("a", 10.0), 2: ("B", None), 3: ("c", 30.0), 4: ("d", 40.0)}
    # idempotent: applying the same delta again changes nothing
    again = {r.k: (r.s, r.v) for r in merge.upsert(out, delta, ["k"]).collect()}
    assert again == rows

    # composite keys: a key with a NULL part matches nothing, so its
    # delta row inserts verbatim (its first key NULL included) and its
    # perm row stays; a key held twice on the perm side is replaced by
    # exactly the delta's one row
    schema = "k1 int, k2 string, v string"
    perm2 = spark.createDataFrame(
        [(1, "a", "p1"), (2, "b", "p2"), (2, "b", "p2dup"), (None, "z", "pnull")],
        schema,
    )
    delta2 = spark.createDataFrame(
        [(None, "z", "dnull"), (2, "b", "d2"), (3, None, "d3")], schema
    )
    got = Counter(tuple(r) for r in merge.upsert(perm2, delta2, ["k1", "k2"]).collect())
    assert got == Counter(
        [(1, "a", "p1"), (2, "b", "d2"), (None, "z", "pnull"),
         (None, "z", "dnull"), (3, None, "d3")]
    )


def test_archive_move(tmp_path):
    src = tmp_path / "in" / "f.csv"
    src.parent.mkdir()
    src.write_text("x")
    backup = str(tmp_path / "backup")
    dest = archive.archive_file(str(src), backup)
    assert os.path.exists(dest) and not src.exists()
    # idempotent re-archive
    assert archive.archive_file(str(src), backup) == dest


def test_export_report_csv(spark, tmp_path):
    df = spark.createDataFrame([(1, "x"), (2, "y")], "id int, name string")
    path = export_report_csv(df, str(tmp_path / "report"))
    with open(path) as f:
        content = f.read().strip().splitlines()
    assert content[0] == "id,name"
    assert sorted(content[1:]) == ["1,x", "2,y"]


def test_export_report_csv_gzip(spark, tmp_path):
    """S11: the reference's abandoned `mysqldump | gzip` path is one
    writer option here."""
    import gzip

    df = spark.createDataFrame([(1, "x")], "id int, name string")
    path = export_report_csv(df, str(tmp_path / "gz"), compression="gzip")
    assert path.endswith(".gz")
    with gzip.open(path, "rt") as f:
        assert f.read().splitlines()[0] == "id,name"


def test_http_collect_file_url(tmp_path):
    """S1/S2: fetch → dated landing folder (file:// keeps it offline)."""
    from python_lambda_ecs_container_data_etl_aws_spark.sources import http_source

    src = tmp_path / "remote" / "PriceIndex_2023.csv"
    src.parent.mkdir()
    src.write_text("Date,GEO\n2023-01-01,Canada\n")
    dest = http_source.collect(src.as_uri(), str(tmp_path / "landing"))
    assert os.path.basename(dest) == "PriceIndex_2023.csv"
    assert os.path.basename(os.path.dirname(dest)) == __import__("datetime").date.today().isoformat()
    assert open(dest).read().startswith("Date,GEO")


def test_wallclock_recency_gate_tz_and_dst(spark):
    """F11: the gate compares NY wall-clocks, so across the spring-
    forward DST jump (2024-03-10 07:00 UTC) an event 31 instant-minutes
    before "now" appears 1h31m older in wall-clock terms and is dropped,
    while the same spread away from a transition keeps it."""
    from python_lambda_ecs_container_data_etl_aws_spark.functions.tz import (
        wallclock_recency_gate,
    )

    US = 1_000_000
    # away from DST: wall-clock gap == instant gap
    base = 1704067200 * US  # 2024-01-01 00:00:00 UTC
    plain = spark.createDataFrame(
        [(1, base), (2, base - 29 * 60 * US), (3, base - 31 * 60 * US)],
        "id bigint, ts_us bigint",
    )
    kept = {r.id for r in wallclock_recency_gate(plain, now_us=base).collect()}
    assert kept == {1, 2}
    # across spring-forward: 02:00 EST jumps to 03:00 EDT at 07:00 UTC
    jump = 1710054000 * US  # 2024-03-10 07:00:00 UTC == 03:00 EDT
    dst = spark.createDataFrame(
        [(1, jump + 60 * US), (2, jump - 29 * 60 * US)],
        "id bigint, ts_us bigint",
    )
    kept = {r.id for r in wallclock_recency_gate(dst, now_us=jump + 60 * US).collect()}
    # row 2 is 30 instant-minutes old but 1h30m wall-clock-old: dropped
    assert kept == {1}


def test_db_init_script_executes_against_catalog(spark, tmp_path):
    """The db_init route consumer: a .sql script replayed against the
    Spark SQL catalog (the reference replays it against MySQL via ECS,
    2.1:190-236)."""
    from python_lambda_ecs_container_data_etl_aws_spark.sources.db_init import (
        run_init_script,
        split_statements,
    )

    script = tmp_path / "init_views.sql"
    script.write_text(
        "-- init script\n"
        "CREATE OR REPLACE TEMPORARY VIEW init_t AS\n"
        "SELECT 1 AS k, 'a' AS v; -- inline comment\n"
        "CREATE OR REPLACE TEMPORARY VIEW init_t2 AS\n"
        "SELECT k + 1 AS k2 FROM init_t;\n"
    )
    assert len(split_statements(script.read_text())) == 2
    n = run_init_script(spark, str(script))
    assert n == 2
    assert spark.sql("SELECT k2 FROM init_t2").collect()[0].k2 == 2


def test_cli_list_and_unknown_query(capsys):
    """The CLI lists the full catalog and suggests near-matches for
    typos without touching Spark."""
    from python_lambda_ecs_container_data_etl_aws_spark.__main__ import main
    from python_lambda_ecs_container_data_etl_aws_spark.plans import QUERIES

    assert main(["list"]) == 0
    out = capsys.readouterr().out.strip().split("\n")
    assert set(out) == set(QUERIES)

    assert main(["run", "q05_report_agregate"]) == 2  # typo
    err = capsys.readouterr().err
    assert "q05_report_aggregate" in err  # suggestion


def test_cli_run_writes_csv(spark, tmp_path, capsys):
    """`run --out x.csv` writes a single-file CSV of the query result."""
    from python_lambda_ecs_container_data_etl_aws_spark.__main__ import main

    out = str(tmp_path / "q01.csv")
    assert main(
        ["run", "q01_ingest_count", "--sf-dir", SF_DIR, "--out", out]
    ) == 0
    import glob

    part = glob.glob(f"{out}/*.csv") + ([out] if os.path.isfile(out) else [])
    assert part
    body = open(part[0]).read().strip().split("\n")
    assert body[0] == "n_rows" and int(body[1]) > 0


def test_export_report_json_roundtrip(spark, tmp_path):
    """JSONL export: one file, parseable line-per-row, values intact;
    gzip variant produces a .gz part readable by Spark."""
    import gzip
    import json

    from python_lambda_ecs_container_data_etl_aws_spark.export import export_report_json

    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", 2.5)], "id long, k string, v double"
    )
    path = export_report_json(df, str(tmp_path / "rep_json"))
    assert path.endswith(".json")
    rows = [json.loads(l) for l in open(path)]
    assert {(r["id"], r["k"], r["v"]) for r in rows} == {(1, "a", 1.5), (2, "b", 2.5)}

    gz = export_report_json(df, str(tmp_path / "rep_json_gz"), compression="gzip")
    assert gz.endswith(".gz")
    rows = [json.loads(l) for l in gzip.open(gz, "rt")]
    assert len(rows) == 2
    back = spark.read.json(str(tmp_path / "rep_json_gz"))
    assert back.count() == 2


# --------------------------------------------------------------------
# The ingest → audit → report write path stays inside the JVM.

REPORT_SPEC = ReportSpec(
    group_keys=("GEO",),
    sums=(("value_sum", "CAST(VALUE AS DECIMAL(18,4))"),),
)


def _price_row(dguid: str, value: str, geo: str = "Canada") -> str:
    return f"2023-01-01,{geo},{dguid},food,u,1,f,2,v,c,{value},ok,,n,1"


def _ingest_keyed(spark, path, wh, log_dir):
    return ingest_file(
        spark,
        path,
        wh,
        keys=["DGUID"],
        n_buckets=8,
        log_dir=log_dir,
        report_spec=REPORT_SPEC,
    )


def _bucketed_table_and_delta(spark, tmp_path):
    """A 20-row bucketed priceindex table with a maintained report and
    an audit log, and a keyed delta (3 updates that move GEO, 2
    inserts) waiting to be ingested into it."""
    wh, log_dir = str(tmp_path / "wh"), str(tmp_path / "log")
    base = _write_csv(
        tmp_path,
        "PriceIndex_base.csv",
        [HEADER] + [_price_row(f"D{i}", f"{i}.5") for i in range(20)],
    )
    assert _ingest_keyed(spark, base, wh, log_dir).status == "ok"
    delta = _write_csv(
        tmp_path,
        "PriceIndex_delta.csv",
        [HEADER]
        + [_price_row(f"D{i}", "9.0", "Quebec") for i in (1, 2, 3)]
        + [_price_row(f"N{i}", "1.0") for i in range(2)],
    )
    return wh, log_dir, delta


def _jobs_so_far(spark) -> int:
    return int(spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs())


def test_keyed_delta_builds_no_relation_from_python_rows(spark, tmp_path, monkeypatch):
    """Every relation on the ingest → report path of an accepted keyed
    delta is built JVM-side: ``createDataFrame`` over Python-local rows
    starts a Python worker. The audit row is no relation at all: the
    driver writes its file."""
    wh, log_dir, delta = _bucketed_table_and_delta(spark, tmp_path)

    def _local_rows(*args, **kwargs):
        raise AssertionError("relation built from Python-local rows")

    monkeypatch.setattr(SparkSession, "createDataFrame", _local_rows)
    rep = _ingest_keyed(spark, delta, wh, log_dir)
    monkeypatch.undo()

    assert (rep.status, rep.loaded_rows, rep.bad_rows) == ("ok", 5, 0)
    report = {
        r.GEO: (r.n_rows, float(r.value_sum))
        for r in read_report(spark, os.path.join(wh, "priceindex__report")).collect()
    }
    moved = sum(i + 0.5 for i in (1, 2, 3))
    assert report == {
        "Canada": (19, sum(i + 0.5 for i in range(20)) - moved + 2.0),
        "Quebec": (3, 27.0),
    }
    log = load_ingest_log(spark, log_dir).collect()
    assert sorted((r.file, r.loaded_rows, r.status) for r in log) == [
        ("PriceIndex_base.csv", 20, "ok"),
        ("PriceIndex_delta.csv", 5, "ok"),
    ]


def test_keyed_delta_job_count_is_pinned(spark, tmp_path):
    """Spark jobs for one accepted keyed delta into an existing bucketed
    table, with the audit log and the maintained report on: 8. It was
    10 while the audit row was a one-row Spark write and the CSV header
    a Spark header pass (1 job each) rather than both on the driver,
    12 while the staging read-back was a Spark count (2 jobs) rather
    than the driver's footer count, 25 while the permanent table, the
    staging read-back and the report were read with schema inference,
    the touched buckets came from a ``distinct().collect()``, the merge
    was a full-outer join with a second semi-join for the retraction,
    and the write gate counted a persisted merge (29 before that, when
    the read counted with three actions). A rise here is a new eager
    action on the per-file path."""
    wh, log_dir, delta = _bucketed_table_and_delta(spark, tmp_path)
    before = _jobs_so_far(spark)
    rep = _ingest_keyed(spark, delta, wh, log_dir)
    jobs = _jobs_so_far(spark) - before
    assert rep.status == "ok"
    assert jobs == 8


def test_rejected_file_job_count_is_pinned(spark, tmp_path):
    """An over-gate file (more bad rows than ``maxerrors``) into an
    existing bucketed table, with the audit log on, runs 3 Spark jobs:
    the read's counting aggregate over the cached scan. Its header is
    read and its audit row written on the driver."""
    wh, log_dir, _ = _bucketed_table_and_delta(spark, tmp_path)
    bad = _write_csv(
        tmp_path,
        "PriceIndex_bad.csv",
        [HEADER] + [_price_row("D1", "1.0")] + [ROW + ",overflow"] * 6,
    )
    before = _jobs_so_far(spark)
    rep = _ingest_keyed(spark, bad, wh, log_dir)
    jobs = _jobs_so_far(spark) - before
    assert (rep.status, rep.bad_rows) == ("rejected", 6)
    assert jobs == 3


def test_unroutable_file_and_log_ingest_run_no_job(spark, tmp_path):
    """A file no route claims is logged and skipped with 0 Spark jobs,
    and so is any ``log_ingest`` call: the audit row is a parquet file
    the driver writes."""
    log_dir = str(tmp_path / "log")
    stray = _write_csv(tmp_path, "unrelated.csv", [HEADER, ROW])
    before = _jobs_so_far(spark)
    rep = ingest_file(spark, stray, str(tmp_path / "wh"), log_dir=log_dir)
    log_ingest(
        spark, log_dir, IngestReport(file="a.csv", route="t", loaded_rows=1),
        now_us=1_700_000_000_000_000,
    )
    assert _jobs_so_far(spark) == before
    assert rep.status == "skipped"
    assert sorted(r.file for r in load_ingest_log(spark, log_dir).collect()) == [
        "a.csv", "unrelated.csv"
    ]


def test_recorded_schema_reads_launch_no_job(spark, tmp_path):
    """The permanent table and the report record their schemas when
    written, so building a read of either launches no Spark job (the
    8-bucket table stays under Spark's parallel-listing threshold)."""
    wh, _, _ = _bucketed_table_and_delta(spark, tmp_path)
    before = _jobs_so_far(spark)
    report = read_report(spark, os.path.join(wh, "priceindex__report"))
    table = read_permanent(spark, wh, "priceindex")
    assert _jobs_so_far(spark) == before
    assert report.columns == ["GEO", "n_rows", "value_sum"]
    assert table.columns == list(registry.PRICEINDEX.canonical_columns)
    assert table.count() == 20 and report.count() == 1


def test_layout_without_schema_loads_and_then_records_it(spark, tmp_path):
    """A bucketed table whose ``.layout.json`` predates recorded schemas
    reads with its footer schema once; its next load lands correctly and
    records the schema."""
    import json

    wh, log_dir, delta = _bucketed_table_and_delta(spark, tmp_path)
    path = os.path.join(wh, "priceindex", ".layout.json")
    with open(path) as fh:
        layout = json.load(fh)
    recorded = layout.pop("schema")
    with open(path, "w") as fh:
        json.dump(layout, fh)

    assert _ingest_keyed(spark, delta, wh, log_dir).status == "ok"
    with open(path) as fh:
        assert json.load(fh)["schema"] == recorded
    rows = {r.DGUID: (r.GEO, r.VALUE) for r in read_permanent(spark, wh, "priceindex").collect()}
    assert len(rows) == 22
    assert rows["D2"] == ("Quebec", "9.0") and rows["N1"] == ("Canada", "1.0")
    assert rows["D4"] == ("Canada", "4.5")


def test_report_files_disagreeing_with_recorded_schema_raise(spark, tmp_path):
    """A report dir whose files disagree with its ``_schema`` raises
    rather than reading retyped values: Spark alone would widen the
    file's DECIMAL(28,4) to a recorded DECIMAL(38,4), and read a renamed
    column as NULLs."""
    from pyspark.sql.types import DecimalType, StructField

    from python_lambda_ecs_container_data_etl_aws_spark.sources import recorded

    wh, _, _ = _bucketed_table_and_delta(spark, tmp_path)
    rdir = os.path.join(wh, "priceindex__report")
    schema = recorded.load_schema(rdir)
    assert schema["value_sum"].dataType == DecimalType(28, 4)
    for fields in (
        [f if f.name != "value_sum" else StructField(f.name, DecimalType(38, 4)) for f in schema],
        [f if f.name != "n_rows" else StructField("n_loads", f.dataType) for f in schema],
    ):
        recorded.write_schema(rdir, StructType(fields))
        with pytest.raises(ValueError, match="schema recorded"):
            read_report(spark, rdir)


def test_timestamp_ntz_table_reads_back_through_its_record(spark, tmp_path):
    """A table the package installs with a TIMESTAMP_NTZ column reads
    back through its own record: the footer check maps the column as
    Spark does (``timestamp_ntz``), not as a UTC-adjusted timestamp."""
    path = str(tmp_path / "ntz")
    rows = spark.sql(
        "SELECT 1 AS k, TIMESTAMP_NTZ'2024-01-02 03:04:05.678901' AS t"
    )
    assert recorded.install(rows, path) == (1, 1)
    schema = recorded.load_schema(path)
    assert schema.simpleString() == "struct<k:int,t:timestamp_ntz>"
    back = recorded.read(spark, path, schema).collect()
    assert [(r.k, str(r.t)) for r in back] == [(1, "2024-01-02 03:04:05.678901")]


def test_keyless_table_read_launches_no_job(spark, tmp_path):
    """Building the read of a keyless (appended) table launches no Spark
    job: with no layout it takes the ``_schema`` a compaction recorded,
    and before any compaction the footer schema of one of its files."""
    from python_lambda_ecs_container_data_etl_aws_spark.sources.pipeline import (
        compact_table,
    )

    wh = str(tmp_path / "wh")
    for day, n in (("d1", 6), ("d2", 4)):
        path = _write_csv(
            tmp_path, f"PriceIndex_{day}.csv",
            [HEADER] + [_price_row(f"{day}_{i}", "1.0") for i in range(n)],
        )
        assert ingest_file(spark, path, wh).status == "ok"
    table_dir = os.path.join(wh, "priceindex")
    for compacted in (False, True):
        assert (recorded.load_schema(table_dir) is not None) == compacted
        before = _jobs_so_far(spark)
        table = read_permanent(spark, wh, "priceindex")
        assert _jobs_so_far(spark) == before
        assert table.columns == list(registry.PRICEINDEX.canonical_columns)
        assert table.count() == 10
        if not compacted:
            assert compact_table(spark, table_dir) == 1


def test_footer_schema_is_spark_inference_on_the_catalog_tables(spark):
    """For every table of both perfbench tiers, the footer schema is the
    schema Spark's inference reads."""
    import glob

    data = os.path.join(os.path.dirname(os.path.dirname(__file__)), "perfbench", "data")
    files = sorted(
        glob.glob(os.path.join(data, "sf0.001", "*.parquet"))
        + glob.glob(os.path.join(data, "sf0.01", "*.parquet"))
    )
    assert len(files) == 20
    for f in files:
        assert recorded.footer_schema(f) == spark.read.parquet(f).schema, f


@pytest.mark.parametrize(
    "unit, tz, int96, want",
    [
        ("ns", None, False, "bigint"),  # NANOS, read under nanosAsLong
        ("us", None, True, "timestamp"),  # INT96
        ("us", None, False, "timestamp_ntz"),  # MICROS, not adjusted
        ("us", "UTC", False, "timestamp"),  # MICROS, adjusted
    ],
)
def test_footer_schema_timestamp_encodings_match_spark(
    spark, tmp_path, unit, tz, int96, want
):
    """Each timestamp encoding a landing file has arrived in maps to the
    type Spark's inference gives it under the package session; the
    arrow type alone cannot tell INT96 or NANOS from MICROS."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    f = str(tmp_path / "ts.parquet")
    ts = pa.array([datetime.datetime(2024, 1, 2, 3, 4, 5, 678901)], pa.timestamp(unit, tz=tz))
    pq.write_table(pa.table({"t": ts}), f, use_deprecated_int96_timestamps=int96)
    schema = recorded.footer_schema(f)
    assert schema == spark.read.parquet(f).schema
    assert schema["t"].dataType.simpleString() == want


def test_footer_schema_of_a_spark_file_is_its_row_metadata(spark, tmp_path):
    """A file Spark wrote carries its schema in the footer's row
    metadata; that key, the one Spark's inference reads, is the footer
    schema (DECIMAL(28,4) here, nested and non-null fields nullable)."""
    import json

    import pyarrow.parquet as pq

    path = str(tmp_path / "spark_dec")
    spark.sql(
        "SELECT CAST(1.5 AS DECIMAL(28,4)) AS d, array(1, 2) AS a, 'x' AS s"
    ).write.parquet(path)
    f = next(
        os.path.join(path, n) for n in sorted(os.listdir(path)) if n.endswith(".parquet")
    )
    key = pq.read_metadata(f).metadata[recorded.SPARK_SCHEMA_KEY]
    assert StructType.fromJson(json.loads(key))["d"].dataType.simpleString() == "decimal(28,4)"
    schema = recorded.footer_schema(path)
    assert schema == spark.read.parquet(path).schema
    assert schema.simpleString() == "struct<d:decimal(28,4),a:array<int>,s:string>"


def test_footer_schema_raises_on_a_type_it_cannot_map(tmp_path):
    """A column Spark would not read as one exact type is never guessed:
    the error names the column."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    f = str(tmp_path / "u.parquet")
    pq.write_table(pa.table({"k": pa.array([1], pa.int64()), "u": pa.array([1], pa.uint32())}), f)
    with pytest.raises(ValueError, match="column 'u'"):
        recorded.footer_schema(f)


def test_catalog_load_all_launches_no_job(spark):
    """Building every catalog table's scan launches no Spark job: each
    reads with its footer schema, derived on the driver."""
    from python_lambda_ecs_container_data_etl_aws_spark.catalog import load_all

    before = _jobs_so_far(spark)
    dfs = load_all(spark, SF_DIR)
    assert _jobs_so_far(spark) == before
    assert dfs["events"].schema["ts_us"].dataType.simpleString() == "bigint"
    assert dfs["lineitem"].schema == spark.read.parquet(f"{SF_DIR}/lineitem.parquet").schema


def test_audit_row_round_trips_quoted_non_ascii_file_name(spark, tmp_path):
    """File names come from outside the program: quotes, commas and
    non-ASCII characters land in the audit row verbatim, typed as
    ``LOG_SCHEMA`` declares."""
    log_dir = str(tmp_path / "log")
    name = "Prix l'indice, \"été\" — Québec.csv"
    log_ingest(
        spark,
        log_dir,
        IngestReport(
            file=name, route="priceindex", loaded_rows=7, bad_rows=2,
            status="ok", detail="it's, fine",
        ),
        now_us=1_700_000_000_000_000,
    )
    log = load_ingest_log(spark, log_dir)
    assert log.schema == StructType.fromDDL(LOG_SCHEMA)
    assert [tuple(r) for r in log.collect()] == [
        (
            name, "priceindex", 7, 2, "ok", "it's, fine",
            1_700_000_000_000_000, "2023-11-14",
        )
    ]


def test_audit_row_at_a_uri_log_dir_is_appended_by_spark(spark, tmp_path, monkeypatch):
    """A ``log_dir`` with a URI scheme is not a local path, so its row is
    appended by Spark (one job) into the dir the URI names; nothing is
    written under the working directory."""
    monkeypatch.chdir(tmp_path)
    local = tmp_path / "remote_log"
    log_dir = local.as_uri()
    before = _jobs_so_far(spark)
    log_ingest(
        spark, log_dir, IngestReport(file="a.csv", route="t", loaded_rows=1),
        now_us=1_700_000_000_000_000,
    )
    assert _jobs_so_far(spark) - before == 1
    assert os.path.isdir(local / "log_date=2023-11-14")
    assert not os.path.exists(tmp_path / "file:")
    log = load_ingest_log(spark, log_dir)
    assert log.schema == StructType.fromDDL(LOG_SCHEMA)
    assert [(r.file, r.log_date) for r in log.collect()] == [("a.csv", "2023-11-14")]


def test_ingest_log_schema_is_declared_empty_or_not(spark, tmp_path):
    """An empty log and a non-empty one read with the same schema:
    ``LOG_SCHEMA``, with ``log_date`` a STRING — not the DATE partition
    inference makes of a non-empty log's directory names."""
    want = StructType.fromDDL(LOG_SCHEMA)
    log_dir = str(tmp_path / "log")
    assert load_ingest_log(spark, log_dir).schema == want  # absent path
    log_ingest(
        spark, log_dir, IngestReport(file="a.csv", route="t", loaded_rows=1),
        now_us=1_700_000_000_000_000,
    )
    log = load_ingest_log(spark, log_dir)
    assert log.schema == want
    assert log.collect()[0].log_date == "2023-11-14"
    expire_log(log_dir, keep_after="9999-01-01")
    emptied = load_ingest_log(spark, log_dir)  # dir left, no day partitions
    assert emptied.schema == want and emptied.count() == 0


def _day_files(log_dir: str) -> list[str]:
    """Every file in the log's one day partition, hidden ones too."""
    (day,) = [e for e in os.listdir(log_dir) if e.startswith("log_date=")]
    return sorted(os.listdir(os.path.join(log_dir, day)))


def test_log_row_crash_before_its_rename_stays_invisible(spark, tmp_path, monkeypatch):
    """A crash between writing a log row's file and renaming it in
    leaves only a dot-prefixed file, which readers skip: the log reads
    as it was."""
    log_dir = str(tmp_path / "log")
    log_ingest(
        spark, log_dir, IngestReport(file="a.csv", route="t", loaded_rows=1),
        now_us=1_700_000_000_000_000,
    )

    def _crash(src, dst):
        raise OSError("driver died before the rename")

    monkeypatch.setattr(recorded.os, "replace", _crash)
    with pytest.raises(OSError, match="before the rename"):
        log_ingest(
            spark, log_dir, IngestReport(file="b.csv", route="t", loaded_rows=1),
            now_us=1_700_000_000_000_000,
        )
    monkeypatch.undo()
    files = _day_files(log_dir)
    assert len(files) == 2 and [f for f in files if f.startswith(".")]
    assert [r.file for r in load_ingest_log(spark, log_dir).collect()] == ["a.csv"]


def test_short_log_row_raises_and_leaves_nothing(spark, tmp_path, monkeypatch):
    """A log row file whose footer holds another row count than the
    rows given raises ``ShortWrite`` and is removed before anything is
    renamed in."""
    log_dir = str(tmp_path / "log")
    log_ingest(
        spark, log_dir, IngestReport(file="a.csv", route="t", loaded_rows=1),
        now_us=1_700_000_000_000_000,
    )
    before = _day_files(log_dir)
    real = recorded.footer_rows
    monkeypatch.setattr(recorded, "footer_rows", lambda p: real(p) - 1)
    with pytest.raises(recorded.ShortWrite, match="read back 0 rows, expected 1"):
        log_ingest(
            spark, log_dir, IngestReport(file="b.csv", route="t", loaded_rows=1),
            now_us=1_700_000_000_000_000,
        )
    monkeypatch.undo()
    assert _day_files(log_dir) == before
    assert load_ingest_log(spark, log_dir).count() == 1


def test_failed_staging_write_releases_cached_relations(spark, tmp_path, monkeypatch):
    """A staging write that raises mid-ingest must not strand the cached
    CSV scan or the persisted merge result in the session."""
    wh, log_dir, delta = _bucketed_table_and_delta(spark, tmp_path)
    real_parquet = DataFrameWriter.parquet

    def _parquet(self, path, *args, **kwargs):
        if os.path.basename(path) == ".priceindex__staging":
            raise OSError("staging volume full")
        return real_parquet(self, path, *args, **kwargs)

    spark.catalog.clearCache()
    monkeypatch.setattr(DataFrameWriter, "parquet", _parquet)
    with pytest.raises(OSError, match="staging volume full"):
        _ingest_keyed(spark, delta, wh, log_dir)
    monkeypatch.undo()
    assert spark.sparkContext._jsc.getPersistentRDDs().isEmpty()


def _file_bytes(root: str) -> dict:
    """Every file under ``root`` (hidden ones too) -> its bytes."""
    out = {}
    for dp, _, fs in os.walk(root):
        for f in fs:
            with open(os.path.join(dp, f), "rb") as fh:
                out[os.path.relpath(os.path.join(dp, f), root)] = fh.read()
    return out


def _short_footers(monkeypatch, path: str) -> None:
    """Make the footer count of ``path``'s staging read one row short."""
    real = recorded.footer_rows
    monkeypatch.setattr(
        recorded,
        "footer_rows",
        lambda p: real(p) - (p == swap.staging(path)),
    )


def test_refresh_report_aborts_on_short_staging_write(spark, tmp_path, monkeypatch):
    """The maintained report is installed through the footer read-back
    gate: a short staged report raises and leaves the live report and
    its ``_last_batch`` marker as they were, with no staging left. The
    same refresh then applies."""
    wh, _, _ = _bucketed_table_and_delta(spark, tmp_path)
    rdir = os.path.join(wh, "priceindex__report")
    before, marker = _file_bytes(rdir), last_applied_marker(rdir)
    delta = aggregate_state(
        read_permanent(spark, wh, "priceindex").filter(F.col("DGUID") == "D1"),
        REPORT_SPEC,
    )

    _short_footers(monkeypatch, rdir)
    with pytest.raises(recorded.ShortWrite, match="read back 0 rows, expected 1"):
        refresh_report(spark, rdir, REPORT_SPEC, delta, marker_batch_id="again")
    monkeypatch.undo()
    assert _file_bytes(rdir) == before and last_applied_marker(rdir) == marker
    assert not os.path.exists(swap.staging(rdir))

    refresh_report(spark, rdir, REPORT_SPEC, delta, marker_batch_id="again")
    assert last_applied_marker(rdir) == "again"
    assert [(r.GEO, r.n_rows) for r in read_report(spark, rdir).collect()] == [
        ("Canada", 21)
    ]


def test_short_bucket_write_reports_count_mismatch_and_rerun_converges(
    spark, tmp_path, monkeypatch
):
    """A keyed delta whose staged buckets read back short is a
    ``count_mismatch`` load with its audit row, and every live bucket
    stays byte-identical. Re-running the same file converges the table
    and the report."""
    wh, log_dir, delta = _bucketed_table_and_delta(spark, tmp_path)
    table_dir = os.path.join(wh, "priceindex")
    before = _file_bytes(table_dir)

    _short_footers(monkeypatch, table_dir)
    rep = _ingest_keyed(spark, delta, wh, log_dir)
    monkeypatch.undo()
    assert rep.status == "count_mismatch" and "read back" in rep.detail
    assert _file_bytes(table_dir) == before
    assert not os.path.exists(swap.staging(table_dir))
    log = load_ingest_log(spark, log_dir).collect()
    assert ("PriceIndex_delta.csv", "count_mismatch") in {
        (r.file, r.status) for r in log
    }

    assert _ingest_keyed(spark, delta, wh, log_dir).status == "ok"
    rows = {r.DGUID: (r.GEO, r.VALUE) for r in read_permanent(spark, wh, "priceindex").collect()}
    assert len(rows) == 22
    assert rows["D2"] == ("Quebec", "9.0") and rows["N1"] == ("Canada", "1.0")
    report = {
        r.GEO: (r.n_rows, float(r.value_sum))
        for r in read_report(spark, os.path.join(wh, "priceindex__report")).collect()
    }
    moved = sum(i + 0.5 for i in (1, 2, 3))
    assert report == {
        "Canada": (19, sum(i + 0.5 for i in range(20)) - moved + 2.0),
        "Quebec": (3, 27.0),
    }


def test_short_write_during_report_bootstrap_leaves_the_report_to_the_rerun(
    spark, tmp_path, monkeypatch
):
    """A report missing over a table with history is bootstrapped from
    the merged table after the swap. When the bucket install is short,
    nothing is merged, so no report is bootstrapped from the old table
    and marked applied: the re-run bootstraps it with the delta in."""
    import shutil

    wh, log_dir, delta = _bucketed_table_and_delta(spark, tmp_path)
    rdir = os.path.join(wh, "priceindex__report")
    shutil.rmtree(rdir)

    _short_footers(monkeypatch, os.path.join(wh, "priceindex"))
    assert _ingest_keyed(spark, delta, wh, log_dir).status == "count_mismatch"
    monkeypatch.undo()
    assert not os.path.exists(rdir)

    assert _ingest_keyed(spark, delta, wh, log_dir).status == "ok"
    report = {
        r.GEO: (r.n_rows, float(r.value_sum)) for r in read_report(spark, rdir).collect()
    }
    moved = sum(i + 0.5 for i in (1, 2, 3))
    assert report == {
        "Canada": (19, sum(i + 0.5 for i in range(20)) - moved + 2.0),
        "Quebec": (3, 27.0),
    }
