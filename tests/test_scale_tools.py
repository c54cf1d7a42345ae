"""Skew helpers, idempotent partition overwrite, completion tracking,
and the end-to-end ingest pipeline."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from python_lambda_ecs_container_data_etl_aws_spark.catalog import load_table
from python_lambda_ecs_container_data_etl_aws_spark.functions.skew import (
    salted_count_sum,
    salted_join,
)
from python_lambda_ecs_container_data_etl_aws_spark.sources import registry
from python_lambda_ecs_container_data_etl_aws_spark.sources.idempotent import (
    write_partitioned_idempotent,
)
from python_lambda_ecs_container_data_etl_aws_spark.sources.pipeline import (
    ingest_file,
    read_permanent,
)
from python_lambda_ecs_container_data_etl_aws_spark.streaming.completion import (
    CompletionTracker,
    with_source_file,
)
from tests.conftest import SF_DIR

HEADER = ",".join(registry.PRICEINDEX.canonical_columns)


def _row(dguid: str, value: str) -> str:
    return f"2023-01-01,Canada,{dguid},food,u,1,f,2,v,c,{value},ok,,n,1"


def test_salted_count_sum_equals_unsalted(spark):
    li = load_table(spark, SF_DIR, "lineitem")
    salted = {
        (r.l_returnflag, r.l_linestatus): (r.n_rows, r.sum_l_extendedprice)
        for r in salted_count_sum(li, ["l_returnflag", "l_linestatus"], "l_extendedprice").collect()
    }
    plain = {
        (r.l_returnflag, r.l_linestatus): (r.n, r.s)
        for r in li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("l_extendedprice").cast("decimal(38,2)")).cast("double").alias("s"),
        )
        .collect()
    }
    assert salted == plain


def test_salted_join_equals_plain_join(spark):
    li = load_table(spark, SF_DIR, "lineitem").select("l_orderkey", "l_suppkey")
    sup = load_table(spark, SF_DIR, "supplier").select("s_suppkey", "s_name")
    plain = li.join(sup, li.l_suppkey == sup.s_suppkey).count()
    salted = salted_join(
        li.withColumnRenamed("l_suppkey", "k"),
        sup.withColumnRenamed("s_suppkey", "k"),
        "k",
    ).count()
    assert salted == plain


def test_idempotent_partition_overwrite(spark, tmp_path):
    path = str(tmp_path / "tbl")
    orders = load_table(spark, SF_DIR, "orders").withColumn(
        "y", F.year("o_orderdate")
    )
    d95 = orders.filter(F.col("y") == 1995)
    d96 = orders.filter(F.col("y") == 1996)
    write_partitioned_idempotent(d95, path, ["y"])
    write_partitioned_idempotent(d96, path, ["y"])
    n = spark.read.parquet(path).count()
    assert n == d95.count() + d96.count()
    # re-run 1995: replaces that partition, no duplication, 1996 intact
    write_partitioned_idempotent(d95, path, ["y"])
    assert spark.read.parquet(path).count() == n


def test_completion_tracker_fires_once(spark, tmp_path):
    fired = []
    land = tmp_path / "land"
    land.mkdir()
    for name in ["a.csv", "b.csv"]:
        (land / name).write_text("k\n1\n2\n")
    df = with_source_file(spark.read.option("header", True).csv(str(land)))
    tracker = CompletionTracker({"a.csv", "b.csv"}, lambda s: fired.append(s))
    # simulate two micro-batches: first sees only a.csv, then everything
    tracker(df.filter(F.col("source_file") == "a.csv"), 0)
    assert not tracker.fired and tracker.remaining() == {"b.csv"}
    tracker(df, 1)
    assert tracker.fired and fired == [{"a.csv", "b.csv"}]
    tracker(df, 2)  # already complete: must not re-fire
    assert len(fired) == 1


def test_ingest_pipeline_end_to_end(spark, tmp_path):
    land = tmp_path / "landing"
    land.mkdir()
    wh = str(tmp_path / "wh")
    backup = str(tmp_path / "backup")
    day1 = land / "PriceIndex_day1.csv"
    day1.write_text("\n".join([HEADER] + [_row(f"D{i}", f"{100+i}.5") for i in range(10)]) + "\n")
    rep1 = ingest_file(spark, str(day1), wh, backup_dir=backup, keys=["DGUID"])
    assert (rep1.status, rep1.route, rep1.loaded_rows) == ("ok", "priceindex", 10)
    assert not day1.exists()  # archived

    day2 = land / "price_day2.csv"
    day2.write_text("\n".join([HEADER, _row("D3", "999.9"), _row("D99", "1.0")]) + "\n")
    rep2 = ingest_file(spark, str(day2), wh, keys=["DGUID"])
    # loaded_rows is THIS file's delta (1 update + 1 insert), never the
    # cumulative table count
    assert rep2.status == "ok" and rep2.loaded_rows == 2
    final = {r.DGUID: r.VALUE for r in read_permanent(spark, wh, "priceindex").collect()}
    assert len(final) == 11
    assert final["D3"] == "999.9" and final["D99"] == "1.0" and final["D5"] == "105.5"

    unknown = land / "mystery.csv"
    unknown.write_text("a,b\n1,2\n")
    rep3 = ingest_file(spark, str(unknown), wh)
    assert rep3.status == "skipped" and rep3.route == registry.ROUTE_QUARANTINE


def _bucket_file_stats(table_dir: str) -> dict[str, tuple]:
    """(inode, mtime_ns, size) of every data file, keyed by rel path."""
    out = {}
    for root, _, files in os.walk(table_dir):
        for f in files:
            p = os.path.join(root, f)
            st = os.stat(p)
            out[os.path.relpath(p, table_dir)] = (st.st_ino, st.st_mtime_ns, st.st_size)
    return out


def test_merge_touches_only_delta_buckets(spark, tmp_path):
    """The scale contract: a small arriving file must not rewrite (or
    even re-read) buckets its keys don't hash into — untouched bucket
    files stay byte-identical (same inode, same mtime)."""
    land = tmp_path / "landing"
    land.mkdir()
    wh = str(tmp_path / "wh")
    base = land / "PriceIndex_base.csv"
    base.write_text("\n".join([HEADER] + [_row(f"D{i}", f"{i}.0") for i in range(200)]) + "\n")
    ingest_file(spark, str(base), wh, keys=["DGUID"], n_buckets=16)
    table_dir = os.path.join(wh, "priceindex")
    before = _bucket_file_stats(table_dir)
    n_buckets_before = len({p.split("/")[0] for p in before})
    assert n_buckets_before > 4  # corpus actually spreads over buckets

    one = land / "price_one.csv"
    one.write_text("\n".join([HEADER, _row("D7", "777.7")]) + "\n")
    rep = ingest_file(spark, str(one), wh, keys=["DGUID"], n_buckets=16)
    assert rep.status == "ok" and rep.extras["buckets_touched"] == 1

    after = _bucket_file_stats(table_dir)
    changed = {
        p.split("/")[0]
        for p in set(before) | set(after)
        if before.get(p) != after.get(p)
    }
    changed.discard("_SUCCESS")
    assert len(changed) == 1  # exactly one bucket dir replaced
    # and the merge result is correct
    final = {r.DGUID: r.VALUE for r in read_permanent(spark, wh, "priceindex").collect()}
    assert final["D7"] == "777.7" and final["D8"] == "8.0" and len(final) == 200


def test_unkeyed_append_validates_per_file_not_cumulative(spark, tmp_path):
    """ADVICE regression: the 2nd+ appended file must validate its own
    row count, not the cumulative table count."""
    land = tmp_path / "landing"
    land.mkdir()
    wh = str(tmp_path / "wh")
    for day, n in [("d1", 10), ("d2", 7), ("d3", 3)]:
        f = land / f"PriceIndex_{day}.csv"
        f.write_text("\n".join([HEADER] + [_row(f"{day}_{i}", "1.0") for i in range(n)]) + "\n")
        rep = ingest_file(spark, str(f), wh)  # no keys: plain append
        assert (rep.status, rep.loaded_rows) == ("ok", n)
    assert spark.read.parquet(os.path.join(wh, "priceindex")).count() == 20


def test_ingest_audit_log_appends_and_rolls_up(spark, tmp_path):
    from python_lambda_ecs_container_data_etl_aws_spark.sources.audit import (
        load_ingest_log,
        status_rollup,
    )

    land = tmp_path / "landing"
    land.mkdir()
    wh = str(tmp_path / "wh")
    log_dir = str(tmp_path / "log")
    ok = land / "PriceIndex_ok.csv"
    ok.write_text("\n".join([HEADER] + [_row(f"D{i}", "1.0") for i in range(5)]) + "\n")
    ingest_file(spark, str(ok), wh, keys=["DGUID"], log_dir=log_dir)
    bad = land / "price_bad.csv"
    bad.write_text("\n".join([HEADER] + [_row("X", "1") + ",extra,extra"] * 7) + "\n")
    ingest_file(spark, str(bad), wh, keys=["DGUID"], log_dir=log_dir)
    # idempotent re-run of the good file: APPENDS a second row (the log
    # is the immutable record), table stays deduped by the merge
    ingest_file(spark, str(ok), wh, keys=["DGUID"], log_dir=log_dir)

    log = load_ingest_log(spark, log_dir)
    rows = log.collect()
    assert len(rows) == 3
    assert {r.status for r in rows} == {"ok", "rejected"}
    roll = {r.status: (r.n_loads, r.total_rows) for r in status_rollup(log).collect()}
    assert roll["ok"] == (2, 10) and roll["rejected"][0] == 1
    assert read_permanent(spark, wh, "priceindex").count() == 5


def test_on_reject_hook_fires_for_quarantine_and_maxerrors(spark, tmp_path):
    rejected = []
    land = tmp_path / "landing"
    land.mkdir()
    wh = str(tmp_path / "wh")
    unknown = land / "mystery.csv"
    unknown.write_text("a,b\n1,2\n")
    ingest_file(spark, str(unknown), wh, on_reject=rejected.append)
    bad = land / "price_bad.csv"
    bad.write_text("\n".join([HEADER] + [_row("X", "1") + ",x,x"] * 7) + "\n")
    ingest_file(spark, str(bad), wh, on_reject=rejected.append)
    good = land / "PriceIndex_good.csv"
    good.write_text("\n".join([HEADER, _row("D1", "1.0")]) + "\n")
    ingest_file(spark, str(good), wh, on_reject=rejected.append)
    assert [r.status for r in rejected] == ["skipped", "rejected"]
    assert rejected[0].route == registry.ROUTE_QUARANTINE


def test_legacy_unbucketed_table_migrates_on_first_keyed_merge(spark, tmp_path):
    """Tables written by the old flat layout upgrade in place on the
    first keyed ingest, then merge bucket-scoped thereafter."""
    wh = str(tmp_path / "wh")
    table_dir = os.path.join(wh, "priceindex")
    # simulate a legacy flat table
    legacy = spark.createDataFrame(
        [tuple(_row(f"D{i}", f"{i}.0").split(",")) for i in range(20)],
        ", ".join(f"{c} string" for c in registry.PRICEINDEX.canonical_columns),
    )
    legacy.write.mode("overwrite").parquet(table_dir)
    land = tmp_path / "landing"
    land.mkdir()
    f = land / "price_up.csv"
    f.write_text("\n".join([HEADER, _row("D3", "333.3"), _row("D77", "77.0")]) + "\n")
    rep = ingest_file(spark, str(f), wh, keys=["DGUID"], n_buckets=8)
    assert rep.status == "ok"
    final = {r.DGUID: r.VALUE for r in read_permanent(spark, wh, "priceindex").collect()}
    assert len(final) == 21 and final["D3"] == "333.3" and final["D77"] == "77.0"
    # layout is now bucketed
    assert any(e.startswith("__bucket=") for e in os.listdir(table_dir))


def test_add_autoid_survives_1000_partitions(spark):
    """Codegen regression: the per-partition offset is a broadcast join,
    not an O(P)-deep WHEN chain — the plan must compile and ids must
    stay dense at partition counts where a literal chain would blow the
    JVM method limit."""
    from python_lambda_ecs_container_data_etl_aws_spark.sources import chunking

    df = spark.range(3000).select(F.col("id").alias("k"))
    out = chunking.add_autoid(df, ["k"], partitions=1000)
    stats = out.agg(
        F.min("autoid").alias("mn"),
        F.max("autoid").alias("mx"),
        F.count(F.lit(1)).alias("c"),
        F.countDistinct("autoid").alias("d"),
    ).collect()[0]
    assert (stats.mn, stats.mx, stats.c, stats.d) == (1, 3000, 3000, 3000)
    head = out.orderBy("k").limit(3).collect()
    assert [r.autoid for r in head] == [1, 2, 3]
    spark.catalog.clearCache()


def test_bucket_swap_recovers_from_leftover_old_dirs(spark, tmp_path):
    """Crash simulation: a stale `__bucket=k__old` dir from an
    interrupted swap must not break (or double-count) the next ingest."""
    land = tmp_path / "landing"
    land.mkdir()
    wh = str(tmp_path / "wh")
    base = land / "PriceIndex_base.csv"
    base.write_text("\n".join([HEADER] + [_row(f"D{i}", f"{i}.0") for i in range(50)]) + "\n")
    ingest_file(spark, str(base), wh, keys=["DGUID"], n_buckets=8)
    table_dir = os.path.join(wh, "priceindex")
    some_bucket = next(e for e in os.listdir(table_dir) if e.startswith("__bucket="))
    # simulate a crash mid-swap: the aside dir (dot-prefixed, so Spark's
    # partition discovery must ignore it) is still on disk
    import shutil

    leftover = os.path.join(table_dir, "." + some_bucket + "__old")
    shutil.copytree(os.path.join(table_dir, some_bucket), leftover)
    # reads stay clean even BEFORE the next ingest scrubs it
    assert read_permanent(spark, wh, "priceindex").count() == 50
    upd = land / "price_upd.csv"
    upd.write_text("\n".join([HEADER, _row("D1", "111.1")]) + "\n")
    rep = ingest_file(spark, str(upd), wh, keys=["DGUID"], n_buckets=8)
    assert rep.status == "ok"
    assert not os.path.exists(leftover)  # scrubbed by the swap
    final = read_permanent(spark, wh, "priceindex")
    assert final.count() == 50
    vals = {r.DGUID: r.VALUE for r in final.collect()}
    assert vals["D1"] == "111.1"


def test_quarantine_dir_persists_bad_rows(spark, tmp_path):
    """Rejected data is inspectable, not just counted: malformed lines
    land in the quarantine table tagged with their source file."""
    land = tmp_path / "landing"
    land.mkdir()
    wh = str(tmp_path / "wh")
    qdir = str(tmp_path / "quarantine")
    mixed = land / "PriceIndex_mixed.csv"
    mixed.write_text(
        "\n".join([HEADER] + [_row(f"D{i}", "1.0") for i in range(8)]
                  + [_row("BAD", "9") + ",extra,extra"] * 2) + "\n"
    )
    rep = ingest_file(spark, str(mixed), wh, keys=["DGUID"], quarantine_dir=qdir)
    assert rep.status == "ok" and rep.bad_rows == 2  # within maxerrors
    q = spark.read.parquet(qdir)
    assert q.count() == 2
    rows = q.collect()
    assert all(r.source_file == "PriceIndex_mixed.csv" for r in rows)
    assert all("extra" in r.raw_line for r in rows)


def test_add_prefix_sum_matches_global_window(spark):
    """The two-pass prefix sum must equal SUM OVER (ORDER BY) exactly,
    at any partition count (partition boundaries shift the per-partition
    cumsums and offsets but not the global totals)."""
    from pyspark.sql import Window

    from python_lambda_ecs_container_data_etl_aws_spark.sources import chunking

    df = spark.range(500).select(
        F.col("id").alias("k"), ((F.col("id") * 37) % 13 + 1).alias("v")
    )
    w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    expected = {
        r.k: r.c
        for r in df.select("k", F.sum("v").over(w).cast("bigint").alias("c")).collect()
    }
    for parts in (3, 8, 64):
        got = {
            r.k: r.running_total
            for r in chunking.add_prefix_sum(df, ["k"], "v", partitions=parts).collect()
        }
        assert got == expected, f"prefix sum diverged at partitions={parts}"
        spark.catalog.clearCache()


def test_incremental_agg_merge_retracts_emptied_groups(spark):
    """A group whose every row is replaced into another group must reach
    count 0 (caller filters it); the receiving group gains exactly the
    moved measures."""
    from python_lambda_ecs_container_data_etl_aws_spark.sources.merge import (
        incremental_agg_merge,
    )

    base = spark.createDataFrame([("a", 2, 10), ("b", 1, 5)], "g STRING, n BIGINT, s BIGINT")
    retract = spark.createDataFrame([("a", 2, 10)], "g STRING, n BIGINT, s BIGINT")
    delta = spark.createDataFrame([("b", 2, 12)], "g STRING, n BIGINT, s BIGINT")
    out = {
        r.g: (r.n, r.s)
        for r in incremental_agg_merge(base, retract, delta, ["g"], ["n", "s"]).collect()
    }
    assert out == {"a": (0, 0), "b": (3, 17)}
    spark.catalog.clearCache()


def _geo_row(dguid: str, value: str, geo: str) -> str:
    return f"2023-01-01,{geo},{dguid},food,u,1,f,2,v,c,{value},ok,,n,1"


def test_maintained_report_tracks_every_load(spark, tmp_path):
    """The load→rebuild-report loop with the rebuild made incremental:
    after every ingest (inserts, key updates that move rows across
    groups, and a replayed file) the maintained report must equal a
    full recompute from the permanent table — including a group whose
    rows are all replaced away retracting OUT of the report."""
    from python_lambda_ecs_container_data_etl_aws_spark.sources.report import (
        ReportSpec,
        aggregate_state,
        read_report,
    )

    land = tmp_path / "landing"
    land.mkdir()
    wh = str(tmp_path / "wh")
    rdir = str(tmp_path / "report")
    spec = ReportSpec(
        group_keys=("GEO",),
        sums=(("sum_value", "CAST(VALUE AS DECIMAL(18,6))"),),
    )

    def check():
        got = {
            r.GEO: (r.n_rows, float(r.sum_value))
            for r in read_report(spark, rdir).collect()
        }
        want = {
            r.GEO: (r.n_rows, float(r.sum_value))
            for r in aggregate_state(
                read_permanent(spark, wh, "priceindex"), spec
            ).collect()
        }
        assert got == want and got
        return got

    def ingest(name: str, rows: list[str]):
        f = land / name
        f.write_text("\n".join([HEADER] + rows) + "\n")
        rep = ingest_file(
            spark, str(f), wh, keys=["DGUID"], n_buckets=8,
            report_spec=spec, report_dir=rdir,
        )
        assert rep.status == "ok"
        return check()

    base = [_geo_row(f"A{i}", f"{i}.5", "Canada") for i in range(6)] + [
        _geo_row(f"B{i}", "2.0", "Ontario") for i in range(3)
    ]
    got = ingest("PriceIndex_base.csv", base)
    assert got["Canada"] == (6, sum(i + 0.5 for i in range(6)))

    # updates: change values in-place AND move every Ontario row to
    # Quebec (Ontario must retract to zero and vanish), plus inserts
    upd = (
        [_geo_row("A0", "100.0", "Canada")]
        + [_geo_row(f"B{i}", "7.0", "Quebec") for i in range(3)]
        + [_geo_row(f"C{i}", "1.0", "Canada") for i in range(2)]
    )
    got = ingest("PriceIndex_upd.csv", upd)
    assert "Ontario" not in got and got["Quebec"] == (3, 21.0)
    assert got["Canada"] == (8, 100.0 + sum(i + 0.5 for i in range(1, 6)) + 2.0)

    # replaying the same file must be a no-op for the report (upsert
    # idempotence carries over to the maintained state)
    again = ingest("PriceIndex_upd2.csv", upd)
    assert again == got
    # crash-recovery re-run of the SAME file: the load-id marker skips
    # the refresh entirely and the merge is idempotent
    assert ingest("PriceIndex_upd2.csv", upd) == got


def test_audit_log_compaction_and_retention(spark, tmp_path):
    """Nightly maintenance: a closed day's N one-row append files
    compact to one file with identical content; retention drops whole
    partitions older than the cutoff without scanning data."""
    from python_lambda_ecs_container_data_etl_aws_spark.sources.audit import (
        compact_log,
        expire_log,
        load_ingest_log,
        log_ingest,
    )
    from python_lambda_ecs_container_data_etl_aws_spark.sources.pipeline import (
        IngestReport,
    )

    log_dir = str(tmp_path / "log")
    us = 1_700_000_000_000_000  # 2023-11-14 UTC
    day_us = 86_400_000_000
    for d in range(3):
        for i in range(4):
            log_ingest(
                spark,
                log_dir,
                IngestReport(file=f"f{d}_{i}.csv", route="priceindex",
                             loaded_rows=10 + i, status="ok"),
                now_us=us + d * day_us + i,
            )
    before = load_ingest_log(spark, log_dir)
    days = sorted(str(r.log_date) for r in before.select("log_date").distinct().collect())
    assert len(days) == 3
    content_before = sorted(map(tuple, before.collect()))

    d0 = os.path.join(log_dir, f"log_date={days[0]}")
    files_before = [f for f in os.listdir(d0) if f.endswith(".parquet")]
    assert len(files_before) == 4
    assert compact_log(spark, log_dir, days[0]) == 4
    files_after = [f for f in os.listdir(d0) if f.endswith(".parquet")]
    assert len(files_after) == 1
    assert sorted(map(tuple, load_ingest_log(spark, log_dir).collect())) == content_before

    # retention: drop everything before the last day
    assert expire_log(log_dir, keep_after=days[2]) == days[:2]
    left = load_ingest_log(spark, log_dir)
    assert {str(r.log_date) for r in left.collect()} == {days[2]}


def test_report_swap_crash_window_recovers_old_state(spark, tmp_path):
    """Simulated crash between the two renames of the report swap: the
    report dir is missing and the old state sits in the dot-aside —
    every reader/refresh must restore it instead of silently
    rebootstrapping from the next delta."""
    from python_lambda_ecs_container_data_etl_aws_spark.sources.report import (
        ReportSpec,
        aggregate_state,
        last_applied_batch,
        read_report,
        refresh_report,
    )

    spec = ReportSpec(group_keys=("g",), sums=())
    rdir = str(tmp_path / "rep")
    facts = spark.createDataFrame([("a",), ("a",), ("b",)], "g STRING")
    refresh_report(spark, rdir, spec, aggregate_state(facts, spec), marker_batch_id=7)
    # simulate the crash window
    os.rename(rdir, str(tmp_path / ".rep__old"))
    assert last_applied_batch(rdir) == 7  # reader healed the dir
    got = {r.g: r.n_rows for r in read_report(spark, rdir).collect()}
    assert got == {"a": 2, "b": 1}


def test_maintained_report_bootstraps_over_existing_history(spark, tmp_path):
    """Enabling report maintenance on a table that already has history
    must bootstrap by full recompute, not fold a delta into nothing."""
    from python_lambda_ecs_container_data_etl_aws_spark.sources.report import (
        ReportSpec,
        aggregate_state,
        read_report,
    )

    land = tmp_path / "landing"
    land.mkdir()
    wh = str(tmp_path / "wh")
    rdir = str(tmp_path / "report")
    spec = ReportSpec(
        group_keys=("GEO",), sums=(("sum_value", "CAST(VALUE AS DECIMAL(18,6))"),)
    )
    f1 = land / "PriceIndex_hist.csv"
    f1.write_text(
        "\n".join([HEADER] + [_geo_row(f"H{i}", "2.0", "Canada") for i in range(5)]) + "\n"
    )
    ingest_file(spark, str(f1), wh, keys=["DGUID"])  # no report yet
    f2 = land / "PriceIndex_new.csv"
    f2.write_text("\n".join([HEADER, _geo_row("N1", "9.0", "Quebec")]) + "\n")
    ingest_file(
        spark, str(f2), wh, keys=["DGUID"], report_spec=spec, report_dir=rdir
    )
    got = {
        r.GEO: (r.n_rows, float(r.sum_value))
        for r in read_report(spark, rdir).collect()
    }
    want = {
        r.GEO: (r.n_rows, float(r.sum_value))
        for r in aggregate_state(
            read_permanent(spark, wh, "priceindex"), spec
        ).collect()
    }
    assert got == want and got == {"Canada": (5, 10.0), "Quebec": (1, 9.0)}


def test_compact_log_crash_window_recovers_partition(spark, tmp_path):
    """Crash between compact_log's two renames: the partition dir is
    missing and the rows sit in the dot-aside. The next compaction (or
    any later call) must restore the partition, not report it empty."""
    from python_lambda_ecs_container_data_etl_aws_spark.sources.audit import (
        compact_log,
        load_ingest_log,
        log_ingest,
    )
    from python_lambda_ecs_container_data_etl_aws_spark.sources.pipeline import IngestReport

    import datetime as dt

    log_dir = str(tmp_path / "log")
    us = int(
        dt.datetime(2026, 8, 10, 12, tzinfo=dt.timezone.utc).timestamp() * 1_000_000
    )
    for i in range(3):
        log_ingest(
            spark,
            log_dir,
            IngestReport(file=f"f{i}.csv", route="priceindex", status="ok"),
            now_us=us + i,
        )
    # simulate the crash: partition renamed aside, new dir never landed
    os.rename(
        os.path.join(log_dir, "log_date=2026-08-10"),
        os.path.join(log_dir, ".log_date=2026-08-10__old"),
    )
    assert compact_log(spark, log_dir, "2026-08-10") == 3  # healed + compacted
    got = load_ingest_log(spark, log_dir)
    assert got.count() == 3
    assert {r.file for r in got.collect()} == {"f0.csv", "f1.csv", "f2.csv"}


def test_compact_table_merges_small_files_only_in_oversized_buckets(spark, tmp_path):
    """A bucketed table written by a multi-task writer (rows of each
    bucket spread over tasks — what a large merge produces before the
    cluster-by-bucket write landed) has many files per bucket.
    Compaction must rewrite ONLY the oversized buckets, leave exactly
    one file per compacted bucket, and preserve contents bit-for-bit."""
    from python_lambda_ecs_container_data_etl_aws_spark.sources.pipeline import (
        BUCKET_COL,
        _bucket_expr,
        compact_table,
    )

    table_dir = str(tmp_path / "frag")
    rows = [(f"D{i}", float(i)) for i in range(400)]
    df = spark.createDataFrame(rows, "DGUID STRING, VALUE DOUBLE").withColumn(
        BUCKET_COL, _bucket_expr(["DGUID"], 4)
    )
    # 8 tasks x 4 buckets -> up to 8 files per bucket dir
    df.repartition(8).write.partitionBy(BUCKET_COL).parquet(table_dir)

    before = _bucket_file_stats(table_dir)
    per_bucket = {}
    for p in before:
        b = p.split("/")[0]
        if b.startswith(f"{BUCKET_COL}=") and p.endswith(".parquet"):
            per_bucket[b] = per_bucket.get(b, 0) + 1
    oversized = {b for b, n in per_bucket.items() if n > 1}
    assert oversized  # the multi-task writer really fragmented buckets

    content_before = sorted(
        (r.DGUID, r.VALUE)
        for r in spark.read.parquet(table_dir).drop(BUCKET_COL).collect()
    )

    n = compact_table(spark, table_dir, max_files_per_bucket=1)
    assert n == len(oversized)

    after = _bucket_file_stats(table_dir)
    per_bucket_after = {}
    for p in after:
        b = p.split("/")[0]
        if b.startswith(f"{BUCKET_COL}=") and p.endswith(".parquet"):
            per_bucket_after[b] = per_bucket_after.get(b, 0) + 1
    assert per_bucket_after and all(c == 1 for c in per_bucket_after.values())

    changed = {
        p.split("/")[0]
        for p in set(before) | set(after)
        if before.get(p) != after.get(p)
    }
    changed.discard("_SUCCESS")
    assert changed == oversized  # healthy buckets untouched (same inode/mtime)

    content_after = sorted(
        (r.DGUID, r.VALUE)
        for r in spark.read.parquet(table_dir).drop(BUCKET_COL).collect()
    )
    assert content_after == content_before
    # idempotent: a second pass finds nothing to do
    assert compact_table(spark, table_dir, max_files_per_bucket=1) == 0


def test_merge_writes_one_file_per_touched_bucket(spark, tmp_path):
    """The ingest merge clusters by bucket before its partitioned
    write: repeated loads must NOT accrete files inside bucket dirs."""
    land = tmp_path / "landing"
    land.mkdir()
    wh = str(tmp_path / "wh")
    base = land / "PriceIndex_base.csv"
    base.write_text("\n".join([HEADER] + [_row(f"D{i}", f"{i}.0") for i in range(200)]) + "\n")
    ingest_file(spark, str(base), wh, keys=["DGUID"], n_buckets=8)
    for v in ("1.1", "2.2", "3.3"):
        f = land / f"price_hit_{v.replace('.', '')}.csv"
        f.write_text("\n".join([HEADER, _row("D7", v)]) + "\n")
        ingest_file(spark, str(f), wh, keys=["DGUID"], n_buckets=8)
    table_dir = os.path.join(wh, "priceindex")
    for entry in os.listdir(table_dir):
        if entry.startswith("__bucket="):
            n = sum(
                1
                for f in os.listdir(os.path.join(table_dir, entry))
                if f.endswith(".parquet")
            )
            assert n == 1, (entry, n)
    final = {r.DGUID: r.VALUE for r in read_permanent(spark, wh, "priceindex").collect()}
    assert final["D7"] == "3.3" and len(final) == 200


def test_compact_table_unbucketed_append_layout(spark, tmp_path):
    """The keyless append path adds one file per load; whole-table
    compaction rewrites it to one file and preserves contents."""
    from python_lambda_ecs_container_data_etl_aws_spark.sources.pipeline import (
        compact_table,
    )

    land = tmp_path / "landing"
    land.mkdir()
    wh = str(tmp_path / "wh")
    for day, n in [("d1", 10), ("d2", 7), ("d3", 3)]:
        f = land / f"PriceIndex_{day}.csv"
        f.write_text("\n".join([HEADER] + [_row(f"{day}_{i}", "1.0") for i in range(n)]) + "\n")
        ingest_file(spark, str(f), wh)  # no keys: plain append
    table_dir = os.path.join(wh, "priceindex")
    n_before = sum(1 for f in os.listdir(table_dir) if f.endswith(".parquet"))
    assert n_before >= 3
    content_before = sorted(
        (r.DGUID, r.VALUE) for r in read_permanent(spark, wh, "priceindex").collect()
    )
    assert compact_table(spark, table_dir) == 1
    assert sum(1 for f in os.listdir(table_dir) if f.endswith(".parquet")) == 1
    content_after = sorted(
        (r.DGUID, r.VALUE) for r in read_permanent(spark, wh, "priceindex").collect()
    )
    assert content_after == content_before
    assert compact_table(spark, table_dir) == 0


def test_compact_table_crash_mid_swap_is_healed(spark, tmp_path):
    """Simulate a crash between the two renames of the whole-table
    swap (live dir gone, aside dir holding every row): the next
    compact_table OR ingest_file must restore the table instead of
    losing it / recreating it from one delta."""
    from python_lambda_ecs_container_data_etl_aws_spark.sources.pipeline import (
        compact_table,
    )
    from python_lambda_ecs_container_data_etl_aws_spark.sources.swap import (
        aside as _aside_dir,
    )

    land = tmp_path / "landing"
    land.mkdir()
    wh = str(tmp_path / "wh")
    for day, n in [("d1", 10), ("d2", 7)]:
        f = land / f"PriceIndex_{day}.csv"
        f.write_text("\n".join([HEADER] + [_row(f"{day}_{i}", "1.0") for i in range(n)]) + "\n")
        ingest_file(spark, str(f), wh)
    table_dir = os.path.join(wh, "priceindex")
    content = sorted(
        (r.DGUID, r.VALUE) for r in read_permanent(spark, wh, "priceindex").collect()
    )

    # crash window: table renamed aside, staging never renamed in
    os.rename(table_dir, _aside_dir(table_dir))
    assert not os.path.isdir(table_dir)
    compact_table(spark, table_dir)  # heals (and may compact)
    restored = sorted(
        (r.DGUID, r.VALUE) for r in read_permanent(spark, wh, "priceindex").collect()
    )
    assert restored == content

    # same crash, healed by the next ingest instead
    os.rename(table_dir, _aside_dir(table_dir))
    f = land / "PriceIndex_d3.csv"
    f.write_text("\n".join([HEADER, _row("d3_0", "1.0")]) + "\n")
    rep = ingest_file(spark, str(f), wh)
    assert rep.status == "ok"
    healed = sorted(
        (r.DGUID, r.VALUE) for r in read_permanent(spark, wh, "priceindex").collect()
    )
    assert healed == sorted(content + [("d3_0", "1.0")])


def test_report_refresh_applies_for_new_drop_reusing_filename_and_counts(spark, tmp_path):
    """Review regression: a NEW daily drop that reuses yesterday's
    filename and row counts (updated values only) must refresh the
    maintained report — only a true crash replay of the same physical
    file (same mtime/size) may skip via the marker."""
    import time as _time

    from python_lambda_ecs_container_data_etl_aws_spark.sources.report import (
        ReportSpec,
        read_report,
    )

    land = tmp_path / "landing"
    land.mkdir()
    wh = str(tmp_path / "wh")
    rdir = str(tmp_path / "report")
    spec = ReportSpec(
        group_keys=("GEO",),
        sums=(("sum_value", "CAST(VALUE AS DECIMAL(18,6))"),),
    )
    f = land / "PriceIndex_daily.csv"
    f.write_text("\n".join([HEADER, _row("D1", "10.0")]) + "\n")
    ingest_file(spark, str(f), wh, keys=["DGUID"], report_spec=spec, report_dir=rdir)
    assert float(read_report(spark, rdir).collect()[0].sum_value) == 10.0

    # same filename, same row count, new content + mtime -> must apply
    _time.sleep(0.01)
    f.write_text("\n".join([HEADER, _row("D1", "99.0")]) + "\n")
    ingest_file(spark, str(f), wh, keys=["DGUID"], report_spec=spec, report_dir=rdir)
    assert float(read_report(spark, rdir).collect()[0].sum_value) == 99.0


def test_bucket_swap_crash_mid_rename_restores_stranded_bucket(spark, tmp_path):
    """Review regression (critical): a crash between the two renames of
    one bucket's swap leaves that bucket aside; the next INGEST must
    RESTORE it — blindly scrubbing the aside (the old behavior)
    destroyed the only surviving copy and silently lost the bucket.
    Readers must NOT heal (advisor race: a status query healing
    mid-swap can rmtree the maintainer's live staging) — they read the
    surviving buckets and leave the dir untouched."""
    land = tmp_path / "landing"
    land.mkdir()
    wh = str(tmp_path / "wh")
    base = land / "PriceIndex_base.csv"
    base.write_text("\n".join([HEADER] + [_row(f"D{i}", f"{i}.0") for i in range(200)]) + "\n")
    ingest_file(spark, str(base), wh, keys=["DGUID"], n_buckets=8)
    table_dir = os.path.join(wh, "priceindex")
    content = sorted(
        (r.DGUID, r.VALUE) for r in read_permanent(spark, wh, "priceindex").collect()
    )
    buckets = sorted(
        e for e in os.listdir(table_dir) if e.startswith("__bucket=")
    )
    victim = buckets[0]
    # crash window: bucket renamed aside, staged copy never renamed in
    os.rename(
        os.path.join(table_dir, victim),
        os.path.join(table_dir, "." + victim + "__old"),
    )

    # a read does NOT mutate the dir: it sees only the surviving
    # buckets (the dot-aside is invisible to partition discovery) and
    # leaves the aside in place for the maintainer to restore
    partial = sorted(
        (r.DGUID, r.VALUE) for r in read_permanent(spark, wh, "priceindex").collect()
    )
    assert len(partial) < len(content)
    assert os.path.isdir(os.path.join(table_dir, "." + victim + "__old"))

    # healed by the next ingest's merge path
    one = land / "price_one.csv"
    one.write_text("\n".join([HEADER, _row("D7", "777.7")]) + "\n")
    rep = ingest_file(spark, str(one), wh, keys=["DGUID"], n_buckets=8)
    assert rep.status == "ok"
    final = {r.DGUID: r.VALUE for r in read_permanent(spark, wh, "priceindex").collect()}
    assert len(final) == 200 and final["D7"] == "777.7" and final["D0"] == "0.0"


def test_bucket_layout_pinned_across_loads(spark, tmp_path):
    """Review regression: a later load passing a different n_buckets
    must use the table's persisted layout (not re-hash the delta into
    buckets the old rows don't occupy — silent duplicate keys), and a
    different key set is a hard error."""
    import pytest as _pt

    land = tmp_path / "landing"
    land.mkdir()
    wh = str(tmp_path / "wh")
    base = land / "PriceIndex_base.csv"
    base.write_text("\n".join([HEADER] + [_row(f"D{i}", f"{i}.0") for i in range(100)]) + "\n")
    ingest_file(spark, str(base), wh, keys=["DGUID"], n_buckets=16)

    upd = land / "price_upd.csv"
    upd.write_text("\n".join([HEADER, _row("D7", "777.7")]) + "\n")
    # caller passes the (wrong) default n_buckets=64 — layout must win
    rep = ingest_file(spark, str(upd), wh, keys=["DGUID"])
    assert rep.status == "ok"
    final = {r.DGUID: r.VALUE for r in read_permanent(spark, wh, "priceindex").collect()}
    assert len(final) == 100  # no duplicate D7
    assert final["D7"] == "777.7"

    bad = land / "price_bad.csv"
    bad.write_text("\n".join([HEADER, _row("D8", "8.8")]) + "\n")
    rejects = []
    rep = ingest_file(
        spark, str(bad), wh, keys=["DGUID", "GEO"], on_reject=rejects.append
    )
    assert rep.status == "rejected" and "bucketed on keys" in rep.detail
    assert rejects and rejects[0].status == "rejected"

    # pre-layout table + wrong n_buckets claim: validated and rejected,
    # never adopted (no silent duplicate keys, no wrong layout pinned)
    table_dir = os.path.join(wh, "priceindex")
    os.remove(os.path.join(table_dir, ".layout.json"))
    wrong = land / "price_wrong.csv"
    wrong.write_text("\n".join([HEADER, _row("D9", "9.9")]) + "\n")
    rep2 = ingest_file(spark, str(wrong), wh, keys=["DGUID"], n_buckets=64)
    assert rep2.status == "rejected" and "does not match" in rep2.detail
    assert not os.path.isfile(os.path.join(table_dir, ".layout.json"))
    # the correct claim is adopted and the load lands
    rep3 = ingest_file(spark, str(wrong), wh, keys=["DGUID"], n_buckets=16)
    assert rep3.status == "ok"
    assert os.path.isfile(os.path.join(table_dir, ".layout.json"))
    final = {r.DGUID: r.VALUE for r in read_permanent(spark, wh, "priceindex").collect()}
    assert final["D9"] == "9.9" and len(final) == 100  # D9 upserted in place


def test_load_ingest_log_survives_full_retention_and_crash(spark, tmp_path):
    """After retention expires every day, the status query returns a
    typed empty log — never a schema-inference error. A crashed
    compaction swap is NOT healed by the reader (advisor race: a status
    query mutating the dir can collide with the maintainer's in-flight
    swap) — the stranded day is invisible until the next maintenance
    entry point (log_ingest / compact_log / expire_log) heals it."""
    from python_lambda_ecs_container_data_etl_aws_spark.sources.audit import (
        compact_log,
        expire_log,
        load_ingest_log,
        log_ingest,
    )
    from python_lambda_ecs_container_data_etl_aws_spark.sources.pipeline import (
        IngestReport,
    )

    log_dir = str(tmp_path / "log")
    log_ingest(
        spark, log_dir, IngestReport(file="a.csv", route="t", loaded_rows=3),
        now_us=1_700_000_000_000_000,
    )
    assert load_ingest_log(spark, log_dir).count() == 1

    # crash window: day partition renamed aside mid-compaction
    import os

    day = next(e for e in os.listdir(log_dir) if e.startswith("log_date="))
    os.rename(
        os.path.join(log_dir, day), os.path.join(log_dir, "." + day + "__old")
    )
    # reader: stranded day invisible, dir untouched (no healing race)
    assert load_ingest_log(spark, log_dir).count() == 0
    assert os.path.isdir(os.path.join(log_dir, "." + day + "__old"))
    # the next write heals it — the appended row joins the restored one
    log_ingest(
        spark, log_dir, IngestReport(file="b.csv", route="t", loaded_rows=1),
        now_us=1_700_000_000_000_000,
    )
    assert load_ingest_log(spark, log_dir).count() == 2

    dropped = expire_log(log_dir, keep_after="9999-01-01")
    assert dropped
    empty = load_ingest_log(spark, log_dir)
    assert empty.count() == 0
    assert "status" in empty.columns  # typed, not schema-less

    # compacting a nonexistent day on the empty log is a no-op
    assert compact_log(spark, log_dir, "2023-01-01") == 0


def test_empty_accepted_delta_bucketed_ingest_is_clean_noop(spark, tmp_path):
    """Advisor regression: a header-only CSV (src_rows=0) — or a file
    whose bad rows are all quarantined within maxerrors — yields zero
    accepted rows. The bucketed staging write then produces no part
    files, and the read-back verification used to die on parquet
    schema inference instead of reporting a clean zero-row load. Both
    bucketed paths (merge into existing, fresh/migration) must
    short-circuit and leave the table byte-identical."""
    land = tmp_path / "landing"
    land.mkdir()
    wh = str(tmp_path / "wh")
    empty = land / "PriceIndex_empty.csv"
    empty.write_text(HEADER + "\n")

    # fresh-table path: no table is created, status ok, zero rows
    rep = ingest_file(spark, str(empty), wh, keys=["DGUID"], n_buckets=8)
    assert rep.status == "ok" and rep.loaded_rows == 0
    assert rep.extras["persisted_rows"] == 0
    assert not os.path.isdir(os.path.join(wh, "priceindex"))

    # existing-bucketed-table path: untouched buckets stay untouched
    base = land / "PriceIndex_base.csv"
    base.write_text(
        "\n".join([HEADER] + [_row(f"D{i}", f"{i}.0") for i in range(50)]) + "\n"
    )
    ingest_file(spark, str(base), wh, keys=["DGUID"], n_buckets=8)
    table_dir = os.path.join(wh, "priceindex")
    before = {
        p: os.stat(os.path.join(dp, p)).st_mtime_ns
        for dp, _, fs in os.walk(table_dir)
        for p in fs
    }
    empty2 = land / "PriceIndex_empty2.csv"
    empty2.write_text(HEADER + "\n")
    rep2 = ingest_file(spark, str(empty2), wh, keys=["DGUID"], n_buckets=8)
    assert rep2.status == "ok" and rep2.extras["buckets_touched"] == 0
    after = {
        p: os.stat(os.path.join(dp, p)).st_mtime_ns
        for dp, _, fs in os.walk(table_dir)
        for p in fs
    }
    assert after == before  # filesystem byte/mtime identity
    assert read_permanent(spark, wh, "priceindex").count() == 50

    # all-bad-rows-within-maxerrors: same zero-accepted shape
    allbad = land / "PriceIndex_allbad.csv"
    allbad.write_text("\n".join([HEADER, "only,three,cols", "a,b,c"]) + "\n")
    rep3 = ingest_file(spark, str(allbad), wh, keys=["DGUID"], maxerrors=5, n_buckets=8)
    assert rep3.status == "ok" and rep3.loaded_rows == 0 and rep3.bad_rows == 2
    assert read_permanent(spark, wh, "priceindex").count() == 50


def test_compact_table_aborts_swap_on_short_staging_write(spark, tmp_path, monkeypatch):
    """Advisor regression: compact_table must apply the same read-back
    row-count gate as ingest ('never install a failed write') — a
    silently short staging write aborts BOTH swap paths and leaves the
    live table untouched."""
    import pytest as _pt

    from python_lambda_ecs_container_data_etl_aws_spark.sources import pipeline as pl
    from python_lambda_ecs_container_data_etl_aws_spark.sources import recorded, swap

    land = tmp_path / "landing"
    land.mkdir()
    # fragmented bucketed table (multi-task write -> >1 file per bucket)
    table_dir = str(tmp_path / "frag")
    rows = [(f"D{i}", float(i)) for i in range(80)]
    (
        spark.createDataFrame(rows, "DGUID STRING, VALUE DOUBLE")
        .withColumn(pl.BUCKET_COL, pl._bucket_expr(["DGUID"], 4))
        .repartition(8)
        .write.partitionBy(pl.BUCKET_COL)
        .parquet(table_dir)
    )
    before = {
        os.path.join(dp, p)
        for dp, _, fs in os.walk(table_dir)
        for p in fs
        if p.endswith(".parquet")
    }

    real = recorded.footer_rows
    monkeypatch.setattr(recorded, "footer_rows", lambda path: real(path) - 1)
    with _pt.raises(recorded.ShortWrite, match="read back"):
        pl.compact_table(spark, table_dir)
    monkeypatch.setattr(recorded, "footer_rows", real)
    after = {
        os.path.join(dp, p)
        for dp, _, fs in os.walk(table_dir)
        for p in fs
        if p.endswith(".parquet")
    }
    assert after == before  # no bucket swapped, no staging left live
    assert not os.path.isdir(swap.staging(table_dir))
    assert spark.read.parquet(table_dir).count() == 80

    # unbucketed whole-table path: same abort contract
    wh2 = str(tmp_path / "wh2")
    for day in ["d1", "d2"]:
        f = land / f"PriceIndex_u_{day}.csv"
        f.write_text(
            "\n".join([HEADER] + [_row(f"u{day}_{i}", "1.0") for i in range(10)]) + "\n"
        )
        ingest_file(spark, str(f), wh2)  # keyless append
    t2 = os.path.join(wh2, "priceindex")
    monkeypatch.setattr(recorded, "footer_rows", lambda path: real(path) - 1)
    with _pt.raises(recorded.ShortWrite, match="read back"):
        pl.compact_table(spark, t2)
    monkeypatch.setattr(recorded, "footer_rows", real)
    assert spark.read.parquet(t2).count() == 20
    # and with the healthy read-back, compaction proceeds normally
    assert pl.compact_table(spark, t2) == 1
    assert spark.read.parquet(t2).count() == 20


def test_hot_key_skew_join_aqe_split_and_salt_agree(spark):
    """SURVEY §4 skew posture, demonstrated: one hot key (a dominant
    GEO) holding 80% of a large-large SMJ's rows. AQE's skew-join split
    must fire on this shape (thresholds scaled to local data sizes —
    the 256MB default assumes cluster partitions), and salted_join must
    produce identical results while flattening the per-partition row
    spread. Timings recorded in BASELINE.md (round 3): plain/AQE-off
    5.95 s, AQE skew split 3.61 s, salted 3.10 s at 10M rows."""
    from python_lambda_ecs_container_data_etl_aws_spark.functions.skew import (
        salted_join,
    )

    confs = {
        # BOTH thresholds: the session pins an explicit
        # adaptive.autoBroadcastJoinThreshold (round 7), so -1 on the
        # static conf alone no longer stops AQE converting the SMJ to
        # broadcast (which would hide the skew split this test pins)
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "4m",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "2m",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        n_hot, n_cold, n_keys = 2_000_000, 500_000, 5_000
        fact = (
            spark.range(n_hot + n_cold)
            .withColumn(
                "k",
                F.when(F.col("id") < n_hot, F.lit(0)).otherwise(
                    (F.col("id") % (n_keys - 1)) + 1
                ),
            )
            .withColumn("pad", F.md5(F.col("id").cast("string")))
        )
        dim = spark.range(n_keys).withColumnRenamed("id", "k").withColumn(
            "w", (F.col("k") * 31) % 101
        )

        def agg_of(j):
            # pad is consumed so the payload actually crosses the shuffle
            return j.groupBy().agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.length("pad") + F.col("w")).alias("s"),
            )

        plain = agg_of(fact.join(dim, "k"))
        plain_rows = plain.collect()
        assert "skew=true" in plain._jdf.queryExecution().executedPlan().toString()

        salted = agg_of(salted_join(fact, dim, "k", salt_buckets=16))
        assert [tuple(r) for r in salted.collect()] == [tuple(r) for r in plain_rows]

        # the salt really flattens the hot key: max rows in any
        # (k, salt) bucket is ~1/16 of the hot key's rows
        salt_expr = F.abs(F.xxhash64(*[F.col(c) for c in fact.columns])) % 16
        spread = (
            fact.withColumn("__salt", salt_expr)
            .groupBy("k", "__salt")
            .count()
            .agg(F.max("count").alias("mx"))
            .collect()[0]
            .mx
        )
        assert spread < n_hot / 16 * 1.2
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_idempotent_write_empty_frame_is_noop(spark, tmp_path):
    """Empty-sweep regression: an empty frame must not create a
    part-file-less dir (unreadable table) on first write, and must
    leave an existing table untouched."""
    path = str(tmp_path / "tbl")
    empty = spark.createDataFrame([], "k BIGINT, y INT")
    write_partitioned_idempotent(empty, path, ["y"])
    assert not os.path.isdir(path)  # never-written path stays missing

    data = spark.createDataFrame([(1, 1995), (2, 1996)], "k BIGINT, y INT")
    write_partitioned_idempotent(data, path, ["y"])
    assert spark.read.parquet(path).count() == 2
    write_partitioned_idempotent(empty, path, ["y"])  # no-op on existing
    assert spark.read.parquet(path).count() == 2


def test_readers_surface_stranded_asides(spark, tmp_path):
    """Readers stay mutation-free over crash-window leftovers (healing
    races the maintainer), but must not be SILENT about them: stranded
    dot-prefixed aside dirs warn (or raise under strict=True), and the
    aside dirs themselves are untouched afterwards."""
    import warnings as _w

    import pytest as _pt

    from python_lambda_ecs_container_data_etl_aws_spark.sources import audit
    from python_lambda_ecs_container_data_etl_aws_spark.sources.pipeline import (
        IngestReport,
        stranded_asides,
    )

    land = tmp_path / "landing"
    land.mkdir()
    wh = str(tmp_path / "wh")
    f = land / "PriceIndex_x.csv"
    f.write_text("\n".join([HEADER] + [_row(f"D{i}", "1.0") for i in range(5)]) + "\n")
    ingest_file(spark, str(f), wh, keys=["DGUID"])
    table_dir = os.path.join(wh, "priceindex")

    # healthy table: silent
    with _w.catch_warnings():
        _w.simplefilter("error")
        assert read_permanent(spark, wh, "priceindex").count() == 5
    assert stranded_asides(table_dir) == []

    # plant a crashed per-bucket swap leftover
    aside = os.path.join(table_dir, ".__bucket=0__old")
    os.makedirs(aside)
    with _pt.warns(UserWarning, match="stranded swap aside"):
        read_permanent(spark, wh, "priceindex")
    with _pt.raises(RuntimeError, match="stranded swap aside"):
        read_permanent(spark, wh, "priceindex", strict=True)
    assert os.path.isdir(aside)  # reader never healed/mutated it

    # audit log: stranded day partition warns, reads the rest
    from python_lambda_ecs_container_data_etl_aws_spark.sources.audit import (
        load_ingest_log,
    )

    log_dir = str(tmp_path / "log")
    audit.log_ingest(
        spark, log_dir, IngestReport(file="x.csv", route="priceindex", loaded_rows=5)
    )
    with _w.catch_warnings():
        _w.simplefilter("error")
        assert load_ingest_log(spark, log_dir).count() == 1
    os.makedirs(os.path.join(log_dir, ".log_date=2001-01-01__old"))
    with _pt.warns(UserWarning, match="stranded"):
        assert load_ingest_log(spark, log_dir).count() == 1


def test_whole_table_stranded_aside_detected(spark, tmp_path):
    """The sibling .<table>__old dir (crashed whole-table swap of an
    unbucketed compaction) is detected by stranded_asides and warned
    on read, same as per-bucket asides."""
    import warnings as _w

    import pytest as _pt

    from python_lambda_ecs_container_data_etl_aws_spark.sources.pipeline import (
        stranded_asides,
    )

    land = tmp_path / "landing"
    land.mkdir()
    wh = str(tmp_path / "wh")
    f = land / "PriceIndex_y.csv"
    f.write_text("\n".join([HEADER] + [_row(f"D{i}", "1.0") for i in range(4)]) + "\n")
    ingest_file(spark, str(f), wh, keys=["DGUID"])
    table_dir = os.path.join(wh, "priceindex")

    aside = os.path.join(wh, ".priceindex__old")
    os.makedirs(aside)
    assert stranded_asides(table_dir) == [aside]
    with _pt.warns(UserWarning, match="stranded swap aside"):
        read_permanent(spark, wh, "priceindex")
    assert os.path.isdir(aside)


def _put(path, text):
    os.makedirs(path)
    with open(os.path.join(path, "part"), "w") as fh:
        fh.write(text)


def _got(path):
    with open(os.path.join(path, "part")) as fh:
        return fh.read()


@pytest.mark.parametrize("child", [False, True], ids=["whole_dir", "partition_child"])
@pytest.mark.parametrize(
    "window", ["before_rename_aside", "between_renames", "before_aside_dropped"]
)
def test_swap_heal_leaves_old_or_new_never_lost(tmp_path, window, child):
    """A crash in each window of the swap protocol — before the live dir
    is renamed aside, between the two renames, after staging is renamed
    in but before the aside is dropped — heals to the old or the new
    data, never neither, and leaves no aside behind. A partition child
    heals through its parent and leaves its siblings alone."""
    from python_lambda_ecs_container_data_etl_aws_spark.sources import swap

    parent = str(tmp_path / "t")
    live = os.path.join(parent, "__bucket=0") if child else parent
    staging = str(tmp_path / "staging")
    if child:
        _put(os.path.join(parent, "__bucket=1"), "sibling")
    _put(live, "old")
    _put(staging, "new")
    if window != "before_rename_aside":
        os.rename(live, swap.aside(live))
    if window == "before_aside_dropped":
        os.rename(staging, live)

    if child:
        swap.heal_children(parent)
    else:
        swap.heal(live)

    assert _got(live) == ("new" if window == "before_aside_dropped" else "old")
    assert swap.stranded_asides(parent) == []
    if child:
        assert _got(os.path.join(parent, "__bucket=1")) == "sibling"
    # the retried swap installs the new data
    if os.path.isdir(staging):
        swap.swap(staging, live)
    assert _got(live) == "new"
    assert swap.stranded_asides(parent) == [] and not os.path.isdir(staging)


def test_swap_protocol_has_one_implementation():
    """The aside name and the renames live in sources/swap.py alone, so
    the crash-safe swap cannot fork into per-module copies again."""
    import python_lambda_ecs_container_data_etl_aws_spark as pkg

    root = os.path.dirname(pkg.__file__)
    holders = set()
    for dirpath, _, files in os.walk(root):
        for f in files:
            if f.endswith(".py"):
                path = os.path.join(dirpath, f)
                with open(path, encoding="utf-8") as fh:
                    text = fh.read()
                if "__old" in text or "os.rename" in text:
                    holders.add(os.path.relpath(path, root))
    assert holders == {os.path.join("sources", "swap.py")}


def test_package_tables_have_one_reader_and_one_persist_owner():
    """Every parquet read in the package goes through
    sources/recorded.read, the one reader that passes a recorded or a
    footer schema (and infers only for a path with no local data file),
    the catalog's test tables and the serving table included, and every
    pyarrow parquet write (``pq.write_table``) is in sources/recorded.py
    too. Rows the driver holds become a DataFrame only through
    session.local_frame, the one ``createDataFrame``. pipeline.py persists one relation, the marked merge,
    in the one function that owns it and releases it in ``finally``, and
    collects no ``distinct()`` set. The bucket directory name is spelled
    in pipeline.py alone, so no other module lays out or lists buckets.
    recorded.install is the one installer: the swaps are called and
    write counts observed in sources/recorded.py alone."""
    import ast

    import python_lambda_ecs_container_data_etl_aws_spark.sources as src

    root = os.path.dirname(src.__file__)

    def calls(name):
        with open(os.path.join(root, name), encoding="utf-8") as fh:
            tree = ast.parse(fh.read())
        for fn in ast.walk(tree):
            if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                for node in ast.walk(fn):
                    if isinstance(node, ast.Call) and isinstance(
                        node.func, ast.Attribute
                    ):
                        yield fn.name, node

    def parquet_reads(name):
        return {
            fn
            for fn, c in calls(name)
            if c.func.attr == "parquet" and ".read" in ast.unparse(c.func.value)
        }

    assert parquet_reads("pipeline.py") == set()
    assert parquet_reads("report.py") == set()
    assert parquet_reads("recorded.py") == {"read"}

    persists = [
        fn for fn, c in calls("pipeline.py") if c.func.attr in ("persist", "cache")
    ]
    assert persists == ["_stage_merge"]
    with open(os.path.join(root, "pipeline.py"), encoding="utf-8") as fh:
        tree = ast.parse(fh.read())
    owner = next(
        n for n in ast.walk(tree)
        if isinstance(n, ast.FunctionDef) and n.name == "_stage_merge"
    )
    assert any(
        isinstance(n, ast.Try)
        and "unpersist" in ast.unparse(ast.Module(body=n.finalbody, type_ignores=[]))
        for n in ast.walk(owner)
    )
    assert not [
        fn
        for fn, c in calls("pipeline.py")
        if c.func.attr == "collect"
        and isinstance(c.func.value, ast.Call)
        and isinstance(c.func.value.func, ast.Attribute)
        and c.func.value.func.attr == "distinct"
    ]

    import python_lambda_ecs_container_data_etl_aws_spark as pkg

    pkg_root = os.path.dirname(pkg.__file__)
    spellers = set()
    for dirpath, _, files in os.walk(pkg_root):
        for f in files:
            if f.endswith(".py"):
                path = os.path.join(dirpath, f)
                with open(path, encoding="utf-8") as fh:
                    if "__bucket=" in fh.read():
                        spellers.add(os.path.relpath(path, pkg_root))
    assert spellers == {os.path.join("sources", "pipeline.py")}

    readers, swappers, observers, local_rows = set(), set(), set(), set()
    arrow_writers = set()
    for dirpath, _, files in os.walk(pkg_root):
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(dirpath, f)
            rel = os.path.relpath(path, pkg_root)
            with open(path, encoding="utf-8") as fh:
                text = fh.read()
            if "Observation" in text:
                observers.add(rel)
            tree = ast.parse(text)
            for fn in ast.walk(tree):
                if isinstance(fn, ast.FunctionDef):
                    for c in ast.walk(fn):
                        if isinstance(c, ast.Attribute) and c.attr == "createDataFrame":
                            local_rows.add((rel, fn.name))
            for c in ast.walk(tree):
                if not (isinstance(c, ast.Call) and isinstance(c.func, ast.Attribute)):
                    continue
                callee = ast.unparse(c.func.value)
                if c.func.attr == "parquet" and ".read" in callee:
                    readers.add(rel)
                if c.func.attr in ("swap", "swap_children") and callee == "swap":
                    swappers.add(rel)
                if c.func.attr == "write_table":
                    arrow_writers.add(rel)
    recorded_py = os.path.join("sources", "recorded.py")
    assert readers == {recorded_py}
    assert arrow_writers == {recorded_py}
    assert local_rows == {("session.py", "local_frame")}
    assert swappers == {recorded_py}
    assert observers == {recorded_py}


def test_synth_sf_replication_invariants(tmp_path):
    """tools/synth_sf.py keyed replication: referential integrity
    holds across replicas, per-replica document near-dup structure is
    preserved while cross-replica shingles are salted apart, and
    embedding rolls keep intra-replica geometry (norms) exactly."""
    import sys

    import duckdb

    sys.path.insert(0, "/root/repo/tools")
    from synth_sf import synth

    dst = str(tmp_path / "sf2x")
    synth(SF_DIR, dst, factor=2)
    con = duckdb.connect()
    # row counts: fixed dims stay, facts double
    for t, mult in [
        ("region", 1), ("nation", 1), ("customer", 2), ("supplier", 2),
        ("part", 2), ("orders", 2), ("lineitem", 2), ("events", 2),
        ("documents", 2), ("embeddings", 2),
    ]:
        src_n = con.execute(
            f"SELECT COUNT(*) FROM '{SF_DIR}/{t}.parquet'"
        ).fetchone()[0]
        dst_n = con.execute(
            f"SELECT COUNT(*) FROM '{dst}/{t}.parquet'"
        ).fetchone()[0]
        assert dst_n == mult * src_n, (t, src_n, dst_n)
    # referential integrity across the replica boundary
    assert con.execute(
        f"SELECT COUNT(*) FROM '{dst}/lineitem.parquet' l "
        f"LEFT JOIN '{dst}/orders.parquet' o ON l.l_orderkey = o.o_orderkey "
        "WHERE o.o_orderkey IS NULL"
    ).fetchone()[0] == 0
    assert con.execute(
        f"SELECT COUNT(*) FROM '{dst}/orders.parquet' o "
        f"LEFT JOIN '{dst}/customer.parquet' c ON o.o_custkey = c.c_custkey "
        "WHERE c.c_custkey IS NULL"
    ).fetchone()[0] == 0
    # keys stay unique after offsetting
    for t, k in [("orders", "o_orderkey"), ("documents", "doc_id"),
                 ("embeddings", "vec_id"), ("events", "event_id")]:
        n, nd = con.execute(
            f"SELECT COUNT(*), COUNT(DISTINCT {k}) FROM '{dst}/{t}.parquet'"
        ).fetchone()
        assert n == nd, (t, n, nd)
    # documents: n_chars tracks the salted text; exact-dup cluster
    # structure must NOT merge across replicas (salts differ)
    assert con.execute(
        f"SELECT COUNT(*) FROM '{dst}/documents.parquet' "
        "WHERE n_chars != length(text)"
    ).fetchone()[0] == 0
    src_dups = con.execute(
        "SELECT COALESCE(SUM(c - 1), 0) FROM (SELECT COUNT(*) AS c FROM "
        f"'{SF_DIR}/documents.parquet' GROUP BY md5(text))"
    ).fetchone()[0]
    dst_dups = con.execute(
        "SELECT COALESCE(SUM(c - 1), 0) FROM (SELECT COUNT(*) AS c FROM "
        f"'{dst}/documents.parquet' GROUP BY md5(text))"
    ).fetchone()[0]
    assert dst_dups == 2 * src_dups, (src_dups, dst_dups)
    # embeddings: the roll preserves the component multiset per vector
    nvec = con.execute(
        f"SELECT MAX(vec_id) + 1 FROM '{SF_DIR}/embeddings.parquet'"
    ).fetchone()[0]
    bad = con.execute(
        f"SELECT COUNT(*) FROM '{dst}/embeddings.parquet' d "
        f"JOIN '{SF_DIR}/embeddings.parquet' s "
        f"ON d.vec_id % {nvec} = s.vec_id "
        "WHERE list_sort(d.embedding) != list_sort(s.embedding)"
    ).fetchone()[0]
    assert bad == 0
