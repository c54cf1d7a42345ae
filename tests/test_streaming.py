"""Streaming tests: stream-vs-batch window agreement (SURVEY §5 item 4),
exactly-once ingest through restarts, and the ST6 completion hook."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from python_lambda_ecs_container_data_etl_aws_spark.catalog import load_table
from python_lambda_ecs_container_data_etl_aws_spark.sources import pipeline as pl
from python_lambda_ecs_container_data_etl_aws_spark.sources import recorded, swap
from python_lambda_ecs_container_data_etl_aws_spark.streaming import runner
from tests.conftest import SF_DIR

EVENT_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("event_time", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
    ]
)

# q116-twin schema: the landing files carry `value` too; readers using
# the narrower EVENT_SCHEMA project it away at the scan
from pyspark.sql.types import DoubleType  # noqa: E402

EVENT_SCHEMA_V = StructType(
    EVENT_SCHEMA.fields + [StructField("value", DoubleType())]
)


@pytest.fixture(scope="module")
def event_batches(spark, tmp_path_factory):
    """events split into 3 arrival batches in event-time order (time
    tertiles) — ordered arrival, so nothing is late-dropped and closed
    stream windows must agree exactly with the batch computation."""
    base = tmp_path_factory.mktemp("landing")
    e = (
        load_table(spark, SF_DIR, "events")
        .select(
            "event_id",
            F.timestamp_micros(F.col("ts_us")).alias("event_time"),
            "user_id",
            "event_type",
            "value",
        )
    )
    n = e.count()
    lo, hi = e.agg(
        F.min(F.unix_micros("event_time")), F.max(F.unix_micros("event_time"))
    ).collect()[0]
    t1, t2 = lo + (hi - lo) // 3, lo + 2 * (hi - lo) // 3
    splits = [
        F.unix_micros(F.col("event_time")) <= t1,
        (F.unix_micros(F.col("event_time")) > t1) & (F.unix_micros(F.col("event_time")) <= t2),
        F.unix_micros(F.col("event_time")) > t2,
    ]
    for cond in splits:
        e.filter(cond).coalesce(1).write.mode("append").parquet(str(base / "events"))
    return str(base / "events"), e, n


def test_stream_tumbling_agrees_with_batch(spark, event_batches, tmp_path):
    landing, e, _ = event_batches
    stream = runner.file_stream(spark, landing, EVENT_SCHEMA, fmt="parquet",
                                max_files_per_trigger=1)
    agg = runner.tumbling_counts(stream)
    runner.run_stream_to_memory(agg, "win_counts", str(tmp_path / "ck"))
    got = {
        r.window_start_sec: r.n_events
        for r in spark.table("win_counts").collect()
    }
    # batch twin: every window the stream CLOSED (emitted under the
    # watermark) must agree exactly with the batch computation
    batch = {
        r.window_start_sec: r.n_events
        for r in (
            e.select(
                (F.floor(F.unix_timestamp("event_time") / 600) * 600).alias(
                    "window_start_sec"
                )
            )
            .groupBy("window_start_sec")
            .agg(F.count(F.lit(1)).alias("n_events"))
            .collect()
        )
    }
    assert got, "stream should close at least one window"
    for w, n in got.items():
        assert batch[w] == n, f"window {w}: stream={n} batch={batch[w]}"


def test_stream_hopping_agrees_with_batch(spark, event_batches, tmp_path):
    """q116's streaming twin: every hopping window the stream CLOSED
    must match the batch computation on BOTH the count and the
    quantized value sum (the full q116 measure set). Completes the
    windowed-family pattern: tumbling (q14), session (q34), hopping
    (q116) each have an executed streaming counterpart."""
    landing, e, _ = event_batches
    stream = runner.file_stream(spark, landing, EVENT_SCHEMA_V, fmt="parquet",
                                max_files_per_trigger=1)
    agg = runner.hopping_counts(stream)
    runner.run_stream_to_memory(agg, "hop_counts", str(tmp_path / "ck_hop"))
    got = {
        (r.event_type, r.win_start_us): (r.n_events, r.qsum)
        for r in spark.table("hop_counts").collect()
    }
    batch = {
        (r.event_type, r.win_start_us): (r.n_events, r.qsum)
        for r in (
            e.groupBy(
                "event_type",
                F.window("event_time", "30 minutes", "10 minutes").alias("w"),
            )
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(F.floor(F.col("value") * 100).cast("bigint"))
                .cast("bigint")
                .alias("qsum"),
            )
            .select(
                "event_type",
                F.unix_micros("w.start").alias("win_start_us"),
                "n_events",
                "qsum",
            )
            .collect()
        )
    }
    assert got, "stream should close at least one hopping window"
    for key, vals in got.items():
        assert batch[key] == vals, f"window {key}: stream={vals} batch={batch[key]}"


def test_stateful_user_counts_across_batches(spark, event_batches, tmp_path):
    """applyInPandasWithState: final per-user totals must equal the
    batch counts, and state must accumulate across multiple triggers."""
    landing, e, _ = event_batches
    stream = runner.file_stream(
        spark, landing, EVENT_SCHEMA, fmt="parquet", max_files_per_trigger=1
    )
    counts = runner.stateful_user_counts(stream)
    runner.run_stream_to_memory(counts, "user_counts", str(tmp_path / "ck_state"),
                                output_mode="update")
    emitted = spark.table("user_counts").collect()
    # last emission per user = running total at end of stream
    final: dict[int, tuple[int, int]] = {}
    for r in emitted:
        cur = final.get(r.user_id, (0, 0))
        final[r.user_id] = max(cur, (r.n_batches_seen, r.n_events_total))
    batch = {r.user_id: r.cnt for r in e.groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    assert {u: t for u, (_, t) in final.items()} == batch
    # state really persisted across triggers: some user saw >1 batch
    assert any(b > 1 for b, _ in final.values())


def test_full_streaming_pipeline_route_canonical_complete(spark, tmp_path):
    """§3.1 as one stream: landing CSVs → source-file lineage → routing
    gate → canonical projection → parquet sink, with ST6 completion
    firing when all expected files arrived."""
    from pyspark.sql.types import StringType

    from python_lambda_ecs_container_data_etl_aws_spark.sources import registry
    from python_lambda_ecs_container_data_etl_aws_spark.streaming.completion import (
        CompletionTracker,
        with_source_file,
    )

    land = tmp_path / "landing"
    land.mkdir()
    hdr = ",".join(registry.PRICEINDEX.canonical_columns)
    row = "2023-01-01,Canada,D{i},food,u,1,f,2,v,c,{v},ok,,n,1"
    (land / "PriceIndex_a.csv").write_text(
        "\n".join([hdr] + [row.format(i=i, v=i) for i in range(5)]) + "\n"
    )
    (land / "price_b.csv").write_text(
        "\n".join([hdr] + [row.format(i=i + 10, v=i) for i in range(3)]) + "\n"
    )
    (land / "converted_x.csv").write_text(hdr + "\n" + row.format(i=99, v=9) + "\n")

    schema = StructType(
        [StructField(c, StringType()) for c in registry.PRICEINDEX.canonical_columns]
    )
    fired = []
    tracker = CompletionTracker(
        {"PriceIndex_a.csv", "price_b.csv"}, lambda s: fired.append(sorted(s))
    )
    out = str(tmp_path / "out")

    def transform(df):
        df = with_source_file(df)
        # routing gate in-stream: only registered, non-converted names load
        return df.filter(
            F.lower(F.col("source_file")).rlike("price|index")
            & ~F.lower(F.col("source_file")).startswith("converted_")
        )

    runner.ingest_stream(
        spark,
        str(land),
        schema,
        out,
        str(tmp_path / "ck_pipe"),
        fmt="csv",
        transform=transform,
        on_batch_complete=tracker,
    )
    got = spark.read.parquet(out)
    assert got.count() == 8  # 5 + 3; converted_ file filtered out
    # each micro-batch lands in its own batch=<id> dir
    assert set(got.columns) == set(registry.PRICEINDEX.canonical_columns) | {
        "source_file", "batch"
    }
    assert fired == [["PriceIndex_a.csv", "price_b.csv"]]


def test_dedup_within_watermark_drops_replayed_keys(spark, event_batches, tmp_path):
    """ST3: replay the same files into a second landing dir — the
    streamed dedup must emit each event_id exactly once."""
    landing, e, n = event_batches
    land2 = str(tmp_path / "land2")
    src = spark.read.parquet(landing)
    src.write.mode("append").parquet(land2)
    src.write.mode("append").parquet(land2)  # full replay: every key duplicated
    stream = runner.file_stream(spark, land2, EVENT_SCHEMA, fmt="parquet")
    deduped = runner.dedup_within_watermark(stream, ["event_id"])
    runner.run_stream_to_memory(deduped, "dedup_out", str(tmp_path / "ck_dd"))
    got = spark.table("dedup_out")
    assert got.count() == n
    assert got.select("event_id").distinct().count() == n


def test_ingest_stream_exactly_once_and_completion_hook(spark, event_batches, tmp_path):
    landing, e, n = event_batches
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck2")
    seen_batches = []

    def hook(batch_df, batch_id):
        seen_batches.append(batch_id)

    runner.ingest_stream(
        spark, landing, EVENT_SCHEMA, out, ck, fmt="parquet",
        transform=lambda df: df.filter(F.col("event_type") != "error"),
        on_batch_complete=hook,
    )
    expected = e.filter(F.col("event_type") != "error").count()
    assert spark.read.parquet(out).count() == expected
    assert seen_batches, "completion hook must fire"
    # restart with same checkpoint: no new input → no duplicates (ST2/ST3)
    runner.ingest_stream(
        spark, landing, EVENT_SCHEMA, out, ck, fmt="parquet",
        transform=lambda df: df.filter(F.col("event_type") != "error"),
    )
    assert spark.read.parquet(out).count() == expected


def test_ingest_stream_returns_per_batch_progress(spark, tmp_path):
    """The drain's progress explains the run: summed over the returned
    micro-batches, numInputRows equals the rows landed."""
    landing = str(tmp_path / "pr_landing")
    rows = [(i, None, i % 5, "view") for i in range(30)]
    for part in (rows[:12], rows[12:]):
        spark.createDataFrame(part, EVENT_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(landing)
    progress = runner.ingest_stream(
        spark, landing, EVENT_SCHEMA, str(tmp_path / "pr_out"),
        str(tmp_path / "pr_ck"), fmt="parquet",
    )
    assert progress
    assert sum(p["numInputRows"] for p in progress) == len(rows)


def test_ingest_stream_refuses_an_out_dir_of_the_flat_append_sink(spark, tmp_path):
    """An ``out_dir`` holding part files at its root (the layout of the
    earlier append sink) cannot take ``batch=`` dirs beside them, so the
    stream raises before it starts and writes nothing."""
    landing, out = str(tmp_path / "fl_landing"), str(tmp_path / "fl_out")
    rows = [(i, None, i % 5, "view") for i in range(3)]
    spark.createDataFrame(rows, EVENT_SCHEMA).coalesce(1).write.parquet(landing)
    spark.createDataFrame(rows, EVENT_SCHEMA).coalesce(1).write.parquet(out)
    before = sorted(os.listdir(out))
    with pytest.raises(ValueError, match="flat layout"):
        runner.ingest_stream(
            spark, landing, EVENT_SCHEMA, out, str(tmp_path / "fl_ck"), fmt="parquet"
        )
    assert sorted(os.listdir(out)) == before


def test_ingest_stream_replay_after_a_lost_commit_writes_once(spark, tmp_path):
    """A batch whose writes landed but whose checkpoint commit was lost
    re-runs on restart; it replaces its own ``batch=<id>`` dir, so the
    sink holds each row once (an append sink held 60 rows here)."""
    landing, out = str(tmp_path / "lc_landing"), str(tmp_path / "lc_out")
    ck = str(tmp_path / "lc_ck")
    rows = [(i, None, i % 5, "view") for i in range(30)]
    spark.createDataFrame(rows, EVENT_SCHEMA).coalesce(1).write.parquet(landing)

    def drain():
        runner.ingest_stream(spark, landing, EVENT_SCHEMA, out, ck, fmt="parquet")

    drain()
    assert spark.read.parquet(out).count() == 30
    commits = os.path.join(ck, "commits")
    for f in ("0", ".0.crc"):
        if os.path.exists(os.path.join(commits, f)):
            os.remove(os.path.join(commits, f))
    drain()
    got = spark.read.parquet(out)
    assert got.count() == 30
    assert got.select("event_id").distinct().count() == 30


def test_stream_sessions_agree_with_batch_gap_logic(spark, event_batches, tmp_path):
    """q34's streaming twin: closed session windows (session_window +
    watermark) must agree with the batch LAG+cumulative-SUM session
    definition on (user, session_start, n_events)."""
    landing, e, _ = event_batches
    stream = runner.file_stream(
        spark, landing, EVENT_SCHEMA, fmt="parquet", max_files_per_trigger=1
    )
    sess = runner.session_counts(stream)
    runner.run_stream_to_memory(sess, "sess_counts", str(tmp_path / "ck_sess"))
    got = {
        (r.user_id, r.session_start_us): r.n_events
        for r in spark.table("sess_counts").collect()
    }
    assert got, "stream emitted no closed sessions"

    # batch twin: gap-based sessionization (same 30-min gap)
    from pyspark.sql import Window

    GAP_US = 1800000000
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    prev = F.lag("ts_us").over(w)
    batch = (
        e.select("user_id", "event_id", F.unix_micros("event_time").alias("ts_us"))
        .withColumn(
            "new_sess",
            F.when(prev.isNull() | ((F.col("ts_us") - prev) > GAP_US), 1).otherwise(0),
        )
        .withColumn(
            "sess_no",
            F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy("user_id", "sess_no")
        .agg(F.min("ts_us").alias("session_start_us"), F.count(F.lit(1)).alias("n_events"))
    )
    batch_map = {
        (r.user_id, r.session_start_us): r.n_events for r in batch.collect()
    }
    # every closed stream session matches the batch session exactly
    for key, n in got.items():
        assert batch_map.get(key) == n, (key, n, batch_map.get(key))
    # and the stream closed the bulk of them (only tail sessions stay open)
    assert len(got) >= 0.8 * len(batch_map)


def test_report_stream_maintains_aggregates_and_replay_guard(spark, event_batches, tmp_path):
    """The streaming maintained report: after draining the landing dir
    the report must equal a full recompute over the fact sink; a
    restart with no new input must not change it; and a re-delivered
    batch id (crash replay) must be a no-op because state + marker flip
    in one atomic rename."""
    from python_lambda_ecs_container_data_etl_aws_spark.sources.report import (
        ReportSpec,
        aggregate_state,
        last_applied_batch,
        read_report,
    )

    landing, _, _ = event_batches
    out, ck = str(tmp_path / "facts"), str(tmp_path / "ck_rep")
    rdir = str(tmp_path / "report")
    spec = ReportSpec(
        group_keys=("event_type",),
        sums=(("sum_user", "CAST(user_id AS DECIMAL(18,0))"),),
    )

    def snapshot():
        return {
            r.event_type: (r.n_rows, int(r.sum_user))
            for r in read_report(spark, rdir).collect()
        }

    def drain():
        runner.ingest_stream(
            spark, landing, EVENT_SCHEMA, out, ck, fmt="parquet",
            on_batch_complete=lambda df, bid: runner.refresh_report_once(
                spark, rdir, spec, df, bid
            ),
        )

    drain()
    got = snapshot()
    want = {
        r.event_type: (r.n_rows, int(r.sum_user))
        for r in aggregate_state(spark.read.parquet(out), spec).collect()
    }
    assert got == want and got

    # restart, no new files → unchanged (checkpoint + marker)
    drain()
    assert snapshot() == got

    # crash-replay simulation: re-deliver an already-applied batch id
    last = last_applied_batch(rdir)
    assert last >= 0
    replay = spark.read.parquet(out).limit(50)
    applied = runner.refresh_report_once(spark, rdir, spec, replay, last)
    assert applied is False and snapshot() == got
    # a NEW batch id does apply
    applied = runner.refresh_report_once(spark, rdir, spec, replay, last + 1)
    assert applied is True and snapshot() != got


def test_dedup_ingest_stream_curates_corpus_across_batches(spark, tmp_path):
    """Continuous corpus curation: within-batch dups drop (lower id
    wins), later batches dedupe against the corpus so far, and a
    restart with no new input changes nothing."""
    from pyspark.sql.types import LongType, StringType

    doc_schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    landing = str(tmp_path / "landing")
    corpus = str(tmp_path / "corpus")
    ck = str(tmp_path / "ck_cur")

    dup_text = "alpha beta gamma delta epsilon zeta eta theta"
    uniq1 = "one two three four five six seven eight"
    uniq2 = "crimson harbor lantern whisper meadow orbit canyon drift"

    def arrive(rows):
        spark.createDataFrame(rows, doc_schema).coalesce(1).write.mode(
            "append"
        ).parquet(landing)

    def drain():
        runner.dedup_ingest_stream(
            spark, landing, doc_schema, corpus, ck, threshold=0.5
        )
        return {r.doc_id for r in spark.read.parquet(corpus).collect()}

    # batch 0: doc 3 duplicates doc 1 within the batch → lower id kept
    arrive([(1, dup_text), (2, uniq1), (3, dup_text)])
    assert drain() == {1, 2}
    # batch 1: doc 11 duplicates corpus doc 1 → dropped; 12 unique → kept
    arrive([(11, dup_text), (12, uniq2)])
    assert drain() == {1, 2, 12}
    # restart, nothing new → unchanged
    assert drain() == {1, 2, 12}
    # the persisted LSH index tracks exactly the surviving docs — the
    # corpus is never re-shingled on later batches
    idx = spark.read.parquet(corpus + "__index/sh")
    assert {r.id for r in idx.select("id").collect()} == {1, 2, 12}


def test_dedup_ingest_stream_replay_after_index_write_is_idempotent(
    spark, tmp_path
):
    """A crash after a batch's corpus and index writes but before its
    checkpoint commit re-runs the same batch id. The index probe reads
    only the other batches' dirs, so the replay re-derives the same
    survivors: corpus and index are unchanged."""
    from pyspark.sql.types import LongType, StringType

    doc_schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    landing = str(tmp_path / "drp_landing")
    corpus = str(tmp_path / "drp_corpus")
    ck = str(tmp_path / "ck_drp")
    dup_text = "alpha beta gamma delta epsilon zeta eta theta"

    def arrive(rows):
        spark.createDataFrame(rows, doc_schema).coalesce(1).write.mode(
            "append"
        ).parquet(landing)

    def snapshot():
        return (
            {tuple(r) for r in spark.read.parquet(corpus).collect()},
            {
                (r.id, tuple(r.sh))
                for r in spark.read.parquet(corpus + "__index/sh").collect()
            },
            {tuple(r) for r in spark.read.parquet(corpus + "__index/bands").collect()},
        )

    def drain():
        return runner.dedup_ingest_stream(spark, landing, doc_schema, corpus, ck)

    arrive([(1, dup_text), (2, "one two three four five six seven eight")])
    drain()
    arrive([(11, dup_text), (12, "crimson harbor lantern whisper meadow orbit")])
    drain()
    before = snapshot()
    assert {r[0] for r in before[0]} == {1, 2, 12}
    # the crash: batch 1 wrote everything, its commit (and the commit's
    # checksum sidecar) never landed
    for f in ("1", ".1.crc"):
        os.remove(os.path.join(ck, "commits", f))
    assert [p["batchId"] for p in drain() if p["numInputRows"]] == [1]
    assert snapshot() == before


def test_segment_dedup_ingest_stream_matches_q70_semantics(spark, tmp_path):
    """Streaming twin of q70: cross-batch segment dedup against the
    persisted segment index, within-batch first-(doc_id, seg_idx)
    occurrence wins, docs rebuilt from surviving segments in order,
    and a restart with no new input changes nothing."""
    from pyspark.sql.types import LongType, StringType

    doc_schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    landing = str(tmp_path / "seg_landing")
    corpus = str(tmp_path / "seg_corpus")
    ck = str(tmp_path / "ck_seg")

    segA = " ".join(f"a{i}" for i in range(8))
    segB = " ".join(f"b{i}" for i in range(8))
    segC = " ".join(f"c{i}" for i in range(8))
    segD = " ".join(f"d{i}" for i in range(8))

    def arrive(rows):
        spark.createDataFrame(rows, doc_schema).coalesce(1).write.mode(
            "append"
        ).parquet(landing)

    def drain():
        runner.segment_dedup_ingest_stream(
            spark, landing, doc_schema, corpus, ck, seg_tokens=8
        )
        return {
            r.doc_id: (r.n_segs, r.n_kept, r.clean_text)
            for r in spark.read.parquet(corpus).collect()
        }

    # batch 0: segB appears in doc 1 and doc 2 — doc 1's copy wins
    # (lower doc_id); doc 2 keeps only segC
    arrive([(1, f"{segA} {segB}"), (2, f"{segB} {segC}")])
    assert drain() == {
        1: (2, 2, f"{segA} {segB}"),
        2: (2, 1, segC),
    }
    # batch 1: segA is already in the corpus index → dropped from doc
    # 11; segD is new → kept. History is NOT re-deduped.
    arrive([(11, f"{segA} {segD}")])
    got = drain()
    assert got[11] == (2, 1, segD)
    assert got[1] == (2, 2, f"{segA} {segB}")  # untouched
    # restart with nothing new: no-op (exactly-once replay safety)
    assert drain() == got
    # the persisted index holds exactly the distinct kept segments
    idx = {r.seg_text for r in spark.read.parquet(corpus + "__segindex").collect()}
    assert idx == {segA, segB, segC, segD}
    # an EMPTY arriving file is a clean no-op — no zero-row batch dir
    # may strand the corpus/index reads (ingest empty-delta guard twin)
    arrive([])
    assert drain() == got
    # and the stream still processes real data afterwards
    segE = " ".join(f"e{i}" for i in range(8))
    arrive([(21, segE)])
    assert drain()[21] == (1, 1, segE)


def test_stateful_funnel_agrees_with_batch_q67(spark, tmp_path):
    """The streaming funnel's drained emissions must reproduce the
    batch q67 per-day (n_views, n_conv) exactly, with views resolved
    exactly once across micro-batch boundaries."""
    day = 86_400 * 1_000_000
    gap = 30 * 60 * 1_000_000
    # (user, ts, type): conversions within/over gap, cross-batch pairs,
    # multiple views per purchase, never-converting views
    rows = [
        (1, 10 * day + 100, "view"),       # converts (batch 2 purchase)
        (1, 10 * day + 200, "view"),       # converts (same purchase)
        (2, 10 * day + 300, "view"),       # never converts
        (3, 10 * day + 400, "view"),       # purchase outside gap
        (1, 10 * day + 500, "purchase"),   # converts 1's views @100,200
        (3, 10 * day + 400 + gap + 1, "purchase"),
        (2, 11 * day + 50, "view"),        # converts next day
        (2, 11 * day + 60, "purchase"),
        (4, 11 * day + 70, "purchase"),    # purchase with no view
        # same-instant tie (advisor): a purchase at EXACTLY the view's
        # ts converts it — batch and stream share the views-before-
        # purchases ordering convention at equal ts_us
        (5, 12 * day + 100, "view"),
        (5, 12 * day + 100, "purchase"),
    ]
    land = tmp_path / "funnel_land"
    land.mkdir()
    schema = "user_id BIGINT, ts_us BIGINT, event_type STRING"
    # split into two time-ordered batches (per-user in-order delivery),
    # appended as FLAT part files — the file source does not recurse
    # into subdirectories, and it processes appended files oldest-first
    cut = 10 * day + 450
    b1 = [r for r in rows if r[1] <= cut]
    b2 = [r for r in rows if r[1] > cut]
    import time as _t

    for batch in [b1, b2]:
        spark.createDataFrame(batch, schema).coalesce(1).write.mode(
            "append"
        ).parquet(str(land))
        _t.sleep(0.05)  # distinct mtimes -> deterministic arrival order

    stream = runner.file_stream(
        spark, str(land), schema, fmt="parquet", max_files_per_trigger=1
    )
    out = runner.stateful_funnel(stream, gap_us=gap)
    runner.run_stream_to_memory(
        out, "funnel_stream", str(tmp_path / "ck_funnel"), output_mode="update"
    )
    emitted = spark.table("funnel_stream").collect()

    # batch twin: q67 logic over the full event set
    e = spark.createDataFrame(rows, schema)
    from pyspark.sql import Window as W

    w = (
        W.partitionBy("user_id")
        .orderBy("ts_us", F.when(F.col("event_type") == "view", 0).otherwise(1))
        .rowsBetween(W.currentRow, W.unboundedFollowing)
    )
    nxt = e.withColumn(
        "np",
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts_us"))).over(w),
    ).filter(F.col("event_type") == "view")
    batch = {
        r.day_idx: (r.v, r.c)
        for r in nxt.groupBy(F.expr(f"ts_us div {day}").alias("day_idx"))
        .agg(
            F.count(F.lit(1)).alias("v"),
            F.sum(
                F.when(F.col("np") - F.col("ts_us") <= gap, 1).otherwise(0)
            ).alias("c"),
        )
        .collect()
    }
    got: dict[int, list[int]] = {}
    for r in emitted:
        v, c = got.setdefault(r.day_idx, [0, 0])
        got[r.day_idx] = [v + 1, c + r.converted]
    # every view emitted exactly once, per-day counts identical
    assert {k: tuple(v) for k, v in got.items()} == batch


def test_segment_dedup_replay_after_index_write_is_idempotent(spark, tmp_path):
    """Review regression (critical): a crash AFTER a batch's index
    write but BEFORE the checkpoint commit re-runs the same batch_id.
    The membership probe must NOT see the crashed attempt's own index
    rows — doing so marked every segment already-in-corpus and
    overwrote the batch with empty docs. Simulated by pre-planting the
    batch's own index dir exactly as the crashed attempt left it."""
    from pyspark.sql.types import LongType, StringType

    doc_schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    landing = str(tmp_path / "rp_landing")
    corpus = str(tmp_path / "rp_corpus")
    ck = str(tmp_path / "ck_rp")
    segA = " ".join(f"a{i}" for i in range(8))
    segB = " ".join(f"b{i}" for i in range(8))

    spark.createDataFrame(
        [(1, f"{segA} {segB}")], doc_schema
    ).coalesce(1).write.mode("append").parquet(landing)

    # simulate the crashed first attempt: its index rows are already on
    # disk under the batch id the replay will reuse (batch 0), but the
    # checkpoint knows nothing, so the stream reprocesses the file
    index_dir = corpus + "__segindex"
    spark.createDataFrame(
        [(segA,), (segB,)], "seg_text STRING"
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(index_dir, "batch=0")
    )

    runner.segment_dedup_ingest_stream(
        spark, landing, doc_schema, corpus, ck, seg_tokens=8
    )
    got = {
        r.doc_id: (r.n_segs, r.n_kept, r.clean_text)
        for r in spark.read.parquet(corpus).collect()
    }
    # the replay must keep the doc's segments, not gut them
    assert got == {1: (2, 2, f"{segA} {segB}")}
    idx = {r.seg_text for r in spark.read.parquet(index_dir).collect()}
    assert idx == {segA, segB}


def test_exact_dedup_ingest_stream_norm_index_across_batches(spark, tmp_path):
    """Normalized-exact dedup as a stream: case/punct variants of a
    corpus doc are dropped in later batches via the persisted norm
    index; within a batch the lowest id wins; replay-safe."""
    from pyspark.sql.types import LongType, StringType

    doc_schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    landing = str(tmp_path / "nd_landing")
    corpus = str(tmp_path / "nd_corpus")
    ck = str(tmp_path / "ck_nd")

    def arrive(rows):
        spark.createDataFrame(rows, doc_schema).coalesce(1).write.mode(
            "append"
        ).parquet(landing)

    def drain():
        runner.exact_dedup_ingest_stream(
            spark, landing, doc_schema, corpus, ck
        )
        return {r.doc_id for r in spark.read.parquet(corpus).collect()}

    # batch 0: 3 is a punctuation variant of 1 -> within-batch dropped
    arrive([(1, "alpha beta gamma"), (2, "delta epsilon"), (3, "Alpha, beta gamma!")])
    assert drain() == {1, 2}
    # batch 1: 11 is a case variant of corpus doc 1 -> dropped; 12 new
    arrive([(11, "ALPHA BETA GAMMA"), (12, "zeta eta theta")])
    assert drain() == {1, 2, 12}
    # restart with nothing new: unchanged
    assert drain() == {1, 2, 12}


def test_source_cap_stream_maintains_global_topk(spark, tmp_path):
    """Incremental per-source best-K: after every batch the kept table
    equals the batch-computed top-K over everything seen so far, and a
    replayed fold is a no-op."""
    from pyspark.sql.types import LongType, StringType

    doc_schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("source", StringType()),
        ]
    )
    landing = str(tmp_path / "cap_landing")
    kept_dir = str(tmp_path / "cap_kept")
    ck = str(tmp_path / "ck_cap")

    def txt(n):  # n tokens -> score n
        return " ".join(f"w{i}" for i in range(n))

    def arrive(rows):
        spark.createDataFrame(rows, doc_schema).coalesce(1).write.mode(
            "append"
        ).parquet(landing)

    def drain():
        runner.source_cap_stream(
            spark, landing, doc_schema, kept_dir, ck, cap=2
        )
        return {
            (r.source, r.doc_id) for r in spark.read.parquet(kept_dir).collect()
        }

    arrive([(1, txt(5), "a"), (2, txt(9), "a"), (3, txt(3), "a"), (4, txt(4), "b")])
    # top-2 of a by tokens: 2 (9), 1 (5); b: 4
    assert drain() == {("a", 2), ("a", 1), ("b", 4)}
    # batch 1: a doc longer than a's current best displaces the weakest
    arrive([(10, txt(20), "a"), (11, txt(1), "b")])
    assert drain() == {("a", 10), ("a", 2), ("b", 4), ("b", 11)}
    # restart with nothing new: state unchanged (idempotent fold)
    assert drain() == {("a", 10), ("a", 2), ("b", 4), ("b", 11)}


def test_source_cap_stream_recovers_crashed_swap(spark, tmp_path):
    """Crash window of the kept-table swap (state renamed aside, new
    state never renamed in): the next batch's fold must restore the
    aside and keep folding — never silently restart from empty."""
    from pyspark.sql.types import LongType, StringType

    doc_schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("source", StringType()),
        ]
    )
    landing = str(tmp_path / "cr_landing")
    kept_dir = str(tmp_path / "cr_kept")
    ck = str(tmp_path / "ck_cr")

    def txt(n):
        return " ".join(f"w{i}" for i in range(n))

    spark.createDataFrame(
        [(1, txt(5), "a"), (2, txt(9), "a")], doc_schema
    ).coalesce(1).write.mode("append").parquet(landing)
    runner.source_cap_stream(spark, landing, doc_schema, kept_dir, ck, cap=2)
    assert {r.doc_id for r in spark.read.parquet(kept_dir).collect()} == {1, 2}

    # simulate the crash window: state renamed aside
    parent, base = os.path.split(kept_dir)
    os.rename(kept_dir, os.path.join(parent, "." + base + "__old"))

    spark.createDataFrame(
        [(3, txt(7), "a")], doc_schema
    ).coalesce(1).write.mode("append").parquet(landing)
    runner.source_cap_stream(spark, landing, doc_schema, kept_dir, ck, cap=2)
    # history restored: top-2 over ALL of {5,9,7} tokens = docs 2 and 3
    assert {r.doc_id for r in spark.read.parquet(kept_dir).collect()} == {2, 3}


def test_exact_dedup_stream_non_ascii_and_empty_norm(spark, tmp_path):
    """Streaming twin of the Unicode-normalizer regression: non-ASCII
    docs dedup on their OWN content (not all-to-empty), and no-signal
    docs are kept without poisoning the index."""
    from pyspark.sql.types import LongType, StringType

    doc_schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    landing = str(tmp_path / "u_landing")
    corpus = str(tmp_path / "u_corpus")
    ck = str(tmp_path / "ck_u")

    def arrive(rows):
        spark.createDataFrame(rows, doc_schema).coalesce(1).write.mode(
            "append"
        ).parquet(landing)

    def drain():
        runner.exact_dedup_ingest_stream(spark, landing, doc_schema, corpus, ck)
        return {r.doc_id for r in spark.read.parquet(corpus).collect()}

    arrive([(1, "天地玄黄"), (2, "日月盈昃"), (3, "!!!")])
    assert drain() == {1, 2, 3}
    # later batch: a variant of doc 1 drops, a new no-signal doc stays
    arrive([(11, "天地玄黄!!!"), (12, "???")])
    assert drain() == {1, 2, 3, 12}


def test_source_cap_stream_recovers_on_restart_without_new_data(spark, tmp_path):
    """Review regression: a crash in the swap window followed by a
    restart with NO new input must still restore the kept table (the
    recovery runs at stream start, not only inside a data batch)."""
    from pyspark.sql.types import LongType, StringType

    doc_schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("source", StringType()),
        ]
    )
    landing = str(tmp_path / "r0_landing")
    kept_dir = str(tmp_path / "r0_kept")
    ck = str(tmp_path / "ck_r0")
    spark.createDataFrame(
        [(1, "a b c", "s"), (2, "a b c d e", "s")], doc_schema
    ).coalesce(1).write.mode("append").parquet(landing)
    runner.source_cap_stream(spark, landing, doc_schema, kept_dir, ck, cap=2)
    assert spark.read.parquet(kept_dir).count() == 2

    parent, base = os.path.split(kept_dir)
    os.rename(kept_dir, os.path.join(parent, "." + base + "__old"))
    # restart, nothing new: zero batches fire, recovery must run anyway
    runner.source_cap_stream(spark, landing, doc_schema, kept_dir, ck, cap=2)
    assert spark.read.parquet(kept_dir).count() == 2


def test_source_cap_stream_aborts_on_short_kept_write(spark, tmp_path, monkeypatch):
    """The kept table is installed through the footer read-back gate: a
    short staged fold raises out of the drain with the kept table
    unchanged and no staging left, the checkpoint does not commit the
    batch, and the next drain folds it."""
    from pyspark.errors import StreamingQueryException

    doc_schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("source", StringType()),
        ]
    )
    landing = str(tmp_path / "sw_landing")
    kept_dir = str(tmp_path / "sw_kept")
    ck = str(tmp_path / "ck_sw")

    def arrive(rows):
        spark.createDataFrame(rows, doc_schema).coalesce(1).write.mode(
            "append"
        ).parquet(landing)

    def kept_files():
        return {f.name: f.read_bytes() for f in (tmp_path / "sw_kept").iterdir()}

    arrive([(1, "a b c", "s"), (2, "a b", "s")])
    runner.source_cap_stream(spark, landing, doc_schema, kept_dir, ck, cap=2)
    before = kept_files()

    arrive([(3, "a b c d", "s")])
    real = recorded.footer_rows
    monkeypatch.setattr(recorded, "footer_rows", lambda path: real(path) - 1)
    with pytest.raises(StreamingQueryException, match="read back"):
        runner.source_cap_stream(spark, landing, doc_schema, kept_dir, ck, cap=2)
    monkeypatch.setattr(recorded, "footer_rows", real)
    assert kept_files() == before
    assert not os.path.exists(swap.staging(kept_dir))

    runner.source_cap_stream(spark, landing, doc_schema, kept_dir, ck, cap=2)
    assert {r.doc_id for r in spark.read.parquet(kept_dir).collect()} == {1, 3}


def test_boilerplate_lines_stream_arrival_time_df(spark, tmp_path):
    """Streaming CCNet boilerplate removal (q81's front-door twin):
    a line reaching min_docs distinct docs — within one batch or
    across batches via the persisted df index — is dropped from docs
    at arrival time; earlier docs keep it (the batch query is the
    retro-cleaning compaction); replay is a no-op."""
    from pyspark.sql.types import LongType, StringType

    doc_schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    landing = str(tmp_path / "bl_landing")
    corpus = str(tmp_path / "bl_corpus")
    ck = str(tmp_path / "ck_bl")

    BOIL = "subscribe now click here buy this one two three four"  # 10 toks
    assert len(BOIL.split()) == 10

    def body(tag):
        return " ".join(f"{tag}{i}" for i in range(10))

    def arrive(rows):
        spark.createDataFrame(rows, doc_schema).coalesce(1).write.mode(
            "append"
        ).parquet(landing)

    def drain():
        runner.boilerplate_lines_ingest_stream(
            spark, landing, doc_schema, corpus, ck, min_docs=3
        )
        return {
            r.doc_id: r.text for r in spark.read.parquet(corpus).collect()
        }

    # batch 0: BOIL appears in 3 docs -> dropped from all three at
    # arrival; doc 4's unique lines untouched
    arrive(
        [
            (1, f"{BOIL} {body('a')}"),
            (2, f"{BOIL} {body('b')}"),
            (3, f"{BOIL} {body('c')}"),
            (4, body("d")),
        ]
    )
    got = drain()
    assert got == {1: body("a"), 2: body("b"), 3: body("c"), 4: body("d")}

    # batch 1: BOIL already at df=3 in the index -> dropped from the
    # new doc; a line at df=2 TOTAL (1 here + 1 history) survives
    two = body("a")  # same line as doc 1's body: df history=1, now 2
    arrive([(11, f"{BOIL} {body('e')}"), (12, f"{two} {body('f')}")])
    got = drain()
    assert got[11] == body("e")
    assert got[12] == f"{two} {body('f')}"
    # arrival-time semantic: doc 1 (history) still holds its body line
    assert got[1] == body("a")

    # batch 2: that shared line crosses min_docs (df 3) -> dropped from
    # the newcomer only
    arrive([(21, f"{two} {body('g')}")])
    got = drain()
    assert got[21] == body("g")
    assert got[1] == body("a") and got[12] == f"{two} {body('f')}"

    # restart with nothing new: unchanged (replay-safe)
    assert drain() == got


def test_boilerplate_stream_equals_q92_batch_twin(spark, tmp_path):
    """Stream ≡ batch: feeding the q92 fixture's 'old corpus' as batch
    0 and its 'new batch' as batch 1 through the streaming tier must
    produce, for every new doc, exactly the surviving text the q92
    batch query fingerprints (same line unit, same cumulative-df
    threshold, same keep order)."""
    import hashlib

    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StringType

    from python_lambda_ecs_container_data_etl_aws_spark.plans import QUERIES
    from python_lambda_ecs_container_data_etl_aws_spark.plans.corpus import (
        _BOILER,
    )
    from tests.conftest import SF_DIR

    doc_schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    landing = str(tmp_path / "eq_landing")
    corpus = str(tmp_path / "eq_corpus")
    ck = str(tmp_path / "ck_eq")

    planted = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select(
            "doc_id",
            F.when(
                F.col("doc_id") % 13 == 0,
                F.concat(F.lit(_BOILER + " "), F.col("text")),
            )
            .otherwise(F.col("text"))
            .alias("text"),
        )
        .persist()
    )
    old = planted.filter(F.col("doc_id") % 10 < 8)
    new = planted.filter(F.col("doc_id") % 10 >= 8)

    old.coalesce(1).write.mode("append").parquet(landing)
    runner.boilerplate_lines_ingest_stream(
        spark, landing, doc_schema, corpus, ck, min_docs=3
    )
    new.coalesce(1).write.mode("append").parquet(landing)
    runner.boilerplate_lines_ingest_stream(
        spark, landing, doc_schema, corpus, ck, min_docs=3
    )

    stream_text = {
        r.doc_id: r.text
        for r in spark.read.parquet(corpus).collect()
        if r.doc_id % 10 >= 8
    }
    batch = {
        r.doc_id: r.clean_md5
        for r in QUERIES["q92_incremental_boilerplate"](spark, SF_DIR).collect()
    }
    assert set(stream_text) == set(batch)
    for did, txt in stream_text.items():
        assert hashlib.md5(txt.encode()).hexdigest() == batch[did], did


def test_stream_stream_interval_join_equals_batch(spark, tmp_path):
    """Stream-stream interval join (views x purchases within 30 min,
    both sides streaming with watermarks) must emit exactly the batch
    join's pairs once both streams drain."""
    import datetime as dt

    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampType

    schema = StructType(
        [StructField("user_id", LongType()), StructField("ts", TimestampType())]
    )
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def m(minutes):
        return t0 + dt.timedelta(minutes=minutes)

    views = [(1, m(0)), (1, m(10)), (2, m(5)), (3, m(0))]
    purchases = [
        (1, m(20)),   # within 30 of both u1 views -> 2 pairs
        (1, m(38)),   # 38 min after m(0), 28 after m(10) -> 1 pair
        (2, m(40)),   # 35 min after u2's view -> no pair
        (4, m(1)),    # user with no views
    ]
    vdir, pdir = str(tmp_path / "v"), str(tmp_path / "p")
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    spark.createDataFrame(views, schema).coalesce(1).write.parquet(vdir)
    spark.createDataFrame(purchases, schema).coalesce(1).write.parquet(pdir)

    joined = runner.stream_stream_interval_join(
        runner.file_stream(spark, vdir, schema),
        runner.file_stream(spark, pdir, schema),
    )
    q = (
        joined.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    got = {
        (r.user_id, r.view_ts, r.purchase_ts)
        for r in spark.read.parquet(out).collect()
    }
    vb = spark.createDataFrame(views, schema).selectExpr(
        "user_id", "ts AS view_ts"
    )
    pb = spark.createDataFrame(purchases, schema).selectExpr(
        "user_id AS p_user", "ts AS purchase_ts"
    )
    want = {
        (r.user_id, r.view_ts, r.purchase_ts)
        for r in vb.join(
            pb,
            F.expr(
                "user_id = p_user AND purchase_ts > view_ts "
                "AND purchase_ts <= view_ts + interval 30 minutes"
            ),
        ).select("user_id", "view_ts", "purchase_ts").collect()
    }
    assert got == want and len(want) == 3


CDC_SCHEMA = StructType(
    [
        StructField("k", LongType()),
        StructField("qp", LongType()),
        StructField("seq", LongType()),
        StructField("op", StringType()),
    ]
)


def _cdc_arrive(spark, landing, rows, schema=CDC_SCHEMA):
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "append"
    ).parquet(landing)


def _cdc_bucket(spark, table, k, n_buckets=8):
    """The live bucket dir of BIGINT key ``k`` in a CDC table."""
    b = (
        spark.createDataFrame([(k,)], "k BIGINT")
        .select(pl._bucket_expr(["k"], n_buckets))
        .first()[0]
    )
    return os.path.join(table, f"{pl.BUCKET_COL}={b}")


def test_cdc_apply_stream_equals_batch_query(spark, tmp_path):
    """Stream ≡ batch: feeding the q96 change log in sequence-ordered
    batches leaves the maintained table equal to the q96 batch
    semantics (latest per key wins, tombstones removed)."""
    from python_lambda_ecs_container_data_etl_aws_spark.plans.corpus import cdc_log

    landing = str(tmp_path / "cdc_landing")
    table = str(tmp_path / "cdc_table")
    ck = str(tmp_path / "ck_cdc")

    log = cdc_log(spark, SF_DIR).persist()
    by_seq = {
        s: [(r.k, r.qp, r.seq, r.op) for r in log.filter(F.col("seq") == s).collect()]
        for s in (0, 1, 2)
    }

    def drain():
        runner.cdc_apply_stream(spark, landing, CDC_SCHEMA, table, ck)
        return {
            (r.k, r.qp)
            for r in runner.read_cdc_table(spark, table).collect()
        }

    # batch 0: base snapshot only
    _cdc_arrive(spark, landing, by_seq[0])
    assert drain() == {(k, qp) for (k, qp, s, o) in by_seq[0]}

    # batches 1+2: updates/inserts, then deletes — final state must
    # match the q96 batch computation over the full log
    _cdc_arrive(spark, landing, by_seq[1])
    drain()
    _cdc_arrive(spark, landing, by_seq[2])
    got = drain()

    from pyspark.sql import Window

    w = Window.partitionBy("k").orderBy(F.col("seq").desc(), "op")
    expected = {
        (r.k, r.qp)
        for r in log.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("op") != "D"))
        .collect()
    }
    assert got == expected
    log.unpersist()


def test_cdc_apply_stream_tombstone_blocks_replayed_old_change(spark, tmp_path):
    """A late or replayed OLD change must not resurrect a deleted key:
    the stored tombstone's higher sequence number outranks it."""
    landing = str(tmp_path / "cdc_landing")
    table = str(tmp_path / "cdc_table")
    ck = str(tmp_path / "ck_cdc")

    def drain():
        runner.cdc_apply_stream(spark, landing, CDC_SCHEMA, table, ck)
        return {
            (r.k, r.qp)
            for r in runner.read_cdc_table(spark, table).collect()
        }

    _cdc_arrive(spark, landing, [(1, 100, 0, "I"), (2, 200, 0, "I")])
    assert drain() == {(1, 100), (2, 200)}
    _cdc_arrive(spark, landing, [(1, 0, 2, "D")])
    assert drain() == {(2, 200)}
    # the seq-1 update arrives AFTER the delete was applied
    _cdc_arrive(spark, landing, [(1, 150, 1, "U")])
    assert drain() == {(2, 200)}
    # a genuinely newer insert re-creates the key
    _cdc_arrive(spark, landing, [(1, 300, 3, "I")])
    assert drain() == {(1, 300), (2, 200)}


def test_cdc_apply_stream_recovers_crashed_bucket_swap(spark, tmp_path):
    """A crash between the two swap renames leaves a bucket aside-only.
    The reader only warns and leaves the aside in place (the table's
    one maintainer heals it); the next stream start restores it."""
    from python_lambda_ecs_container_data_etl_aws_spark.sources import swap

    landing = str(tmp_path / "cdc_landing")
    table = str(tmp_path / "cdc_table")
    ck = str(tmp_path / "ck_cdc")

    _cdc_arrive(spark, landing, [(1, 100, 0, "I"), (9, 900, 0, "I")])
    runner.cdc_apply_stream(spark, landing, CDC_SCHEMA, table, ck)
    # simulate the crash on key 1's bucket
    bdir = _cdc_bucket(spark, table, 1)
    os.rename(bdir, swap.aside(bdir))

    # the reader warns, misses the stranded bucket and heals nothing
    with pytest.warns(UserWarning, match="stranded swap aside"):
        got = {(r.k, r.qp) for r in runner.read_cdc_table(spark, table).collect()}
    assert (1, 100) not in got and got <= {(9, 900)}
    assert not os.path.isdir(bdir) and os.path.isdir(swap.aside(bdir))

    # stream start heals (no new data: zero batches fire)
    runner.cdc_apply_stream(spark, landing, CDC_SCHEMA, table, ck)
    assert os.path.isdir(bdir) and not os.path.isdir(swap.aside(bdir))
    got = {(r.k, r.qp) for r in runner.read_cdc_table(spark, table).collect()}
    assert got == {(1, 100), (9, 900)}


def test_read_cdc_table_skips_staging_left_by_crashed_batch(spark, tmp_path):
    """A crash between staging bucket K and swapping it in leaves
    ``.<table>__staging/__bucket=K`` next to the live table. The reader
    must take only the live bucket dirs: every key exactly once, not
    twice until the checkpoint replays the batch."""
    import shutil

    landing = str(tmp_path / "cdc_landing")
    table = str(tmp_path / "cdc_table")
    ck = str(tmp_path / "ck_cdc")

    _cdc_arrive(spark, landing, [(1, 100, 0, "I"), (9, 900, 0, "I"), (2, 200, 0, "I")])
    runner.cdc_apply_stream(spark, landing, CDC_SCHEMA, table, ck)
    # key 1's bucket: its staged copy was written, the swap never ran
    bdir = _cdc_bucket(spark, table, 1)
    shutil.copytree(
        bdir, os.path.join(swap.staging(table), os.path.basename(bdir))
    )
    per_key = {
        r.k: r.n
        for r in runner.read_cdc_table(spark, table).groupBy("k").count()
        .withColumnRenamed("count", "n")
        .collect()
    }
    assert per_key == {1: 1, 2: 1, 9: 1}


def test_cdc_apply_stream_rewrites_only_touched_buckets(spark, tmp_path):
    """Bucket scoping: a batch touching one bucket must leave every
    other bucket's files untouched on disk (cost ∝ batch)."""
    landing = str(tmp_path / "cdc_landing")
    table = str(tmp_path / "cdc_table")
    ck = str(tmp_path / "ck_cdc")

    _cdc_arrive(spark, landing, [(k, k * 10, 0, "I") for k in range(8)])
    runner.cdc_apply_stream(spark, landing, CDC_SCHEMA, table, ck)

    def files():
        # Spark writes fresh UUID part-file names on every rewrite, so
        # filename sets (not mtimes, which can collide at coarse fs
        # granularity) identify the rewritten buckets
        out = {}
        for e in sorted(os.listdir(table)):
            if e.startswith(f"{pl.BUCKET_COL}="):
                d = os.path.join(table, e)
                out[e] = frozenset(os.listdir(d))
        return out

    before = files()
    assert len(before) >= 2
    _cdc_arrive(spark, landing, [(3, 999, 1, "U")])  # key 3's bucket only
    runner.cdc_apply_stream(spark, landing, CDC_SCHEMA, table, ck)
    after = files()
    changed = {b for b in after if after[b] != before.get(b)}
    assert changed == {os.path.basename(_cdc_bucket(spark, table, 3))}
    got = {(r.k, r.qp) for r in runner.read_cdc_table(spark, table).collect()}
    assert (3, 999) in got and len(got) == 8


def test_stream_stream_left_outer_join_emits_unmatched_after_watermark(
    spark, tmp_path
):
    """Left-outer stream-stream join: matched pairs equal the inner
    join; views with no purchase in the horizon appear exactly once
    with a null purchase_ts — but only after the watermark passes
    (pushed forward here by a flush event on both streams)."""
    import datetime as dt

    from pyspark.sql.types import LongType, TimestampType

    schema = StructType(
        [StructField("user_id", LongType()), StructField("ts", TimestampType())]
    )
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def m(minutes):
        return t0 + dt.timedelta(minutes=minutes)

    views = [(1, m(0)), (2, m(5)), (3, m(0))]
    purchases = [(1, m(20)), (2, m(40))]  # u2's purchase misses the 30-min horizon
    vdir, pdir = str(tmp_path / "v"), str(tmp_path / "p")
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    spark.createDataFrame(views, schema).coalesce(1).write.parquet(vdir)
    spark.createDataFrame(purchases, schema).coalesce(1).write.parquet(pdir)

    def drain():
        joined = runner.stream_stream_left_outer_join(
            runner.file_stream(spark, vdir, schema),
            runner.file_stream(spark, pdir, schema),
        )
        q = (
            joined.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {
            (r.user_id, r.view_ts, r.purchase_ts)
            for r in spark.read.parquet(out).collect()
        }

    got = drain()
    assert (1, m(0), m(20)) in got  # the inner match is emitted promptly
    # unmatched views are NOT emitted yet — the watermark hasn't
    # passed, so Spark can't rule out a late purchase
    assert all(p is not None for (_, _, p) in got)

    # flush: a far-future event on BOTH streams advances the watermark
    flush = [(999, m(600))]
    spark.createDataFrame(flush, schema).coalesce(1).write.mode("append").parquet(vdir)
    spark.createDataFrame(flush, schema).coalesce(1).write.mode("append").parquet(pdir)
    got = drain()
    assert (1, m(0), m(20)) in got
    assert (2, m(5), None) in got   # purchase outside the horizon
    assert (3, m(0), None) in got   # no purchase at all
    # each unmatched view appears exactly once
    assert len([r for r in got if r[2] is None and r[0] in (2, 3)]) == 2


def test_cdc_apply_stream_fresh_checkpoint_replay_is_idempotent(spark, tmp_path):
    """Re-processing the ENTIRE landing history into an existing table
    (lost checkpoint → availableNow replays everything) must reproduce
    the identical state: duplicate rows collapse in the latest-wins
    window and tombstones still outrank replayed older changes."""
    landing = str(tmp_path / "cdc_landing")
    table = str(tmp_path / "cdc_table")

    _cdc_arrive(spark, landing, [(1, 100, 0, "I"), (2, 200, 0, "I"), (9, 900, 0, "I")])
    runner.cdc_apply_stream(spark, landing, CDC_SCHEMA, table, str(tmp_path / "ck1"))
    _cdc_arrive(spark, landing, [(1, 150, 1, "U"), (2, 0, 2, "D")])
    runner.cdc_apply_stream(spark, landing, CDC_SCHEMA, table, str(tmp_path / "ck1"))

    def snapshot():
        return sorted(
            (r.k, r.qp, r.seq, r.op)
            for r in runner.read_cdc_table(spark, table).collect()
        )

    before = snapshot()
    assert before == [(1, 150, 1, "U"), (9, 900, 0, "I")]
    # lost checkpoint: a fresh one replays ALL landing files into the
    # already-populated table
    runner.cdc_apply_stream(spark, landing, CDC_SCHEMA, table, str(tmp_path / "ck2"))
    assert snapshot() == before
    # and the tombstone survived the replay (key 2 still absent)
    import pyspark.sql.functions as SF

    raw = spark.read.parquet(*[
        os.path.join(table, e)
        for e in os.listdir(table)
        if e.startswith(f"{pl.BUCKET_COL}=")
    ])
    assert raw.filter((SF.col("k") == 2) & (SF.col("op") == "D")).count() == 1


def test_cdc_apply_stream_cleans_stale_staging_leftovers(spark, tmp_path):
    """A crash between STAGING a bucket and swapping it (the two-phase
    apply) leaves ``.<table>__staging/__bucket=K`` behind. On replay the
    sink must discard the stale staging output (the batch re-runs from
    the checkpoint) and converge to the correct state, and neither the
    table directory nor its staging sibling may hold residue."""
    landing = str(tmp_path / "cdc_landing")
    table = str(tmp_path / "cdc_table")
    ck = str(tmp_path / "ck_cdc")

    _cdc_arrive(spark, landing, [(1, 100, 0, "I"), (2, 200, 0, "I")])
    runner.cdc_apply_stream(spark, landing, CDC_SCHEMA, table, ck)

    # simulate a crash mid-batch: a fully-written staging dir for
    # bucket 1 that never swapped in (contents would-be-next state)
    stale = os.path.join(
        swap.staging(table), os.path.basename(_cdc_bucket(spark, table, 1))
    )
    os.makedirs(stale)
    with open(os.path.join(stale, "garbage.parquet"), "w") as f:
        f.write("not parquet")

    # next batch touches key 1's bucket again: the stale dir must be
    # replaced by the real staging write, then swapped cleanly
    _cdc_arrive(spark, landing, [(1, 111, 1, "U"), (9, 900, 1, "I")])
    runner.cdc_apply_stream(spark, landing, CDC_SCHEMA, table, ck)

    got = {(r.k, r.qp) for r in runner.read_cdc_table(spark, table).collect()}
    assert got == {(1, 111), (2, 200), (9, 900)}
    residue = [
        e for e in os.listdir(table)
        if e.endswith("__staging") or e.endswith("__old")
    ]
    assert residue == [], residue
    assert not os.path.exists(swap.staging(table))


def test_cdc_apply_stream_keeps_the_recorded_bucket_layout(spark, tmp_path):
    """The table's recorded layout wins over a later ``n_buckets``: a key
    loaded under 8 buckets and updated under 4 holds one live row, and
    its tombstone removes it. A stream keyed on another column raises
    instead of folding into the table."""
    import json

    landing = str(tmp_path / "cdc_landing")
    table = str(tmp_path / "cdc_table")
    ck = str(tmp_path / "ck_cdc")

    def drain(n_buckets):
        runner.cdc_apply_stream(
            spark, landing, CDC_SCHEMA, table, ck, n_buckets=n_buckets
        )
        return sorted(
            (r.k, r.qp) for r in runner.read_cdc_table(spark, table).collect()
        )

    _cdc_arrive(spark, landing, [(2, 20, 0, "I"), (5, 50, 0, "I")])
    assert drain(8) == [(2, 20), (5, 50)]
    _cdc_arrive(spark, landing, [(5, 55, 1, "U")])
    assert drain(4) == [(2, 20), (5, 55)]
    _cdc_arrive(spark, landing, [(5, 0, 2, "D")])
    assert drain(4) == [(2, 20)]
    with open(os.path.join(table, ".layout.json")) as fh:
        layout = json.load(fh)
    assert (layout["keys"], layout["n_buckets"]) == (["k"], 8)

    with pytest.raises(ValueError, match="keys"):
        runner.cdc_apply_stream(
            spark, landing, CDC_SCHEMA, table, str(tmp_path / "ck_qp"),
            key_col="qp",
        )
    assert drain(8) == [(2, 20)]

    # a dir in the earlier `bucket=<k % n>` layout records no layout: the
    # stream raises rather than write into it
    old = str(tmp_path / "old_cdc_table")
    spark.createDataFrame([(2, 20, 0, "I")], CDC_SCHEMA).withColumn(
        "bucket", F.col("k") % 8
    ).write.partitionBy("bucket").parquet(old)
    before = sorted(os.listdir(old))
    with pytest.raises(ValueError, match="no bucket layout"):
        runner.cdc_apply_stream(
            spark, landing, CDC_SCHEMA, old, str(tmp_path / "ck_old")
        )
    assert sorted(os.listdir(old)) == before


def test_cdc_apply_stream_string_key(spark, tmp_path):
    """A STRING key buckets like any other (the bucket is a hash of the
    key, not arithmetic on it)."""
    schema = StructType(
        [
            StructField("k", StringType()),
            StructField("qp", LongType()),
            StructField("seq", LongType()),
            StructField("op", StringType()),
        ]
    )
    landing = str(tmp_path / "cdc_landing")
    table = str(tmp_path / "cdc_table")
    ck = str(tmp_path / "ck_cdc")

    _cdc_arrive(spark, landing, [("a", 1, 0, "I"), ("b", 2, 0, "I")], schema)
    runner.cdc_apply_stream(spark, landing, schema, table, ck)
    _cdc_arrive(spark, landing, [("a", 0, 1, "D")], schema)
    runner.cdc_apply_stream(spark, landing, schema, table, ck)
    got = [(r.k, r.qp) for r in runner.read_cdc_table(spark, table).collect()]
    assert got == [("b", 2)]


def test_cdc_apply_stream_aborts_swap_on_short_staging_write(
    spark, tmp_path, monkeypatch
):
    """The CDC write passes ingest's read-back gate: a staging write that
    reads back short raises out of the batch before any bucket is
    swapped, so the checkpoint does not commit it, and the next run
    replays the batch to the right state."""
    from pyspark.errors import StreamingQueryException

    landing = str(tmp_path / "cdc_landing")
    table = str(tmp_path / "cdc_table")
    ck = str(tmp_path / "ck_cdc")

    _cdc_arrive(spark, landing, [(k, k * 10, 0, "I") for k in range(16)])
    runner.cdc_apply_stream(spark, landing, CDC_SCHEMA, table, ck)

    def files():
        return {
            os.path.join(dp, f)
            for dp, _, fs in os.walk(table)
            for f in fs
            if f.endswith(".parquet")
        }

    before = files()
    _cdc_arrive(
        spark, landing, [(k, k * 100, 1, "U") for k in range(8)] + [(9, 0, 1, "D")]
    )
    real = recorded.footer_rows
    monkeypatch.setattr(recorded, "footer_rows", lambda path: real(path) - 1)
    with pytest.raises(StreamingQueryException, match="read back"):
        runner.cdc_apply_stream(spark, landing, CDC_SCHEMA, table, ck)
    monkeypatch.setattr(recorded, "footer_rows", real)
    assert files() == before
    assert not os.path.exists(swap.staging(table))

    runner.cdc_apply_stream(spark, landing, CDC_SCHEMA, table, ck)
    got = sorted((r.k, r.qp) for r in runner.read_cdc_table(spark, table).collect())
    want = [(k, k * 100) for k in range(8)] + [
        (k, k * 10) for k in range(10, 16)
    ] + [(8, 80)]
    assert got == sorted(want)


def test_cdc_batch_job_count_is_pinned(spark, tmp_path):
    """Spark jobs for one CDC micro-batch that rewrites all 8 buckets of
    an existing table, around the whole drain: the touched-bucket
    ``collect_set`` and the clustered merge write; the read-back counts
    footers on the driver. It was 6 while the read-back was a Spark
    count, and 28 while each bucket had its own inferred read, write
    and swap behind an ``isEmpty()``, a persist and a
    ``distinct().collect()``. A drain with no new data runs none."""
    landing = str(tmp_path / "cdc_landing")
    table = str(tmp_path / "cdc_table")
    ck = str(tmp_path / "ck_cdc")

    def jobs():
        return int(spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs())

    _cdc_arrive(spark, landing, [(k, k, 0, "I") for k in range(64)])
    runner.cdc_apply_stream(spark, landing, CDC_SCHEMA, table, ck)
    assert len([e for e in os.listdir(table) if e.startswith(pl.BUCKET_COL)]) == 8

    def files():
        return {
            e: frozenset(os.listdir(os.path.join(table, e)))
            for e in os.listdir(table)
            if e.startswith(pl.BUCKET_COL)
        }

    old = files()
    _cdc_arrive(spark, landing, [(k, -k, 1, "U") for k in range(64)])
    before = jobs()
    progress = runner.cdc_apply_stream(spark, landing, CDC_SCHEMA, table, ck)
    assert jobs() - before == 4
    assert sum(p["numInputRows"] for p in progress) > 0
    new = files()
    assert len(new) == 8 and all(new[b] != old[b] for b in new)

    before = jobs()
    runner.cdc_apply_stream(spark, landing, CDC_SCHEMA, table, ck)
    assert jobs() == before


def test_stream_first_seen_daily_agrees_with_batch(spark, event_batches, tmp_path):
    """q121's streaming twin: chained stateful dropDuplicates + daily
    window. A terminal flush event (far-future ts, fresh user) advances
    the watermark so every real day closes; emitted per-day new-user
    counts — and their running sum — must equal the batch first-seen
    transform (per-user min day)."""
    import datetime as dt

    landing, e, _ = event_batches
    # copy the ordered fixture into a private landing dir and append
    # the flush file LAST (maxFilesPerTrigger=1 drains in file order)
    land2 = str(tmp_path / "landing_fs")
    spark.read.parquet(landing).coalesce(1).write.mode("append").parquet(land2)
    hi = e.agg(F.max("event_time")).collect()[0][0]
    flush_ts = hi + dt.timedelta(days=365)
    spark.createDataFrame(
        [(10**12, flush_ts, 10**12, "flush", 0.0)], EVENT_SCHEMA_V
    ).coalesce(1).write.mode("append").parquet(land2)

    stream = runner.file_stream(spark, land2, EVENT_SCHEMA, fmt="parquet",
                                max_files_per_trigger=1)
    agg = runner.first_seen_daily_counts(stream, watermark="45 days")
    runner.run_stream_to_memory(agg, "first_seen", str(tmp_path / "ck_fs"))
    got = {
        r.day_start_us: r.n_new_users
        for r in spark.table("first_seen").collect()
        if r.n_new_users  # flush user's own far-future day may close too
    }
    batch = {
        r.day_start_us: r.n_new_users
        for r in (
            e.groupBy("user_id")
            .agg(F.min(F.to_date("event_time")).alias("first_day"))
            .groupBy("first_day")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_new_users"))
            .select(
                F.unix_micros(F.col("first_day").cast("timestamp")).alias(
                    "day_start_us"
                ),
                "n_new_users",
            )
            .collect()
        )
    }
    flush_day = {
        k for k in got if k not in batch
    }
    assert len(flush_day) <= 1  # at most the flush user's own day
    real = {k: v for k, v in got.items() if k in batch}
    assert real == batch, (real, batch)
    # cumulative series (the q121 output) agrees by construction
    days = sorted(batch)
    acc, cum_batch = 0, {}
    for d in days:
        acc += batch[d]
        cum_batch[d] = acc
    acc2, cum_stream = 0, {}
    for d in days:
        acc2 += real[d]
        cum_stream[d] = acc2
    assert cum_stream == cum_batch


def test_abtest_monitor_stream_agrees_with_batch_readout(
    spark, event_batches, tmp_path
):
    """q161's streaming twin: the monitor folds three arrival batches
    into first-seen/first-conversion indexes + per-arm deltas; the
    final readout must equal the batch query on the same events
    byte-for-byte (both go through abtest_readout_from_counts)."""
    from python_lambda_ecs_container_data_etl_aws_spark.plans.business import q161

    landing, e, _ = event_batches
    state = str(tmp_path / "ab_state")
    runner.abtest_monitor_stream(
        spark,
        landing,
        EVENT_SCHEMA,
        state,
        str(tmp_path / "ab_ck"),
    )
    got = runner.read_abtest_readout(spark, state).collect()
    want = q161(spark, SF_DIR).collect()
    assert got == want
    # three arrival batches -> three delta dirs
    assert (
        len([d for d in os.listdir(os.path.join(state, "arm_deltas"))
             if d.startswith("batch=")]) >= 1
    )


def test_abtest_monitor_replay_does_not_double_count(
    spark, event_batches, tmp_path
):
    """Restart contract: a second monitor run over a landing dir that
    gained one MORE chunk (every event a duplicate of already-seen
    users, including their purchases) must add zero new users and zero
    new conversions — the persisted first-seen indexes make replayed
    facts idempotent."""
    landing, e, _ = event_batches
    land2 = str(tmp_path / "landing_ab2")
    spark.read.parquet(landing).coalesce(1).write.mode("append").parquet(land2)
    state = str(tmp_path / "ab2_state")
    ck = str(tmp_path / "ab2_ck")
    runner.abtest_monitor_stream(spark, land2, EVENT_SCHEMA, state, ck)
    before = runner.read_abtest_readout(spark, state).collect()
    # append a duplicate chunk (same users, same purchase behavior)
    spark.read.parquet(landing).limit(500).coalesce(1).write.mode(
        "append"
    ).parquet(land2)
    runner.abtest_monitor_stream(spark, land2, EVENT_SCHEMA, state, ck)
    after = runner.read_abtest_readout(spark, state).collect()
    assert after == before


def test_zero_row_batch_dir_reads_back_as_empty(spark, tmp_path):
    """The premise that lets the sinks write every batch dir, even an
    empty one: a zero-row overwrite leaves a schema-only part file, so
    a later probe over the other batches reads 0 rows with the right
    schema (for a filtered scan and for a post-shuffle distinct)."""
    src = str(tmp_path / "zr_src")
    spark.range(100).select((F.col("id") % 7).alias("k")).write.parquet(src)
    none = spark.read.parquet(src).filter(F.col("k") < 0)
    root = str(tmp_path / "zr_index")
    runner._write_batch(none, root, 0)
    runner._write_batch(none.distinct(), root, 1)
    others = runner._other_batches(root, 2)
    assert sorted(os.path.basename(d) for d in others) == ["batch=0", "batch=1"]
    assert runner._other_batches(root, 1) == [os.path.join(root, "batch=0")]
    probe = spark.read.parquet(*others)
    assert probe.schema.names == ["k"]
    assert probe.count() == 0


def test_streaming_runner_makes_each_replay_decision_once():
    """The drain and the per-batch directory rule live in one helper
    each, so the streaming sinks cannot fork them again: availableNow
    and awaitTermination appear only in _drain, ``batch={`` only in
    _write_batch/_other_batches; no sink heals or deletes a dir, and an
    isEmpty() test only returns early, never guards a batch-dir write.
    The CDC table has no maintainer of its own here: the module swaps
    no directory and heals no partition children, computes no
    ``% n_buckets`` bucket (sources/pipeline.py maintains and reads the
    table). No function holds a bare parquet read: every per-batch
    store is read through sources/recorded.read with the schema its
    sink writes."""
    import ast

    with open(runner.__file__, encoding="utf-8") as fh:
        text = fh.read()
    tree = ast.parse(text)
    owner = {}
    for node in tree.body:
        if isinstance(node, ast.FunctionDef):
            for ln in range(node.lineno, node.end_lineno + 1):
                owner[ln] = node.name
    allowed = {
        "availableNow": {"_drain"},
        "awaitTermination": {"_drain"},
        "batch={": {"_write_batch", "_other_batches"},
    }
    for token, fns in allowed.items():
        holders = {
            owner.get(i) for i, line in enumerate(text.splitlines(), 1) if token in line
        }
        assert holders and holders <= fns, (token, holders)
    for node in ast.walk(tree):
        if isinstance(node, ast.FunctionDef) and node.name == "sink":
            called = {
                c.func.attr
                for c in ast.walk(node)
                if isinstance(c, ast.Call) and isinstance(c.func, ast.Attribute)
            }
            assert not called & {"heal", "heal_children", "rmtree"}, called
        if isinstance(node, ast.If) and "isEmpty" in ast.unparse(node.test):
            assert [type(b) for b in node.body] == [ast.Return], ast.unparse(node)
            assert not node.orelse
    swaps = {
        ast.unparse(c.func)
        for c in ast.walk(tree)
        if isinstance(c, ast.Call)
        and isinstance(c.func, ast.Attribute)
        and c.func.attr in ("swap", "swap_children", "heal_children")
    }
    assert not swaps, swaps
    assert "% n_buckets" not in text
    # every per-batch store is read with the schema its sink writes
    assert "spark.read." not in text
