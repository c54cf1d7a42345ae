"""Streaming ingest + windowed aggregation.

The reference's streaming semantics (SURVEY §2.8) and their Spark forms:

- ST1 file-arrival source (S3 ObjectCreated → SQS → handler):
  ``spark.readStream`` file source on a landing dir — same "new object"
  semantics, minus the queue.
- ST2 at-least-once + retry (batchItemFailures, `2.1:370-386`):
  checkpointed exactly-once micro-batches; the retry loop vanishes.
- ST3/ST4 idempotency + staleness windows (`2.2:219-255,595-611`):
  event-time watermark; late rows are dropped by the engine.
- ST5 self-trigger prevention ("horrible infinite loop", `2.1:445-449`):
  structurally separate landing vs output paths.
- ST6 completion detection ("all of today's files loaded" → report,
  `2.2:344-360`): a ``foreachBatch`` bookkeeping hook (no native
  primitive; the reference's check_remaining_files logic reborn as a
  tiny state table the hook maintains).

Batch/stream parity: :func:`tumbling_counts` is the streaming twin of
the q14 batch query; tests feed the same rows incrementally and assert
closed windows agree.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter
from pyspark.sql.types import StructType

from ..sources import recorded


def file_stream(
    spark: SparkSession,
    landing_dir: str,
    schema: StructType,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    reader = spark.readStream.format(fmt).schema(schema)
    if fmt == "csv":
        reader = reader.option("header", True)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(landing_dir)


def tumbling_counts(
    events: DataFrame,
    time_col: str = "event_time",
    window: str = "10 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Windowed counts with late-data drop — q14's streaming twin.

    COUNT(DISTINCT) is not supported inside streaming aggs, so user
    cardinality uses approx_count_distinct; the exact-parity column is
    n_events (what the batch oracle checks).
    """
    return (
        events.withWatermark(time_col, watermark)
        .groupBy(F.window(F.col(time_col), window).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.approx_count_distinct("user_id").alias("n_users_approx"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start_sec"),
            "n_events",
            "n_users_approx",
        )
    )


def hopping_counts(
    events: DataFrame,
    time_col: str = "event_time",
    length: str = "30 minutes",
    hop: str = "10 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Overlapping-window counts/sums — q116's streaming twin, run on
    the SAME native ``F.window(slideDuration=...)`` expression the
    batch plan uses (each event lands in length/hop windows; the
    engine fans out inside the scan stage, then one (type, window)
    streaming aggregate with watermark-bounded state). Value sums are
    quantized to BIGINT cents exactly as in the batch/oracle pair, so
    closed windows are hash-comparable against the batch computation
    (``test_stream_hopping_agrees_with_batch``)."""
    return (
        events.withWatermark(time_col, watermark)
        .groupBy(
            F.col("event_type"),
            F.window(F.col(time_col), length, hop).alias("w"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.floor(F.col("value") * 100).cast("bigint"))
            .cast("bigint")
            .alias("qsum"),
        )
        .select(
            "event_type",
            F.unix_micros(F.col("w.start")).alias("win_start_us"),
            "n_events",
            "qsum",
        )
    )


def session_counts(
    events: DataFrame,
    time_col: str = "event_time",
    gap: str = "30 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Gap-based sessionization as a native streaming agg — q34's
    streaming twin via ``F.session_window``: a session closes when a
    user goes ``gap`` without an event, exactly the batch LAG+SUM
    definition. The engine merges/extends open sessions in the state
    store and only emits a session once the watermark passes its end —
    so closed sessions agree with the batch computation.
    """
    return (
        events.withWatermark(time_col, watermark)
        .groupBy(F.session_window(F.col(time_col), gap).alias("w"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_micros(F.col("w.start")).alias("session_start_us"),
            "n_events",
        )
    )


def first_seen_daily_counts(
    events: DataFrame,
    time_col: str = "event_time",
    watermark: str = "45 days",
) -> DataFrame:
    """q121's streaming twin — cumulative-distinct-users run as CHAINED
    STATEFUL OPERATORS (Spark 4): streaming ``dropDuplicates(user_id)``
    keeps each user's FIRST arrival, then a 1-day window counts
    first-seen users per day in append mode (a day emits once the
    watermark passes its end). The cumulative series is the running
    sum q121's reader applies over this |days|-sized output — the
    stream never materializes a running distinct count, mirroring the
    batch first-seen transform exactly.

    The watermark horizon bounds BOTH admissible event-time disorder
    AND the dedup state's retention: a duplicate arriving more than
    ``watermark`` after its user's first event finds the state evicted
    and double-counts. Size the horizon to the feed's maximum
    first-to-repeat lag (the equivalence test covers the whole fixture
    span and advances emission with a terminal flush event, the same
    pattern as the left-outer interval-join test)."""
    firsts = events.withWatermark(time_col, watermark).dropDuplicates(
        ["user_id"]
    )
    return (
        firsts.groupBy(F.window(F.col(time_col), "1 day").alias("w"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_new_users"))
        .select(
            F.unix_micros(F.col("w.start")).alias("day_start_us"),
            "n_new_users",
        )
    )


def dedup_within_watermark(
    events: DataFrame,
    keys: list[str],
    time_col: str = "event_time",
    watermark: str = "30 minutes",
) -> DataFrame:
    """ST3 idempotency window as a stream operator: duplicate keys
    arriving within the watermark horizon are dropped exactly once —
    the reference's refuse-reload-within-30-minutes gate
    (`2.2 loading-lambda-for-mysql.py:219-255`) with bounded state
    (expired keys age out of the state store)."""
    return events.withWatermark(time_col, watermark).dropDuplicatesWithinWatermark(keys)


def stateful_user_counts(events: DataFrame) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: a running
    per-user event counter that persists across micro-batches (the
    pattern for operators Spark's built-in aggs can't express — e.g.
    sessionization, decaying counters, per-entity model state).

    Emits (user_id, n_events_total, n_batches_seen) every time a user
    appears in a batch; the final emission per user carries the
    all-time total. State is a 2-int tuple per user — GroupState keeps
    it in the state store between triggers.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import (
        LongType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_events_total", LongType()),
            StructField("n_batches_seen", LongType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("total", LongType()),
            StructField("batches", LongType()),
        ]
    )

    def fn(key, pdfs, state):
        import pandas as pd

        n_new = 0
        for pdf in pdfs:
            n_new += len(pdf)
        total, batches = state.get if state.exists else (0, 0)
        total, batches = total + n_new, batches + 1
        state.update((total, batches))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events_total": [total], "n_batches_seen": [batches]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _drain(writer: DataStreamWriter, checkpoint_dir: str) -> list[dict]:
    """Run ``writer``'s query over everything its source holds now
    (availableNow, checkpointed) and wait for it. Returns the query's
    ``recentProgress``: one dict per micro-batch with its input rows
    and durations, so a run explains itself without the Spark UI.
    ``numInputRows`` counts every scan of the source: a sink that reads
    its batch twice (an ``isEmpty()`` check, then a write) counts each
    row twice."""
    q = (
        writer.option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q.recentProgress


def _other_batches(root: str, batch_id: int) -> list[str]:
    """Every ``batch=*`` dir under ``root`` except ``batch_id``'s own.

    The replay rule of the per-batch sinks: a crash after a batch's
    writes but before its checkpoint commit re-runs the same batch id,
    so a probe of "the corpus so far" must not see the crashed
    attempt's own rows; they are re-derived and overwritten instead."""
    if not os.path.isdir(root):
        return []
    return [
        os.path.join(root, e)
        for e in os.listdir(root)
        if e.startswith("batch=") and e != f"batch={batch_id}"
    ]


def _write_batch(df: DataFrame, root: str, batch_id: int) -> None:
    """Overwrite ``root/batch=<batch_id>`` with ``df``, so a replayed
    batch replaces its own dir instead of double-appending. A zero-row
    ``df`` still writes one schema-only part file, which later
    :func:`_other_batches` probes read back as 0 rows."""
    df.write.mode("overwrite").parquet(os.path.join(root, f"batch={batch_id}"))


def run_stream_to_memory(
    stream_df: DataFrame,
    query_name: str,
    checkpoint_dir: str,
    output_mode: str = "append",
) -> list[dict]:
    """Drain a stream (:func:`_drain`) into an in-memory sink
    (test/verification harness; production uses parquet/Delta sinks)."""
    return _drain(
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode),
        checkpoint_dir,
    )


def ingest_stream(
    spark: SparkSession,
    landing_dir: str,
    schema: StructType,
    out_dir: str,
    checkpoint_dir: str,
    fmt: str = "csv",
    transform: Callable[[DataFrame], DataFrame] | None = None,
    on_batch_complete: Callable[[DataFrame, int], None] | None = None,
) -> list[dict]:
    """Landing-dir → (transform) → parquet sink, exactly-once, with a
    foreachBatch completion hook (ST6). Runs trigger-once
    (batch-of-the-stream, :func:`_drain`) and returns its per-batch
    progress; a production deployment runs it continuously.

    With :func:`refresh_report_once` as the hook this is the streaming
    twin of the maintained report (sources/report.py): the
    load→rebuild-report loop (`2.2:376-398`) folding each batch into the
    report, never rescanning the facts. Each batch's facts land in
    ``out_dir/batch=<id>`` (:func:`_write_batch`), so a batch replayed
    after a lost commit replaces its own dir instead of appending its
    rows again, and readers of ``out_dir`` see a ``batch`` partition
    column.

    An ``out_dir`` written by the earlier flat append sink (part files
    at its root) cannot take ``batch=`` dirs beside them — Spark's
    partition discovery rejects the mix — so such a dir raises
    ``ValueError`` before the stream starts: point the stream at a new
    ``out_dir``, or move the old files into one.
    """
    if os.path.isdir(out_dir):
        flat = [
            e
            for e in os.listdir(out_dir)
            if not e.startswith(("_", "."))
            and os.path.isfile(os.path.join(out_dir, e))
        ]
        if flat:
            raise ValueError(
                f"{out_dir} holds data files at its root ({flat[0]}...), the "
                "flat layout of the earlier append sink; ingest_stream "
                "writes batch=<id> dirs, which cannot sit beside them: use "
                "a new out_dir or move the old files"
            )
    src = file_stream(spark, landing_dir, schema, fmt)
    if transform is not None:
        src = transform(src)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        _write_batch(batch_df, out_dir, batch_id)
        if on_batch_complete is not None:
            on_batch_complete(batch_df, batch_id)

    return _drain(src.writeStream.foreachBatch(sink), checkpoint_dir)


def refresh_report_once(
    spark: SparkSession,
    report_dir: str,
    report_spec,
    batch_df: DataFrame,
    batch_id: int,
) -> bool:
    """Fold ``batch_df``'s aggregate state into the report unless this
    ``batch_id`` was already applied (crash-replay guard). Returns
    whether a refresh happened.

    The ``_last_batch`` marker travels INSIDE the report staging dir,
    so state and marker flip in one atomic rename: a crash anywhere
    leaves either the old report (old marker → replay re-applies) or
    the new report (new marker → replay no-ops) — never a half-applied
    batch. That turns foreachBatch's at-least-once re-delivery into an
    effectively-once report."""
    from ..sources.report import aggregate_state, last_applied_batch, refresh_report

    if batch_id <= last_applied_batch(report_dir):
        return False
    refresh_report(
        spark,
        report_dir,
        report_spec,
        aggregate_state(batch_df, report_spec),
        marker_batch_id=batch_id,
    )
    return True


def dedup_ingest_stream(
    spark: SparkSession,
    landing_dir: str,
    schema: StructType,
    corpus_dir: str,
    checkpoint_dir: str,
    fmt: str = "parquet",
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
) -> list[dict]:
    """Continuous corpus curation: each arriving micro-batch of
    documents is near-dup-deduped AGAINST THE CORPUS SO FAR (plus
    within itself) before its survivors are appended — the streaming
    composition of `dedup.minhash_lsh_dedup_incremental`, so old-old
    pairs are never formed and per-batch work scales with the batch.

    Drop policy (greedy, deterministic): a new doc that near-dups any
    corpus doc is dropped; within a batch pair both-new, the higher id
    is dropped (ids are required unique across the stream).

    Exactly-once without a transaction log: each batch writes its
    survivors (docs AND their index rows) to ``batch=<batch_id>``
    subdirs with overwrite — a crash-replayed batch overwrites its own
    directories instead of double-appending — and the index probe reads
    every index batch dir EXCEPT this batch's own (the segment stream's
    replay rule), so a replay never pairs its docs with themselves.

    Per-batch cost scales with the batch: the corpus is never
    re-shingled — its LSH index (shingle arrays + band buckets,
    `dedup.lsh_index_of`) is PERSISTED beside the corpus and each
    batch appends its survivors' rows. The index band relation is
    probed once per batch; at real scale you'd bucket it by
    (band, bucket) so the probe co-locates.

    FORMAT BREAK (round 10): the persisted ``sh`` relation's schema
    changed from array<string> to hashed array<bigint> (see
    `dedup.lsh_index_of`). A corpus index written by a round-≤9 build
    fails loudly (parquet schema mismatch) on the first post-upgrade
    batch — rebuild it with ``lsh_index_of`` over the corpus before
    resuming the stream.
    """
    from ..operators.dedup import (
        _jaccard_verify,
        candidate_pairs_from_bands,
        lsh_index_of,
        neardup_pairs_vs_index,
    )

    index_dir = corpus_dir.rstrip("/") + "__index"
    sh_dir = os.path.join(index_dir, "sh")
    bands_dir = os.path.join(index_dir, "bands")
    src = file_stream(spark, landing_dir, schema, fmt)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            # an empty arriving file has nothing to dedup: skip the
            # batch's jobs and dirs (the streaming twin of the ingest
            # empty-delta guard)
            return
        batch = batch_df.persist()
        bsh, bb = lsh_index_of(batch, text_col, id_col)
        bsh, bb = bsh.persist(), bb.persist()
        ish, ib = _other_batches(sh_dir, batch_id), _other_batches(bands_dir, batch_id)
        if ish and ib:
            index = recorded.read(spark, ish, bsh.schema), recorded.read(spark, ib, bb.schema)
            pairs = neardup_pairs_vs_index(*index, bsh, bb, threshold)
        else:
            pairs = _jaccard_verify(candidate_pairs_from_bands(bb), bsh).filter(
                F.col("jaccard") >= threshold
            )
        new_ids = batch.select(F.col(id_col).alias("nid"))
        p = (
            pairs.join(
                new_ids.withColumnRenamed("nid", "a_new"),
                F.col("a_id") == F.col("a_new"),
                "left",
            )
            .join(
                new_ids.withColumnRenamed("nid", "b_new"),
                F.col("b_id") == F.col("b_new"),
                "left",
            )
        )
        drop = (
            # new doc duplicating an old one — whichever side it is on
            p.filter(F.col("b_new").isNotNull() & F.col("a_new").isNull())
            .select(F.col("b_id").alias("drop_id"))
            .unionByName(
                p.filter(F.col("a_new").isNotNull() & F.col("b_new").isNull())
                .select(F.col("a_id").alias("drop_id"))
            )
            # both new: keep the lower id
            .unionByName(
                p.filter(F.col("a_new").isNotNull() & F.col("b_new").isNotNull())
                .select(F.col("b_id").alias("drop_id"))
            )
            .distinct()
        )
        survivors = batch.join(
            drop, F.col(id_col) == F.col("drop_id"), "left_anti"
        ).persist()
        _write_batch(survivors, corpus_dir, batch_id)
        # append the survivors' index rows — the corpus is never
        # re-shingled; replay overwrites the same batch dirs
        surv_ids = survivors.select(F.col(id_col).alias("id"))
        _write_batch(bb.join(surv_ids, "id", "left_semi"), bands_dir, batch_id)
        _write_batch(bsh.join(surv_ids, "id", "left_semi"), sh_dir, batch_id)
        survivors.unpersist()
        bsh.unpersist()
        bb.unpersist()
        batch.unpersist()

    return _drain(src.writeStream.foreachBatch(sink), checkpoint_dir)


def segment_dedup_ingest_stream(
    spark: SparkSession,
    landing_dir: str,
    schema: StructType,
    corpus_dir: str,
    checkpoint_dir: str,
    fmt: str = "parquet",
    text_col: str = "text",
    id_col: str = "doc_id",
    seg_tokens: int = 8,
) -> list[dict]:
    """Streaming twin of q70's incremental segment dedup (the C4-style
    line-dedup run continuously): each arriving micro-batch's documents
    are cut into ``seg_tokens``-token segments; a segment already in
    the persisted corpus SEGMENT INDEX — or seen earlier in the batch,
    first (doc_id, seg_idx) occurrence wins — is dropped, and every doc
    is rebuilt from its surviving segments in order.

    Cleaned docs land in ``corpus_dir``; kept segments append to the
    index at ``corpus_dir + "__segindex"`` — the corpus is never
    re-segmented, so per-batch cost scales with the batch (the same
    incremental posture as :func:`dedup_ingest_stream`'s MinHash index).

    Exactly-once without a transaction log: per-batch overwrite of
    ``batch=<id>`` subdirs — a crash-replayed batch overwrites its own
    directories instead of double-appending — and the membership probe
    reads every index batch dir EXCEPT this batch's own, so a replay
    after the index write (crash before checkpoint commit) re-derives
    the same survivors instead of seeing its own crashed attempt as
    "the corpus" and gutting the batch.

    Scale note: the index stores segment TEXT here so the pytest
    equality against batch q70 is exact; at 100 TB you store
    ``xxhash64(seg_text)`` bucketed by hash range and probe on the
    hash (collision risk bounded, same trade the reference's
    count-validation makes)."""
    from pyspark.sql import Window

    index_dir = corpus_dir.rstrip("/") + "__segindex"
    src = file_stream(spark, landing_dir, schema, fmt)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return  # same empty-batch no-op as dedup_ingest_stream
        seg = (
            batch_df.select(
                F.col(id_col), F.split(F.col(text_col), " ").alias("toks")
            )
            .select(
                id_col,
                F.explode(
                    F.sequence(
                        F.lit(0),
                        F.expr(
                            f"CAST((size(toks) + {seg_tokens} - 1) "
                            f"div {seg_tokens} AS INT)"
                        )
                        - 1,
                    )
                ).alias("seg_idx"),
                "toks",
            )
            .select(
                id_col,
                "seg_idx",
                F.array_join(
                    F.slice(
                        F.col("toks"), F.col("seg_idx") * seg_tokens + 1, seg_tokens
                    ),
                    " ",
                ).alias("seg_text"),
            )
        )
        # within-batch first occurrence + corpus-membership probe — the
        # exact q70 shape (one seg_text-keyed window, one hash join)
        w = Window.partitionBy("seg_text").orderBy(id_col, "seg_idx")
        seg = seg.withColumn("rn", F.row_number().over(w))
        # probe the OTHER batches' index dirs only: a replay that saw its
        # own crashed attempt's segments would gut the whole batch
        other_batches = _other_batches(index_dir, batch_id)
        if other_batches:
            stored = recorded.read(spark, other_batches, seg.select("seg_text").schema)
            idx = stored.select("seg_text").distinct()
            seg = seg.join(
                idx.withColumn("__in_corpus", F.lit(1)), "seg_text", "left"
            )
        else:
            seg = seg.withColumn("__in_corpus", F.lit(None).cast("int"))
        seg = seg.persist()
        keep = (F.col("rn") == 1) & F.col("__in_corpus").isNull()
        kept_struct = F.when(keep, F.struct(F.col("seg_idx"), F.col("seg_text")))
        cleaned = seg.groupBy(id_col).agg(
            F.count(F.lit(1)).alias("n_segs"),
            F.sum(F.when(keep, 1).otherwise(0)).cast("bigint").alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)),
                    lambda x: x["seg_text"],
                ),
                " ",
            ).alias("clean_text"),
        )
        _write_batch(cleaned, corpus_dir, batch_id)
        _write_batch(
            seg.filter(keep).select("seg_text").distinct(), index_dir, batch_id
        )
        seg.unpersist()

    return _drain(src.writeStream.foreachBatch(sink), checkpoint_dir)


def exact_dedup_ingest_stream(
    spark: SparkSession,
    landing_dir: str,
    schema: StructType,
    corpus_dir: str,
    checkpoint_dir: str,
    fmt: str = "parquet",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> list[dict]:
    """Continuous NORMALIZED-exact dedup ingest (the q79 rule run as a
    stream): each arriving micro-batch keeps, per normalized text
    (lower + strip non-alnum + collapse spaces + trim), the lowest-id
    doc not already in the corpus — probing a persisted md5(norm)
    index, never re-normalizing history. The cheap front tier of
    continuous curation (the near-dup tiers are dedup_ingest_stream /
    segment_dedup_ingest_stream).

    Exactly-once: per-batch ``batch=<id>`` overwrite; the index probe
    excludes this batch's own dir so a crash-after-index-write replay
    re-derives the same survivors (same idempotence contract as the
    segment stream)."""
    from pyspark.sql import Window

    from ..operators.curate import norm_group_key, normalize_text

    index_dir = corpus_dir.rstrip("/") + "__normindex"
    src = file_stream(spark, landing_dir, schema, fmt)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # ONE group-key definition (operators/curate.norm_group_key,
        # shared with q79 and curate_corpus stage 2): empty-normalized
        # docs get per-doc keys, so each is its own kept group — the
        # keep-all-empty rule falls out of the plain rn==1 ∧ unseen
        # condition with no special-case OR. Their 'E'-prefixed keys
        # never enter the index (an indexed '' hash would drop every
        # such doc forever).
        nrm = normalize_text(F.col(text_col))
        batch = batch_df.withColumn(
            "__gk", norm_group_key(nrm, F.col(id_col))
        ).withColumn("__empty", nrm == F.lit(""))
        w = Window.partitionBy("__gk").orderBy(id_col)
        batch = batch.withColumn("__rn", F.row_number().over(w))
        others = _other_batches(index_dir, batch_id)
        if others:
            # on-disk index column stays "__nmd5" (the stored values
            # are raw md5 hashes — pre-refactor indexes remain valid)
            stored = batch.select(F.col("__gk").alias("__nmd5")).schema
            idx = (
                recorded.read(spark, others, stored)
                .select(F.col("__nmd5").alias("__gk"))
                .distinct()
            )
            batch = batch.join(
                idx.withColumn("__seen", F.lit(1)), "__gk", "left"
            )
        else:
            batch = batch.withColumn("__seen", F.lit(None).cast("int"))
        survivors = batch.filter(
            (F.col("__rn") == 1) & F.col("__seen").isNull()
        ).persist()
        _write_batch(
            survivors.drop("__gk", "__rn", "__seen", "__empty"), corpus_dir, batch_id
        )
        # empty-norm (per-doc 'E'-keyed) groups never enter the index
        # (see comment above)
        _write_batch(
            survivors.filter(~F.col("__empty"))
            .select(F.col("__gk").alias("__nmd5"))
            .distinct(),
            index_dir,
            batch_id,
        )
        survivors.unpersist()

    return _drain(src.writeStream.foreachBatch(sink), checkpoint_dir)


def source_cap_stream(
    spark: SparkSession,
    landing_dir: str,
    schema: StructType,
    kept_dir: str,
    checkpoint_dir: str,
    fmt: str = "parquet",
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
    cap: int = 10,
) -> list[dict]:
    """Incremental per-source best-K cap (the q72 rule as a stream):
    the kept table always holds, per source, the top ``cap`` docs by
    (token count desc, id asc) over EVERYTHING seen so far. Each batch
    folds into the kept state — top-K is an incrementally maintainable
    aggregate: topK(state ∪ batch) ≡ topK(all history) because any doc
    outside a previous top-K can never re-enter (scores are immutable).

    Replay-safe by construction: the fold dedups by id before ranking,
    so re-folding an already-folded batch is a no-op; the kept table
    (≤ cap × |sources| rows — state, not data) is replaced whole by
    ``recorded.install`` (a short write raises out of the batch, which
    then replays), with its schema recorded, so reading it back
    launches no schema-inference job."""
    from pyspark.sql import Window

    from ..sources import swap

    # heal a crashed swap at STREAM START: a restart with no new input
    # fires zero batches, and readers of the kept table would otherwise
    # see a missing path until data happens to arrive. Within the run a
    # failed swap raises out of the sink and ends the query.
    swap.heal(kept_dir)
    src = file_stream(spark, landing_dir, schema, fmt)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        merged = batch_df
        if os.path.isdir(kept_dir):
            state = recorded.read(spark, kept_dir, recorded.load_schema(kept_dir))
            merged = state.unionByName(batch_df)
        # replay fold: same doc may sit in state AND the batch
        wid = Window.partitionBy(id_col).orderBy(id_col)
        merged = merged.withColumn("__dup", F.row_number().over(wid)).filter(
            F.col("__dup") == 1
        )
        toks = F.size(F.split(F.col(text_col), " "))
        wcap = Window.partitionBy(source_col).orderBy(toks.desc(), F.col(id_col))
        kept = (
            merged.withColumn("__rn", F.row_number().over(wcap))
            .filter(F.col("__rn") <= cap)
            .drop("__rn", "__dup")
        )
        recorded.install(kept.coalesce(1), kept_dir)

    return _drain(src.writeStream.foreachBatch(sink), checkpoint_dir)


def stateful_funnel(events: DataFrame, gap_us: int = 30 * 60 * 1_000_000) -> DataFrame:
    """Streaming twin of the q67 conversion funnel: per-user pending
    `view` events wait in state until a `purchase` within ``gap_us``
    converts them or event time moves past their window, then resolve
    exactly once as (day_idx, converted) emissions — aggregate the
    output for the live funnel dashboard.

    State per user: pending view timestamps plus the user's event-time
    high-water mark. A view resolves CONVERTED on the first purchase
    with view_ts <= purchase_ts <= view_ts + gap, and UNCONVERTED once
    the high-water mark passes view_ts + gap (no qualifying purchase
    can arrive later — per-user event files are delivered in time
    order, the same in-order replay contract ST7/W1 rely on). Each
    view resolves exactly once, so summing emissions reproduces the
    batch q67 counts when the stream drains.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("day_idx", LongType()),
            StructField("converted", IntegerType()),
        ]
    )
    # pending view timestamps travel as a CSV string — GroupState rows
    # are flat, and the list is bounded by gap_us worth of one user's
    # views
    state_schema = StructType(
        [
            StructField("pending", StringType()),
            StructField("hwm", LongType()),
        ]
    )

    day_us = 86_400 * 1_000_000

    def fn(key, pdfs, state):
        import pandas as pd

        pending_csv, hwm = state.get if state.exists else ("", 0)
        pending = [int(x) for x in pending_csv.split(",") if x]
        out_day, out_conv = [], []
        rows = []
        for pdf in pdfs:
            rows.extend(zip(pdf["ts_us"].tolist(), pdf["event_type"].tolist()))
        # ties: views sort BEFORE purchases at the same instant, so a
        # same-timestamp purchase converts the view — one deterministic
        # convention regardless of micro-batch boundaries (lexicographic
        # etype order would flip the outcome depending on batching).
        # Batch q67 orders its window by the SAME (ts_us, view-first,
        # event_id) rank, so drained-stream ≡ batch holds on ties too.
        rows.sort(key=lambda r: (r[0], 0 if r[1] == "view" else 1))
        for ts, etype in rows:
            ts = int(ts)
            hwm = max(hwm, ts)
            if etype == "view":
                pending.append(ts)
            elif etype == "purchase":
                still = []
                for v in pending:
                    if v <= ts <= v + gap_us:
                        out_day.append(v // day_us)
                        out_conv.append(1)
                    else:
                        still.append(v)
                pending = still
            # expire views whose window closed (in-order delivery: no
            # qualifying purchase can still arrive)
            still = []
            for v in pending:
                if hwm > v + gap_us:
                    out_day.append(v // day_us)
                    out_conv.append(0)
                else:
                    still.append(v)
            pending = still
        state.update((",".join(str(v) for v in pending), hwm))
        yield pd.DataFrame(
            {
                "user_id": [key[0]] * len(out_day),
                "day_idx": out_day,
                "converted": out_conv,
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def boilerplate_lines_ingest_stream(
    spark: SparkSession,
    landing_dir: str,
    schema: StructType,
    corpus_dir: str,
    checkpoint_dir: str,
    fmt: str = "parquet",
    text_col: str = "text",
    id_col: str = "doc_id",
    line_tokens: int = 10,
    min_docs: int = 3,
) -> list[dict]:
    """Continuous boilerplate-line removal (the q81 CCNet rule as a
    stream): split each arriving doc into fixed ``line_tokens``-token
    lines, and drop every line whose document frequency — across ALL
    batches seen so far plus this one — has reached ``min_docs``. The
    per-batch line-df index (line_md5 → distinct-doc count) persists
    next to the corpus; cumulative df is the sum over batch dirs.

    Streaming semantic (documented, arrival-time): a line that only
    LATER becomes frequent stays in the docs that arrived before the
    threshold was crossed — the batch query (q81) is the compaction
    pass that retro-cleans history; this tier is the cheap front door
    that stops known chrome at ingest.

    Exactly-once: per-batch ``batch=<id>`` overwrite for both corpus
    and index; the df probe excludes this batch's own index dir, so a
    crash-after-index-write replay re-derives the same output (same
    idempotence contract as the exact-dedup tier)."""
    index_dir = corpus_dir.rstrip("/") + "__linedf"
    src = file_stream(spark, landing_dir, schema, fmt)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        toks = F.split(F.col(text_col), " ")
        n_lines = F.expr(
            f"CAST((size(__toks) + {line_tokens} - 1) div {line_tokens} AS INT)"
        )
        lines = (
            batch_df.withColumn("__toks", toks)
            .withColumn("__li", F.explode(F.sequence(F.lit(0), n_lines - 1)))
            .withColumn(
                "__line",
                F.array_join(
                    F.slice(
                        F.col("__toks"),
                        F.col("__li") * line_tokens + 1,
                        line_tokens,
                    ),
                    " ",
                ),
            )
            .withColumn("__lmd5", F.md5(F.col("__line").cast("binary")))
            .drop("__toks")
            .persist()
        )
        # this batch's per-line distinct-doc counts
        batch_df_counts = lines.groupBy("__lmd5").agg(
            F.countDistinct(id_col).cast("bigint").alias("ndocs")
        )
        # cumulative history EXCLUDING this batch's own dir (replay safety)
        others = _other_batches(index_dir, batch_id)
        if others:
            hist = (
                recorded.read(spark, others, batch_df_counts.schema)
                .groupBy("__lmd5")
                .agg(F.sum("ndocs").cast("bigint").alias("hdocs"))
            )
            cum = batch_df_counts.join(hist, "__lmd5", "left").select(
                "__lmd5",
                (
                    F.col("ndocs") + F.coalesce(F.col("hdocs"), F.lit(0))
                ).alias("cdocs"),
            )
        else:
            cum = batch_df_counts.select(
                "__lmd5", F.col("ndocs").alias("cdocs")
            )
        boiler = cum.filter(F.col("cdocs") >= min_docs).select("__lmd5")
        keep = lines.join(boiler.withColumn("__b", F.lit(1)), "__lmd5", "left")
        # rebuild each doc from its surviving lines in order (explicit
        # sorted-struct fold — collect_list order is never relied on)
        rebuilt = (
            keep.filter(F.col("__b").isNull())
            .groupBy(id_col)
            .agg(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("__li", F.col("__line").alias("v")))
                        ),
                        lambda x: x["v"],
                    ),
                    " ",
                ).alias("__clean")
            )
        )
        out_cols = [c for c in batch_df.columns]
        out = (
            batch_df.join(rebuilt, id_col, "left")
            .withColumn(
                text_col, F.coalesce(F.col("__clean"), F.lit(""))
            )
            .select(*out_cols)
        )
        _write_batch(out, corpus_dir, batch_id)
        _write_batch(batch_df_counts, index_dir, batch_id)
        lines.unpersist()

    return _drain(src.writeStream.foreachBatch(sink), checkpoint_dir)


def stream_stream_interval_join(
    views: DataFrame,
    purchases: DataFrame,
    user_col: str = "user_id",
    time_col: str = "ts",
    horizon: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream INNER interval join (ST-ext): every (view,
    purchase) pair of the same user where the purchase lands within
    ``horizon`` after the view — the attribution join run with BOTH
    sides unbounded. Watermarks on both inputs bound the join state:
    Spark retains each side only until the other side's watermark
    passes the interval condition, so state size tracks the horizon,
    not the stream length (the 100 TB requirement for any
    stream-stream join). Inner join + append output needs no
    foreachBatch. Batch-equivalence is pinned by
    ``test_stream_stream_interval_join_equals_batch``."""
    v = (
        views.withWatermark(time_col, watermark)
        .select(
            F.col(user_col).alias("user_id"),
            F.col(time_col).alias("view_ts"),
        )
    )
    p = (
        purchases.withWatermark(time_col, watermark)
        .select(
            F.col(user_col).alias("p_user"),
            F.col(time_col).alias("purchase_ts"),
        )
    )
    return v.join(
        p,
        F.expr(
            "user_id = p_user AND "
            f"purchase_ts > view_ts AND purchase_ts <= view_ts + interval {horizon}"
        ),
        "inner",
    ).select("user_id", "view_ts", "purchase_ts")


def cdc_apply_stream(
    spark: SparkSession,
    landing_dir: str,
    schema: StructType,
    table_dir: str,
    checkpoint_dir: str,
    fmt: str = "parquet",
    key_col: str = "k",
    seq_col: str = "seq",
    op_col: str = "op",
    n_buckets: int = 8,
) -> list[dict]:
    """Continuous CDC apply with deletes — the q96 contract run as a
    stream: after every micro-batch the maintained table equals
    "latest (seq desc, op-tiebreak) event per key wins; tombstones
    suppress the key" over everything applied so far. The reference's
    loading Lambda applies CSV deltas to MySQL row-by-row
    (2.2 loading-lambda-for-mysql.py:209-217, 306-316); here each
    batch folds through ingest's bucket-scoped write
    (``pipeline._upsert_buckets``) with the change-log rule
    (merge.latest_per_key), so cost is proportional to the batch. A
    recorded ``n_buckets`` wins over the argument; another ``key_col``
    or a dir without a layout raises (rebuild it by replaying the
    landing dir into a new dir with a fresh checkpoint). A batch whose
    staging reads back short raises, so its checkpoint does not commit
    and the next run replays it.

    Replay-safe by construction: the stored state keeps the latest
    event per key INCLUDING tombstones, so re-folding a replayed
    batch collapses to identical rows in the latest-wins window, and
    a late or duplicated OLD change can never resurrect a deleted key
    (the tombstone's higher sequence number always outranks it).
    Readers use :func:`read_cdc_table`, which hides tombstones.

    Consistency caveat: bucket swaps are individually atomic
    (old-or-new, never destroyed) but not jointly — every touched
    bucket is staged first and then swapped in one rename-only pass,
    so a reader racing those renames (or a crash between them, until
    the checkpoint replays the batch) can see some buckets folded and
    others not. "After every micro-batch the table equals ..." holds
    for quiescent reads after the batch commits, eventually under
    crash-replay."""
    from ..sources import pipeline

    # heal at STREAM START: a restart with no new input fires no batch
    pipeline._heal(table_dir)
    layout = pipeline._read_layout(table_dir)
    if layout is not None:
        n_buckets = int(layout["n_buckets"])
    elif os.path.isdir(table_dir) and not pipeline._is_bucketed(table_dir):
        raise ValueError(f"{table_dir} has no bucket layout to apply changes to")
    conflict = pipeline._layout_conflict(spark, table_dir, layout, [key_col], n_buckets)
    if conflict is not None:
        raise ValueError(f"{table_dir}: {conflict}")
    bucket = pipeline._bucket_expr([key_col], n_buckets)
    order = [F.col(seq_col).desc(), F.col(op_col)]
    src = file_stream(spark, landing_dir, schema, fmt)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        # bounded collect: at most n_buckets values
        touched = batch_df.agg(F.collect_set(bucket)).first()[0]
        if not touched:
            return
        pipeline._upsert_buckets(
            spark, table_dir, batch_df, [key_col], n_buckets, touched, order=order
        )

    return _drain(src.writeStream.foreachBatch(sink), checkpoint_dir)


def read_cdc_table(
    spark: SparkSession, table_dir: str, op_col: str = "op"
) -> DataFrame:
    """Current snapshot of a :func:`cdc_apply_stream` table, tombstones
    hidden: ``pipeline.read_permanent`` (recorded schema, no bucket
    column) plus the tombstone filter. Like every reader it changes
    nothing on disk: a bucket stranded by a crashed swap makes it warn
    (the rows of that bucket are missing) until the next stream start
    heals it."""
    from ..sources import pipeline

    warehouse_dir, table = os.path.split(os.path.normpath(table_dir))
    return pipeline.read_permanent(spark, warehouse_dir, table).filter(
        F.col(op_col) != "D"
    )


def stream_stream_left_outer_join(
    views: DataFrame,
    purchases: DataFrame,
    user_col: str = "user_id",
    time_col: str = "ts",
    horizon: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream LEFT OUTER interval join — the attribution join
    that also reports NON-converting views: every view pairs with the
    purchases landing within ``horizon`` after it, and a view with no
    such purchase is emitted ONCE with a null purchase_ts, but only
    after the purchase-side watermark has passed its horizon (before
    that, Spark cannot know no match will arrive — outer results are
    inherently watermark-delayed, which is why the equivalence test
    advances the watermark with a flush event before asserting).
    State stays horizon-bounded exactly as in the inner variant."""
    v = views.withWatermark(time_col, watermark).select(
        F.col(user_col).alias("user_id"),
        F.col(time_col).alias("view_ts"),
    )
    p = purchases.withWatermark(time_col, watermark).select(
        F.col(user_col).alias("p_user"),
        F.col(time_col).alias("purchase_ts"),
    )
    return v.join(
        p,
        F.expr(
            "user_id = p_user AND "
            f"purchase_ts > view_ts AND purchase_ts <= view_ts + interval {horizon}"
        ),
        "leftOuter",
    ).select("user_id", "view_ts", "purchase_ts")


def abtest_monitor_stream(
    spark: SparkSession,
    landing_dir: str,
    schema: StructType,
    state_dir: str,
    checkpoint_dir: str,
    fmt: str = "parquet",
    user_col: str = "user_id",
    type_col: str = "event_type",
    conv_type: str = "purchase",
) -> list[dict]:
    """Continuously-maintained A/B experiment readout — q161's
    streaming twin. Each micro-batch folds its events into two
    persisted first-seen indexes (users ever SEEN, users ever
    CONVERTED; the md5-parity arm derives from the user id, so it is
    never stored) and appends one per-arm DELTA row
    (new users, new conversions) per batch. The live readout
    (:func:`read_abtest_readout`) is a sum over the |batches|-sized
    delta relation pushed through the SAME projection as the batch
    query (``plans.business.abtest_readout_from_counts``) — the two
    surfaces share one formula and cannot drift.

    Exactly-once: every per-batch artifact lands in a
    ``batch=<id>`` dir written with overwrite, and index probes
    exclude the batch's own dir — a crash-after-index-write replay
    re-derives identical deltas (the exact_dedup/segment stream
    contract). Per-batch cost: the index probe is a broadcast-able
    anti-join of the BATCH's users against the seen set; the delta
    write is two rows.
    """
    from ..plans.evalsuite import _md5i_spark

    src = file_stream(spark, landing_dir, schema, fmt)
    users_dir = os.path.join(state_dir, "seen_users")
    conv_dir = os.path.join(state_dir, "converted_users")
    delta_dir = os.path.join(state_dir, "arm_deltas")

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        b = (
            batch_df.groupBy(F.col(user_col).alias("user_id"))
            .agg(
                F.max(
                    F.when(F.col(type_col) == conv_type, 1).otherwise(0)
                ).alias("has_conv")
            )
            .persist()
        )
        ids = b.select("user_id").schema
        seen = _other_batches(users_dir, batch_id)
        new_users = (
            b.join(recorded.read(spark, seen, ids), "user_id", "anti")
            if seen
            else b
        )
        conv = _other_batches(conv_dir, batch_id)
        purchasers = b.filter(F.col("has_conv") == 1)
        new_convs = (
            purchasers.join(recorded.read(spark, conv, ids), "user_id", "anti")
            if conv
            else purchasers
        )
        arm = (_md5i_spark("ab1|", F.col("user_id")) % 2).alias("arm")
        deltas = (
            new_users.select(arm, F.lit(1).alias("nu"), F.lit(0).alias("nc"))
            .unionAll(
                new_convs.select(
                    arm, F.lit(0).alias("nu"), F.lit(1).alias("nc")
                )
            )
            .groupBy("arm")
            .agg(
                F.sum("nu").cast("bigint").alias("new_users"),
                F.sum("nc").cast("bigint").alias("new_convs"),
            )
            .persist()
        )
        # stage order: deltas + indexes are all batch=<id> overwrites,
        # so any crash point replays to the same state
        _write_batch(deltas, delta_dir, batch_id)
        _write_batch(new_users.select("user_id"), users_dir, batch_id)
        _write_batch(new_convs.select("user_id"), conv_dir, batch_id)
        deltas.unpersist()
        b.unpersist()

    return _drain(src.writeStream.foreachBatch(sink), checkpoint_dir)


def read_abtest_readout(spark: SparkSession, state_dir: str) -> DataFrame:
    """Fold the monitor's per-batch arm deltas into the q161 readout
    row. The delta relation is |batches| x 2 rows — the fold is a
    scalar conditional aggregate, and the projection is imported from
    the batch query so both emit identical columns and arithmetic."""
    from ..plans.business import abtest_readout_from_counts

    schema = StructType.fromDDL("arm BIGINT, new_users BIGINT, new_convs BIGINT")
    deltas = recorded.read(spark, os.path.join(state_dir, "arm_deltas"), schema)
    t = deltas.agg(
        F.coalesce(
            F.sum(F.when(F.col("arm") == 0, F.col("new_users"))), F.lit(0)
        )
        .cast("bigint")
        .alias("n_a"),
        F.coalesce(
            F.sum(F.when(F.col("arm") == 0, F.col("new_convs"))), F.lit(0)
        )
        .cast("bigint")
        .alias("c_a"),
        F.coalesce(
            F.sum(F.when(F.col("arm") == 1, F.col("new_users"))), F.lit(0)
        )
        .cast("bigint")
        .alias("n_b"),
        F.coalesce(
            F.sum(F.when(F.col("arm") == 1, F.col("new_convs"))), F.lit(0)
        )
        .cast("bigint")
        .alias("c_b"),
    )
    return abtest_readout_from_counts(t)
