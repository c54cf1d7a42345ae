"""Physical-plan regression tests: the scale posture is asserted, not
hoped for. If a refactor turns a broadcast join into a sort-merge join
or un-pushes a filter, these fail."""

from __future__ import annotations

import re

from python_lambda_ecs_container_data_etl_aws_spark.plans import QUERIES
from tests.conftest import SF_DIR


def _plan(spark, name: str) -> str:
    df = QUERIES[name](spark, SF_DIR)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def _nnodes(plan: str, node: str) -> int:
    # formatted mode prints each node twice (tree + detail section);
    # count only the numbered detail headers
    return len(re.findall(r"\(\d+\) " + node + r"[ \n]", plan))


def _nscans(plan: str) -> int:
    return _nnodes(plan, "Scan parquet")


def test_q05_dims_broadcast_and_filters_pushed(spark):
    plan = _plan(spark, "q05_report_aggregate")
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 3  # customer, nation, part at minimum
    pushed = " ".join(re.findall(r"PushedFilters: \[([^\]]*)\]", plan))
    assert "EqualTo(n_name,NATION_3)" in pushed  # dim filter reaches the scan


def test_q05_lineitem_scan_prunes_columns(spark):
    plan = _plan(spark, "q05_report_aggregate")
    schemas = re.findall(r"ReadSchema: (struct<[^\n]*)", plan)
    li = [s for s in schemas if "l_orderkey" in s]
    assert li and all("l_comment" not in s and "l_shipdate" not in s for s in li)
    # only the 3 needed lineitem columns are read
    assert any(s.count(":") == 3 for s in li), li


def test_q07_wide_join_all_dims_broadcast(spark):
    plan = _plan(spark, "q07_report_table_build")
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 5


def test_q02_projection_reaches_scan(spark):
    plan = _plan(spark, "q02_canonical_projection")
    schemas = re.findall(r"ReadSchema: (struct<[^\n]*)", plan)
    assert schemas and all("l_comment" not in s for s in schemas)


def test_q13_uses_semi_anti_joins_not_except(spark):
    plan = _plan(spark, "q13_snapshot_reconcile")
    assert "LeftSemi" in plan and "LeftAnti" in plan


def test_q38_json_parse_stays_in_codegen(spark):
    # the envelope parse must be JVM expressions (from_json/explode),
    # never a Python UDF stage
    plan = _plan(spark, "q38_event_envelope")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Generate explode" in plan or "Generate" in plan


def test_q39_tz_rollup_canonical_distinct_agg_shape(spark):
    plan = _plan(spark, "q39_tz_wallclock")
    assert "BatchEvalPython" not in plan
    # exact countDistinct = the standard two-phase distinct aggregate:
    # exactly two hash exchanges (expand-on-user_id, then final), never
    # more (a third would mean the tz expression broke partial aggregation)
    assert plan.count("hashpartitioning(") == 2, plan


def test_q37_audit_rollup_prunes_scan(spark):
    import re

    plan = _plan(spark, "q37_audit_rollup")
    schemas = re.findall(r"ReadSchema: (struct<[^\n]*)", plan)
    # only event_id and ts are read from events
    assert schemas and all("props" not in s and "user_id" not in s for s in schemas)


def test_q42_asof_is_one_key_shuffle_no_range_join(spark):
    # the as-of join must be the union+window plan: no BroadcastNestedLoop,
    # no range self-join — window over one hash exchange on user_id
    plan = _plan(spark, "q42_asof_view_before_purchase")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window" in plan


def test_q43_range_join_is_hash_join_not_nested_loop(spark):
    plan = _plan(spark, "q43_range_join_windows")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Join" in plan  # the binned equi-join survives as a hash join


def test_q44_no_python_stage_and_single_exchange_overlap(spark):
    # overlap join + per-doc count stay JVM-side; the shingle pipeline
    # must not appear in an inferred pushed-down filter (the excluded
    # InferFiltersFromGenerate rule would clone it into Filter nodes)
    plan = _plan(spark, "q44_decontaminate")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "array_distinct" not in " ".join(
        re.findall(r"Condition : ([^\n]*)", plan)
    ), "shingle pipeline cloned into a filter — InferFiltersFromGenerate regressed"


def test_q46_prefix_sum_avoids_global_window(spark):
    # the running total must be a per-partition window (__pid key) +
    # broadcast offset join, never SUM OVER () on a single partition
    plan = _plan(spark, "q46_pack_contexts")
    specs = " ".join(re.findall(r"windowspecdefinition\(([^)]*)", plan))
    assert "__pid" in specs, f"window not partitioned by __pid: {specs}"
    assert "BroadcastHashJoin" in plan  # the (pid, offset) relation


def test_explode_queries_have_no_inferred_generate_filters(spark):
    # session-level guard: the InferFiltersFromGenerate exclusion is
    # active (it re-evaluates interpreted HOF arrays 3x per row)
    assert (
        "InferFiltersFromGenerate"
        in spark.conf.get("spark.sql.optimizer.excludedRules", "")
    )


def test_q51_incremental_merge_is_one_union_agg_no_smj(spark):
    """The maintenance merge must stay cheap: per-state partial aggs
    exchange on the (tiny) group key, the union feeds ONE final
    aggregate, the replaced-rows semi-join broadcasts — no sort-merge
    join and no fact-table-sized shuffle anywhere."""
    plan = _plan(spark, "q51_incremental_report")
    assert "SortMergeJoin" not in plan
    assert re.search(r"BroadcastHashJoin LeftSemi", plan)
    # the three aggregate states union into ONE final aggregate — the
    # union itself adds no exchange (exchanges sit below, on the
    # |groups|-sized states, plus the final orderBy's range partition)
    tree = plan.split("\n\n")[0]
    assert len(re.findall(r"\bUnion\b", tree)) == 1


def test_q52_profile_scans_prune_to_one_column_each(spark):
    """The profile must run one column-pruned scan per profiled column
    — an Expand-based multi-distinct (N× row replication into the
    shuffle) would be the 100 TB anti-pattern."""
    plan = _plan(spark, "q52_table_profile")
    assert "Expand" not in plan
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert len(schemas) == 5
    assert all(s.count(":") == 1 for s in schemas), schemas


def test_q53_salted_join_no_nested_loop_or_cartesian(spark):
    plan = _plan(spark, "q53_salted_join")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q55_gram_aggs_have_partial_aggregation_no_python(spark):
    """Repetition signals must collapse each doc's grams map-side
    (HashAggregate partial before every exchange) and stay JVM-side."""
    plan = _plan(spark, "q55_repetition_signals")
    assert "Python" not in plan and "SortMergeJoin" not in plan
    assert "partial_count" in plan or "Partial" in plan or plan.count("HashAggregate") >= 4


def test_q56_pii_scrub_is_scan_project_one_agg(spark):
    """The scrub itself is pure codegen projection; the only exchange
    is the final per-source aggregation."""
    plan = _plan(spark, "q56_pii_scrub")
    assert "Python" not in plan
    assert "Join" not in plan  # no joins at all
    # one shuffle for the groupBy(source), one for the orderBy
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 2


def test_q57_vocab_join_is_broadcast_or_hash_never_nested_loop(spark):
    plan = _plan(spark, "q57_token_freq_score")
    assert "Python" not in plan
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_q58_window_generation_is_zero_shuffle(spark):
    """Sliding-window chunking is a per-row explode: the ONLY exchange
    allowed is the final presentation orderBy — the generation itself
    must never shuffle, or a 100 TB corpus pays a full data movement
    for what is a map-side fan-out."""
    plan = _plan(spark, "q58_sliding_windows")
    assert "Python" not in plan and "Join" not in plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 1


def test_q59_tfidf_aggs_before_join_no_smj_on_raw_tokens(spark):
    """TF and DF are aggregated BEFORE the vocab join (head-token skew
    dies in map-side combine, not in a shuffled join of raw tokens)."""
    plan = _plan(spark, "q59_tfidf_topterms")
    assert "Python" not in plan
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan  # post-agg relations broadcast/hash join


def test_q61_epoch_replication_is_generate_plus_one_agg(spark):
    """Epoch upsampling is explode(sequence(...)) inside the scan
    stage; only the tiny rollup and its orderBy may exchange."""
    plan = _plan(spark, "q61_epoch_mixture")
    assert "Python" not in plan and "Join" not in plan
    assert plan.count("Generate") >= 1
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 2


def test_q62_classifier_inference_is_pure_projection(spark):
    """Linear-model scoring must be a scan + codegen projection — no
    joins, no aggregation, at most the presentation orderBy exchange."""
    plan = _plan(spark, "q62_quality_classifier")
    assert "Python" not in plan and "Join" not in plan
    assert "HashAggregate" not in plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 1


def test_q63_group_sample_window_is_per_group_and_limit_pushed(spark):
    """The sample's window partitions by (source, lang) — a global
    single-partition window would serialize the corpus — and the rk<=3
    cut must push down as WindowGroupLimit so each map task keeps only
    its group top-k before the shuffle."""
    plan = _plan(spark, "q63_group_sample")
    assert "Python" not in plan
    assert "windowspecdefinition(source" in plan
    assert plan.count("WindowGroupLimit") >= 2  # partial (pre-shuffle) + final


def test_q64_segment_dedup_two_data_shuffles_no_python(spark):
    """Segment dedup = segment-hash window + per-doc rebuild: both
    high-cardinality keys, JVM-side throughout; the explicit
    array_sort makes the rebuild order-deterministic (collect_list
    alone guarantees nothing)."""
    plan = _plan(spark, "q64_segment_dedup")
    assert "Python" not in plan and "Join" not in plan
    assert "array_sort" in plan
    # window shuffle + rebuild groupBy + presentation orderBy
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 3


def test_q65_projection_is_zero_shuffle_literal_matrix(spark):
    """The integer JL projection must be scan + fold + explode — no
    joins, no aggregation exchanges; only the presentation orderBy."""
    plan = _plan(spark, "q65_rademacher_projection")
    assert "Python" not in plan and "Join" not in plan
    assert "HashAggregate" not in plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 1


def test_q66_projected_knn_broadcasts_query_side(spark):
    """The projected query side must broadcast — never a shuffled or
    nested-loop pair join against the corpus."""
    plan = _plan(spark, "q66_projected_knn")
    assert "Python" not in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_q67_funnel_is_one_user_shuffle_no_self_join(spark):
    """The funnel's next-purchase lookup is a reversed running MIN over
    each user's timeline — no view x purchase range self-join."""
    plan = _plan(spark, "q67_event_funnel")
    assert "Python" not in plan and "Join" not in plan
    specs = " ".join(re.findall(r"windowspecdefinition\(([^)]*)", plan))
    assert "user_id" in specs


def test_q68_cohort_join_never_nested_loop(spark):
    plan = _plan(spark, "q68_cohort_retention")
    assert "Python" not in plan
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_q69_cooccurrence_topk_is_take_ordered_no_nested_loop(spark):
    """The pair join is keyed by (doc, seg) — never a nested loop —
    and the global top-30 must compile to TakeOrderedAndProject, not a
    full sort of the pair relation."""
    plan = _plan(spark, "q69_cooccurrence_lift")
    assert "Python" not in plan
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan


def test_q54_incremental_band_join_shape(spark):
    """The incremental near-dup must probe the corpus with equi hash
    joins on the band keys — new-bands ⋈ old-bands only, old-old pairs
    structurally never form — never a nested loop or Python stage, and
    every candidate pair is ordered (a < b) before the exact verify."""
    plan = _plan(spark, "q54_incremental_neardup")
    assert "Python" not in plan
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    # all joins are hash equi-joins (band-bucket probes + size lookups)
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan or (
        "ShuffledHashJoin" in plan
    )
    # the ordered-pair canonicalization that keeps (a,b)/(b,a) from
    # double-counting shows up as least/greatest join keys
    assert "least(" in plan and "greatest(" in plan


def test_q70_incremental_probe_no_nested_loop(spark):
    """The corpus-membership probe must be a hash join on the segment
    key, never a nested loop, and the within-batch first-occurrence
    window partitions by segment text."""
    plan = _plan(spark, "q70_incremental_segment_dedup")
    assert "Python" not in plan
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    assert "windowspecdefinition(seg_text" in plan


def test_every_query_plan_meets_universal_invariants(spark):
    """Catalog-wide guard over ALL declared queries: no unconditioned
    CartesianProduct anywhere (broadcast-scalar crossJoins compile to
    BroadcastNestedLoopJoin with a 1-row side and are the only
    sanctioned product shape), and no row-at-a-time Python UDF stage
    (BatchEvalPython) — vectorized Arrow stages (ArrowEvalPython /
    MapInPandas) are the only Python allowed in any plan."""
    offenders = {}
    for name in sorted(QUERIES):
        plan = _plan(spark, name)
        bad = []
        if "CartesianProduct" in plan:
            bad.append("CartesianProduct")
        if "BatchEvalPython" in plan:
            bad.append("BatchEvalPython")
        if bad:
            offenders[name] = bad
    assert not offenders, offenders


# --- no hard broadcast hint may target an SF-scaled relation ----------
# Round-6 verdict: an explicit F.broadcast() on a relation that grows
# with data volume (customer/supplier/part/... ) bypasses AQE's size
# check and OOMs the driver at the 100 TB target. Hard hints are only
# sanctioned for bounded sides: fixed-cardinality dims (nation=25,
# region=5), 1-row scalar attaches, and aggregate/limit-capped derived
# sets. Detection walks the ANALYZED logical plan: a broadcast
# ResolvedHint whose subtree reaches an SF-scaled base relation without
# passing a cardinality-bounding node (Aggregate / Limit / Deduplicate)
# is a violation. Base tables are fingerprinted by their key column.

_SF_SCALED_FINGERPRINTS = {
    "customer": "c_custkey",
    "supplier": "s_suppkey",
    "part": "p_partkey",
    "lineitem": "l_orderkey",
    "orders": "o_orderkey",
    "events": "event_id",
    "documents": "doc_id",
    "embeddings": "emb_id",
}
_BOUNDING_NODES = {"Aggregate", "GlobalLimit", "LocalLimit", "Deduplicate"}


def _scaled_leaves_under(node, out):
    name = node.getClass().getSimpleName()
    if name in _BOUNDING_NODES:
        return
    if "Relation" in name and node.children().size() == 0:
        cols = {node.output().apply(i).name() for i in range(node.output().size())}
        for table, fp in _SF_SCALED_FINGERPRINTS.items():
            if fp in cols:
                out.add(table)
        return
    for i in range(node.children().size()):
        _scaled_leaves_under(node.children().apply(i), out)


def _hard_hint_violations(node, acc):
    name = node.getClass().getSimpleName()
    if name == "ResolvedHint" and "broadcast" in node.hints().toString().lower():
        found: set = set()
        _scaled_leaves_under(node, found)
        if found:
            acc.append(sorted(found))
        # do NOT return: a second hint nested beneath an outer hint
        # whose immediate leaves are bounded (e.g.
        # broadcast(agg.join(broadcast(customer), ...))) must also be
        # inspected — returning here was a false negative in the
        # driver-OOM guard (round-7 ADVICE).
    for i in range(node.children().size()):
        _hard_hint_violations(node.children().apply(i), acc)


def test_no_hard_broadcast_hint_on_sf_scaled_relation(spark):
    offenders = {}
    for name in sorted(QUERIES):
        df = QUERIES[name](spark, SF_DIR)
        acc: list = []
        _hard_hint_violations(df._jdf.queryExecution().analyzed(), acc)
        if acc:
            offenders[name] = acc
    assert not offenders, (
        "hard F.broadcast() hints target SF-scaled relations (driver-OOM "
        f"hazard at scale; let AQE choose instead): {offenders}"
    )


# --- no SinglePartition exchange over an unbounded subtree ------------
# Round-4's manual audit found every SinglePartition exchange in the
# catalog to be a scalar/tiny-relation shape; round-7 verdict asked for
# that invariant to become permanent and STRUCTURAL. A SinglePartition
# shuffle funnels its whole input through one task — fine for a scalar
# aggregate or a limit-capped set, fatal at 100 TB over raw data (one
# task sorts/holds the corpus). Sanctioned by structure, not by name:
# the exchange's subtree must pass a cardinality-bounding physical node
# (partial/final Aggregate, Limit, TakeOrdered) on EVERY path before
# reaching an SF-scaled leaf scan. Walks the INITIAL executed plan
# (exchanges exist only after EnsureRequirements — sparkPlan has none;
# under AQE the deterministic pre-runtime tree is
# AdaptiveSparkPlanExec.initialPlan) so the check is deterministic and
# data-size-independent.

_BOUNDING_PHYSICAL = ("Aggregate", "Limit", "TakeOrdered")


def _scaled_physical_leaves_under(node, out):
    name = node.getClass().getSimpleName()
    if any(b in name for b in _BOUNDING_PHYSICAL):
        return
    if node.children().size() == 0:
        cols = {node.output().apply(i).name() for i in range(node.output().size())}
        for table, fp in _SF_SCALED_FINGERPRINTS.items():
            if fp in cols:
                out.add(table)
        return
    for i in range(node.children().size()):
        _scaled_physical_leaves_under(node.children().apply(i), out)


def _single_partition_violations(node, acc):
    name = node.getClass().getSimpleName()
    if name == "ShuffleExchangeExec" and "SinglePartition" in str(
        node.outputPartitioning().toString()
    ):
        found: set = set()
        for i in range(node.children().size()):
            _scaled_physical_leaves_under(node.children().apply(i), found)
        if found:
            acc.append(sorted(found))
        # keep recursing: a second unbounded single-partition funnel
        # nested below a bounded one must also be inspected
    for i in range(node.children().size()):
        _single_partition_violations(node.children().apply(i), acc)


def _initial_physical_plan(df):
    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.initialPlan()
    return plan


def test_no_single_partition_exchange_over_unbounded_subtree(spark):
    offenders = {}
    for name in sorted(QUERIES):
        df = QUERIES[name](spark, SF_DIR)
        acc: list = []
        _single_partition_violations(_initial_physical_plan(df), acc)
        if acc:
            offenders[name] = acc
    assert not offenders, (
        "SinglePartition exchange over a non-aggregate/limit-bounded "
        "subtree (one task would hold SF-scaled data at the 100 TB "
        f"target): {offenders}"
    )


def test_q71_containment_counting_shape(spark):
    """Round-10 measured KEEP: exact containment stays the counting
    join — slim shingle-key match rows (no arrays) into a pair-keyed
    count with map-side partial combine; the intersection size is
    match multiplicity. Two q111-style restructures were built,
    probed sf10→sf30 same-day exclusive, and rejected (α=1.64 and a
    1.4x wall regression — containment_pairs docstring / BASELINE.md
    Round 10). The pin guards the shape that measured fastest: no
    array materialization, no Python, no doc-pair nested loop, and
    the pair count aggregates with a partial stage (the match stream
    must never be exchanged raw)."""
    plan = _plan(spark, "q71_containment_pairs")
    assert "collect_list" not in plan and "array_intersect" not in plan
    assert "partial_count" in plan, "map-side partial combine missing"
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan
    assert "Python" not in plan


def test_q72_cap_window_prunes_scan_columns(spark):
    """The per-source cap reads only (doc_id, source, n_chars) — a cap
    query that scans text at 100 TB is wrong. Since round 4 the kept
    set is a rank filter (WindowGroupLimit prunes a hot source to ~K
    rows per map partition) joined with a plain count aggregate — the
    only join is that |sources|-sized one."""
    plan = _plan(spark, "q72_source_cap")
    assert "Python" not in plan
    schemas = re.findall(r"ReadSchema: (struct<[^\n]*)", plan)
    assert schemas and all("text" not in s for s in schemas)
    assert "WindowGroupLimit" in plan
    assert "SortMergeJoin" not in plan  # the counts⋈kept join stays hash/broadcast


def test_q73_bigram_lm_aggregates_before_joins(spark):
    """The LM-score joins run against AGGREGATED count relations
    (c1/c2), never raw token streams on both sides — partial
    aggregation must appear below every join input, and no nested
    loop forms except the sanctioned 1-row total broadcast."""
    plan = _plan(spark, "q73_bigram_lm_score")
    assert "Python" not in plan and "CartesianProduct" not in plan
    # the only BroadcastNestedLoopJoin allowed is the 1-row `total`
    # (formatted plans print each operator twice: tree + detail header)
    assert len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)) <= 1
    assert "partial_count" in plan  # map-side combine on the count aggs


def test_q74_survivor_antijoin_shape(spark):
    plan = _plan(spark, "q74_semantic_dedup_survivors")
    assert "Python" not in plan and "CartesianProduct" not in plan
    assert "LeftAnti" in plan  # the greedy-by-id decision is one anti-join


def test_q76_allocation_joins_broadcast(spark):
    """The strata/allocation relations are |langs|-sized: every
    allocation join must broadcast, never SMJ."""
    plan = _plan(spark, "q76_stratified_sample")
    assert "Python" not in plan
    assert "SortMergeJoin" not in plan


def test_q77_novelty_is_hash_probe_no_nested_loop(spark):
    plan = _plan(spark, "q77_shingle_novelty")
    assert "Python" not in plan
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_q73_survives_single_token_docs(spark):
    """ANSI regression: a one-token document must contribute no bigram
    pairs, not abort the job (sequence(1, 0) descends and indexes out
    of bounds when unguarded)."""
    from python_lambda_ecs_container_data_etl_aws_spark.plans.mining import q73

    import os
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        docs = spark.createDataFrame(
            [
                (1, "single", "en", "s0", 6),
                (2, "", "en", "s0", 0),
                (3, "two tokens here", "en", "s0", 15),
            ],
            "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
        )
        docs.write.parquet(os.path.join(d, "documents.parquet"))
        out = {r.doc_id: r.n_pairs for r in q73(spark, d).collect()}
        assert out == {3: 2}  # short docs absent, multi-token doc scored


# ---- round-4 corpus-preparation family (q80-q91) ----------------------


def test_q80_line_filter_is_zero_join_scan_stage(spark):
    # per-line rules are row-local: one Generate (line explode), one
    # aggregation, no joins of any kind, no Python
    plan = _plan(spark, "q80_line_quality_filter")
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Generate" in plan


def test_q83_vocab_join_broadcasts(spark):
    # the top-V vocab relation must broadcast into the encode join —
    # a sort-merge join on the raw token stream would shuffle the whole
    # corpus by token text
    plan = _plan(spark, "q83_vocab_encode")
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    # top-V selection is a distributed TakeOrderedAndProject; the
    # id-assigning window runs AFTER the limit (over V rows), never
    # over the full distinct-token relation (billions on web text)
    assert "TakeOrderedAndProject" in plan


def test_q84_weight_join_broadcasts(spark):
    # the 64-row bucket-weight relation broadcasts into the scoring
    # join; the token stream itself is never SMJ-shuffled by bucket
    plan = _plan(spark, "q84_dsir_importance")
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_q85_centroids_broadcast_no_cartesian(spark):
    # K x dim centroid components broadcast; assignment is a hash join
    # on pos + map-side partial aggregation, never a cartesian
    plan = _plan(spark, "q85_kmeans_assign")
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan
    assert "BroadcastHashJoin" in plan


def test_q87_curriculum_has_no_global_window(spark):
    # the NTILE allocation must come from add_autoid's two-pass rank,
    # never a single-partition Window.orderBy (the W1 anti-pattern)
    plan = _plan(spark, "q87_length_curriculum")
    assert "SinglePartition" not in plan, plan


def test_q88_pack_index_no_global_window(spark):
    # same contract as q46: the prefix sum is range-partitioned
    plan = _plan(spark, "q88_pack_index")
    assert "SinglePartition" not in plan, plan


def test_q90_url_filter_is_pure_projection(spark):
    plan = _plan(spark, "q90_url_filter")
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_q91_pii_density_stays_in_codegen(spark):
    # regex counting is JVM expressions, never a Python stage
    plan = _plan(spark, "q91_pii_density_hist")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Join" not in plan


def test_q93_gapfill_windows_partition_by_type(spark):
    # the grid is bounded by span x types; LOCF windows partition by
    # event_type (never a single-partition global window) and stay in
    # JVM expressions
    plan = _plan(spark, "q93_gapfill_locf")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    import re as _re

    # every window exchange is keyed by event_type
    wins = _re.findall(r"Arguments: \[[^\]]*windowspecdefinition\(([^,]+),", plan)
    assert wins and all("event_type" in w for w in wins), wins


def test_q95_blocking_join_no_cartesian(spark):
    # ER candidates must come from the blocking-key equi-join —
    # never an all-pairs name cross-join
    plan = _plan(spark, "q95_entity_blocking")
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan
    assert "Join" in plan


def test_q96_cdc_apply_is_one_key_window(spark):
    # latest-seq-wins is one per-key window over a change log built in
    # ONE fact scan (conditional-struct array exploded inline) — no
    # unioned re-scans of the fact, no joins, and the rn=1 filter is
    # WindowGroupLimit-pruned on the map side
    plan = _plan(spark, "q96_cdc_apply")
    assert "Join" not in plan and "Union" not in plan
    # formatted explain prints each scan twice (tree + node detail);
    # one Location line == one physical scan
    assert plan.count("Location: InMemoryFileIndex") == 1
    assert "Generate" in plan
    assert "Window" in plan and "WindowGroupLimit" in plan


def test_q82_domain_cap_windowgrouplimit_prunes_hot_domains(spark):
    # the kept-set rank filter must be WindowGroupLimit-pruned (a hot
    # crawl domain ships ~K rows per map partition, not its corpus
    # share) and the count side is a plain skew-immune aggregate
    plan = _plan(spark, "q82_domain_cap")
    assert "WindowGroupLimit" in plan



def test_q86_corpus_split_filters_push_to_scan(spark):
    # the old/new corpus membership predicates must reach the parquet
    # scan as In(source, ...) — a CAST(substr()) arithmetic split never
    # pushes and re-reads both corpora wholesale
    plan = _plan(spark, "q86_crosscorpus_neardup")
    pushed = " ".join(re.findall(r"PushedFilters: \[([^\]]*)\]", plan))
    assert "In(source" in pushed


def test_q86_counting_shape_no_arrays(spark):
    """Round-10 measured KEEP (see q71's twin pin): the cross-corpus
    verify stays the counting shape — an in-row array-verify variant
    filled the container disk with sort spill at sf30 (match
    multiplicity re-carries both full arrays per shared shingle).
    Guard: no array materialization or Python in the plan, candidates
    from the rare-shingle equi-join (no nested loop), pair count with
    partial combine."""
    plan = _plan(spark, "q86_crosscorpus_neardup")
    assert "collect_list" not in plan and "array_intersect" not in plan
    assert "partial_count" in plan
    assert "CartesianProduct" not in plan and "Python" not in plan


def test_q99_pagerank_iterations_broadcast_rank_vector(spark):
    # the one data-sized shuffle is the edge aggregation; every
    # iteration joins the (node-sized) rank/out-weight relations into
    # the aggregated edge relation as broadcasts — an SMJ here would
    # re-shuffle the edge relation once per iteration
    plan = _plan(spark, "q99_domain_pagerank")
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_q100_scd2_reuses_one_key_exchange(spark):
    # LEAD over all events and version numbers over the survivors use
    # the same (k) partitioning: exactly one hashpartitioning exchange
    # in the whole history build, and no joins
    plan = _plan(spark, "q100_scd2_history")
    assert "Join" not in plan
    assert len(re.findall(r"Arguments: hashpartitioning", plan)) == 1, plan


def test_q101_quantize_params_broadcast_one_row(spark):
    # the 64 per-dimension params fold into ONE broadcast row (the
    # sanctioned 1-row BNLJ shape); the error pass is an in-row fold —
    # there must be no per-component join against the corpus
    plan = _plan(spark, "q101_int8_quantize")
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_q102_anomaly_stats_broadcast(spark):
    # the per-type stats relation (|event types| rows) broadcasts back
    # into the day-count relation; the day counts aggregate partially
    plan = _plan(spark, "q102_anomaly_zscore")
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert "partial_count" in plan


def test_q103_bpe_pairs_explode_vocab_not_corpus(spark):
    # the pair explode runs over the distinct-word relation (after the
    # word-frequency aggregate), the raw corpus is scanned once, and
    # the top-k is a distributed TakeOrderedAndProject, not a global
    # sort
    plan = _plan(spark, "q103_bpe_pair_stats")
    assert "Join" not in plan
    assert "TakeOrderedAndProject" in plan
    # two Generates: corpus tokenization and vocab pair explode — the
    # second must sit above the word-frequency HashAggregate
    assert plan.count("Generate") >= 2


def test_q104_maxsim_broadcasts_query_side(spark):
    # the bounded query side broadcasts (q97's sanctioned
    # broadcast-small product shape); the 8x8x8 interaction is an
    # in-row integer fold, so no Python stage and no positional join
    plan = _plan(spark, "q104_multivector_maxsim")
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_q105_manifest_no_global_window(spark):
    # shard positions come from add_autoid's two-pass rank — never a
    # single-partition ROW_NUMBER over the corpus
    plan = _plan(spark, "q105_shard_manifest")
    assert "SinglePartition" not in plan, plan


def test_q106_fusion_kernels_broadcast_anchor_side(spark):
    # both retrievers are the broadcast-anchor kernels; the fusion
    # join runs over two |anchors|*10-row relations — no Python stage
    plan = _plan(spark, "q106_borda_fusion")
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_q107_feature_hash_is_one_agg_no_joins(spark):
    # hashing-trick embedding = explode + one (doc, dim) aggregate
    # with map-side combine; everything stays in JVM codegen
    plan = _plan(spark, "q107_feature_hash_embed")
    assert "Join" not in plan
    assert "partial_sum" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_q108_budget_totals_broadcast_not_windowed(spark):
    # scalar totals attach via the sanctioned 1-row broadcast cross
    # join — an unpartitioned SUM() OVER () window here would funnel
    # the source relation through one partition
    plan = _plan(spark, "q108_token_budget_alloc")
    assert "windowspecdefinition" not in plan
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_q109_triangle_joins_are_equi_joins(spark):
    # wedge formation and closure are hash-partitionable equi-joins on
    # node ids; the only BNLJs are the two 1-row census cross joins
    plan = _plan(spark, "q109_graph_triangles")
    assert "CartesianProduct" not in plan
    # formatted mode prints each physical node once in the tree AND
    # once in the details, hence the /2; the only BNLJs allowed are
    # the two 1-row census cross joins
    assert plan.count("BroadcastNestedLoopJoin") / 2 <= 2, plan
    # wedge + closure joins must be equi-joins
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan or "ShuffledHashJoin" in plan


def test_q110_trend_agg_broadcasts_series_start(spark):
    # the per-type series-start relation broadcasts back into the day
    # counts; both aggregates combine map-side, no windows anywhere
    plan = _plan(spark, "q110_trend_slopes")
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert "windowspecdefinition" not in plan


def test_q111_prefix_join_never_all_pairs(spark):
    # candidates must come from the prefix-posting equi-join — a
    # cartesian/nested-loop doc pair product would defeat the whole
    # AllPairs design; the verify joins are equi-joins too
    plan = _plan(spark, "q111_setsim_prefix_join")
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_q111_verify_is_inline_no_pair_keyed_array_exchange(spark):
    # round-9 scale shape: the exact intersect runs INSIDE the
    # posting self-join (arrays attached at the posting level,
    # co-partitioned with the window exchange) and only exact-filter
    # survivors reach the distinct. A regression to the pair-keyed
    # verify would re-introduce the array-carrying candidate
    # exchange the sf30 task metrics attributed 84% of wall to
    # (SPILL_SF30_r09 / Q111_VOLUMES_r09).
    plan = _plan(spark, "q111_setsim_prefix_join")
    # no exchange may partition by the pair key: the only a_id
    # hash-partitioning allowed is the final distinct's (paired with
    # b_id and inter/uni already computed)
    import re

    for m in re.finditer(r"hashpartitioning\(a_id[^)]*\)", plan):
        assert "inter" in m.group(0) or "b_id" in m.group(0), (
            f"pair-keyed array exchange is back: {m.group(0)}"
        )
    assert "array_intersect" in plan  # verify still exact, in-plan
    assert "CartesianProduct" not in plan and "BatchEvalPython" not in plan


def test_q112_index_build_is_one_agg_no_joins(spark):
    # positional explode + one per-term aggregate; countDistinct is
    # the standard two-phase expand, no joins, no Python
    plan = _plan(spark, "q112_inverted_index")
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_q113_walk_steps_broadcast_adjacency(spark):
    # each unrolled step joins the frontier against the aggregated
    # sorted-adjacency relation as a broadcast (node-sized here; hash
    # join on a web graph — q99's degradation note). A driver-side hop
    # loop was measured SLOWER (round 11, random_walks docstring), so
    # the broadcast shape is the pinned keeper.
    plan = _plan(spark, "q113_random_walks")
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 3


def test_q114_closure_is_arithmetic_no_join(spark):
    # round-11 shape: the single-parent hierarchy's closure is pure
    # integer arithmetic of each node's own id (ancestor arrays,
    # exploded) — NO join of any kind survives in the plan, and doc
    # counts aggregate once at the leaves: exactly one corpus-sized
    # scan of documents feeding node-sized arithmetic
    plan = _plan(spark, "q114_hierarchy_rollup")
    assert "Join" not in plan, plan
    assert plan.count("documents.parquet") <= 1, plan


def test_q115_pivot_is_one_aggregate_no_expand_blowup(spark):
    # pivot with an explicit value list compiles to one (day)
    # aggregate with pivot-conditional aggregates — no join, no
    # per-type scan, no Python
    plan = _plan(spark, "q115_pivot_report")
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_q116_hopping_window_is_fanout_plus_one_agg(spark):
    # the native sliding window compiles to a 3x Expand/Generate
    # inside the scan stage + one (type, window) aggregate — no join
    plan = _plan(spark, "q116_hopping_windows")
    assert "Join" not in plan
    assert "Expand" in plan or "Generate" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_q117_dq_checks_prune_columns_and_broadcast_fk(spark):
    # each expectation reads only its checked columns; the referential
    # check is a left-anti hash join, never a sort-merge of the fact
    plan = _plan(spark, "q117_dq_expectations")
    assert "SortMergeJoin" not in plan
    assert "LeftAnti" in plan
    schemas = re.findall(r"ReadSchema: (struct<[^\n]*)", plan)
    assert schemas and all("o_comment" not in s and "l_comment" not in s for s in schemas)


def test_q118_skyline_windows_partition_by_source(spark):
    # both dominance windows partition by source — a global skyline
    # window would single-partition the corpus
    plan = _plan(spark, "q118_pareto_frontier")
    assert "SinglePartition" not in plan, plan
    assert "Join" not in plan


def test_q119_markov_lag_then_agg_broadcast_totals(spark):
    # one per-user LAG window, one (from,to) aggregate, per-from
    # totals broadcast back — no SMJ anywhere
    plan = _plan(spark, "q119_markov_transitions")
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_q120_share_totals_broadcast(spark):
    # per-nation totals broadcast back into the revenue relation —
    # never a percent-of-total window over the fact table
    plan = _plan(spark, "q120_ratio_to_report")
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert "windowspecdefinition" not in plan


def test_q121_first_seen_transform_windows_days_not_events(spark):
    # the running sum must read the |days|-sized relation: the only
    # window input is the post-aggregate join of days x new-user
    # counts, and events contribute through per-user/per-day aggs
    plan = _plan(spark, "q121_cumulative_distinct_users")
    # one unpartitioned window is expected — over ~|days| rows
    assert "windowspecdefinition" in plan
    # events reach the window ONLY through the per-user min-day
    # aggregate: a user_id-keyed exchange must exist (a regression to
    # a raw running sum over events would have no per-user shuffle)
    assert "hashpartitioning(user_id" in plan, plan
    # and the day-keyed aggregates exist on both branches
    assert "hashpartitioning(day" in plan, plan


def test_q122_lexicon_broadcasts_into_token_stream(spark):
    # the literal lexicon relation broadcasts into the exploded token
    # stream; scoring is one (doc) aggregate — no SMJ, no Python
    plan = _plan(spark, "q122_lexicon_sentiment")
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_q123_pair_join_runs_on_aggregated_days(spark):
    # the pair self-join keys on day over the AGGREGATED (type, day)
    # relation — events contribute through the day-count aggregate
    # first, never a raw-event self-join
    plan = _plan(spark, "q123_series_similarity")
    assert "CartesianProduct" not in plan
    assert "partial_count" in plan


def test_q124_weighted_sample_prunes_to_window_group_limit(spark):
    # the per-group top-K must push down as a two-level
    # WindowGroupLimit (partial pre-shuffle + final) so map tasks keep
    # only K rows per group; the race key is a scan-stage projection
    plan = _plan(spark, "q124_weighted_group_sample")
    assert plan.count("WindowGroupLimit") >= 2, plan
    assert "Join" not in plan


def test_q125_auc_windows_distinct_scores_not_corpus(spark):
    # the rank-sum running total must read the DISTINCT-SCORE
    # relation: the corpus contributes only through the score
    # aggregate (a score-keyed exchange), and the single
    # unpartitioned window sits above it
    plan = _plan(spark, "q125_classifier_auc")
    assert "hashpartitioning(score" in plan, plan
    assert "windowspecdefinition" in plan


def test_q127_chunk_fanout_stays_in_scan_stage(spark):
    # sequence+explode fan-out happens inside the scan stage; the only
    # exchange is the display sort's range partitioning
    plan = _plan(spark, "q127_rag_chunks")
    assert "Generate" in plan
    assert "Join" not in plan
    assert "hashpartitioning" not in plan, plan


def test_q128_tvd_joins_hash_keys_and_broadcasts_totals(spark):
    # the (source,token)->global join carries 8-byte xxhash64 keys and
    # per-source/global totals broadcast — no SMJ, no cartesian fact
    plan = _plan(spark, "q128_source_token_tvd")
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert "xxhash64" in plan


def test_q129_pit_join_is_key_equi_not_range_fanout(spark):
    # the as-of probe joins on the KEY with the validity range as a
    # filter — a pure range condition would nested-loop the history
    plan = _plan(spark, "q129_pit_asof_join")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" not in plan


def test_q131_overlap_builds_on_distinct_hash_keys(spark):
    # the self-join runs over the DISTINCT (source, token-hash)
    # relation with set sizes broadcast back
    plan = _plan(spark, "q131_source_overlap")
    assert "SortMergeJoin" not in plan
    assert "xxhash64" in plan
    assert "BroadcastHashJoin" in plan


def test_q133_gap_windows_share_one_user_shuffle(spark):
    # lag, rank, count and max windows must all reuse ONE
    # user_id-keyed exchange — chained windows with no intermediate
    # shuffle (and nothing unpartitioned)
    plan = _plan(spark, "q133_interevent_gaps")
    assert plan.count("hashpartitioning(user_id") == 1, plan
    assert "SinglePartition" not in plan, plan


def test_q134_fuzzy_join_is_variant_keyed_never_nested_loop(spark):
    # the edit-distance join must reach candidates through the
    # deletion-variant equi key — an all-pairs levenshtein would show
    # up as a nested-loop/cartesian over the name relation
    plan = _plan(spark, "q134_fuzzy_name_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "levenshtein" in plan


def test_q135_twa_single_user_shuffle(spark):
    # lead window + aggregate share one user_id exchange
    plan = _plan(spark, "q135_time_weighted_avg")
    assert plan.count("hashpartitioning(user_id") == 1, plan
    assert "Join" not in plan


def test_q136_calibration_windows_distinct_scores_not_corpus(spark):
    # q125 discipline: the corpus sees one scan + one score-keyed
    # aggregate; the bin-cut windows run over the distinct-score
    # histogram (the only permissible SinglePartition)
    plan = _plan(spark, "q136_calibration_bins")
    assert "hashpartitioning(score" in plan, plan
    assert "Join" not in plan


def test_q137_gini_ranks_type_relation_not_corpus(spark):
    # ranks must consume the (source, token) aggregate: exchanges are
    # keyed on (source, tok) then source — never unpartitioned
    plan = _plan(spark, "q137_source_gini")
    assert "SinglePartition" not in plan, plan
    assert "hashpartitioning(source" in plan, plan
    assert "Join" not in plan


def test_q138_dispersion_aggregates_before_label_rollup(spark):
    # per-(label,pos) moments first, label rollup second; the explode
    # is the only Generate and nothing joins
    plan = _plan(spark, "q138_centroid_dispersion")
    assert "hashpartitioning(label" in plan, plan
    assert "SinglePartition" not in plan, plan
    assert "Join" not in plan


def test_q139_winsorize_bounds_broadcast_back(spark):
    # the per-supplier bounds relation (one row per key) broadcasts
    # back to the raw scan — never an SMJ over lineitem
    plan = _plan(spark, "q139_winsorized_stats")
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_q140_mad_windows_share_one_user_shuffle(spark):
    # both order-statistic picks ride the same user_id partitioning as
    # window maxima — no medians join, one keyed exchange, no
    # unpartitioned window
    plan = _plan(spark, "q140_mad_outliers")
    assert plan.count("hashpartitioning(user_id") == 1, plan
    assert "Join" not in plan
    assert "SinglePartition" not in plan, plan


def test_q141_weighted_median_pick_prunes_to_group_limit(spark):
    # pick = 1 must push down as a WindowGroupLimit so only the first
    # qualifying row per part survives the final window sort
    plan = _plan(spark, "q141_weighted_median")
    assert "WindowGroupLimit" in plan, plan
    assert "Join" not in plan
    assert "SinglePartition" not in plan, plan


def test_q142_rank_drift_pivots_without_join(spark):
    # the two half rank lists combine through a tok-keyed MAX(CASE)
    # aggregate — no self-join of the rank relation; the top-20 filter
    # prunes each half to a WindowGroupLimit
    plan = _plan(spark, "q142_rank_drift")
    assert "Join" not in plan
    assert "WindowGroupLimit" in plan, plan


def test_q143_sweepline_preaggregates_boundaries(spark):
    # boundary deltas group by (priority, instant) BEFORE the running
    # sum: the ordered window consumes the aggregated relation
    plan = _plan(spark, "q143_peak_concurrency")
    assert "hashpartitioning(o_orderpriority" in plan, plan
    assert "SinglePartition" not in plan, plan
    assert "Join" not in plan


def test_q144_islands_single_user_shuffle(spark):
    # running-max, island cumsum and both aggregates share one
    # user_id exchange
    plan = _plan(spark, "q144_interval_coverage")
    assert plan.count("hashpartitioning(user_id") == 1, plan
    assert "Join" not in plan
    assert "SinglePartition" not in plan, plan


def test_q145_path_motif_is_one_groupby_no_window(spark):
    # the per-user path builds inside one groupBy (sorted-struct
    # fold); no window, no join — the only SinglePartition is the
    # final 4-column scalar aggregate
    plan = _plan(spark, "q145_path_motif")
    assert "Join" not in plan
    assert "Window" not in plan, plan
    assert plan.count("hashpartitioning(user_id") == 1, plan


def test_q146_retrieval_eval_broadcasts_anchors_and_prunes_topk(spark):
    # the bounded anchor set broadcasts against the streaming corpus
    # (the only nested-loop is that bounded attach); the per-anchor
    # top-10 pushes down as a WindowGroupLimit; the label-population
    # join broadcasts the |labels|-sized relation
    plan = _plan(spark, "q146_retrieval_mrr")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan, plan
    assert "WindowGroupLimit" in plan, plan
    assert "SinglePartition" not in plan, plan


def test_q147_pr_curve_windows_distinct_scores_not_corpus(spark):
    # q125/q136 discipline: the corpus sees one scan + one score-keyed
    # aggregate; suffix-sum windows run over the distinct-logit
    # histogram, and the threshold join broadcasts back into the
    # CACHED histogram (InMemoryTableScan on both consumers)
    plan = _plan(spark, "q147_pr_curve")
    assert "hashpartitioning(score" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert _nscans(plan) <= 1, plan
    assert "InMemoryTableScan" in plan, plan


def test_q148_chisq_windows_run_on_cell_relation(spark):
    # marginal windows consume the |types| x 7 contingency relation,
    # never raw events: the only corpus exchange is the cell groupBy,
    # and nothing joins
    plan = _plan(spark, "q148_chisq_independence")
    assert "Join" not in plan
    assert "hashpartitioning(event_type" in plan, plan


def test_q149_phonetic_join_is_vocab_keyed_equi(spark):
    # the self-join runs on the cached DISTINCT vocabulary keyed by
    # the phonetic block — never nested-loop, never corpus-sized
    plan = _plan(spark, "q149_phonetic_blocking")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "levenshtein" in plan
    assert "InMemoryTableScan" in plan, plan
    assert _nscans(plan) <= 1, plan


def test_q150_pair_join_runs_on_user_type_aggregate(spark):
    # the GSP pair join consumes the (user, type) first/last aggregate
    # (cached; raw events scanned once) — the only nested-loop is the
    # 1-row n_users scalar attach
    plan = _plan(spark, "q150_seq_pattern_support")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan, plan
    assert _nscans(plan) <= 1, plan
    assert "hashpartitioning(user_id" in plan, plan


def test_q151_ks_windows_run_on_value_grid(spark):
    # the corpus reduces to the centi-quantized (type, value) grid
    # before any window: cached once, consumed four times; the
    # supremum pick prunes to a WindowGroupLimit
    plan = _plan(spark, "q151_ks_drift")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan, plan
    assert _nscans(plan) <= 1, plan
    assert "WindowGroupLimit" in plan, plan


def test_q152_cusum_single_user_shuffle(spark):
    # count/sum/rank/cumsum window specs and the peak pick all ride
    # ONE user_id exchange; no join, no unpartitioned window
    plan = _plan(spark, "q152_cusum_changepoint")
    assert plan.count("hashpartitioning(user_id") == 1, plan
    assert "Join" not in plan
    assert "SinglePartition" not in plan, plan
    assert "WindowGroupLimit" in plan, plan


def test_q153_three_lags_one_window_pass(spark):
    # lag-1/2/3 come from one ordered window (three LEADs in a single
    # Window node); the explode happens in the same stage and the
    # final aggregate re-keys on (user_id, lag)
    plan = _plan(spark, "q153_lag_autocorr")
    assert "Join" not in plan
    assert _nnodes(plan, "Window") == 1, plan
    assert "SinglePartition" not in plan, plan


def test_q154_readability_is_scan_plus_one_aggregate(spark):
    # pure codegen expressions over one corpus scan + one grouped
    # aggregate: no window, no join, no single-partition stage
    plan = _plan(spark, "q154_readability")
    assert "Join" not in plan
    assert "Window" not in plan, plan
    assert "SinglePartition" not in plan, plan
    assert _nscans(plan) == 1, plan


def test_q155_conversion_probe_is_user_keyed(spark):
    # the purchase probe joins the per-user first-view aggregate on
    # user_id (hash join, never nested-loop/SMJ at this size); order
    # statistics ride wk-keyed windows
    plan = _plan(spark, "q155_conversion_latency")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" not in plan, plan
    assert "hashpartitioning(wk" in plan, plan
    assert "SinglePartition" not in plan, plan


def test_q156_grouping_sets_one_expand_dims_broadcast(spark):
    # the four grouping sets come from ONE Expand over the joined base
    # (never four scans); customer/nation broadcast
    plan = _plan(spark, "q156_grouping_sets")
    assert _nnodes(plan, "Expand") == 1, plan
    assert "SortMergeJoin" not in plan, plan
    assert _nnodes(plan, "BroadcastHashJoin") == 3, plan
    assert _nscans(plan) == 4, plan


def test_q157_unpivot_melts_source_sized_relation(spark):
    # the melt (Expand) consumes the |sources|-sized wide aggregate,
    # after the corpus reduced: one scan, one source-keyed exchange
    plan = _plan(spark, "q157_metric_unpivot")
    assert "Join" not in plan
    assert _nnodes(plan, "Expand") == 1, plan
    assert _nscans(plan) == 1, plan
    assert "hashpartitioning(source" in plan, plan


def test_q158_baskets_build_on_one_order_shuffle(spark):
    # collect_set builds per-order baskets on ONE order-keyed corpus
    # exchange (cached: feeds n_orders, item supports, the pair
    # fan-out); apriori pruning is an IN-ROW array_intersect against
    # the broadcast frequent set, pairs explode in-row, and the only
    # hash joins are the tiny support lookups — no SMJ, no self-join
    # of the corpus relation
    plan = _plan(spark, "q158_basket_rules")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan, plan
    assert "InMemoryTableScan" in plan, plan
    assert _nscans(plan) <= 2, plan  # lineitem + part, each at most once
    assert "BroadcastHashJoin" in plan, plan
    assert "array_intersect" in plan, plan


def test_q158_driver_gate_falls_back_distributed(spark, monkeypatch):
    # round-12: the item-support collect is size-gated (limit(N+1)
    # bounds the driver fetch). Forcing the gate to 0 must route the
    # SAME mining through the distributed branch — identical rows,
    # and the plan carries the rules as joins (no literal frequent
    # array), proving the fallback really is the distributed shape.
    from python_lambda_ecs_container_data_etl_aws_spark.plans import (
        QUERIES,
        business,
    )

    sf = "/root/testdata/sf0.001"
    fast = [tuple(r) for r in QUERIES["q158_basket_rules"](spark, sf).collect()]
    spark.catalog.clearCache()
    monkeypatch.setattr(business, "_Q158_MAX_DRIVER_ITEMS", 0)
    slow_df = QUERIES["q158_basket_rules"](spark, sf)
    slow = [tuple(r) for r in slow_df.collect()]
    spark.catalog.clearCache()
    assert fast == slow and len(fast) > 0
    assert slow_df.columns == [
        "ante", "cons", "supp_ab", "supp_ante", "supp_cons",
        "conf_ppm", "lift_ppm",
    ]


def test_q159_rfm_cuts_run_on_value_grids(spark):
    # orders scan once into the per-customer aggregate (cached); the
    # three quintile cuts window over DISTINCT-value histograms
    # (bounded grids — q136 discipline) and broadcast back
    plan = _plan(spark, "q159_rfm_segments")
    assert "SortMergeJoin" not in plan, plan
    assert _nscans(plan) <= 1, plan
    assert plan.count("hashpartitioning(o_custkey") <= 2, plan


def test_q160_forecast_lags_ride_type_keyed_grid(spark):
    # the corpus reduces to the (type, day) aggregate before the
    # densified grid forms; both lags come from one type-keyed window
    plan = _plan(spark, "q160_forecast_eval")
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan
    assert _nscans(plan) <= 1, plan
    assert "hashpartitioning(event_type" in plan, plan


def test_q161_abtest_is_two_aggregates_no_join(spark):
    # per-user conversion rollup then one scalar conditional
    # aggregate — no join anywhere; the only SinglePartition is the
    # final 1-row reduce
    plan = _plan(spark, "q161_abtest_readout")
    assert "Join" not in plan
    assert _nscans(plan) == 1, plan
    assert "hashpartitioning(user_id" in plan, plan


def test_q162_trajectory_join_is_block_keyed(spark):
    # the path relation builds in one user-keyed groupBy, caches, and
    # self-joins ONLY through the (prefix, length) block key; the
    # top-k pick rides a user_a-keyed window — never an all-pairs
    # product
    plan = _plan(spark, "q162_trajectory_topk")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "levenshtein" in plan
    assert "InMemoryTableScan" in plan, plan
    assert _nscans(plan) <= 1, plan


def test_q161_overflow_sentinel_engine_identical(spark, duck):
    # round-5 advice: past the decimal(38,0) numerator horizon
    # (N ~ 4e7 users under heavy conversion skew) Spark used to NULL
    # while DuckDB's HUGEINT kept computing. Both engines now share a
    # bit-deterministic IEEE-double magnitude guard and emit -1; below
    # the horizon the exact 128-bit value is unchanged.
    from python_lambda_ecs_container_data_etl_aws_spark.plans import ORACLE
    from python_lambda_ecs_container_data_etl_aws_spark.plans.business import (
        abtest_readout_from_counts,
    )

    sql = ORACLE["q161_abtest_readout"]
    tail = sql[sql.index("p AS (") :]
    cases = [
        # (n_a, c_a, n_b, c_b) -> expected chisq_milli
        ((50_000_000, 49_999_999, 50_000_000, 1), -1),  # past horizon
        ((1000, 100, 1000, 50), 18018),  # classic 10% vs 5% readout
        ((7, 0, 5, 3), 5600),  # tiny arms, zero-conversion arm A
    ]
    for (n_a, c_a, n_b, c_b), want in cases:
        t = spark.createDataFrame(
            [(n_a, c_a, n_b, c_b)],
            "n_a bigint, c_a bigint, n_b bigint, c_b bigint",
        )
        got_spark = abtest_readout_from_counts(t).head().chisq_milli
        syn = (
            f"WITH t AS (SELECT CAST({n_a} AS BIGINT) n_a,"
            f" CAST({c_a} AS BIGINT) c_a, CAST({n_b} AS BIGINT) n_b,"
            f" CAST({c_b} AS BIGINT) c_b),\n" + tail
        )
        got_duck = duck.execute(syn).fetchall()[0][-1]
        assert got_spark == got_duck == want, (
            (n_a, c_a, n_b, c_b),
            got_spark,
            got_duck,
            want,
        )


# ---------------------------------------------------------------------------
# q163-q175 warehouse decision-support family: the decorrelation +
# broadcast-dim contracts. Correlated EXISTS / NOT EXISTS / scalar
# subqueries must rewrite to semi/anti/broadcast joins — a surviving
# CartesianProduct or per-row subquery is a plan regression.


def test_q163_decorrelates_to_semi_and_anti_joins(spark):
    plan = _plan(spark, "q163_only_late_supplier")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "LeftSemi" in plan, plan
    assert "LeftAnti" in plan, plan
    # the date-lateness predicate rides the join, not a post-filter scan
    assert "InSubquery" not in plan  # fully decorrelated, no subquery exec


def test_q164_idle_customers_anti_join_and_scalar_broadcast(spark):
    plan = _plan(spark, "q164_idle_customers")
    assert "CartesianProduct" not in plan
    assert "LeftAnti" in plan, plan
    # the recency predicate prunes orders BEFORE the anti join
    assert re.search(r"PushedFilters: \[.*GreaterThanOrEqual\(o_orderdate", plan), plan


def test_q165_stats_join_is_partkey_keyed(spark):
    plan = _plan(spark, "q165_small_qty_revenue")
    assert "CartesianProduct" not in plan
    # brand dim broadcasts into BOTH the stats build and the line side
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert re.search(r"PushedFilters: \[.*EqualTo\(p_brand,Brand#3", plan), plan


def test_q166_having_rides_orderkey_aggregate(spark):
    plan = _plan(spark, "q166_large_order_customers")
    assert "CartesianProduct" not in plan
    assert "hashpartitioning(l_orderkey" in plan, plan


def test_q167_scalar_having_broadcasts_one_row(spark):
    plan = _plan(spark, "q167_important_parts")
    assert "CartesianProduct" not in plan
    assert "hashpartitioning(l_partkey" in plan, plan
    assert _nscans(plan) == 2, plan  # lineitem scanned for v and reused for t


def test_q168_q169_q175_dims_all_broadcast(spark):
    for name in (
        "q168_nation_volume_pairs",
        "q169_market_share",
        "q175_product_profit",
    ):
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan, name
        # every dim join is a broadcast; the only SMJ allowed is the
        # lineitem⋈orders fact join (none at test SF)
        assert plan.count("BroadcastHashJoin") >= 4, (name, plan)


def test_q170_filters_prune_before_fact_join(spark):
    plan = _plan(spark, "q170_returned_items")
    assert re.search(r"PushedFilters: \[.*EqualTo\(l_returnflag,R\)", plan), plan
    assert "CartesianProduct" not in plan


def test_q172_top_supplier_is_suppkey_aggregate_plus_max(spark):
    plan = _plan(spark, "q172_top_supplier")
    assert "CartesianProduct" not in plan
    assert "hashpartitioning(l_suppkey" in plan, plan


def test_q173_ri_audit_one_left_join_per_edge(spark):
    # round-11 shape: each FK edge is ONE left join + one aggregate
    # (n_child = count, n_orphans = null-probe count) — the former
    # count-branch + anti-join + cross-join triple scanned every
    # child table twice
    plan = _plan(spark, "q173_ri_audit")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert len(re.findall(r"Join type: LeftOuter", plan)) == 7, plan  # per FK edge
    assert "LeftAnti" not in plan


def test_q176_non_equi_correlated_exists_decorrelates(spark):
    # the EXISTS predicate references the OUTER o_orderdate in an
    # inequality — the harder decorrelation case: it must fold into
    # the left-semi join condition, never a per-row subquery
    plan = _plan(spark, "q176_late_order_priorities")
    assert "CartesianProduct" not in plan
    assert "LeftSemi" in plan, plan
    assert "InSubquery" not in plan


def test_q177_backlog_filters_push_to_all_scans(spark):
    plan = _plan(spark, "q177_segment_backlog")
    pushed = " ".join(re.findall(r"PushedFilters: \[([^\]]*)\]", plan))
    assert "EqualTo(c_mktsegment,BUILDING)" in pushed, pushed
    assert "LessThan(o_orderdate" in pushed, pushed
    assert "GreaterThanOrEqual(l_shipdate" in pushed, pushed
    assert "CartesianProduct" not in plan


def test_q178_argmin_rides_partkey_window_group_limit(spark):
    # rn = 1 must prune via WindowGroupLimit on the (part, supplier)
    # AGGREGATE — lineitem rows never enter the window
    plan = _plan(spark, "q178_cheapest_supplier")
    assert "WindowGroupLimit" in plan, plan
    assert "CartesianProduct" not in plan


def test_q179_band_report_is_scan_plus_one_aggregate(spark):
    plan = _plan(spark, "q179_discount_band_revenue")
    assert "Join" not in plan
    assert _nscans(plan) == 1, plan


def test_q180_bootstrap_replicates_collapse_map_side(spark):
    # rows x B must collapse to |groups| x B in the partial aggregate:
    # the only exchanges are on (priority, b) / (priority) — never a
    # row-sized shuffle; weights are pure codegen (no Python stage)
    plan = _plan(spark, "q180_bootstrap_ci")
    assert "Python" not in plan
    assert "CartesianProduct" not in plan
    keys = " ".join(re.findall(r"hashpartitioning\(([^)]*)\)", plan))
    assert "o_orderpriority" in keys, plan
    assert "o_orderkey" not in keys, plan  # never shuffled by row key


def test_q181_skew_profile_order_stats_ride_histogram(spark):
    # p50/p99 come from the count-of-counts histogram — the windows
    # run over |distinct counts| rows, and the only corpus-sized
    # exchange is the user_id groupBy
    plan = _plan(spark, "q181_key_skew_profile")
    assert "CartesianProduct" not in plan
    assert "hashpartitioning(user_id" in plan, plan
    specs = " ".join(re.findall(r"windowspecdefinition\(([^)]*)", plan))
    assert "user_id" not in specs, specs  # window never sorts the key relation


def test_q182_snapshot_diff_is_one_keyed_full_outer(spark):
    # one full-outer join on the key, both snapshot filters pure
    # codegen over the same scan; the profile is a map-side
    # conditional aggregate — no second shuffle family
    plan = _plan(spark, "q182_snapshot_diff")
    assert "CartesianProduct" not in plan
    assert len(re.findall(r"Join type: FullOuter", plan)) == 1, plan
    assert "Python" not in plan


def test_sql_backed_queries_substitute_every_table_reference():
    # q163/q176 run their ORACLE text through string substitution onto
    # wh_-prefixed temp views; a future edit that adds a bare
    # FROM/JOIN clause the .replace chain misses would silently read
    # whatever happens to be registered under the bare name
    import re as _re

    from python_lambda_ecs_container_data_etl_aws_spark.plans import ORACLE

    for name, repls in {
        "q163_only_late_supplier": [
            ("FROM supplier", "FROM wh_supplier"),
            ("JOIN lineitem", "JOIN wh_lineitem"),
            ("JOIN orders", "JOIN wh_orders"),
            ("FROM lineitem", "FROM wh_lineitem"),
        ],
        "q176_late_order_priorities": [
            ("FROM orders", "FROM wh_orders"),
            ("FROM lineitem", "FROM wh_lineitem"),
        ],
    }.items():
        sql = ORACLE[name]
        for a, b in repls:
            sql = sql.replace(a, b)
        bare = [
            m
            for m in _re.findall(r"(?:FROM|JOIN)\s+([a-z_0-9]+)", sql)
            if not m.startswith("wh_")
        ]
        assert not bare, (name, bare)


# q183-q192 training-data/analytic family: each plan's scale posture.
# (The catalog-wide universal-invariant and no-hard-hint tests already
# sweep these; the assertions below pin each query's SPECIFIC shape.)


def test_q183_decontamination_is_window_never_pairs(spark):
    # bench membership must be a single max-window over the shingle
    # key — a pair join (inner on shingle, like q22) would fan out
    # quadratic candidates the decontamination gate never needs, and
    # the round-7 LeftSemi formulation planned the expensive shingle
    # build twice (round-7 ADVICE). The only join allowed is the tiny
    # per-source rollup (n_docs ⋈ contaminated-counts).
    plan = _plan(spark, "q183_benchmark_decontamination")
    assert _nnodes(plan, "Window") == 1
    n_joins = sum(
        _nnodes(plan, j)
        for j in (
            "SortMergeJoin",
            "BroadcastHashJoin",
            "ShuffledHashJoin",
            "BroadcastNestedLoopJoin",
        )
    )
    assert n_joins <= 1, plan
    assert "CartesianProduct" not in plan and "BatchEvalPython" not in plan


def test_q184_packing_single_window_pass(spark):
    # one source-keyed window builds the prefix sums; the bin rollups
    # must reuse that partitioning (no second corpus-wide exchange on
    # a different key) and nothing drops to Python
    plan = _plan(spark, "q184_sequence_packing")
    assert "Python" not in plan
    assert _nnodes(plan, "Window") == 1
    schemas = re.findall(r"ReadSchema: (struct<[^\n]*)", plan)
    # the packer reads only (source, doc_id, text)
    assert schemas and all("lang" not in s and "n_chars" not in s for s in schemas)


def test_q183_decontamination_shingles_built_once(spark):
    # bench-membership is a max(is_bench) window over the shingle key,
    # so the expensive 5-gram build happens ONCE; the only other
    # documents scan is the trivial 2-column non-bench doc count. The
    # round-7 semi-join formulation planned two full scan+split+explode
    # subtrees (plus a third documents scan) — this pin makes that
    # regression loud, same discipline as test_q186 below.
    plan = _plan(spark, "q183_benchmark_decontamination")
    assert "CartesianProduct" not in plan and "Python" not in plan
    schemas = re.findall(r"ReadSchema: (struct<[^\n]*)", plan)
    assert sum("text" in s for s in schemas) == 1, schemas
    assert _nscans(plan) <= 2, plan


def test_q186_novelty_shingles_built_once(spark):
    # first-occurrence is a min-window over the shingle key, so the
    # expensive shingle build happens ONCE; the only other documents
    # scan is the trivial per-source doc count (1-column). A join-back
    # formulation would shingle the corpus twice.
    plan = _plan(spark, "q186_ngram_novelty")
    assert "CartesianProduct" not in plan and "BatchEvalPython" not in plan
    schemas = re.findall(r"ReadSchema: (struct<[^\n]*)", plan)
    assert sum("text" in s for s in schemas) == 1, schemas


def test_q188_deciles_single_orders_scan(spark):
    # rank + per-priority count ride the SAME window partition (one
    # sort); a count aggregate joined back would scan orders twice
    plan = _plan(spark, "q188_revenue_deciles")
    assert _nscans(plan) == 1
    assert "CartesianProduct" not in plan and "SortMergeJoin" not in plan


def test_q189_transitions_single_scan_two_windows(spark):
    # lead window over events + totals window over the |types|^2
    # matrix. The totals as a JOIN would re-derive the whole
    # scan+window subtree (two events scans — caught in round 7);
    # exactly one scan proves the shared subtree is not recomputed.
    plan = _plan(spark, "q189_event_transitions")
    assert _nnodes(plan, "Window") == 2
    assert _nscans(plan) == 1
    assert "CartesianProduct" not in plan and "BatchEvalPython" not in plan


def test_q190_bitmask_stays_jvm_side(spark):
    plan = _plan(spark, "q190_event_bitmask")
    assert "Python" not in plan and "CartesianProduct" not in plan


def test_q191_gini_nation_broadcast_single_window(spark):
    plan = _plan(spark, "q191_gini_balance")
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan
    assert _nnodes(plan, "Window") == 1


def test_q192_dq_suite_one_scan_per_table_pruned(spark):
    # all of a table's rules fuse into ONE aggregate pass (orders
    # scanned once, lineitem once), and each scan reads only the
    # checked columns — a rule suite that re-scans per rule or reads
    # whole rows at 100 TB is wrong
    plan = _plan(spark, "q192_dq_rule_suite")
    assert "CartesianProduct" not in plan and "Python" not in plan
    assert _nscans(plan) == 2
    schemas = re.findall(r"ReadSchema: (struct<[^\n]*)", plan)
    li = [s for s in schemas if "l_quantity" in s]
    assert li and all("l_comment" not in s and "l_shipdate" not in s for s in li)


def test_driver_built_relations_are_local_relations(spark):
    """Rows the driver holds (add_autoid's offsets, q122's lexicon,
    q158's frequent items, pagerank's and connected components' driver
    results) enter the plan as a ``LocalRelation``, never as a
    Python-RDD scan (``LogicalRDD``), whose tasks each start a Python
    worker."""
    from python_lambda_ecs_container_data_etl_aws_spark.session import local_frame

    df = local_frame(spark, [(0, 0)], "__pid INT, __off BIGINT")
    assert df._jdf.queryExecution().analyzed().getClass().getSimpleName() == "LocalRelation"
    for name in (
        "q09_autoid_rownumber",
        "q122_lexicon_sentiment",
        "q158_basket_rules",
        "q99_domain_pagerank",
        "q47_neardup_clusters",
    ):
        analyzed = QUERIES[name](spark, SF_DIR)._jdf.queryExecution().analyzed()
        assert "LogicalRDD" not in analyzed.toString(), name
        assert "LocalRelation" in analyzed.toString(), name
    spark.catalog.clearCache()


def test_q09_build_job_count_is_pinned(spark):
    """Building q09 on a cold cache runs 5 Spark jobs, all add_autoid's
    range sample and per-partition counts: the tables read with footer
    schemas (no inference job) and the offsets join in as a local
    relation. It was 6 while lineitem's schema was inferred."""
    spark.catalog.clearCache()
    jobs = spark.sparkContext._jsc.sc().dagScheduler()
    before = jobs.numTotalJobs()
    QUERIES["q09_autoid_rownumber"](spark, SF_DIR)
    assert jobs.numTotalJobs() - before == 5
    spark.catalog.clearCache()
