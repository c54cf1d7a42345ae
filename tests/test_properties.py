"""Property-based tests (SURVEY §5 item 3): chunk arithmetic, routing,
merge idempotence under hypothesis-generated inputs."""

from __future__ import annotations

from hypothesis import example, given, settings
from hypothesis import strategies as st

from python_lambda_ecs_container_data_etl_aws_spark.sources import chunking, registry


@given(
    n=st.integers(min_value=1, max_value=100_000),
    size_mib=st.floats(min_value=0.1, max_value=500.0, allow_nan=False),
)
def test_chunk_math_partitions_all_rows(n, size_mib):
    """∀ N, size: chunks exactly partition [1..N]; every chunk but the
    last is full (the 2.1:453-479 contract incl. short last chunk)."""
    lpf = chunking.lines_per_file(n, size_mib)
    k = chunking.n_chunks(n, size_mib)
    assert lpf >= 1 and k >= 1
    sizes = [
        min(n, (i + 1) * lpf) - i * lpf for i in range(k)
    ]
    assert sum(sizes) == n
    assert all(s == lpf for s in sizes[:-1])
    assert 1 <= sizes[-1] <= lpf


@given(name=st.text(min_size=1, max_size=40))
def test_routing_total_and_loop_safe(name):
    """Routing is total (never raises) and converted_ names never load."""
    spec = registry.lookup_table(name)
    if name.lower().startswith("converted_"):
        assert spec is None
    if spec is not None:
        low = name.lower()
        assert any(s in low for s in spec.name_substrings)


@given(
    perm_keys=st.sets(st.integers(0, 30), max_size=12),
    delta_keys=st.sets(st.integers(0, 30), max_size=12),
)
@settings(max_examples=8, deadline=None)
def test_upsert_algebra(perm_keys, delta_keys, spark):
    """Key algebra: result keys = perm ∪ delta; delta rows win; and
    re-applying the same delta is a no-op (merge idempotence)."""
    from python_lambda_ecs_container_data_etl_aws_spark.sources import merge
    perm = spark.createDataFrame(
        [(k, f"p{k}") for k in sorted(perm_keys)] or [(None, None)], "k int, v string"
    ).filter("k is not null")
    delta = spark.createDataFrame(
        [(k, f"d{k}") for k in sorted(delta_keys)] or [(None, None)], "k int, v string"
    ).filter("k is not null")
    once = merge.upsert(perm, delta, ["k"])
    rows = {r.k: r.v for r in once.collect()}
    assert set(rows) == perm_keys | delta_keys
    for k in delta_keys:
        assert rows[k] == f"d{k}"
    for k in perm_keys - delta_keys:
        assert rows[k] == f"p{k}"
    twice = {r.k: r.v for r in merge.upsert(once, delta, ["k"]).collect()}
    assert twice == rows


@given(
    perm_rows=st.lists(
        st.tuples(st.integers(0, 25), st.integers(0, 3), st.integers(-50, 50)),
        max_size=20,
        unique_by=lambda t: t[0],
    ),
    delta_rows=st.lists(
        st.tuples(st.integers(0, 25), st.integers(0, 3), st.integers(-50, 50)),
        max_size=12,
        unique_by=lambda t: t[0],
    ),
    dup=st.none() | st.tuples(st.integers(0, 3), st.integers(-50, 50)),
)
@example(perm_rows=[(1, 0, 5), (2, 1, 3)], delta_rows=[(1, 2, 7)], dup=(3, 4))
@settings(max_examples=8, deadline=None)
def test_incremental_merge_equals_recompute_over_upsert(
    perm_rows, delta_rows, dup, spark
):
    """∀ perm, delta: maintaining the report incrementally
    (base − replaced + delta) equals recomputing it from the merged
    table — the invariant the ingest-wired maintained report relies on,
    including rows that change group under the upsert, and a key the
    perm side holds twice (``dup``: a second copy of the first perm
    key with its own group and value)."""
    from pyspark.sql import functions as F

    from python_lambda_ecs_container_data_etl_aws_spark.sources import merge

    schema = "k int, g int, v bigint"
    if dup is not None and perm_rows:
        perm_rows = [*perm_rows, (perm_rows[0][0], *dup)]
    perm = spark.createDataFrame(perm_rows or [(None,) * 3], schema).filter(
        "k is not null"
    )
    delta = spark.createDataFrame(delta_rows or [(None,) * 3], schema).filter(
        "k is not null"
    )

    def state(df):
        return df.groupBy("g").agg(
            F.count(F.lit(1)).alias("n"), F.sum("v").alias("s")
        )

    replaced = perm.join(delta.select("k"), "k", "left_semi")
    maintained = {
        r.g: (r.n, r.s)
        for r in merge.incremental_agg_merge(
            state(perm), state(replaced), state(delta), ["g"], ["n", "s"]
        )
        .filter("n > 0")
        .collect()
    }
    recomputed = {
        r.g: (r.n, r.s)
        for r in state(merge.upsert(perm, delta, ["k"])).collect()
    }
    assert maintained == recomputed


@given(
    texts=st.lists(
        st.text(
            alphabet=st.characters(min_codepoint=32, max_codepoint=126),
            max_size=60,
        ),
        min_size=1,
        max_size=20,
    )
)
@settings(max_examples=8, deadline=None)
def test_normalize_text_idempotent_and_variant_stable(texts, spark):
    """∀ printable-ASCII strings: the q79 normalizer is idempotent
    (normalize∘normalize ≡ normalize) and canonical under the planted
    variant transforms — uppercasing, punctuation suffixes, space
    inflation, and padding never change the normalized form."""
    from pyspark.sql import functions as F

    from python_lambda_ecs_container_data_etl_aws_spark.operators.curate import (
        normalize_text,
    )

    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i int, t string")
    out = df.select(
        "i",
        normalize_text(F.col("t")).alias("n1"),
        normalize_text(normalize_text(F.col("t"))).alias("n2"),
        normalize_text(F.upper(F.col("t"))).alias("vu"),
        normalize_text(F.concat(F.col("t"), F.lit("!!!"))).alias("vp"),
        normalize_text(F.regexp_replace("t", " ", "   ")).alias("vs"),
        normalize_text(F.concat(F.lit("  "), F.col("t"), F.lit("  "))).alias("vw"),
    ).collect()
    for r in out:
        assert r.n2 == r.n1  # idempotent
        assert r.vu == r.n1  # case-invariant
        assert r.vs == r.n1  # space-run-invariant
        assert r.vw == r.n1  # padding-invariant
        # '!!!' is stripped entirely; it can only merge with a trailing
        # stripped run, never add tokens
        assert r.vp == r.n1
        # normalized form contains only [a-z0-9 ] with single spaces
        assert "  " not in r.n1 and r.n1 == r.n1.strip()
        assert all(c.islower() or c.isdigit() or c == " " for c in r.n1)


def test_q87_ntile_arithmetic_equals_builtin(spark):
    """The scalable NTILE(10) arithmetic (autoid rank + allocation
    formula) must agree with Spark's built-in ntile window for every
    corpus size shape: n < 10, n % 10 == 0, and ragged remainders."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    for n in (1, 7, 10, 23, 100, 101, 109):
        d = spark.range(n).select(
            F.col("id").alias("doc_id"), (F.col("id") * 37 % 91).alias("ntok")
        )
        b, r = divmod(n, 10)
        ranked = d.withColumn(
            "autoid",
            F.row_number().over(Window.orderBy("ntok", "doc_id")),
        )
        dec = ranked.withColumn(
            "decile",
            F.expr(
                f"CAST(CASE WHEN autoid <= {r * (b + 1)}"
                f" THEN (autoid - 1) div {b + 1} + 1"
                f" ELSE {r} + (autoid - 1 - {r * (b + 1)}) div {max(b, 1)} + 1"
                " END AS INT)"
            ),
        ).withColumn("builtin", F.ntile(10).over(Window.orderBy("ntok", "doc_id")))
        bad = dec.filter(F.col("decile") != F.col("builtin")).count()
        assert bad == 0, f"n={n}: arithmetic diverges from ntile"


def test_md5_ordered_matches_python_reference(spark):
    """_md5_ordered (the Spark twin of DuckDB's ordered string_agg md5)
    must fingerprint exactly the order-key-sorted value join."""
    import hashlib

    from pyspark.sql import functions as F  # noqa: F401

    from python_lambda_ecs_container_data_etl_aws_spark.plans.corpus import (
        _md5_ordered,
    )

    rows = [(1, 3, "c"), (1, 1, "a"), (1, 2, "b"), (2, 1, "x")]
    d = spark.createDataFrame(rows, "g INT, k INT, v STRING")
    got = {
        r.g: r.h
        for r in d.groupBy("g").agg(_md5_ordered("v", "k").alias("h")).collect()
    }
    assert got[1] == hashlib.md5("a b c".encode()).hexdigest()
    assert got[2] == hashlib.md5("x".encode()).hexdigest()


@given(
    docs=st.lists(
        st.lists(st.integers(0, 5), min_size=3, max_size=10),
        min_size=2,
        max_size=10,
    ),
    t10=st.integers(min_value=5, max_value=9),
)
@settings(max_examples=8, deadline=None)
def test_prefix_filtered_pairs_equals_brute_force(docs, t10, spark):
    """PPJoin completeness: the prefix filter must find EXACTLY the
    pairs a brute-force Jaccard join finds — no false negatives (the
    property LSH cannot offer) and no false positives (the verify)."""
    from python_lambda_ecs_container_data_etl_aws_spark.operators.dedup import (
        prefix_filtered_pairs,
    )

    rows = [
        (i, f"t{v}") for i, d in enumerate(docs) for v in d
    ]
    ts = spark.createDataFrame(rows, "doc_id long, tok string").distinct()
    got = {
        (r.a_id, r.b_id)
        for r in prefix_filtered_pairs(
            ts, threshold_tenths=t10
        ).collect()
    }
    sets = {i: {f"t{v}" for v in d} for i, d in enumerate(docs)}
    want = set()
    for a in sets:
        for b in sets:
            if a < b:
                inter = len(sets[a] & sets[b])
                uni = len(sets[a] | sets[b])
                if 10 * inter >= t10 * uni:
                    want.add((a, b))
    assert got == want


@given(
    docs=st.lists(
        st.lists(st.integers(0, 5), min_size=3, max_size=10),
        min_size=2,
        max_size=10,
    ),
    t10=st.integers(min_value=5, max_value=9),
)
@settings(max_examples=8, deadline=None)
def test_containment_pairs_equals_brute_force(docs, t10, spark):
    """Containment exactness: the operator must find EXACTLY the
    pairs a brute-force containment join finds — the asymmetric
    analog of the Jaccard property above. Degenerate inputs
    (all-identical sets, singleton overlaps, equal sizes) are the
    cases hypothesis shrinks to; the threshold sweep crosses the
    integer-boundary cases (t*n exactly integral) where a float
    prefix/ceil bug would drop pairs."""
    from python_lambda_ecs_container_data_etl_aws_spark.operators.dedup import (
        containment_pairs,
    )

    rows = [(i, f"t{v}") for i, d in enumerate(docs) for v in d]
    sh = (
        spark.createDataFrame(rows, "id long, shingle string").distinct()
    )
    thr = t10 / 10
    got = {
        (r.a_id, r.b_id)
        for r in containment_pairs(sh, thr).collect()
    }
    sets = {i: {f"t{v}" for v in d} for i, d in enumerate(docs)}
    want = set()
    for a in sets:
        for b in sets:
            if a < b:
                inter = len(sets[a] & sets[b])
                if (
                    inter / len(sets[a]) >= thr
                    or inter / len(sets[b]) >= thr
                ):
                    want.add((a, b))
    assert got == want


@given(
    changes=st.lists(
        st.tuples(
            st.integers(0, 5),  # key
            st.integers(0, 100),  # value
            st.integers(0, 4),  # seq
            st.sampled_from(["I", "U", "D"]),
        ),
        min_size=1,
        max_size=20,
    )
)
@settings(max_examples=8, deadline=None)
def test_scd2_history_invariants(changes, spark):
    """SCD2 invariants on arbitrary change logs: per key, versions are
    densely numbered in (seq, op) order, validity intervals chain
    (each valid_to equals the next event's seq), at most one current
    version per key, and a key whose latest event is a tombstone has
    no current version."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    # dedupe exact duplicates: (k, seq, op) must be unique for LEAD
    seen = set()
    rows = []
    for k, v, s, o in changes:
        if (k, s, o) not in seen:
            seen.add((k, s, o))
            rows.append((k, v, s, o))
    log = spark.createDataFrame(rows, "k long, qp long, seq long, op string")
    w_all = Window.partitionBy("k").orderBy("seq", "op")
    h = log.withColumn("next_seq", F.lead("seq").over(w_all))
    hist = (
        h.filter(F.col("op") != "D")
        .withColumn("ver", F.row_number().over(w_all))
        .collect()
    )
    by_key = {}
    for r in hist:
        by_key.setdefault(r.k, []).append(r)
    for k, vers in by_key.items():
        vers.sort(key=lambda r: r.ver)
        assert [r.ver for r in vers] == list(range(1, len(vers) + 1))
        n_current = sum(1 for r in vers if r.next_seq is None)
        assert n_current <= 1
    # tombstone-latest keys have no current version
    for k in {c[0] for c in rows}:
        evs = sorted((c for c in rows if c[0] == k), key=lambda c: (c[2], c[3]))
        if evs[-1][3] == "D":
            assert all(r.next_seq is not None for r in by_key.get(k, []))


@given(seed_docs=st.integers(min_value=1, max_value=400))
@settings(max_examples=5, deadline=None)
def test_pagerank_mass_and_floor_invariants(seed_docs, spark):
    """Integer PageRank invariants on arbitrary graph sizes: every
    rank is >= the damping floor, and total mass never exceeds
    n_nodes * scale (truncating divisions only ever LOSE mass)."""
    from pyspark.sql import functions as F

    from python_lambda_ecs_container_data_etl_aws_spark.operators.graph import pagerank

    d = spark.range(seed_docs).select(
        (F.col("id") % 13).alias("s"), ((F.col("id") * 5 + 3) % 13).alias("t")
    ).filter(F.col("s") != F.col("t"))
    if d.isEmpty():
        return
    ranks = pagerank(d, iters=2, scale=1_000_000, base_pct=15).collect()
    assert all(r.r >= 150_000 for r in ranks)
    assert sum(r.r for r in ranks) <= len(ranks) * 1_000_000


@given(
    pts=st.lists(
        st.tuples(st.integers(0, 4), st.integers(0, 4)),
        min_size=1,
        max_size=14,
    )
)
@settings(max_examples=8, deadline=None)
def test_pareto_window_form_equals_brute_force_dominance(pts, spark):
    """The q118 two-window skyline must equal the O(n^2) dominance
    definition on arbitrary point sets — including duplicate points
    (mutually non-dominating twins both survive) and the mixed-tie
    case a running ROWS-frame max gets wrong."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    rows = [(i, q, l) for i, (q, l) in enumerate(pts)]
    f = spark.createDataFrame(rows, "doc_id long, q long, n_chars long")
    w_higher = Window.orderBy(F.col("q").desc()).rangeBetween(
        Window.unboundedPreceding, -1
    )
    w_same = Window.partitionBy("q")
    got = {
        r.doc_id
        for r in f.withColumn("mh", F.max("n_chars").over(w_higher))
        .withColumn("ms", F.max("n_chars").over(w_same))
        .filter(
            (F.col("mh").isNull() | (F.col("mh") < F.col("n_chars")))
            & (F.col("ms") == F.col("n_chars"))
        )
        .collect()
    }
    want = {
        i
        for i, (q, l) in enumerate(pts)
        if not any(
            (q2 >= q and l2 >= l and (q2 > q or l2 > l))
            for j, (q2, l2) in enumerate(pts)
            if j != i
        )
    }
    assert got == want


@given(
    scored=st.lists(
        st.tuples(st.integers(-5, 5), st.booleans()),
        min_size=1,
        max_size=30,
    )
)
@settings(max_examples=10, deadline=None)
def test_auc_rank_sum_equals_pair_counting(scored, spark):
    """q125's grouped rank-sum AUC must equal the textbook pairwise
    definition (concordant + half-ties over pos*neg pairs) on
    arbitrary score/label multisets — including all-tied scores,
    single-class inputs (den=0), and heavy duplication."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    f = spark.createDataFrame(
        [(int(s), int(p)) for s, p in scored], "score long, pos long"
    )
    g = f.groupBy("score").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("pos").cast("bigint").alias("p"),
    )
    below_w = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, -1)
    c = g.withColumn(
        "below", F.coalesce(F.sum("n").over(below_w), F.lit(0)).cast("bigint")
    )
    row = c.agg(
        F.coalesce(F.sum("p"), F.lit(0)).alias("n_pos"),
        F.coalesce(F.sum(F.col("n") - F.col("p")), F.lit(0)).alias("n_neg"),
        F.coalesce(
            F.sum(F.col("p") * (2 * F.col("below") + F.col("n") + 1)), F.lit(0)
        ).alias("sum2r"),
    ).collect()[0]
    got_num = row.sum2r - row.n_pos * (row.n_pos + 1)
    got_den = 2 * row.n_pos * row.n_neg
    # brute force: 2*(concordant) + 1*(tied) over all pos x neg pairs
    pos = [s for s, p in scored if p]
    neg = [s for s, p in scored if not p]
    want_num = sum(
        2 if sp > sn else (1 if sp == sn else 0) for sp in pos for sn in neg
    )
    assert (got_num, got_den) == (want_num, 2 * len(pos) * len(neg))


@given(
    gaps=st.lists(st.integers(0, 100), min_size=1, max_size=25)
)
@settings(max_examples=10, deadline=None)
def test_median_lower_middle_pick_matches_python(gaps, spark):
    """q133's row_number median pick must select the lower-middle
    order statistic of the gap multiset (duplicates included)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    f = spark.createDataFrame(
        [(1, i, int(g)) for i, g in enumerate(gaps)],
        "user_id long, event_id long, g long",
    )
    w_rank = Window.partitionBy("user_id").orderBy("g", "event_id")
    w_all = Window.partitionBy("user_id")
    got = (
        f.select(
            "g",
            F.row_number().over(w_rank).alias("rn"),
            F.count(F.lit(1)).over(w_all).alias("n"),
        )
        .filter(F.col("rn") == F.expr("(n + 1) div 2"))
        .collect()
    )
    assert len(got) == 1
    want = sorted(gaps)[(len(gaps) + 1) // 2 - 1]
    assert got[0].g == want


def test_q144_islands_equal_native_session_windows(spark):
    """q144's gaps-and-islands interval union is EXACTLY Spark's native
    session-window semantics with the same gap: an island of
    overlapping [t, t+G) intervals is a session_window(G) group
    (start = first event, end = last event + G), so per-user island
    counts and union lengths must match the built-in — the batch
    contract the streaming session tier (q34 twin) inherits."""
    from pyspark.sql import functions as F

    from python_lambda_ecs_container_data_etl_aws_spark.plans import QUERIES
    from tests.conftest import SF_DIR

    got = {
        r.user_id: (r.n_islands, r.covered_us)
        for r in QUERIES["q144_interval_coverage"](spark, SF_DIR).collect()
    }
    from python_lambda_ecs_container_data_etl_aws_spark.catalog import load_events

    e = load_events(spark, SF_DIR).select(
        "user_id", F.timestamp_micros(F.col("ts_us")).alias("ts")
    )
    native = (
        e.groupBy(
            "user_id",
            F.session_window("ts", "30 minutes").alias("w"),
        )
        .count()
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_islands"),
            F.sum(
                F.unix_micros(F.col("w.end")) - F.unix_micros(F.col("w.start"))
            ).alias("covered_us"),
        )
        .collect()
    )
    want = {r.user_id: (r.n_islands, r.covered_us) for r in native}
    assert got == want
