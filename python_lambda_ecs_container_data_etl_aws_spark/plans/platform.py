"""Platform-tier queries q99-q123: the warehouse/graph/retrieval
operations that sit AROUND a curation pipeline — seed-quality graph
ranking, slowly-changing-dimension history, embedding compression,
series anomaly audit, tokenizer-merge statistics, late-interaction
retrieval, and the shard manifest a trainer's data loader reads.

- q99 domain PageRank: fixed-point integer PageRank (3 unrolled
  iterations, damping 0.85) over a deterministic domain link graph —
  the CommonCrawl-style "rank hosts to pick crawl seeds" job. Every
  per-edge contribution is BIGINT (rank*weight integer-divided by the
  source's out-weight), so both engines iterate bit-identically.
- q100 SCD Type-2 historization: fold the q96 CDC change log into
  versioned dimension rows (valid_from/valid_to sequence bounds,
  is_current, tombstone-closed) — the warehouse-side history twin of
  q96's latest-wins apply and q08's upsert (reference upsert contract:
  2.2 loading-lambda-for-mysql.py:209-217 keeps only latest; SCD2 is
  what a reporting warehouse keeps instead).
- q101 int8 embedding quantization: per-dimension affine int8 codes
  with exact integer reconstruction error — the compression pass a
  100 TB vector store runs before ANN indexing. Two-pass: one
  64-group stats aggregate, then a broadcast one-row parameter join
  and an in-row fold (q97's kernel shape).
- q102 series anomaly audit: per-(event_type, day) counts flagged by
  an INTEGER z-score test — z^2 > 9 rewritten as
  (n*c - S)^2 > 9*(n*Q - S^2) over exact count sums, so "3 sigma"
  needs no float variance anywhere.
- q103 BPE pair statistics: the first tokenizer-training merge step —
  adjacent character-pair counts weighted by word frequency, top-20.
  The explode runs over the VOCABULARY relation (distinct words),
  never the raw corpus: at 100 TB the vocab is orders of magnitude
  smaller than the text.
- q104 multi-vector MaxSim: ColBERT-style late interaction — each
  embedding is 8 sub-vectors of 8 dims; score(q,d) = sum over query
  sub-vectors of the max dot-product against any doc sub-vector,
  exact over quantized BIGINTs; top-3 per query.
- q105 shard manifest: per-shard (n_docs, n_tokens, n_chars,
  membership fingerprint) over the q60-style seeded global shuffle —
  the manifest file a data loader checks before an epoch.
- q106 Borda rank fusion: two retrievers (exact L2, MaxSim) fused by
  integer Borda points over their top-10 lists — the bit-exact
  stand-in for float RRF.
- q107 feature-hashed doc embeddings: the hashing trick as one
  explode + one aggregate — md5-bucket dims, md5-parity signs.
- q108 token-budget mixture allocation: capped waterfilling with one
  proportional redistribution round, all truncating BIGINT division.
- q109 graph triangle census: sorted-edge a<b<c triangle count over
  the q99 domain graph.
- q110 trend slopes: per-series OLS trend sign with exact BIGINT
  numerator/denominator — float-free metric regression sweeps.
- q111 prefix-filtered set-similarity join: AllPairs/PPJoin over
  3-token shingle sets — the exact, no-false-negative complement to
  MinHash-LSH; integer ceil and cross-multiplied Jaccard gate.
- q112 inverted index build: per-term df/cf/first posting + an
  order-fingerprint of the (doc, pos) posting list.
- q113 deterministic random walks: md5-driven next-hop selection
  over sorted adjacency — node2vec-style walk corpora, bit-identical
  in both engines.
- q114 hierarchy subtree rollup: WITH RECURSIVE closure in the
  oracle, bounded-depth unrolled closure joins in Spark — the
  dimension-hierarchy aggregation (category trees, org charts).
- q115 pivot report: Spark pivot() with an explicit value list vs
  the portable conditional-aggregation oracle — wide BI report shape.
- q116 hopping windows: native F.window(slideDuration) overlapping
  windows (every event in exactly 3) vs the arithmetic fan-out oracle.
- q117 data-quality expectations: the dbt-test/Deequ-style constraint
  suite — PK uniqueness, referential integrity, accepted values,
  not-null, range — each one pruned scan + aggregate.
- q118 Pareto frontier: per-source skyline on (quality, length) via
  two partitioned window maxima that map 1:1 onto the dominance
  definition — never the O(n^2) anti-join.
- q119 Markov transitions: per-user LAG sequences -> (from, to)
  counts + integer ppm row probabilities.
- q120 ratio-to-report: percent-of-total in integer ppm via broadcast
  totals — never a percent window over the fact table.
- q121 cumulative distinct users: the first-seen transform — the
  scalable rewrite of the unsupported COUNT(DISTINCT) OVER cumulative
  window; the only running sum spans the |days|-sized relation.
- q122 lexicon sentiment: broadcast lexicon join + one aggregate
  (the EDBT 2016 Spark sentiment job shape, PAPERS.md).
- q123 series similarity search: exact-integer Pearson components
  over daily-count series pairs — rankable by cross-multiplication,
  overflow-safe where a ppm r² would hit the BIGINT ceiling.

The reference pipeline (CSV -> MySQL/DynamoDB loads) stops at q08's
upsert; these extend the Tier-C suite with oracle-backed contracts.
All arithmetic that crosses engines is integer (BIGINT) or md5, the
established bit-exactness discipline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..session import local_frame
from ..sources.chunking import add_autoid
from .core import ORACLE, _q
from .corpus import CDC_LOG_CTE, _md5_ordered, cdc_log

# --------------------------------------------------------------------------
# q99 domain PageRank — fixed-point integer PageRank over a
# deterministic domain link graph (69 domains; each document
# contributes one edge, derived row-locally from doc_id so both
# engines build the identical graph with no join).
#
# Numerics: ranks are scaled by 1e6. r_{t+1}(v) =
#   0.15*SCALE + 0.85 * sum_{u->v} (r_t(u) * w(u,v)) div W(u)
# with every division a truncating BIGINT division over non-negative
# operands — both engines agree bit-for-bit, so 3 iterations compose
# exactly. Dangling mass (nodes with no out-edges) is dropped, the
# standard "leaky" variant.
#
# Scale shape: the one data-sized operation is the edge aggregation
# (one shuffle with map-side combine); iterations then run on the
# aggregated (src, dst, w) relation. Here the rank/out-weight
# relations (<=69 rows) BROADCAST into the edge join; on a 100M-node
# web graph the same loop runs with the broadcasts swapped for
# shuffle hash joins keyed by src — the plan degrades gracefully
# because the join keys don't change.

_PR_SCALE = 1_000_000
_PR_BASE = 150_000  # 0.15 * SCALE
_PR_ITERS = 3
_PR_NODES = 69  # 23 names x 3 TLDs, same residue family as q82's URLs

_PR_LABEL_SQL = """'d' || CAST(node % 23 AS VARCHAR) || '.example'
    || CAST(node % 3 AS VARCHAR)
    || CASE node % 3 WHEN 0 THEN '.com' WHEN 1 THEN '.net' ELSE '.xxx' END"""

# same label, Spark dialect (CAST AS STRING, not VARCHAR)
_PR_LABEL_SPARK = """concat('d', CAST(node % 23 AS STRING), '.example',
    CAST(node % 3 AS STRING),
    CASE node % 3 WHEN 0 THEN '.com' WHEN 1 THEN '.net' ELSE '.xxx' END)"""


def _pr_iter_sql(prev: str, cur: str) -> str:
    return f"""c{cur} AS (
    SELECT e.t AS node, SUM(r.r * e.w // o.tw) AS m
    FROM edges e JOIN r{prev} r ON r.node = e.s JOIN outw o ON o.s = e.s
    GROUP BY 1
),
r{cur} AS (
    SELECT n.node,
           CAST({_PR_BASE} + (85 * COALESCE(c.m, 0)) // 100 AS BIGINT) AS r
    FROM nodes n LEFT JOIN c{cur} c ON n.node = c.node
)"""


ORACLE["q99_domain_pagerank"] = f"""
WITH e0 AS (
    SELECT doc_id % {_PR_NODES} AS s,
           (doc_id * 31 + 7) % {_PR_NODES} AS t
    FROM documents
),
edges AS (SELECT s, t, CAST(COUNT(*) AS BIGINT) AS w FROM e0 GROUP BY 1, 2),
outw AS (SELECT s, CAST(SUM(w) AS BIGINT) AS tw FROM edges GROUP BY 1),
nodes AS (SELECT DISTINCT s AS node FROM e0
          UNION SELECT DISTINCT t AS node FROM e0),
inw AS (SELECT t AS node, CAST(SUM(w) AS BIGINT) AS iw FROM edges GROUP BY 1),
r0 AS (SELECT node, CAST({_PR_SCALE} AS BIGINT) AS r FROM nodes),
{_pr_iter_sql('0', '1')},
{_pr_iter_sql('1', '2')},
{_pr_iter_sql('2', '3')}
SELECT {_PR_LABEL_SQL.replace('node', 'r.node')} AS domain,
       CAST(COALESCE(o.tw, 0) AS BIGINT) AS out_w,
       CAST(COALESCE(i.iw, 0) AS BIGINT) AS in_w,
       r.r AS rank_fp
FROM r3 r
LEFT JOIN outw o ON o.s = r.node
LEFT JOIN inw i ON i.node = r.node
ORDER BY domain
"""


def _domain_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deterministic domain link graph shared by q99/q109/q113."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    return d.select(
        (F.col("doc_id") % _PR_NODES).alias("s"),
        ((F.col("doc_id") * 31 + 7) % _PR_NODES).alias("t"),
    )


@_q("q99_domain_pagerank")
def q99(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import degree_stats, pagerank, weighted_edges

    # aggregate the corpus-sized edge relation ONCE; both the rank
    # loop and the degree diagnostic run on the persisted result
    we = weighted_edges(_domain_edges(spark, sf_dir)).persist()
    ranks = pagerank(
        we,
        iters=_PR_ITERS,
        scale=_PR_SCALE,
        base_pct=15,
        broadcast_state=True,
        weighted=True,
    )
    deg = degree_stats(we, weighted=True)
    return (
        ranks.join(F.broadcast(deg), "node", "left")
        .select(
            F.expr(_PR_LABEL_SPARK).alias("domain"),
            F.coalesce("out_w", F.lit(0)).cast("bigint").alias("out_w"),
            F.coalesce("in_w", F.lit(0)).cast("bigint").alias("in_w"),
            F.col("r").alias("rank_fp"),
        )
        .orderBy("domain")
    )


# --------------------------------------------------------------------------
# q100 SCD Type-2 historization — fold the CDC change log (q96's
# fixture) into versioned dimension rows: each non-delete change
# opens a version valid from its sequence number until the NEXT
# change (any op, including the tombstone that closes history);
# versions with no successor are current. Shape: one key shuffle
# feeding two same-partitioning windows (LEAD over all events, then
# per-key version numbers over the survivors) — Spark reuses the
# exchange, so the whole history build is one pass.

ORACLE["q100_scd2_history"] = f"""
WITH {CDC_LOG_CTE},
h AS (
    SELECT k, qp, seq, op,
           LEAD(seq) OVER (PARTITION BY k ORDER BY seq, op) AS next_seq
    FROM log
),
v AS (
    SELECT k, qp, op, seq AS valid_from_seq,
           COALESCE(next_seq, -1) AS valid_to_seq,
           CASE WHEN next_seq IS NULL THEN 1 ELSE 0 END AS is_current,
           ROW_NUMBER() OVER (PARTITION BY k ORDER BY seq, op) AS ver
    FROM h WHERE op <> 'D'
)
SELECT k, CAST(ver AS INT) AS ver, op, CAST(qp AS BIGINT) AS qp,
       CAST(valid_from_seq AS INT) AS valid_from_seq,
       CAST(valid_to_seq AS INT) AS valid_to_seq,
       CAST(is_current AS INT) AS is_current
FROM v ORDER BY k, ver
"""


@_q("q100_scd2_history")
def q100(spark: SparkSession, sf_dir: str) -> DataFrame:
    log = cdc_log(spark, sf_dir)
    # (seq, op) is unique within a key (the only seq collision is the
    # U/I overlap at seq 1, distinct ops) so LEAD is deterministic
    w_all = Window.partitionBy("k").orderBy("seq", "op")
    h = log.withColumn("next_seq", F.lead("seq").over(w_all))
    return (
        h.filter(F.col("op") != "D")
        .withColumn("ver", F.row_number().over(w_all).cast("int"))
        .select(
            "k",
            "ver",
            "op",
            F.col("qp").cast("bigint").alias("qp"),
            F.col("seq").cast("int").alias("valid_from_seq"),
            F.coalesce("next_seq", F.lit(-1)).cast("int").alias("valid_to_seq"),
            F.col("next_seq").isNull().cast("int").alias("is_current"),
        )
        .orderBy("k", "ver")
    )


# --------------------------------------------------------------------------
# q101 int8 embedding quantization — per-dimension affine codes:
# q8 = ((qv - mn) * 255) div rng over the quantized-BIGINT components
# (qv = floor(x*1000), the catalog-wide convention), reconstruction
# recon = mn + (q8 * rng) div 255, error |recon - qv|. All operands
# non-negative BIGINTs, so the truncating divisions agree across
# engines and the per-vector error totals are exact.
#
# Scale shape: pass 1 computes 64 (min, range) pairs with a map-side-
# combined aggregate; the parameters fold into ONE broadcast row of
# arrays, and pass 2 is an in-row transform/aggregate over each
# embedding (q97's kernel shape) — no per-component join against the
# corpus, no driver-side stats collect.

_Q8_LEVELS = 255

ORACLE["q101_int8_quantize"] = f"""
WITH comp AS (
    SELECT vec_id, i AS pos,
           CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT) AS qv
    FROM embeddings, range(1, 65) t(i)
),
stats AS (
    SELECT pos, MIN(qv) AS mn,
           GREATEST(MAX(qv) - MIN(qv), 1) AS rng
    FROM comp GROUP BY pos
),
e AS (
    SELECT c.vec_id,
           abs(s.mn + ((((c.qv - s.mn) * {_Q8_LEVELS}) // s.rng) * s.rng)
                   // {_Q8_LEVELS} - c.qv) AS err
    FROM comp c JOIN stats s USING (pos)
)
SELECT vec_id,
       CAST(SUM(err) AS BIGINT) AS sum_abs_err,
       CAST(MAX(err) AS BIGINT) AS max_abs_err
FROM e GROUP BY vec_id ORDER BY vec_id
"""


@_q("q101_int8_quantize")
def q101(spark: SparkSession, sf_dir: str) -> DataFrame:
    qv = F.expr(
        "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT))"
    )
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", qv.alias("qv")
    )
    comp = emb.select(
        "vec_id", F.posexplode("qv").alias("pos0", "q")
    )
    stats = comp.groupBy("pos0").agg(
        F.min("q").alias("mn"),
        F.greatest(F.max("q") - F.min("q"), F.lit(1)).alias("rng"),
    )
    # fold the 64 per-dimension params into one broadcastable row
    params = stats.agg(
        F.array_sort(F.collect_list(F.struct("pos0", "mn", "rng"))).alias("st")
    ).select(
        F.expr("transform(st, s -> s.mn)").alias("mn_arr"),
        F.expr("transform(st, s -> s.rng)").alias("rng_arr"),
    )
    err_arr = F.expr(
        f"""transform(qv, (x, i) ->
            abs(element_at(mn_arr, i + 1)
                + (((((x - element_at(mn_arr, i + 1)) * {_Q8_LEVELS})
                      div element_at(rng_arr, i + 1))
                    * element_at(rng_arr, i + 1)) div {_Q8_LEVELS})
                - x))"""
    )
    return (
        emb.crossJoin(F.broadcast(params))
        .select("vec_id", err_arr.alias("errs"))
        .select(
            "vec_id",
            F.expr("aggregate(errs, 0L, (a, v) -> a + v)").alias("sum_abs_err"),
            F.array_max("errs").alias("max_abs_err"),
        )
        .orderBy("vec_id")
    )


# --------------------------------------------------------------------------
# q102 series anomaly audit — flag (event_type, day) count outliers
# with an integer z-score test. For a type with n days, day-count sum
# S and square-sum Q, the day c is anomalous iff z^2 > 9, i.e.
#   (n*c - S)^2 > 9 * (n*Q - S^2)
# — exact BIGINT on both sides, so "3 sigma" never touches a float.
# A zero-variance series flags any deviating day (dev2 > 0 = thr),
# the natural limit of the test. Shape: one (type, day) aggregate
# with map-side combine, then a broadcast join of the tiny per-type
# stats relation.

ORACLE["q102_anomaly_zscore"] = """
WITH day AS (
    SELECT event_type,
           strftime(CAST(CAST(ts AS TIMESTAMP) AS DATE), '%Y-%m-%d') AS day,
           CAST(COUNT(*) AS BIGINT) AS c
    FROM events GROUP BY 1, 2
),
st AS (
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(c) AS BIGINT) AS s, CAST(SUM(c * c) AS BIGINT) AS q
    FROM day GROUP BY 1
)
SELECT d.event_type, d.day, d.c AS n_events,
       CAST((st.n * d.c - st.s) * (st.n * d.c - st.s) AS BIGINT) AS dev2,
       CAST(9 * (st.n * st.q - st.s * st.s) AS BIGINT) AS thr,
       CAST((st.n * d.c - st.s) * (st.n * d.c - st.s) >
            9 * (st.n * st.q - st.s * st.s) AS INT) AS is_anomaly
FROM day d JOIN st USING (event_type)
ORDER BY event_type, day
"""


def _event_day_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, day, c): daily event counts — the series relation
    shared by q102 (anomaly audit) and q110 (trend slopes); one
    day-derivation convention, edited in one place."""
    e = load_table(spark, sf_dir, "events").select("event_type", "ts_us")
    return (
        e.select(
            "event_type",
            F.to_date(F.timestamp_micros(F.col("ts_us")))
            .cast("string")
            .alias("day"),
        )
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).alias("c"))
    )


@_q("q102_anomaly_zscore")
def q102(spark: SparkSession, sf_dir: str) -> DataFrame:
    day = _event_day_counts(spark, sf_dir)
    st = day.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").cast("bigint").alias("s"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("q"),
    )
    dev2 = F.expr("(n * c - s) * (n * c - s)")
    thr = F.expr("9 * (n * q - s * s)")
    return (
        day.join(F.broadcast(st), "event_type")
        .select(
            "event_type",
            "day",
            F.col("c").alias("n_events"),
            dev2.cast("bigint").alias("dev2"),
            thr.cast("bigint").alias("thr"),
            (dev2 > thr).cast("int").alias("is_anomaly"),
        )
        .orderBy("event_type", "day")
    )


# --------------------------------------------------------------------------
# q103 BPE pair statistics — the counting step of one tokenizer-
# training merge iteration: adjacent character pairs inside each word,
# weighted by corpus word frequency; top-20 pairs (deterministic ties
# by pair). The pair explode runs over the DISTINCT-word relation, so
# its cost scales with vocabulary size, not corpus size — the raw
# corpus is touched exactly once, by the word-frequency aggregate.

_Q103_TOPK = 20

ORACLE["q103_bpe_pair_stats"] = f"""
WITH tf AS (
    SELECT u.t AS term, CAST(COUNT(*) AS BIGINT) AS n
    FROM documents, UNNEST(string_split(text, ' ')) AS u(t)
    GROUP BY 1
),
p AS (
    SELECT substring(term, CAST(u.i AS INT), 2) AS pair, SUM(n) AS n_occ
    FROM tf, UNNEST(range(1, length(term))) AS u(i)
    GROUP BY 1
)
SELECT pair, CAST(n_occ AS BIGINT) AS n_occ
FROM p ORDER BY n_occ DESC, pair LIMIT {_Q103_TOPK}
"""


@_q("q103_bpe_pair_stats")
def q103(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tf = (
        d.select(F.explode(F.split(F.col("text"), " ")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # words shorter than 2 chars have no pairs (the oracle's empty
    # range); the filter also keeps sequence() ascending
    pairs = tf.filter(F.length("term") >= 2).select(
        F.explode(
            F.expr(
                "transform(sequence(1, length(term) - 1),"
                " i -> substring(term, i, 2))"
            )
        ).alias("pair"),
        "n",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("n").cast("bigint").alias("n_occ"))
        .orderBy(F.col("n_occ").desc(), "pair")
        .limit(_Q103_TOPK)
    )


# --------------------------------------------------------------------------
# q104 multi-vector MaxSim — ColBERT-style late-interaction scoring:
# each 64-dim embedding is read as 8 sub-vectors of 8 dims;
# score(q, d) = sum over the query's sub-vectors of the MAX dot
# product against any of the doc's sub-vectors; top-3 docs per query
# (queries = vec_id < 8, deterministic ties by doc id). Dots are
# exact quantized-BIGINT, so max/sum/rank agree across engines.
#
# Scale shape: the bounded query side broadcasts and the corpus
# streams past it once (q97's sanctioned broadcast-small cross-join
# shape); the 8x8x8 interaction is an in-row integer fold — no
# per-sub-vector explode, no positional join.

_Q104_NQ = 8
_Q104_K = 3
_Q104_SUBS = 8  # sub-vectors per embedding, 8 dims each

# the MaxSim kernel, DuckDB dialect (a/b are q-aliased rows with qv
# lists); shared with q106's rank fusion
_MAXSIM_SQL = f"""CAST(list_sum(list_transform(range(0, {_Q104_SUBS}), i ->
               list_aggregate(list_transform(range(0, {_Q104_SUBS}), j ->
                   list_sum(list_transform(range(1, 9), s ->
                       a.qv[i * 8 + s] * b.qv[j * 8 + s]))
               ), 'max')
           )) AS BIGINT)"""

# the same kernel as an in-row Spark fold. The 64-dim array is split
# into its 8 sub-vectors ONCE per row (_split8 below) and the fold
# runs over (aqs, bqs) array-of-array columns with zip_with dots —
# measured ~30% faster than per-element element_at indexing (HOFs are
# interpreted, so the kernel's win is fewer interpreted calls).
_MAXSIM_SPARK = """aggregate(aqs, 0L, (acc, qa) ->
            acc + array_max(transform(bqs, db ->
                aggregate(zip_with(qa, db, (x, y) -> x * y),
                          0L, (a2, v) -> a2 + v))))"""


def _split8(col: str) -> str:
    """Spark expr: split a 64-element array column into 8 sub-vectors."""
    return (
        f"transform(sequence(0, {_Q104_SUBS - 1}),"
        f" i -> slice({col}, i * 8 + 1, 8))"
    )

ORACLE["q104_multivector_maxsim"] = f"""
WITH q AS (
    SELECT vec_id,
           list_transform(CAST(embedding AS DOUBLE[]),
                          x -> CAST(floor(x * 1000) AS BIGINT)) AS qv
    FROM embeddings
),
pairs AS (
    SELECT a.vec_id AS query_id, b.vec_id AS doc_id,
           {_MAXSIM_SQL} AS score
    FROM q a JOIN q b ON a.vec_id < {_Q104_NQ} AND a.vec_id <> b.vec_id
),
rk AS (
    SELECT query_id, doc_id, score,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY score DESC, doc_id) AS rn
    FROM pairs
)
SELECT query_id, CAST(rn AS INT) AS rnk, doc_id, score
FROM rk WHERE rn <= {_Q104_K} ORDER BY query_id, rnk
"""


def _maxsim_ranked(spark: SparkSession, sf_dir: str, nq: int) -> DataFrame:
    """(query_id, cand, score, rk): every corpus vector MaxSim-scored
    and ranked per anchor (vec_id < nq) — the ONE implementation of
    the broadcast-anchor MaxSim retriever, shared by q104 (top-k
    contract) and q106 (rank fusion input)."""
    qv = F.expr(
        "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT))"
    )
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", qv.alias("qv")
    )
    a = emb.filter(F.col("vec_id") < nq).select(
        F.col("vec_id").alias("query_id"),
        F.expr(_split8("qv")).alias("aqs"),
    )
    b = emb.select(
        F.col("vec_id").alias("cand"), F.expr(_split8("qv")).alias("bqs")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), "cand")
    return (
        b.crossJoin(F.broadcast(a))
        .filter(F.col("query_id") != F.col("cand"))
        .select("query_id", "cand", F.expr(_MAXSIM_SPARK).alias("score"))
        .withColumn("rk", F.row_number().over(w))
    )


@_q("q104_multivector_maxsim")
def q104(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _maxsim_ranked(spark, sf_dir, _Q104_NQ)
        .filter(F.col("rk") <= _Q104_K)
        .select(
            "query_id",
            F.col("rk").cast("int").alias("rnk"),
            F.col("cand").alias("doc_id"),
            "score",
        )
        .orderBy("query_id", "rnk")
    )


# --------------------------------------------------------------------------
# q105 shard manifest — the per-shard summary a trainer's data loader
# verifies before an epoch: document count, token/char totals, and a
# membership fingerprint (md5 of doc ids in shuffle order) for each
# of the 8 shards of a seeded global shuffle. Reuses the q60 plan
# (add_autoid: range partition + broadcast offsets, no global
# window); the manifest itself is one 8-group aggregate.

_Q105_SHARDS = 8
_Q105_SEED = "105|"

ORACLE["q105_shard_manifest"] = f"""
WITH k AS (
    SELECT doc_id, text,
           md5('{_Q105_SEED}' || CAST(doc_id AS VARCHAR)) AS shuffle_key
    FROM documents
),
p AS (
    SELECT doc_id, text,
           ROW_NUMBER() OVER (ORDER BY shuffle_key) AS pos
    FROM k
)
SELECT CAST((pos - 1) % {_Q105_SHARDS} AS INT) AS shard,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
       CAST(SUM(length(text)) AS BIGINT) AS n_chars,
       md5(string_agg(CAST(doc_id AS VARCHAR), ' ' ORDER BY pos)) AS docs_md5
FROM p GROUP BY 1 ORDER BY 1
"""


@_q("q105_shard_manifest")
def q105(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    keyed = d.select(
        "doc_id",
        "text",
        F.md5(
            F.concat(
                F.lit(_Q105_SEED), F.col("doc_id").cast("string")
            ).cast("binary")
        ).alias("shuffle_key"),
    )
    pos = add_autoid(keyed, ["shuffle_key"]).withColumnRenamed(
        "autoid", "pos"
    )
    return (
        pos.select(
            ((F.col("pos") - 1) % _Q105_SHARDS).cast("int").alias("shard"),
            "doc_id",
            "pos",
            F.size(F.split(F.col("text"), " ")).alias("ntok"),
            F.length("text").alias("nch"),
            F.col("doc_id").cast("string").alias("ds"),
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("ntok").cast("bigint").alias("n_tokens"),
            F.sum("nch").cast("bigint").alias("n_chars"),
            _md5_ordered("ds", "pos").alias("docs_md5"),
        )
        .orderBy("shard")
    )


# --------------------------------------------------------------------------
# q106 Borda rank fusion — combine two retrievers (exact quantized
# squared-L2 and the q104 MaxSim late-interaction kernel) into one
# ranking per query: each retriever contributes its top-10, a
# candidate's fused score is the sum of (11 - rank) over the
# retrievers that returned it (0 when absent), top-5 fused survive.
# Pure integer Borda points — the usual RRF 1/(60+r) float sum is
# deliberately replaced by its integer-exact cousin so the contract
# stays bit-deterministic.
#
# Scale shape: both retrievers are the sanctioned broadcast-anchor
# kernels (|anchors| x |corpus| rows, in-row integer folds); the
# fusion itself joins two |anchors|*10-row relations.

_Q106_NQ = 10
_Q106_TOP = 10
_Q106_K = 5

ORACLE["q106_borda_fusion"] = f"""
WITH q AS (
    SELECT vec_id,
           list_transform(CAST(embedding AS DOUBLE[]),
                          x -> CAST(floor(x * 1000) AS BIGINT)) AS qv
    FROM embeddings
),
l2 AS (
    SELECT a.vec_id AS query_id, b.vec_id AS cand,
           CAST(list_sum(list_transform(range(1, 65),
                i -> (a.qv[i] - b.qv[i]) * (a.qv[i] - b.qv[i])))
               AS BIGINT) AS d2
    FROM q a JOIN q b ON a.vec_id < {_Q106_NQ} AND a.vec_id <> b.vec_id
),
ra AS (
    SELECT query_id, cand,
           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY d2, cand) AS rk
    FROM l2
),
ms AS (
    SELECT a.vec_id AS query_id, b.vec_id AS cand,
           {_MAXSIM_SQL} AS score
    FROM q a JOIN q b ON a.vec_id < {_Q106_NQ} AND a.vec_id <> b.vec_id
),
rb AS (
    SELECT query_id, cand,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY score DESC, cand) AS rk
    FROM ms
),
ta AS (SELECT * FROM ra WHERE rk <= {_Q106_TOP}),
tb AS (SELECT * FROM rb WHERE rk <= {_Q106_TOP}),
f AS (
    SELECT COALESCE(ta.query_id, tb.query_id) AS query_id,
           COALESCE(ta.cand, tb.cand) AS cand,
           COALESCE({_Q106_TOP} + 1 - ta.rk, 0)
               + COALESCE({_Q106_TOP} + 1 - tb.rk, 0) AS borda,
           COALESCE(ta.rk, 0) AS rank_l2,
           COALESCE(tb.rk, 0) AS rank_maxsim
    FROM ta FULL JOIN tb
      ON ta.query_id = tb.query_id AND ta.cand = tb.cand
),
rf AS (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY borda DESC, cand) AS rnk
    FROM f
)
SELECT query_id, CAST(rnk AS INT) AS rnk, cand AS doc_id,
       CAST(borda AS BIGINT) AS borda,
       CAST(rank_l2 AS INT) AS rank_l2,
       CAST(rank_maxsim AS INT) AS rank_maxsim
FROM rf WHERE rnk <= {_Q106_K} ORDER BY query_id, rnk
"""


@_q("q106_borda_fusion")
def q106(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Round-11 fusion of the two retriever KERNELS, not just their
    # rankings: both retrievers score the identical (anchor < NQ,
    # anchor ≠ cand) pair set over the identical quantized vectors, so
    # ONE broadcast pair join computes d2 (q97's zip_with fold) and
    # the MaxSim score (q104's sub-vector fold) side by side, and the
    # two rankings are two windows over the persisted pair relation —
    # the previous shape ran the |anchors|×|corpus| cross join twice
    # (once inside _q97_dist, once inside _maxsim_ranked). Expressions
    # are copied verbatim from those helpers, so the per-pair values —
    # and therefore both rankings — are bit-identical.
    qv = F.expr(
        "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT))"
    )
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", qv.alias("qv"))
    a = emb.filter(F.col("vec_id") < _Q106_NQ).select(
        F.col("vec_id").alias("query_id"),
        F.col("qv").alias("aq"),
        F.expr(_split8("qv")).alias("aqs"),
    )
    b = emb.select(
        F.col("vec_id").alias("cand"),
        F.col("qv").alias("bq"),
        F.expr(_split8("qv")).alias("bqs"),
    )
    d2 = F.expr(
        "aggregate(zip_with(aq, bq, (x, y) -> (x - y) * (x - y)), 0L, (acc, v) -> acc + v)"
    )
    pairs = (
        b.crossJoin(F.broadcast(a))
        .filter(F.col("query_id") != F.col("cand"))
        .select("query_id", "cand", d2.alias("d2"), F.expr(_MAXSIM_SPARK).alias("score"))
        .persist()  # both ranking windows consume the scored pairs
    )
    wa = Window.partitionBy("query_id").orderBy("d2", "cand")
    ta = (
        pairs.withColumn("rk", F.row_number().over(wa))
        .filter(F.col("rk") <= _Q106_TOP)
        .select("query_id", "cand", F.col("rk").alias("rank_l2"))
    )
    wb = Window.partitionBy("query_id").orderBy(F.col("score").desc(), "cand")
    tb = (
        pairs.withColumn("rk", F.row_number().over(wb))
        .filter(F.col("rk") <= _Q106_TOP)
        .select("query_id", "cand", F.col("rk").alias("rank_maxsim"))
    )
    fused = ta.join(tb, ["query_id", "cand"], "full_outer").select(
        "query_id",
        "cand",
        (
            F.coalesce(F.lit(_Q106_TOP) + 1 - F.col("rank_l2"), F.lit(0))
            + F.coalesce(
                F.lit(_Q106_TOP) + 1 - F.col("rank_maxsim"), F.lit(0)
            )
        )
        .cast("bigint")
        .alias("borda"),
        F.coalesce("rank_l2", F.lit(0)).cast("int").alias("rank_l2"),
        F.coalesce("rank_maxsim", F.lit(0)).cast("int").alias("rank_maxsim"),
    )
    wf = Window.partitionBy("query_id").orderBy(F.col("borda").desc(), "cand")
    return (
        fused.withColumn("rnk", F.row_number().over(wf).cast("int"))
        .filter(F.col("rnk") <= _Q106_K)
        .select(
            "query_id", "rnk", F.col("cand").alias("doc_id"),
            "borda", "rank_l2", "rank_maxsim",
        )
        .orderBy("query_id", "rnk")
    )


# --------------------------------------------------------------------------
# q107 feature-hashed document embeddings — the hashing trick
# (Weinberger et al. 2009) as a relational job: every token maps to
# one of 16 dimensions by md5 bucket with an md5-parity sign, and a
# document's embedding is the signed count per dimension. Integer
# exact, engine-portable (both sides hash the identical md5 strings),
# and the output is the long-form (doc_id, dim, w) relation a
# downstream kNN or classifier consumes.
#
# Scale shape: one explode + one (doc, dim) aggregate with map-side
# combine — the same cost envelope as tokenization itself. Dims with
# no tokens are naturally absent (sparse form); sign cancellations
# keep explicit w=0 rows in both engines.

_FH_DIMS = 16
_FH_SEED = "fh|"

ORACLE["q107_feature_hash_embed"] = f"""
WITH tok AS (
    SELECT doc_id, u.t AS term
    FROM documents, UNNEST(string_split(text, ' ')) AS u(t)
),
h AS (
    SELECT doc_id,
           CAST('0x' || substr(md5('{_FH_SEED}' || term), 1, 15) AS BIGINT)
               % {_FH_DIMS} AS dim,
           CASE WHEN CAST('0x' || substr(md5('{_FH_SEED}' || term), 16, 1)
                          AS BIGINT) % 2 = 0
                THEN 1 ELSE -1 END AS sign
    FROM tok
)
SELECT doc_id, CAST(dim AS INT) AS dim, CAST(SUM(sign) AS BIGINT) AS w
FROM h GROUP BY 1, 2 ORDER BY doc_id, dim
"""


@_q("q107_feature_hash_embed")
def q107(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("term")
    )
    h = F.md5(F.concat(F.lit(_FH_SEED), F.col("term")).cast("binary"))
    dim = (
        F.conv(F.substring(h, 1, 15), 16, 10).cast("bigint") % _FH_DIMS
    ).cast("int")
    sign = F.when(
        F.conv(F.substring(h, 16, 1), 16, 10).cast("bigint") % 2 == 0,
        F.lit(1),
    ).otherwise(F.lit(-1))
    return (
        tok.select("doc_id", dim.alias("dim"), sign.alias("sign"))
        .groupBy("doc_id", "dim")
        .agg(F.sum("sign").cast("bigint").alias("w"))
        .orderBy("doc_id", "dim")
    )


# --------------------------------------------------------------------------
# q108 token-budget mixture allocation — capped waterfilling: give
# each source a budget share proportional to its token count, cap at
# availability, then redistribute the freed budget proportionally
# among the uncapped sources (one redistribution round, the standard
# largest-remainder-style planning step before q50/q61 sampling
# executes the mixture). All divisions are truncating BIGINT over
# non-negative operands — exact in both engines.
#
# Scale shape: one per-source aggregate over the corpus; everything
# after runs on the |sources|-sized relation with scalar totals
# attached via the sanctioned 1-row broadcast cross join (never an
# unpartitioned window).

_Q108_BUDGET = 50_000

ORACLE["q108_token_budget_alloc"] = f"""
WITH src AS (
    SELECT source,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
    FROM documents GROUP BY 1
),
tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS t FROM src),
s1 AS (
    SELECT source, n_tokens,
           {_Q108_BUDGET} * n_tokens // t AS share,
           LEAST(n_tokens, {_Q108_BUDGET} * n_tokens // t) AS alloc1,
           CASE WHEN {_Q108_BUDGET} * n_tokens // t < n_tokens
                THEN 1 ELSE 0 END AS uncapped
    FROM src CROSS JOIN tot
),
tot2 AS (
    SELECT CAST({_Q108_BUDGET} - SUM(alloc1) AS BIGINT) AS leftover,
           CAST(COALESCE(SUM(CASE WHEN uncapped = 1 THEN n_tokens END), 0)
               AS BIGINT) AS tu
    FROM s1
)
SELECT source, n_tokens, CAST(share AS BIGINT) AS share,
       CAST(alloc1 AS BIGINT) AS alloc1,
       CAST(CASE WHEN uncapped = 1 AND tu > 0
                 THEN leftover * n_tokens // tu ELSE 0 END AS BIGINT) AS extra,
       CAST(LEAST(n_tokens,
                  alloc1 + CASE WHEN uncapped = 1 AND tu > 0
                                THEN leftover * n_tokens // tu ELSE 0 END)
           AS BIGINT) AS final_alloc
FROM s1 CROSS JOIN tot2 ORDER BY source
"""


@_q("q108_token_budget_alloc")
def q108(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    src = d.groupBy("source").agg(
        F.sum(F.size(F.split(F.col("text"), " ")))
        .cast("bigint")
        .alias("n_tokens")
    )
    tot = src.agg(F.sum("n_tokens").cast("bigint").alias("t"))
    s1 = src.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_tokens",
        F.expr(f"{_Q108_BUDGET} * n_tokens div t").alias("share"),
        F.expr(
            f"least(n_tokens, {_Q108_BUDGET} * n_tokens div t)"
        ).alias("alloc1"),
        F.expr(
            f"CASE WHEN {_Q108_BUDGET} * n_tokens div t < n_tokens"
            " THEN 1 ELSE 0 END"
        ).alias("uncapped"),
    )
    tot2 = s1.agg(
        (F.lit(_Q108_BUDGET) - F.sum("alloc1")).cast("bigint").alias("leftover"),
        F.coalesce(
            F.sum(F.when(F.col("uncapped") == 1, F.col("n_tokens"))), F.lit(0)
        )
        .cast("bigint")
        .alias("tu"),
    )
    extra = F.expr(
        "CASE WHEN uncapped = 1 AND tu > 0"
        " THEN leftover * n_tokens div tu ELSE 0 END"
    )
    return (
        s1.crossJoin(F.broadcast(tot2))
        .select(
            "source",
            "n_tokens",
            F.col("share").cast("bigint").alias("share"),
            F.col("alloc1").cast("bigint").alias("alloc1"),
            extra.cast("bigint").alias("extra"),
            F.expr(
                "least(n_tokens, alloc1 + CASE WHEN uncapped = 1 AND tu > 0"
                " THEN leftover * n_tokens div tu ELSE 0 END)"
            )
            .cast("bigint")
            .alias("final_alloc"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# q109 graph triangle census — triangle counting over the q99 domain
# graph (undirected, deduped, no self-loops by construction): the
# standard a<b<c sorted-edge two-join plan, the clustering-structure
# diagnostic run alongside PageRank on any link graph. Output is the
# one-row census (nodes, undirected edges, triangles).
#
# Scale shape: joins run on the AGGREGATED sorted-edge relation keyed
# by node ids — hash-partitionable, skew-diagnosable via the q99
# degree columns; never an all-pairs product. The a<b<c orientation
# counts each triangle exactly once and keeps the join frontier to
# wedges anchored at the lowest vertex.

ORACLE["q109_graph_triangles"] = f"""
WITH e0 AS (
    SELECT doc_id % {_PR_NODES} AS s,
           (doc_id * 31 + 7) % {_PR_NODES} AS t
    FROM documents
),
eu AS (
    SELECT DISTINCT LEAST(s, t) AS u, GREATEST(s, t) AS v
    FROM e0 WHERE s <> t
),
tri AS (
    SELECT COUNT(*) AS n
    FROM eu e1
    JOIN eu e2 ON e2.u = e1.v
    JOIN eu e3 ON e3.u = e1.u AND e3.v = e2.v
)
SELECT (SELECT CAST(COUNT(DISTINCT node) AS BIGINT)
        FROM (SELECT u AS node FROM eu UNION ALL SELECT v FROM eu)) AS n_nodes,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM eu) AS n_edges,
       CAST(tri.n AS BIGINT) AS n_triangles
FROM tri
"""


@_q("q109_graph_triangles")
def q109(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import triangle_count

    return triangle_count(_domain_edges(spark, sf_dir))


# --------------------------------------------------------------------------
# q110 trend slopes — per-series least-squares trend detection with
# ZERO floats: for each event type's daily counts, the OLS slope's
# sign is sign(n*Σxc - Σx*Σc) with x the day offset from the series
# start — numerator and denominator are exact BIGINTs, so "up /
# down / flat" is bit-deterministic (the classic metric-regression
# sweep over thousands of series at once).
#
# Scale shape: one (type, day) aggregate, a broadcast join of the
# per-type series start, then one per-type aggregate — map-side
# combine everywhere, no windows.

ORACLE["q110_trend_slopes"] = """
WITH day AS (
    SELECT event_type,
           strftime(CAST(CAST(ts AS TIMESTAMP) AS DATE), '%Y-%m-%d') AS day,
           CAST(COUNT(*) AS BIGINT) AS c
    FROM events GROUP BY 1, 2
),
st0 AS (SELECT event_type, MIN(day) AS md FROM day GROUP BY 1),
xy AS (
    SELECT d.event_type,
           date_diff('day', CAST(s.md AS DATE), CAST(d.day AS DATE)) AS x,
           d.c
    FROM day d JOIN st0 s USING (event_type)
),
agg AS (
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(c) AS BIGINT) AS sc,
           CAST(SUM(x * c) AS BIGINT) AS sxc,
           CAST(SUM(x * x) AS BIGINT) AS sxx
    FROM xy GROUP BY 1
)
SELECT event_type, n AS n_days,
       CAST(n * sxc - sx * sc AS BIGINT) AS slope_num,
       CAST(n * sxx - sx * sx AS BIGINT) AS slope_den,
       CASE WHEN n * sxc - sx * sc > 0 THEN 'up'
            WHEN n * sxc - sx * sc < 0 THEN 'down'
            ELSE 'flat' END AS trend
FROM agg ORDER BY event_type
"""


@_q("q110_trend_slopes")
def q110(spark: SparkSession, sf_dir: str) -> DataFrame:
    day = _event_day_counts(spark, sf_dir)
    st0 = day.groupBy("event_type").agg(F.min("day").alias("md"))
    xy = day.join(F.broadcast(st0), "event_type").select(
        "event_type",
        F.datediff(F.to_date("day"), F.to_date("md")).cast("bigint").alias("x"),
        "c",
    )
    agg = xy.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("c").cast("bigint").alias("sc"),
        F.sum(F.col("x") * F.col("c")).cast("bigint").alias("sxc"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
    )
    num = F.expr("n * sxc - sx * sc")
    return agg.select(
        "event_type",
        F.col("n").alias("n_days"),
        num.cast("bigint").alias("slope_num"),
        F.expr("n * sxx - sx * sx").cast("bigint").alias("slope_den"),
        F.when(num > 0, "up").when(num < 0, "down").otherwise("flat").alias("trend"),
    ).orderBy("event_type")


# --------------------------------------------------------------------------
# q111 prefix-filtered set-similarity join — the AllPairs/PPJoin
# family (Bayardo et al. 2007) as the EXACT complement to MinHash-LSH
# (q25): two documents' 3-token shingle sets can reach Jaccard >= 0.6
# only if they share a shingle in each other's PREFIX (the rarest
# |s| - ceil(0.6*|s|) + 1 shingles in global-document-frequency
# order), so candidate generation is a join on short prefix postings
# — no false negatives, unlike LSH — and the exact intersection
# verify runs only on candidates. Ceil is integer ((6n + 9) // 10);
# the Jaccard gate is 10*inter >= 6*union — no float similarity
# anywhere. Shingles, not raw tokens, are the set elements: this
# corpus draws from a ~31-word vocabulary, so single-token sets are
# degenerate (almost every pair "matches") — the same reason q22/q25
# shingle before comparing.
#
# Scale shape: prefix postings are short by construction (rare
# shingles lead), the verify join is bounded by candidate count, and
# the global df relation is the only corpus-wide aggregate.

_Q111_T10 = 6  # Jaccard threshold in tenths: 0.6

ORACLE["q111_setsim_prefix_join"] = f"""
WITH tokarr AS (
    SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
ts AS (
    SELECT DISTINCT doc_id,
           array_to_string(list_slice(toks, u.i, u.i + 2), ' ') AS tok
    FROM tokarr, UNNEST(range(1, len(toks) - 1)) AS u(i)
),
sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM ts GROUP BY 1),
df AS (SELECT tok, COUNT(*) AS df FROM ts GROUP BY 1),
rk AS (
    SELECT ts.doc_id, ts.tok,
           ROW_NUMBER() OVER (PARTITION BY ts.doc_id
                              ORDER BY df.df, ts.tok) AS rk
    FROM ts JOIN df USING (tok)
),
pfx AS (
    SELECT r.doc_id, r.tok
    FROM rk r JOIN sz ON sz.doc_id = r.doc_id
    WHERE r.rk <= sz.n - ({_Q111_T10} * sz.n + 9) // 10 + 1
),
cand AS (
    SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
    FROM pfx a JOIN pfx b ON a.tok = b.tok AND a.doc_id < b.doc_id
),
inter AS (
    SELECT c.a_id, c.b_id, CAST(COUNT(*) AS BIGINT) AS inter
    FROM cand c
    JOIN ts ta ON ta.doc_id = c.a_id
    JOIN ts tb ON tb.doc_id = c.b_id AND tb.tok = ta.tok
    GROUP BY 1, 2
)
SELECT i.a_id, i.b_id, i.inter,
       CAST(sa.n + sb.n - i.inter AS BIGINT) AS uni
FROM inter i
JOIN sz sa ON sa.doc_id = i.a_id
JOIN sz sb ON sb.doc_id = i.b_id
WHERE 10 * i.inter >= {_Q111_T10} * (sa.n + sb.n - i.inter)
ORDER BY a_id, b_id
"""


@_q("q111_setsim_prefix_join")
def q111(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import prefix_filtered_pairs

    d = load_table(spark, sf_dir, "documents")
    shingles = F.expr(
        "transform(sequence(1, size(toks) - 2),"
        " i -> concat_ws(' ', slice(toks, i, 3)))"
    )
    ts = (
        d.select("doc_id", F.split(F.col("text"), " ").alias("toks"))
        .filter(F.size("toks") >= 3)
        # no .distinct() here: the operator dedups AFTER hashing, so
        # the set-dedup shuffle carries 8-byte keys, not shingles
        .select("doc_id", F.explode(shingles).alias("tok"))
    )
    return prefix_filtered_pairs(
        ts, id_col="doc_id", token_col="tok", threshold_tenths=_Q111_T10
    ).orderBy("a_id", "b_id")


# --------------------------------------------------------------------------
# q112 inverted index build — the IR-index prep job: per term, its
# document frequency, collection frequency, first posting, and an
# order-fingerprint of the full (doc, position) posting list. The
# posting fingerprint makes the whole index — order included —
# hash-checkable against the oracle without materializing gigabytes
# of postings in the contract.
#
# Scale shape: one positional explode + one per-term aggregate; the
# head-token skew lands in a map-side-combined agg (same posture as
# q59's df relation).

ORACLE["q112_inverted_index"] = """
WITH tok AS (
    SELECT doc_id, CAST(u.i AS BIGINT) AS pos,
           string_split(text, ' ')[CAST(u.i AS INT)] AS term
    FROM documents,
         UNNEST(range(1, len(string_split(text, ' ')) + 1)) AS u(i)
)
SELECT term,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df,
       CAST(COUNT(*) AS BIGINT) AS cf,
       CAST(MIN(doc_id) AS BIGINT) AS first_doc,
       md5(string_agg(CAST(doc_id AS VARCHAR) || ':' || CAST(pos AS VARCHAR),
                      ' ' ORDER BY doc_id, pos)) AS postings_md5
FROM tok GROUP BY term ORDER BY term
"""


@_q("q112_inverted_index")
def q112(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        F.posexplode(F.split(F.col("text"), " ")).alias("pos0", "term"),
    ).select(
        "doc_id", (F.col("pos0") + 1).cast("bigint").alias("pos"), "term"
    )
    posting = F.concat(
        F.col("doc_id").cast("string"), F.lit(":"), F.col("pos").cast("string")
    )
    return (
        tok.withColumn("p", posting)
        .groupBy("term")
        .agg(
            F.countDistinct("doc_id").cast("bigint").alias("df"),
            F.count(F.lit(1)).cast("bigint").alias("cf"),
            F.min("doc_id").cast("bigint").alias("first_doc"),
            _md5_ordered("p", "doc_id", "pos").alias("postings_md5"),
        )
        .orderBy("term")
    )


# --------------------------------------------------------------------------
# q113 deterministic random walks — node2vec-style walk generation
# over the q99 domain graph with md5-driven step selection: from node
# u at step k of a walk started at s, the next hop is the
# md5('rw|s|k|u')-indexed entry of u's SORTED out-neighbor list, so
# both engines walk the identical paths (seeded pseudo-randomness,
# the same trick as the catalog's md5 samplers). Nodes with no
# out-edges hold in place. 3 unrolled steps from every source node —
# the corpus a skip-gram graph-embedding trainer consumes.
#
# Scale shape: the adjacency relation aggregates once (sorted
# neighbor arrays); each step is a join of the walk frontier against
# it — node-sized broadcasts here, shuffle hash joins on a web graph
# (same degradation note as q99).

_RW_STEPS = 3


def _rw_md5_sql(k: int, cur: str) -> str:
    return (
        f"CAST('0x' || substr(md5('rw|' || CAST(start AS VARCHAR) || '|{k}|'"
        f" || CAST({cur} AS VARCHAR)), 1, 15) AS BIGINT)"
    )


def _rw_step_sql(k: int) -> str:
    return f"""w{k} AS (
    SELECT w.start, {', '.join(f'w.n{i}' for i in range(k))},
           COALESCE(nb.nb[CAST({_rw_md5_sql(k, f'w.n{k - 1}')}
                               % len(nb.nb) AS INT) + 1], w.n{k - 1}) AS n{k}
    FROM w{k - 1} w LEFT JOIN nbrs nb ON nb.s = w.n{k - 1}
)"""


ORACLE["q113_random_walks"] = f"""
WITH e0 AS (
    SELECT doc_id % {_PR_NODES} AS s,
           (doc_id * 31 + 7) % {_PR_NODES} AS t
    FROM documents
),
eu AS (SELECT DISTINCT s, t FROM e0),
nbrs AS (SELECT s, list(t ORDER BY t) AS nb FROM eu GROUP BY 1),
w0 AS (SELECT s AS start, s AS n0 FROM (SELECT DISTINCT s FROM eu)),
{_rw_step_sql(1)},
{_rw_step_sql(2)},
{_rw_step_sql(3)}
SELECT start, n1, n2, n3 FROM w3 ORDER BY start
"""


@_q("q113_random_walks")
def q113(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import random_walks

    return (
        random_walks(_domain_edges(spark, sf_dir), steps=_RW_STEPS, seed="rw|")
        # re-select: the step joins rotate the join-key column to the
        # front, and the contract's column order is (start, n1, n2, n3)
        .select("start", "n1", "n2", "n3")
        .orderBy("start")
    )


# --------------------------------------------------------------------------
# q114 hierarchy subtree rollup — transitive closure over an explicit
# 3-level (leaf domain -> group -> division -> root) edge relation,
# then subtree document counts per ancestor: the dimension-hierarchy
# aggregation every warehouse runs (org charts, category trees,
# geo rollups). The oracle is a genuine WITH RECURSIVE; the Spark
# side unrolls the bounded depth as iterative closure joins — the
# standard Spark translation of a recursive CTE when depth is known.
#
# Scale shape: the closure relation is |nodes| x depth; doc counts
# aggregate ONCE at the leaves (the corpus-sized shuffle) and the
# rollup joins leaf counts against the closure — never re-scanning
# the corpus per level.

_HIER_EDGES_SQL = f"""
SELECT node AS child, 69 + node // 4 AS parent
FROM (SELECT DISTINCT doc_id % {_PR_NODES} AS node FROM documents)
UNION ALL
SELECT DISTINCT 69 + (doc_id % {_PR_NODES}) // 4 AS child,
       87 + (doc_id % {_PR_NODES}) // 16 AS parent
FROM documents
UNION ALL
SELECT DISTINCT 87 + (doc_id % {_PR_NODES}) // 16 AS child, 99 AS parent
FROM documents
"""

ORACLE["q114_hierarchy_rollup"] = f"""
WITH RECURSIVE edges AS ({_HIER_EDGES_SQL}),
closure AS (
    SELECT child AS node, child AS anc FROM edges
    UNION
    SELECT DISTINCT parent AS node, parent AS anc FROM edges
    UNION
    SELECT c.node, e.parent AS anc
    FROM closure c JOIN edges e ON e.child = c.anc
),
leafdocs AS (
    SELECT doc_id % {_PR_NODES} AS node, COUNT(*) AS n
    FROM documents GROUP BY 1
)
SELECT cl.anc AS node,
       CAST(COUNT(DISTINCT cl.node) AS BIGINT) AS n_desc,
       CAST(COALESCE(SUM(ld.n), 0) AS BIGINT) AS n_docs
FROM closure cl LEFT JOIN leafdocs ld ON ld.node = cl.node
GROUP BY 1 ORDER BY 1
"""


@_q("q114_hierarchy_rollup")
def q114(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The edge relation is DERIVED from the leaf residues by fixed
    # integer arithmetic (leaf n → group 69 + n div 4 → division
    # 87 + n div 16 → root 99), and every node has exactly one parent
    # — so the transitive closure is computable IN-ROW: each node's
    # ancestor set is a 1-4 element array of arithmetic expressions of
    # its own id. Round-11 rewrite (guide §2.4 "remove shuffles
    # outright" / §8 "use what you know the optimizer does not"): the
    # former 3 unrolled closure joins + 2 persists + 2 distincts (a
    # 121-operator plan, 3.4 s at sf0.1 — all plan/stage overhead on a
    # ≤93-node relation) collapse to one corpus aggregate, one tiny
    # union of arithmetic projections, one explode and one final
    # aggregate. The closure SET is identical by construction:
    # 87 + n div 16 == 87 + (g - 69) div 4 for g = 69 + n div 4
    # (integer division composes), and root/division/group rows exist
    # exactly when a leaf beneath them exists — same emptiness
    # semantics as the edge-derived node set.
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    leaf = (
        d.select((F.col("doc_id") % _PR_NODES).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # Each leaf row emits the closure rows of its whole ancestor CHAIN
    # (leaf, its group, its division, the root) in one exploded struct
    # array — 10 (nd, anc, cnt) tuples per leaf. Group/division/root
    # self-and-up rows are emitted once per leaf beneath them; the
    # duplicates are harmless by construction (n_desc is COUNT
    # DISTINCT over nd, and only the four leaf-self rows carry cnt),
    # so no distinct(), no union of re-aggregations, no second corpus
    # scan — the whole closure is node-sized arithmetic downstream of
    # ONE corpus aggregate.
    chain = leaf.select(
        F.explode(
            F.expr(
                "array("
                # the leaf's own closure rows (carry the doc count)
                "struct(node AS nd, node AS anc, n AS cnt),"
                "struct(node AS nd, 69 + node div 4 AS anc, n AS cnt),"
                "struct(node AS nd, 87 + node div 16 AS anc, n AS cnt),"
                "struct(node AS nd, CAST(99 AS BIGINT) AS anc, n AS cnt),"
                # its group's closure rows
                "struct(69 + node div 4 AS nd, 69 + node div 4 AS anc,"
                " CAST(NULL AS BIGINT) AS cnt),"
                "struct(69 + node div 4 AS nd, 87 + node div 16 AS anc,"
                " CAST(NULL AS BIGINT) AS cnt),"
                "struct(69 + node div 4 AS nd, CAST(99 AS BIGINT) AS anc,"
                " CAST(NULL AS BIGINT) AS cnt),"
                # its division's closure rows
                "struct(87 + node div 16 AS nd, 87 + node div 16 AS anc,"
                " CAST(NULL AS BIGINT) AS cnt),"
                "struct(87 + node div 16 AS nd, CAST(99 AS BIGINT) AS anc,"
                " CAST(NULL AS BIGINT) AS cnt),"
                # the root's self row
                "struct(CAST(99 AS BIGINT) AS nd, CAST(99 AS BIGINT) AS anc,"
                " CAST(NULL AS BIGINT) AS cnt))"
            )
        ).alias("c")
    ).select("c.nd", "c.anc", "c.cnt")
    return (
        chain.groupBy(F.col("anc").alias("node"))
        .agg(
            F.countDistinct(F.col("nd")).cast("bigint").alias("n_desc"),
            F.coalesce(F.sum("cnt"), F.lit(0)).cast("bigint").alias("n_docs"),
        )
        .orderBy("node")
    )


# --------------------------------------------------------------------------
# q115 pivot report — daily event counts pivoted into one column per
# event type (the wide report shape a BI dashboard reads), via
# Spark's pivot() API with an EXPLICIT type list: passing the values
# avoids the extra distinct-collect job pivot() otherwise runs on
# the driver, and makes the output schema a fixed contract. Zero
# fill for absent (day, type) cells. The oracle is the portable
# conditional-aggregation form.
#
# Scale shape: one (day) aggregate with map-side combine; the pivot
# is a projection over the grouped result, not an extra shuffle.

_Q115_TYPES = ["click", "error", "purchase", "signup", "view"]

ORACLE["q115_pivot_report"] = f"""
SELECT strftime(CAST(CAST(ts AS TIMESTAMP) AS DATE), '%Y-%m-%d') AS day,
       {', '.join(
           f"CAST(COALESCE(SUM(CASE WHEN event_type = '{t}' THEN 1 END), 0)"
           f" AS BIGINT) AS n_{t}" for t in _Q115_TYPES
       )}
FROM events GROUP BY 1 ORDER BY 1
"""


@_q("q115_pivot_report")
def q115(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select("event_type", "ts_us")
    day = e.select(
        F.to_date(F.timestamp_micros(F.col("ts_us"))).cast("string").alias("day"),
        "event_type",
    )
    wide = (
        day.groupBy("day")
        .pivot("event_type", _Q115_TYPES)
        .agg(F.count(F.lit(1)))
    )
    return wide.select(
        "day",
        *[
            F.coalesce(F.col(t), F.lit(0)).cast("bigint").alias(f"n_{t}")
            for t in _Q115_TYPES
        ],
    ).orderBy("day")


# --------------------------------------------------------------------------
# q116 hopping windows — overlapping time windows (30-minute length,
# 10-minute hop: every event lands in exactly 3 windows), the
# overlap-window family q14's tumbling windows don't cover. The Spark
# side uses the NATIVE F.window(slideDuration=...) API — the idiomatic
# form a Structured Streaming job would share — while the oracle
# derives the same epoch-aligned window starts arithmetically with an
# UNNEST(range(0,3)) fan-out. Value sums are quantized to BIGINT
# cents (the catalog's float-free discipline).
#
# Scale shape: a 3x row fan-out inside the scan stage, then one
# (type, window) aggregate with map-side combine.

_Q116_LEN_US = 30 * 60 * 1_000_000
_Q116_HOP_US = 10 * 60 * 1_000_000

ORACLE["q116_hopping_windows"] = f"""
WITH e AS (
    SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS tus,
           CAST(floor(value * 100) AS BIGINT) AS qv
    FROM events
),
w AS (
    SELECT event_type,
           (tus // {_Q116_HOP_US} - u.i) * {_Q116_HOP_US} AS win_start_us,
           qv
    FROM e, UNNEST(range(0, {_Q116_LEN_US // _Q116_HOP_US})) AS u(i)
)
SELECT event_type, CAST(win_start_us AS BIGINT) AS win_start_us,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(qv) AS BIGINT) AS qsum
FROM w GROUP BY 1, 2 ORDER BY 1, 2
"""


@_q("q116_hopping_windows")
def q116(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.timestamp_micros(F.col("ts_us")).alias("ts"),
        F.floor(F.col("value") * 100).cast("bigint").alias("qv"),
    )
    win = F.window("ts", "30 minutes", "10 minutes")
    return (
        e.groupBy("event_type", win.alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("qv").cast("bigint").alias("qsum"),
        )
        .select(
            "event_type",
            F.unix_micros("w.start").alias("win_start_us"),
            "n_events",
            "qsum",
        )
        .orderBy("event_type", "win_start_us")
    )


# --------------------------------------------------------------------------
# q117 data-quality expectations — the dbt-test/Deequ-style constraint
# suite a warehouse runs after every load: primary-key uniqueness,
# referential integrity, accepted values, not-null, and value-range
# checks, each reported as (check, n_violations, pass). The reference
# validates loads by row-count comparison only (SURVEY §2.4 A2); this
# is that gate generalized to declarative expectations.
#
# Scale shape: each check is one column-pruned scan + aggregate (the
# FK check is one left-anti join against the broadcast-able key side);
# the union is of six 1-row relations.

ORACLE["q117_dq_expectations"] = """
WITH pk AS (
    SELECT CAST(COALESCE(SUM(c - 1), 0) AS BIGINT) AS v
    FROM (SELECT o_orderkey, COUNT(*) AS c FROM orders GROUP BY 1 HAVING COUNT(*) > 1)
),
fk AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS v FROM lineitem l
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
),
av AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS v FROM orders
    WHERE o_orderstatus NOT IN ('O', 'F', 'P')
),
nn AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS v FROM customer WHERE c_name IS NULL
),
rng AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS v FROM lineitem
    WHERE l_quantity < 1 OR l_quantity > 50
),
pos AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS v FROM orders WHERE o_totalprice <= 0
)
SELECT 'orders_pk_unique' AS check_name, v AS n_violations,
       CAST(v = 0 AS INT) AS pass FROM pk
UNION ALL SELECT 'lineitem_fk_orders', v, CAST(v = 0 AS INT) FROM fk
UNION ALL SELECT 'orders_status_accepted', v, CAST(v = 0 AS INT) FROM av
UNION ALL SELECT 'customer_name_not_null', v, CAST(v = 0 AS INT) FROM nn
UNION ALL SELECT 'lineitem_qty_range', v, CAST(v = 0 AS INT) FROM rng
UNION ALL SELECT 'orders_price_positive', v, CAST(v = 0 AS INT) FROM pos
ORDER BY check_name
"""


@_q("q117_dq_expectations")
def q117(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    customer = load_table(spark, sf_dir, "customer")

    def one(name: str, v_df: DataFrame) -> DataFrame:
        return v_df.select(
            F.lit(name).alias("check_name"),
            F.col("v").cast("bigint").alias("n_violations"),
            (F.col("v") == 0).cast("int").alias("pass"),
        )

    pk = (
        orders.groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > 1)
        .agg(F.coalesce(F.sum(F.col("c") - 1), F.lit(0)).alias("v"))
    )
    fk = (
        lineitem.select("l_orderkey")
        .join(
            orders.select(F.col("o_orderkey").alias("l_orderkey")),
            "l_orderkey",
            "left_anti",
        )
        .agg(F.count(F.lit(1)).alias("v"))
    )
    av = orders.filter(
        ~F.col("o_orderstatus").isin("O", "F", "P")
    ).agg(F.count(F.lit(1)).alias("v"))
    nn = customer.filter(F.col("c_name").isNull()).agg(
        F.count(F.lit(1)).alias("v")
    )
    rng = lineitem.filter(
        (F.col("l_quantity") < 1) | (F.col("l_quantity") > 50)
    ).agg(F.count(F.lit(1)).alias("v"))
    pos = orders.filter(F.col("o_totalprice") <= 0).agg(
        F.count(F.lit(1)).alias("v")
    )
    return (
        one("orders_pk_unique", pk)
        .unionByName(one("lineitem_fk_orders", fk))
        .unionByName(one("orders_status_accepted", av))
        .unionByName(one("customer_name_not_null", nn))
        .unionByName(one("lineitem_qty_range", rng))
        .unionByName(one("orders_price_positive", pos))
        .orderBy("check_name")
    )


# --------------------------------------------------------------------------
# q118 Pareto frontier — multi-objective document selection: per
# source, the documents not DOMINATED on (quality, length), where doc
# a dominates b iff a is >= on both axes and > on at least one (the
# skyline query). Curation reads this as "the quality/length
# trade-off curve per domain". Quality is q62's integer logit, length
# is n_chars — both exact BIGINTs.
#
# Scale shape: two partitioned window maxima replace the naive
# O(n^2) dominance anti-join, and the pair maps 1:1 onto the
# dominance definition (a dominates b iff a >= b on both axes,
# strict somewhere):
#   - dominated by a strictly-higher-q doc  ⟺ MAX(len) over the
#     RANGE frame q > q_b is >= len_b (integer q, so "1 PRECEDING"
#     under DESC ordering is exactly q > q_b);
#   - dominated within the same q           ⟺ some same-q doc is
#     strictly longer, i.e. MAX(len) over (source, q) > len_b.
# Both windows partition by source, never globally. (A running
# ROWS-frame max over (q desc, len desc) ties ITSELF into knots:
# a doc preceded by both a higher-q-shorter doc and an equal twin
# is wrongly excluded — the RANGE form is the definition.)

ORACLE["q118_pareto_frontier"] = """
WITH f AS (
    SELECT source, doc_id, n_chars,
           CAST(50 + 3 * len(string_split(text, ' '))
                - 2 * length(regexp_replace(text, '[^A-Z]', '', 'g'))
                - 1 * length(regexp_replace(text, '[^0-9]', '', 'g'))
                - 4 * length(regexp_replace(text, '[^.,;:!?]', '', 'g'))
               AS BIGINT) AS q
    FROM documents
),
r AS (
    SELECT source, doc_id, q, n_chars,
           MAX(n_chars) OVER (
               PARTITION BY source ORDER BY q DESC
               RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ) AS max_len_higher_q,
           MAX(n_chars) OVER (PARTITION BY source, q) AS max_len_same_q
    FROM f
)
SELECT source, doc_id, q, CAST(n_chars AS BIGINT) AS n_chars
FROM r
WHERE (max_len_higher_q IS NULL OR max_len_higher_q < n_chars)
  AND max_len_same_q = n_chars
ORDER BY source, doc_id
"""


@_q("q118_pareto_frontier")
def q118(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(F.split(F.col("text"), " "))
    n_upper = F.length(F.regexp_replace("text", "[^A-Z]", ""))
    n_digit = F.length(F.regexp_replace("text", "[^0-9]", ""))
    n_punct = F.length(F.regexp_replace("text", "[^.,;:!?]", ""))
    q = (
        F.lit(50) + 3 * n_tokens - 2 * n_upper - 1 * n_digit - 4 * n_punct
    ).cast("bigint")
    f = d.select("source", "doc_id", F.col("n_chars"), q.alias("q"))
    w_higher = (
        Window.partitionBy("source")
        .orderBy(F.col("q").desc())
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    w_same = Window.partitionBy("source", "q")
    return (
        f.withColumn("max_len_higher_q", F.max("n_chars").over(w_higher))
        .withColumn("max_len_same_q", F.max("n_chars").over(w_same))
        .filter(
            (
                F.col("max_len_higher_q").isNull()
                | (F.col("max_len_higher_q") < F.col("n_chars"))
            )
            & (F.col("max_len_same_q") == F.col("n_chars"))
        )
        .select("source", "doc_id", "q", F.col("n_chars").cast("bigint").alias("n_chars"))
        .orderBy("source", "doc_id")
    )


# --------------------------------------------------------------------------
# q119 Markov transitions — first-order event-sequence mining: per
# user the events order by (time, id), and every consecutive pair
# (state -> next state) counts into a transition matrix, reported
# with integer parts-per-million row probabilities (exact truncating
# division). The "what do users do next" model behind funnel design
# and next-event prediction baselines.
#
# Scale shape: one per-user LAG window (the q34 sessionize
# partitioning) + one (from, to) aggregate with map-side combine; the
# per-row ppm division joins the broadcast per-from totals.

ORACLE["q119_markov_transitions"] = """
WITH seq AS (
    SELECT user_id, event_type,
           LAG(event_type) OVER (
               PARTITION BY user_id ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id
           ) AS prev_type
    FROM events
),
t AS (
    SELECT prev_type AS from_type, event_type AS to_type,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2
),
tot AS (SELECT from_type, CAST(SUM(n) AS BIGINT) AS tn FROM t GROUP BY 1)
SELECT t.from_type, t.to_type, t.n,
       CAST(t.n * 1000000 // tot.tn AS BIGINT) AS ppm
FROM t JOIN tot USING (from_type)
ORDER BY from_type, to_type
"""


@_q("q119_markov_transitions")
def q119(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", "ts_us"
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    t = (
        e.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
        .groupBy(
            F.col("prev_type").alias("from_type"),
            F.col("event_type").alias("to_type"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    tot = t.groupBy("from_type").agg(F.sum("n").cast("bigint").alias("tn"))
    return (
        t.join(F.broadcast(tot), "from_type")
        .select(
            "from_type",
            "to_type",
            "n",
            F.expr("CAST((n * 1000000) div tn AS BIGINT)").alias("ppm"),
        )
        .orderBy("from_type", "to_type")
    )


# --------------------------------------------------------------------------
# q120 ratio-to-report — each (nation, year) order revenue as a share
# of its nation's total, in integer parts-per-million (the classic
# OLAP RATIO_TO_REPORT / percent-of-total report). Revenue quantizes
# to BIGINT cents before any totaling, and the share is one
# truncating division — no float sums anywhere.
#
# Scale shape: one (nation, year) aggregate, then the |nations|-sized
# totals broadcast back — never an unpartitioned percent-of-total
# window over the fact table. The ppm is computed as TWO-STEP exact
# long division — ppm = (r*1000 div t)*1000 + ((r*1000 mod t)*1000)
# div t — because the naive r*1,000,000 numerator would cross 2^63
# once a nation-year's revenue reaches ~$92e12 cents-scale; the
# two-step form is algebraically exact (floor(a*10^6/t) decomposed
# base-10^3) with headroom to r <= 9.2e15.

ORACLE["q120_ratio_to_report"] = """
WITH r AS (
    SELECT c.c_nationkey AS nation,
           CAST(strftime(o_orderdate, '%Y') AS INT) AS y,
           CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS rev_cents
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY 1, 2
),
tot AS (SELECT nation, CAST(SUM(rev_cents) AS BIGINT) AS t FROM r GROUP BY 1)
SELECT r.nation, r.y, r.rev_cents,
       CAST((r.rev_cents * 1000 // tot.t) * 1000
            + ((r.rev_cents * 1000 % tot.t) * 1000) // tot.t
           AS BIGINT) AS share_ppm
FROM r JOIN tot USING (nation)
ORDER BY nation, y
"""


@_q("q120_ratio_to_report")
def q120(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.year("o_orderdate").cast("int").alias("y"),
        F.floor(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"),
        F.col("c_nationkey").alias("nation"),
    )
    r = (
        o.join(c, "o_custkey")  # customer is SF-scaled: no hard hint
        .groupBy("nation", "y")
        .agg(F.sum("cents").cast("bigint").alias("rev_cents"))
    )
    tot = r.groupBy("nation").agg(F.sum("rev_cents").cast("bigint").alias("t"))
    return (
        r.join(F.broadcast(tot), "nation")
        .select(
            "nation",
            "y",
            "rev_cents",
            F.expr(
                "CAST(((rev_cents * 1000) div t) * 1000"
                " + (((rev_cents * 1000) % t) * 1000) div t AS BIGINT)"
            ).alias("share_ppm"),
        )
        .orderBy("nation", "y")
    )


# --------------------------------------------------------------------------
# q121 cumulative distinct users — per day, how many DISTINCT users
# have been seen up to and including that day. The naive
# COUNT(DISTINCT) OVER (ORDER BY day) is unsupported/unscalable; the
# scalable idiom is the FIRST-SEEN transform: a user contributes to
# the cumulative count exactly from their first-event day onward, so
# cumulative_distinct(day) = Σ first_seen_counts over days <= day —
# a per-user min, a small per-day aggregate, and one running sum over
# the |days|-sized relation.

ORACLE["q121_cumulative_distinct_users"] = """
WITH fs AS (
    SELECT user_id,
           MIN(strftime(CAST(CAST(ts AS TIMESTAMP) AS DATE), '%Y-%m-%d'))
               AS first_day
    FROM events GROUP BY 1
),
days AS (
    SELECT DISTINCT strftime(CAST(CAST(ts AS TIMESTAMP) AS DATE), '%Y-%m-%d')
        AS day
    FROM events
),
nf AS (SELECT first_day AS day, CAST(COUNT(*) AS BIGINT) AS n_new
       FROM fs GROUP BY 1)
SELECT d.day,
       CAST(COALESCE(nf.n_new, 0) AS BIGINT) AS n_new_users,
       CAST(SUM(COALESCE(nf.n_new, 0))
            OVER (ORDER BY d.day ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS n_cum_users
FROM days d LEFT JOIN nf USING (day)
ORDER BY d.day
"""


@_q("q121_cumulative_distinct_users")
def q121(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select("user_id", "ts_us")
    day_of = F.to_date(F.timestamp_micros(F.col("ts_us"))).cast("string")
    fs = (
        e.select("user_id", day_of.alias("day"))
        .groupBy("user_id")
        .agg(F.min("day").alias("first_day"))
    )
    days = e.select(day_of.alias("day")).distinct()
    nf = fs.groupBy(F.col("first_day").alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_new")
    )
    # the running sum's window spans the |days|-sized relation (~one
    # row per calendar day), not the event stream — an unpartitioned
    # frame over tens of rows, not billions
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return (
        days.join(nf, "day", "left")
        .select("day", F.coalesce("n_new", F.lit(0)).cast("bigint").alias("n_new_users"))
        .withColumn("n_cum_users", F.sum("n_new_users").over(w).cast("bigint"))
        .orderBy("day")
    )


# --------------------------------------------------------------------------
# q122 lexicon sentiment — large-scale lexicon-scored sentiment (the
# EDBT 2016 "Large Scale Sentiment Analysis on Twitter with Spark"
# job shape, PAPERS.md): per document, the count of positive- and
# negative-lexicon tokens and the integer score difference, labeled
# by sign. The lexicon is one literal relation rendered into BOTH
# engines (the registry-rule-table pattern), so the whole scorer is
# a broadcast join + one aggregate — no UDF, no model file.

_SENT_POS = ["alpha", "bravo", "charlie", "delta", "echo", "golf"]
_SENT_NEG = ["zulu", "yankee", "xray", "whiskey", "victor"]


def _lex_sql() -> str:
    rows = [f"('{w}', 1)" for w in _SENT_POS] + [
        f"('{w}', -1)" for w in _SENT_NEG
    ]
    return "(VALUES " + ", ".join(rows) + ") AS lex(term, pol)"


ORACLE["q122_lexicon_sentiment"] = f"""
WITH tok AS (
    SELECT doc_id, u.t AS term
    FROM documents, UNNEST(string_split(lower(text), ' ')) AS u(t)
),
hit AS (
    SELECT tok.doc_id, lex.pol
    FROM tok JOIN {_lex_sql()} ON tok.term = lex.term
),
sc AS (
    SELECT doc_id,
           CAST(COALESCE(SUM(CASE WHEN pol = 1 THEN 1 END), 0) AS BIGINT) AS n_pos,
           CAST(COALESCE(SUM(CASE WHEN pol = -1 THEN 1 END), 0) AS BIGINT) AS n_neg
    FROM hit GROUP BY 1
)
SELECT d.doc_id,
       CAST(COALESCE(sc.n_pos, 0) AS BIGINT) AS n_pos,
       CAST(COALESCE(sc.n_neg, 0) AS BIGINT) AS n_neg,
       CAST(COALESCE(sc.n_pos, 0) - COALESCE(sc.n_neg, 0) AS BIGINT) AS score,
       CASE WHEN COALESCE(sc.n_pos, 0) > COALESCE(sc.n_neg, 0) THEN 'pos'
            WHEN COALESCE(sc.n_pos, 0) < COALESCE(sc.n_neg, 0) THEN 'neg'
            ELSE 'neu' END AS label
FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id
ORDER BY d.doc_id
"""


@_q("q122_lexicon_sentiment")
def q122(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    lex = local_frame(
        spark,
        [(w, 1) for w in _SENT_POS] + [(w, -1) for w in _SENT_NEG],
        "term string, pol int",
    )
    tok = d.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("term")
    )
    sc = (
        tok.join(F.broadcast(lex), "term")
        .groupBy("doc_id")
        .agg(
            F.coalesce(F.sum(F.when(F.col("pol") == 1, 1)), F.lit(0))
            .cast("bigint")
            .alias("n_pos"),
            F.coalesce(F.sum(F.when(F.col("pol") == -1, 1)), F.lit(0))
            .cast("bigint")
            .alias("n_neg"),
        )
    )
    n_pos = F.coalesce("n_pos", F.lit(0)).cast("bigint")
    n_neg = F.coalesce("n_neg", F.lit(0)).cast("bigint")
    return (
        d.select("doc_id")
        .join(sc, "doc_id", "left")
        .select(
            "doc_id",
            n_pos.alias("n_pos"),
            n_neg.alias("n_neg"),
            (n_pos - n_neg).alias("score"),
            F.when(n_pos > n_neg, "pos")
            .when(n_pos < n_neg, "neg")
            .otherwise("neu")
            .alias("label"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# q123 series similarity search — which event-type pairs move
# together? Pearson correlation over each pair's daily-count series,
# ranked WITHOUT floats: for aligned series x, y with n days,
#   num  = n*Σxy − Σx*Σy          (the covariance numerator)
#   denx = n*Σx² − (Σx)², deny = n*Σy² − (Σy)²
# emitted as exact linear-scale BIGINT components plus sign(num):
# r² = num²/(denx·deny), so pairs rank exactly by cross-multiplying
# the components — emitting num²·1e6//(denx·deny) directly would
# overflow BIGINT once daily counts reach ~1e5 (num² ~ 1e20), the
# kind of silent scale ceiling this catalog bans. The distributed
# time-series similarity-search shape of EDBT 2019 / SIGMOD 2020 in
# PAPERS.md, reduced to its relational skeleton; |types| is small,
# so the pair join runs over the aggregated (type, day) relation.

ORACLE["q123_series_similarity"] = """
WITH day AS (
    SELECT event_type,
           strftime(CAST(CAST(ts AS TIMESTAMP) AS DATE), '%Y-%m-%d') AS day,
           CAST(COUNT(*) AS BIGINT) AS c
    FROM events GROUP BY 1, 2
),
pair AS (
    SELECT a.event_type AS ta, b.event_type AS tb,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(a.c) AS BIGINT) AS sx, CAST(SUM(b.c) AS BIGINT) AS sy,
           CAST(SUM(a.c * b.c) AS BIGINT) AS sxy,
           CAST(SUM(a.c * a.c) AS BIGINT) AS sxx,
           CAST(SUM(b.c * b.c) AS BIGINT) AS syy
    FROM day a JOIN day b ON a.day = b.day AND a.event_type < b.event_type
    GROUP BY 1, 2
)
SELECT ta, tb, n,
       CAST(n * sxy - sx * sy AS BIGINT) AS num,
       CAST(n * sxx - sx * sx AS BIGINT) AS denx,
       CAST(n * syy - sy * sy AS BIGINT) AS deny,
       CASE WHEN n * sxy - sx * sy > 0 THEN 1
            WHEN n * sxy - sx * sy < 0 THEN -1 ELSE 0 END AS direction
FROM pair ORDER BY ta, tb
"""


@_q("q123_series_similarity")
def q123(spark: SparkSession, sf_dir: str) -> DataFrame:
    day = _event_day_counts(spark, sf_dir)
    a = day.select(
        F.col("event_type").alias("ta"), "day", F.col("c").alias("xa")
    )
    b = day.select(
        F.col("event_type").alias("tb"), "day", F.col("c").alias("xb")
    )
    pair = (
        a.join(b, "day")
        .filter(F.col("ta") < F.col("tb"))
        .groupBy("ta", "tb")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("xa").cast("bigint").alias("sx"),
            F.sum("xb").cast("bigint").alias("sy"),
            F.sum(F.col("xa") * F.col("xb")).cast("bigint").alias("sxy"),
            F.sum(F.col("xa") * F.col("xa")).cast("bigint").alias("sxx"),
            F.sum(F.col("xb") * F.col("xb")).cast("bigint").alias("syy"),
        )
    )
    num = F.expr("n * sxy - sx * sy")
    return pair.select(
        "ta",
        "tb",
        "n",
        num.cast("bigint").alias("num"),
        F.expr("n * sxx - sx * sx").cast("bigint").alias("denx"),
        F.expr("n * syy - sy * sy").cast("bigint").alias("deny"),
        F.when(num > 0, 1).when(num < 0, -1).otherwise(0).alias("direction"),
    ).orderBy("ta", "tb")
