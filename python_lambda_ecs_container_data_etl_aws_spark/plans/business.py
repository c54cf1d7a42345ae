"""Business-analytics queries q158-q162: the revenue/behavior jobs a
reporting tier runs beside the corpus-curation tiers — association
rules over order baskets, RFM customer segmentation, seasonal-naive
forecast evaluation, an A/B experiment readout, and top-k trajectory
similarity search. The reference's
report routes (3.(2) mysql-lambda report queries) parameterize
grouped revenue aggregates; these four are the standard analyses the
same star schema feeds one step downstream.

- q158 market-basket association rules: directional brand->brand
  rules over per-order part-brand baskets with support, confidence
  and lift (ppm). The APRIORI property prunes infrequent items
  BEFORE the pair join — at 100 TB the pair space is bounded by the
  frequent-item set squared, never the raw item vocabulary. q69 is
  the distributional (PMI) cousin on document tokens; this is the
  transactional rule miner with directed confidence.
- q159 RFM segmentation: per-customer recency/frequency/monetary
  quintiles -> 125 segment cells with counts and exact money sums.
  Quintile cuts use the q136 distinct-value-histogram discipline
  (bin = below*5 div n + 1) on BOUNDED value grids: recency is
  bounded by the date range, frequency by per-customer order counts
  (TPC-H holds these fixed as SF grows), monetary by the
  hundred-dollar quantization of the price range — so no cut ever
  sorts the customer relation globally.
- q160 seasonal-naive forecast eval: per event_type, MASE components
  of the lag-7 (seasonal) forecast against the lag-1 (naive) walk on
  the DENSIFIED daily-count grid (types x full day range,
  zero-filled — q151's boundedness argument: the grid is |days|
  sized, not corpus sized). Exact integer absolute-error sums; the
  ratio is one truncating ppm division.
- q161 A/B experiment readout: users hash into two arms (md5-parity
  — the engine-portable split, q45/q124 family), conversion = any
  purchase event; emits one row with per-arm counts, conversion ppm,
  relative lift ppm, and the 2x2 chi-square statistic (milli),
  computed in 128-bit integers (Spark decimal(38,0), DuckDB
  HUGEINT). The 128-bit numerator 1000*N*(ad-bc)^2 is NOT safe to
  ~3e9 users as round 5 claimed: |ad-bc| can reach N^2/4 under
  heavily skewed conversion splits, so the decimal(38,0) 1e38 cap
  binds near N ~ 4e7 worst-case (~1e8 at a realistic 1pp arm
  delta), and between 1e38 and HUGEINT's 1.7e38 the engines would
  diverge (Spark decimal overflow -> NULL, DuckDB keeps computing).
  Round-6 fix (round-5 advice): both engines guard numerator AND
  denominator magnitude with the SAME IEEE-double check (identical
  round-to-nearest casts, identically ordered multiplies — so the
  comparison is bit-deterministic across engines) against 9.9e37,
  and emit the documented sentinel -1 ("recompute in floating
  point downstream") past the horizon. The margin below the 1e38
  cap dwarfs double rounding error at that scale, so the exact
  128-bit branch provably cannot overflow in either engine —
  behavior is defined and engine-identical at EVERY N.
- q162 top-k trajectory similarity (REPOSE ICDE 2021 / EDBT 2019
  shape, PAPERS.md): users encode as capped ordered event-initial
  paths; candidates block on (3-step prefix, capped length) — the
  portable equi-key stand-in for reference-point tries, the same
  recall-oriented coarse-tier contract as q149/q95 blocking — and
  each user keeps its 3 nearest among a bounded per-block
  reference set (B=32 smallest ids) by exact levenshtein.

All cross-engine arithmetic is BIGINT (or the decimal(38,0) escape
above) with non-negative division operands (Spark `div` truncates,
DuckDB `//` floors — they agree only on non-negatives; lift and MASE
numerators are absolute values or counts by construction).

Reference parity: the reference's report API (SURVEY.md §2 A3/A4;
`3.(2) mysql-lambda-ecs-container-etl.py` report routes) stops at
grouped revenue sums; this family is catalog surface beyond the
reference, kept oracle-backed under the same contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_events, load_table
from ..session import local_frame
from .core import ORACLE, _q
from .evalsuite import _md5i_spark, _md5i_sql

_DAY_US = 86400 * 1_000_000

# --------------------------------------------------------------------------
# q158 market-basket association rules — brand baskets per order,
# apriori-pruned directional rules. min-support = 0.5% of orders
# (supp * 200 >= n_orders), applied to ITEMS before the pair join and
# to PAIRS after: the pair relation never materializes an infrequent
# item's candidates. lift_ppm computes in two divisions
# (conf_ppm * n_orders div supp_cons) to stay under 2^63 until
# n_orders ~ 9e12 (absolute SF ~6e6 — documented headroom).

ORACLE["q158_basket_rules"] = """
WITH ob AS (
    SELECT DISTINCT l_orderkey AS o, p_brand AS item
    FROM lineitem JOIN part ON l_partkey = p_partkey
),
n AS (SELECT CAST(COUNT(DISTINCT o) AS BIGINT) AS n_orders FROM ob),
it AS (SELECT item, CAST(COUNT(*) AS BIGINT) AS supp FROM ob GROUP BY item),
freq AS (SELECT item, supp FROM it CROSS JOIN n WHERE supp * 200 >= n_orders),
pr AS (
    SELECT a.item AS ante, b.item AS cons, CAST(COUNT(*) AS BIGINT) AS supp_ab
    FROM ob a
    JOIN freq fa ON fa.item = a.item
    JOIN ob b ON a.o = b.o AND a.item <> b.item
    JOIN freq fb ON fb.item = b.item
    GROUP BY 1, 2
)
SELECT ante, cons, supp_ab,
       fa.supp AS supp_ante, fb.supp AS supp_cons,
       CAST(supp_ab * 1000000 // fa.supp AS BIGINT) AS conf_ppm,
       CAST((supp_ab * 1000000 // fa.supp) * n_orders // fb.supp AS BIGINT)
           AS lift_ppm
FROM pr
JOIN freq fa ON fa.item = pr.ante
JOIN freq fb ON fb.item = pr.cons
CROSS JOIN n
WHERE supp_ab * 200 >= n_orders
ORDER BY ante, cons
"""


# q158's driver fast path collects the per-item support aggregate;
# the relation is |distinct brands|-sized (~25) on any TPC-H-shaped
# corpus, but an unbounded item domain must not silently funnel
# through the driver (round-11 verdict): above this row count the
# query falls back to the fully distributed shape below — the same
# size-switched discipline as graph.pagerank's max_driver_edges.
_Q158_MAX_DRIVER_ITEMS = 100_000


def _q158_pairs(b: DataFrame, farr_col: F.Column) -> DataFrame:
    """(ante, cons) in-row pair fan-out over apriori-pruned baskets —
    shared verbatim by the driver-literal and distributed paths, so
    the two cannot drift."""
    return (
        b.select(F.array_intersect(F.col("items"), farr_col).alias("fi"))
        .filter(F.size("fi") >= 2)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(fi, x -> "
                    "transform(filter(fi, y -> y != x), "
                    "y -> struct(x AS ante, y AS cons))))"
                )
            ).alias("p")
        )
        .select("p.ante", "p.cons")
    )


@_q("q158_basket_rules")
def q158(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    pt = load_table(spark, sf_dir, "part")
    # ONE corpus shuffle: collect_set builds the per-order basket with
    # map-side partial aggregation (the distinct + self-join shape this
    # replaced sorted the 600k-row relation twice for an SMJ — 6.3 s vs
    # ~2 s at sf0.1); baskets are TPC-H-bounded (~7 lines/order), so
    # the in-row pair fan-out is O(k^2) with tiny k
    b = (
        li.join(pt, li.l_partkey == pt.p_partkey)  # part SF-scaled: no hint
        .select(F.col("l_orderkey").alias("o"), F.col("p_brand").alias("item"))
        .groupBy("o")
        .agg(F.collect_set("item").alias("items"))
        .persist()  # feeds the item-support pass and the pair explode
    )
    # Round-11 shape: n_orders and the per-item supports are ITEM-
    # DOMAIN-sized (|distinct brands|, ~25 — bounded by the dimension
    # domain at any corpus scale), so they collect to the driver in
    # one aggregate pass over the persisted baskets, and the frequent
    # set / supports / n_orders re-enter the plan as literals + one
    # tiny local relation. The previous form chained them as FIVE
    # nested broadcast-subquery jobs (n → freq → farr → fa/fb → final
    # scalar attach), each a separate sub-job per action — measured
    # 4.19 s full vs 1.04 s basket build in-session; this removes
    # ~4 of those sub-jobs while keeping every corpus-sized operation
    # (basket build, pair explode, pair aggregate) distributed and
    # identical. NOTE (round-11 ADVICE): constructing this DataFrame
    # therefore RUNS the basket build + one aggregate as Spark jobs —
    # plan-capture tooling pays that cost at build time.
    #
    # Round 12: the collect is SIZE-GATED. limit(N+1) bounds what can
    # ever reach the driver; when the item domain exceeds the gate the
    # same rule mining runs fully distributed (identical integer
    # arithmetic, supports attached by broadcast join instead of
    # literals — see the fallback branch).
    stats_rel = (
        b.select(F.explode("items").alias("item"))
        .groupBy("item")
        .agg(F.count(F.lit(1)).cast("bigint").alias("supp"))
        .crossJoin(
            F.broadcast(
                b.agg(F.count(F.lit(1)).cast("bigint").alias("n_orders"))
            )
        )
    )
    stats = stats_rel.limit(_Q158_MAX_DRIVER_ITEMS + 1).collect()
    if len(stats) > _Q158_MAX_DRIVER_ITEMS:
        return _q158_distributed(b, stats_rel)
    n_orders = int(stats[0]["n_orders"]) if stats else 0
    freq = sorted(
        (r["item"], int(r["supp"])) for r in stats if r["supp"] * 200 >= n_orders
    )
    farr = [item for item, _ in freq]
    # apriori prune IN-ROW before the pair fan-out: the frequent set
    # rides in as an array LITERAL, array_intersect keeps only
    # frequent items in each basket
    farr_col = (
        F.lit(farr).cast("array<string>")
        if farr
        else F.expr("CAST(array() AS array<string>)")
    )
    pr = _q158_pairs(b, farr_col).groupBy("ante", "cons").agg(
        F.count(F.lit(1)).cast("bigint").alias("supp_ab")
    )
    supp_rows = [(i, s) for i, s in freq]
    fdf = local_frame(spark, supp_rows or [("", 0)], "item STRING, supp BIGINT")
    fa = fdf.select(F.col("item").alias("item_a"), F.col("supp").alias("supp_ante"))
    fb = fdf.select(F.col("item").alias("item_b"), F.col("supp").alias("supp_cons"))
    return (
        pr.join(F.broadcast(fa), pr.ante == fa.item_a)
        .join(F.broadcast(fb), pr.cons == fb.item_b)
        .filter(F.expr(f"supp_ab * 200 >= {n_orders}L"))
        .select(
            "ante",
            "cons",
            "supp_ab",
            "supp_ante",
            "supp_cons",
            F.expr("supp_ab * 1000000 div supp_ante")
            .cast("bigint")
            .alias("conf_ppm"),
            F.expr(
                f"(supp_ab * 1000000 div supp_ante) * {n_orders}L div supp_cons"
            )
            .cast("bigint")
            .alias("lift_ppm"),
        )
        .orderBy("ante", "cons")
    )


def _q158_distributed(b: DataFrame, stats_rel: DataFrame) -> DataFrame:
    """q158 above the driver gate: identical rule mining with the
    frequent set, supports and n_orders staying distributed. The
    frequent-item array reaches the baskets as a one-row broadcast
    (collect_sort matches the driver path's sorted literal), supports
    attach by broadcast equi-join, and every division is the same
    truncating BIGINT expression — bit-identical output."""
    freq = stats_rel.filter(F.expr("supp * 200 >= n_orders")).persist()
    farr_row = freq.agg(
        F.coalesce(
            F.sort_array(F.collect_list("item")),
            F.expr("CAST(array() AS array<string>)"),
        ).alias("farr")
    )
    pr = (
        _q158_pairs(
            b.crossJoin(F.broadcast(farr_row)), F.col("farr")
        )
        .groupBy("ante", "cons")
        .agg(F.count(F.lit(1)).cast("bigint").alias("supp_ab"))
    )
    # NO broadcast hints here: this branch only runs when the item
    # domain outgrew the driver gate, which is exactly when forcing a
    # broadcast build would be unsafe — the size-based planner picks
    # the strategy (these equi-joins degrade to SMJ gracefully).
    fa = freq.select(
        F.col("item").alias("item_a"), F.col("supp").alias("supp_ante")
    )
    fb = freq.select(
        F.col("item").alias("item_b"),
        F.col("supp").alias("supp_cons"),
        F.col("n_orders").alias("__n"),
    )
    return (
        pr.join(fa, pr.ante == fa.item_a)
        .join(fb, pr.cons == fb.item_b)
        .filter(F.expr("supp_ab * 200 >= __n"))
        .select(
            "ante",
            "cons",
            "supp_ab",
            "supp_ante",
            "supp_cons",
            F.expr("supp_ab * 1000000 div supp_ante")
            .cast("bigint")
            .alias("conf_ppm"),
            F.expr(
                "(supp_ab * 1000000 div supp_ante) * __n div supp_cons"
            )
            .cast("bigint")
            .alias("lift_ppm"),
        )
        .orderBy("ante", "cons")
    )


# --------------------------------------------------------------------------
# q159 RFM segmentation — recency (days since last order, relative to
# the global max order day), frequency (order count), monetary (total
# price in cents). Each metric cuts into quintiles on its DISTINCT
# value histogram (bin = below*5 div n_cust + 1 — q136's equal-
# frequency discipline, ties share a bin deterministically); monetary
# quantizes to hundred-dollar buckets first so its grid is bounded by
# the PRICE RANGE, not the customer count. Bin 1 = most recent /
# fewest orders / lowest spend; dashboards relabel, the engine keeps
# raw ascending bins portable.

ORACLE["q159_rfm_segments"] = """
WITH c AS (
    SELECT o_custkey,
           CAST(MAX(epoch_us(CAST(o_orderdate AS TIMESTAMP)) // 86400000000)
               AS BIGINT) AS last_day,
           CAST(COUNT(*) AS BIGINT) AS f,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS m_cents
    FROM orders GROUP BY o_custkey
),
g AS (SELECT CAST(MAX(last_day) AS BIGINT) AS gmax,
             CAST(COUNT(*) AS BIGINT) AS n_cust FROM c),
rfm AS (
    SELECT o_custkey, gmax - last_day AS r, f, m_cents,
           m_cents // 10000 AS m_b, n_cust
    FROM c CROSS JOIN g
),
rh AS (SELECT r AS v, COUNT(*) AS cnt FROM rfm GROUP BY r),
rcut AS (SELECT v, CAST(COALESCE(SUM(cnt) OVER (ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS below FROM rh),
fh AS (SELECT f AS v, COUNT(*) AS cnt FROM rfm GROUP BY f),
fcut AS (SELECT v, CAST(COALESCE(SUM(cnt) OVER (ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS below FROM fh),
mh AS (SELECT m_b AS v, COUNT(*) AS cnt FROM rfm GROUP BY m_b),
mcut AS (SELECT v, CAST(COALESCE(SUM(cnt) OVER (ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS below FROM mh),
seg AS (
    SELECT rfm.o_custkey, rfm.m_cents,
           rcut.below * 5 // rfm.n_cust + 1 AS r_bin,
           fcut.below * 5 // rfm.n_cust + 1 AS f_bin,
           mcut.below * 5 // rfm.n_cust + 1 AS m_bin
    FROM rfm
    JOIN rcut ON rcut.v = rfm.r
    JOIN fcut ON fcut.v = rfm.f
    JOIN mcut ON mcut.v = rfm.m_b
)
SELECT CAST(r_bin AS BIGINT) AS r_bin, CAST(f_bin AS BIGINT) AS f_bin,
       CAST(m_bin AS BIGINT) AS m_bin,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(m_cents) AS BIGINT) AS sum_cents
FROM seg GROUP BY 1, 2, 3 ORDER BY r_bin, f_bin, m_bin
"""


@_q("q159_rfm_segments")
def q159(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = o.groupBy("o_custkey").agg(
        F.max(
            F.expr(
                f"unix_micros(CAST(o_orderdate AS TIMESTAMP)) div {_DAY_US}"
            )
        )
        .cast("bigint")
        .alias("last_day"),
        F.count(F.lit(1)).cast("bigint").alias("f"),
        F.sum(F.expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
        .cast("bigint")
        .alias("m_cents"),
    ).persist()  # feeds the global scalar AND the rfm relation: one scan
    g = c.agg(
        F.max("last_day").cast("bigint").alias("gmax"),
        F.count(F.lit(1)).cast("bigint").alias("n_cust"),
    )
    rfm = (
        c.crossJoin(F.broadcast(g))  # 1-row scalar attach
        .select(
            "o_custkey",
            F.expr("gmax - last_day").alias("r"),
            "f",
            "m_cents",
            F.expr("m_cents div 10000").alias("m_b"),
            "n_cust",
        )
        .persist()  # feeds three histograms + the final assignment
    )

    # Round-11 single-pass cuts: the three value histograms unpivot
    # into ONE (metric, v) aggregate + ONE metric-partitioned window
    # (cumulative-below per metric — identical arithmetic to the three
    # separate global windows this replaces), persisted and filtered
    # three ways. Before: 3 aggregate exchanges + 3 single-partition
    # window sorts over the same persisted rfm; after: 1 + 1 on a
    # relation 3× the histogram size (still |distinct values|-sized —
    # never customer-sized).
    melt = rfm.select(
        F.explode(
            F.expr(
                "array(struct('r' AS m, r AS v),"
                " struct('f' AS m, f AS v),"
                " struct('m' AS m, m_b AS v))"
            )
        ).alias("x")
    ).select("x.m", "x.v")
    wcut = (
        Window.partitionBy("m")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cuts = (
        melt.groupBy("m", "v")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "m",
            "v",
            F.coalesce(F.sum("cnt").over(wcut), F.lit(0))
            .cast("bigint")
            .alias("below"),
        )
        .persist()  # three metric slices feed the assignment joins
    )
    rcut = cuts.filter(F.col("m") == "r").select(
        F.col("v").alias("rv"), F.col("below").alias("r_below")
    )
    fcut = cuts.filter(F.col("m") == "f").select(
        F.col("v").alias("fv"), F.col("below").alias("f_below")
    )
    mcut = cuts.filter(F.col("m") == "m").select(
        F.col("v").alias("mv"), F.col("below").alias("m_below")
    )
    seg = (
        rfm.join(F.broadcast(rcut), rfm.r == rcut.rv)
        .join(F.broadcast(fcut), rfm.f == fcut.fv)
        .join(F.broadcast(mcut), rfm.m_b == mcut.mv)
        .select(
            "m_cents",
            F.expr("r_below * 5 div n_cust + 1").alias("r_bin"),
            F.expr("f_below * 5 div n_cust + 1").alias("f_bin"),
            F.expr("m_below * 5 div n_cust + 1").alias("m_bin"),
        )
    )
    return (
        seg.groupBy("r_bin", "f_bin", "m_bin")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            F.sum("m_cents").cast("bigint").alias("sum_cents"),
        )
        .select(
            F.col("r_bin").cast("bigint").alias("r_bin"),
            F.col("f_bin").cast("bigint").alias("f_bin"),
            F.col("m_bin").cast("bigint").alias("m_bin"),
            "n_customers",
            "sum_cents",
        )
        .orderBy("r_bin", "f_bin", "m_bin")
    )


# --------------------------------------------------------------------------
# q160 seasonal-naive forecast eval — MASE components per event_type
# on the densified daily grid: seasonal forecast = count 7 days back,
# naive walk = count 1 day back; both errors sum over grid positions
# where the lag-7 reference exists (idx >= 8). The grid is |days| x
# |types| (bounded by the DATE RANGE), zero-filled, so sparse days
# contribute exact zeros rather than silently shrinking the lag
# distance. mase_ppm < 1e6 means the seasonal model beats the naive
# walk.

ORACLE["q160_forecast_eval"] = f"""
WITH d AS (
    SELECT event_type,
           epoch_us(CAST(ts AS TIMESTAMP)) // {_DAY_US} AS day,
           CAST(COUNT(*) AS BIGINT) AS c
    FROM events GROUP BY 1, 2
),
span AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM d),
grid AS (
    SELECT t.event_type, g.day, COALESCE(d.c, 0) AS c,
           CAST(g.day - s.d0 + 1 AS BIGINT) AS idx
    FROM (SELECT DISTINCT event_type FROM d) t
    CROSS JOIN span s
    CROSS JOIN (SELECT unnest(range((SELECT d0 FROM span),
                                    (SELECT d1 FROM span) + 1)) AS day) g
    LEFT JOIN d ON d.event_type = t.event_type AND d.day = g.day
),
l AS (
    SELECT event_type, idx, c,
           LAG(c, 7) OVER w AS c7, LAG(c, 1) OVER w AS c1
    FROM grid WINDOW w AS (PARTITION BY event_type ORDER BY idx)
),
s AS (
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_scored,
           CAST(SUM(abs(c - c7)) AS BIGINT) AS seas_abs_err,
           CAST(SUM(abs(c - c1)) AS BIGINT) AS naive_abs_err
    FROM l WHERE idx >= 8 GROUP BY event_type
)
SELECT event_type, n_scored, seas_abs_err, naive_abs_err,
       CAST(CASE WHEN naive_abs_err = 0 THEN 0
            ELSE seas_abs_err * 1000000 // naive_abs_err END AS BIGINT)
           AS mase_ppm
FROM s ORDER BY event_type
"""


@_q("q160_forecast_eval")
def q160(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_events(spark, sf_dir).select(
        "event_type", F.expr(f"ts_us div {_DAY_US}").alias("day")
    )
    d = e.groupBy("event_type", "day").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    ).persist()  # feeds the type list, the day span, and the grid probe
    span = d.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    days = span.select(
        F.explode(F.sequence("d0", "d1")).alias("day"), "d0"
    )
    types = d.select("event_type").distinct()
    grid = (
        days.crossJoin(F.broadcast(types))  # |days| x |types| densification
        .join(d, ["event_type", "day"], "left")
        .select(
            "event_type",
            F.expr("day - d0 + 1").cast("bigint").alias("idx"),
            F.coalesce("c", F.lit(0)).alias("c"),
        )
    )
    w = Window.partitionBy("event_type").orderBy("idx")
    lagged = grid.select(
        "event_type",
        "idx",
        "c",
        F.lag("c", 7).over(w).alias("c7"),
        F.lag("c", 1).over(w).alias("c1"),
    )
    s = (
        lagged.where(F.col("idx") >= 8)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_scored"),
            F.sum(F.expr("abs(c - c7)")).cast("bigint").alias("seas_abs_err"),
            F.sum(F.expr("abs(c - c1)")).cast("bigint").alias("naive_abs_err"),
        )
    )
    return s.select(
        "event_type",
        "n_scored",
        "seas_abs_err",
        "naive_abs_err",
        F.when(F.col("naive_abs_err") == 0, F.lit(0))
        .otherwise(F.expr("seas_abs_err * 1000000 div naive_abs_err"))
        .cast("bigint")
        .alias("mase_ppm"),
    ).orderBy("event_type")


# --------------------------------------------------------------------------
# q161 A/B experiment readout — md5-parity arm split (deterministic,
# engine-portable), conversion = any purchase event. One scalar row:
# per-arm user/conversion counts, conversion ppm, relative lift of
# arm B over arm A (ppm), and the 2x2 chi-square statistic in milli
# computed in 128-bit integers (decimal(38,0) / HUGEINT) because
# N*(ad-bc)^2 crosses 2^63 near ~55k users at full skew. The 128-bit
# numerator itself binds near N ~ 4e7 under heavy skew (module
# docstring), so both engines apply the same bit-deterministic
# IEEE-double magnitude guard (9.9e37, margin >> rounding error)
# and emit sentinel -1 past the horizon; the exact branch cannot
# overflow below it.

ORACLE["q161_abtest_readout"] = f"""
WITH u AS (
    SELECT user_id,
           {_md5i_sql('ab1|', 'user_id')} % 2 AS arm,
           MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
    FROM events GROUP BY user_id
),
t AS (
    SELECT CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
           CAST(SUM(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS BIGINT) AS c_a,
           CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
           CAST(SUM(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS BIGINT) AS c_b
    FROM u
),
p AS (
    SELECT n_a, c_a, n_b, c_b,
           CASE WHEN n_a = 0 THEN 0 ELSE c_a * 1000000 // n_a END AS ppm_a,
           CASE WHEN n_b = 0 THEN 0 ELSE c_b * 1000000 // n_b END AS ppm_b
    FROM t
),
g AS (
    SELECT *,
           (1000.0 * CAST(n_a + n_b AS DOUBLE))
             * (CAST(c_a AS DOUBLE) * CAST(n_b - c_b AS DOUBLE)
                - CAST(c_b AS DOUBLE) * CAST(n_a - c_a AS DOUBLE))
             * (CAST(c_a AS DOUBLE) * CAST(n_b - c_b AS DOUBLE)
                - CAST(c_b AS DOUBLE) * CAST(n_a - c_a AS DOUBLE)) AS num_mag,
           (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))
             * CAST(c_a + c_b AS DOUBLE)
             * CAST(n_a + n_b - c_a - c_b AS DOUBLE) AS den_mag
    FROM p
)
SELECT n_a, c_a, n_b, c_b,
       CAST(ppm_a AS BIGINT) AS conv_ppm_a,
       CAST(ppm_b AS BIGINT) AS conv_ppm_b,
       CAST(CASE WHEN ppm_a = 0 THEN 0
            ELSE ppm_b * 1000000 // ppm_a END AS BIGINT) AS lift_ppm,
       CAST(CASE WHEN n_a = 0 OR n_b = 0 OR c_a + c_b = 0
                 OR n_a + n_b - c_a - c_b = 0 THEN 0
            WHEN num_mag > 9.9e37 OR den_mag > 9.9e37 THEN -1
            ELSE CAST(1000 AS HUGEINT) * (n_a + n_b)
                 * (CAST(c_a AS HUGEINT) * (n_b - c_b)
                    - CAST(c_b AS HUGEINT) * (n_a - c_a))
                 * (CAST(c_a AS HUGEINT) * (n_b - c_b)
                    - CAST(c_b AS HUGEINT) * (n_a - c_a))
                 // (CAST(n_a AS HUGEINT) * n_b * (c_a + c_b)
                     * (n_a + n_b - c_a - c_b)) END AS BIGINT) AS chisq_milli
FROM g
"""


@_q("q161_abtest_readout")
def q161(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_events(spark, sf_dir)
    u = e.groupBy("user_id").agg(
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("conv")
    ).select(
        (_md5i_spark("ab1|", F.col("user_id")) % 2).alias("arm"), "conv"
    )
    t = u.agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_a"),
        F.sum(F.when(F.col("arm") == 0, F.col("conv")).otherwise(0))
        .cast("bigint")
        .alias("c_a"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_b"),
        F.sum(F.when(F.col("arm") == 1, F.col("conv")).otherwise(0))
        .cast("bigint")
        .alias("c_b"),
    )
    return abtest_readout_from_counts(t)


def abtest_readout_from_counts(t: DataFrame) -> DataFrame:
    """The q161 readout projection over a (n_a, c_a, n_b, c_b) counts
    relation — shared verbatim by the batch query and the streaming
    experiment monitor (``streaming/runner.abtest_monitor_stream``),
    so the two surfaces cannot drift."""
    p = t.select(
        "n_a",
        "c_a",
        "n_b",
        "c_b",
        F.when(F.col("n_a") == 0, F.lit(0))
        .otherwise(F.expr("c_a * 1000000 div n_a"))
        .alias("ppm_a"),
        F.when(F.col("n_b") == 0, F.lit(0))
        .otherwise(F.expr("c_b * 1000000 div n_b"))
        .alias("ppm_b"),
    )
    chisq = F.expr(
        "CAST(1000 AS DECIMAL(38,0)) * (n_a + n_b)"
        " * (CAST(c_a AS DECIMAL(38,0)) * (n_b - c_b)"
        "    - CAST(c_b AS DECIMAL(38,0)) * (n_a - c_a))"
        " * (CAST(c_a AS DECIMAL(38,0)) * (n_b - c_b)"
        "    - CAST(c_b AS DECIMAL(38,0)) * (n_a - c_a))"
        " div (CAST(n_a AS DECIMAL(38,0)) * n_b * (c_a + c_b)"
        "      * (n_a + n_b - c_a - c_b))"
    )
    # Overflow horizon guard (round-5 advice): the decimal(38,0)
    # numerator 1000*N*(ad-bc)^2 caps out near N ~ 4e7 users under
    # heavy conversion skew (|ad-bc| can reach N^2/4), where Spark
    # would silently NULL while DuckDB's HUGEINT keeps computing to
    # 1.7e38. Both engines therefore run the SAME magnitude check in
    # IEEE doubles — identical round-to-nearest casts, identically
    # ordered multiplies, so the comparison is bit-deterministic and
    # engine-identical — against 9.9e37, a margin below the 1e38 cap
    # wide enough (>1e35, vs ~2e21 max double rounding error at this
    # scale) that the exact 128-bit ELSE branch provably cannot
    # overflow. Past the horizon both engines emit the documented
    # sentinel -1 (recompute in floating point downstream).
    num_mag = F.expr(
        "(1000.0 * CAST(n_a + n_b AS DOUBLE))"
        " * (CAST(c_a AS DOUBLE) * CAST(n_b - c_b AS DOUBLE)"
        "    - CAST(c_b AS DOUBLE) * CAST(n_a - c_a AS DOUBLE))"
        " * (CAST(c_a AS DOUBLE) * CAST(n_b - c_b AS DOUBLE)"
        "    - CAST(c_b AS DOUBLE) * CAST(n_a - c_a AS DOUBLE))"
    )
    den_mag = F.expr(
        "(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))"
        " * CAST(c_a + c_b AS DOUBLE)"
        " * CAST(n_a + n_b - c_a - c_b AS DOUBLE)"
    )
    return p.select(
        "n_a",
        "c_a",
        "n_b",
        "c_b",
        F.col("ppm_a").cast("bigint").alias("conv_ppm_a"),
        F.col("ppm_b").cast("bigint").alias("conv_ppm_b"),
        F.when(F.col("ppm_a") == 0, F.lit(0))
        .otherwise(F.expr("ppm_b * 1000000 div ppm_a"))
        .cast("bigint")
        .alias("lift_ppm"),
        F.when(
            (F.col("n_a") == 0)
            | (F.col("n_b") == 0)
            | (F.expr("c_a + c_b") == 0)
            | (F.expr("n_a + n_b - c_a - c_b") == 0),
            F.lit(0),
        )
        .when((num_mag > 9.9e37) | (den_mag > 9.9e37), F.lit(-1))
        .otherwise(chisq)
        .cast("bigint")
        .alias("chisq_milli"),
    )


# --------------------------------------------------------------------------
# q162 top-k trajectory similarity — REPOSE/EDBT-2019 shape
# (PAPERS.md): each user's behavior is its ordered event-initial path
# (q145's encoding, capped at 40 steps so the edit-distance cost per
# pair is bounded); candidates block on (3-step prefix, capped
# length) — the portable equi-key stand-in for REPOSE's
# reference-point tries, same recall-oriented coarse-tier contract as
# q149/q95 blocking — and each user keeps its 3 nearest neighbors by
# exact levenshtein (ties broken by neighbor id). Similarity is
# integer ppm of the shared (blocked-equal) length. The pair space is
# sum-of-block-size-squares: bounded by path-space diversity, never
# |users|^2.

_Q162_CAP = 40
_Q162_K = 3
_Q162_B = 32  # bounded per-block reference set: pairs <= B * |users|

ORACLE["q162_trajectory_topk"] = f"""
WITH e AS (SELECT user_id, substr(event_type, 1, 1) AS ch,
                  epoch_us(CAST(ts AS TIMESTAMP)) AS tus, event_id
           FROM events),
p AS (SELECT user_id,
             substr(string_agg(ch, '' ORDER BY tus, event_id), 1, {_Q162_CAP})
                 AS path
      FROM e GROUP BY user_id),
k AS (SELECT user_id, path,
             substr(path, 1, 3) || '|' || CAST(length(path) AS VARCHAR)
                 AS bkey,
             CAST(length(path) AS BIGINT) AS plen
      FROM p),
tgt AS (
    SELECT user_id, path, bkey FROM (
        SELECT user_id, path, bkey,
               ROW_NUMBER() OVER (PARTITION BY bkey ORDER BY user_id) AS tr
        FROM k
    ) WHERE tr <= {_Q162_B}
),
pr AS (
    SELECT a.user_id AS user_a, b.user_id AS user_b, a.plen,
           CAST(levenshtein(a.path, b.path) AS BIGINT) AS lev
    FROM k a JOIN tgt b ON a.bkey = b.bkey AND a.user_id <> b.user_id
),
rk AS (
    SELECT user_a, user_b, plen, lev,
           ROW_NUMBER() OVER (PARTITION BY user_a
                              ORDER BY lev, user_b) AS rnk
    FROM pr
)
SELECT user_a, user_b, plen, lev, CAST(rnk AS BIGINT) AS rnk,
       CAST((plen - lev) * 1000000 // plen AS BIGINT) AS sim_ppm
FROM rk WHERE rnk <= {_Q162_K}
ORDER BY user_a, rnk
"""


@_q("q162_trajectory_topk")
def q162(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_events(spark, sf_dir).select(
        "user_id",
        F.col("ts_us").alias("tus"),
        "event_id",
        F.substring("event_type", 1, 1).alias("ch"),
    )
    p = e.groupBy("user_id").agg(
        F.expr(
            "substring(array_join(transform(array_sort(collect_list("
            f"struct(tus, event_id, ch))), x -> x.ch), ''), 1, {_Q162_CAP})"
        ).alias("path")
    )
    k = p.select(
        "user_id",
        "path",
        F.concat(
            F.substring("path", 1, 3),
            F.lit("|"),
            F.length("path").cast("string"),
        ).alias("bkey"),
        F.length("path").cast("bigint").alias("plen"),
    ).persist()  # both sides of the blocked self-join: one corpus pass
    a = k.select(
        F.col("user_id").alias("user_a"), F.col("path").alias("pa"),
        "bkey", "plen",
    )
    # bounded reference set (REPOSE-style): each block contributes its
    # B smallest user ids as comparison TARGETS, so the pair space is
    # <= B * |users| — linear in users at any scale (an uncapped
    # same-key self-join is quadratic once blocks saturate the fixed
    # path-key space; measured 665 s at the sf10 tier). The rank
    # prunes to a WindowGroupLimit.
    w_t = Window.partitionBy("bkey").orderBy("user_id")
    b = (
        k.withColumn("tr", F.row_number().over(w_t))
        .filter(F.col("tr") <= _Q162_B)
        .select(
            F.col("user_id").alias("user_b"), F.col("path").alias("pb"),
            F.col("bkey").alias("bkey_b"),
        )
    )
    pr = a.join(
        b, (a.bkey == b.bkey_b) & (F.col("user_a") != F.col("user_b"))
    ).select(
        "user_a",
        "user_b",
        "plen",
        F.levenshtein("pa", "pb").cast("bigint").alias("lev"),
    )
    w = Window.partitionBy("user_a").orderBy("lev", "user_b")
    return (
        pr.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _Q162_K)
        .select(
            "user_a",
            "user_b",
            "plen",
            "lev",
            F.col("rnk").cast("bigint").alias("rnk"),
            F.expr("(plen - lev) * 1000000 div plen")
            .cast("bigint")
            .alias("sim_ppm"),
        )
        .orderBy("user_a", "rnk")
    )
