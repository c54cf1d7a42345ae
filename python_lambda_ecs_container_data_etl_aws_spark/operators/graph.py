"""Graph operators over edge relations — the library APIs behind the
q99/q109/q113 contract queries, usable on any (src, dst) DataFrame.

- :func:`pagerank` — fixed-point integer PageRank: exact BIGINT
  arithmetic (rank*weight integer-divided by out-weight, damping as
  an integer percentage), so results are bit-deterministic and
  engine-portable. The one data-sized operation is the caller's edge
  aggregation; iterations run on the aggregated weighted relation.
- :func:`triangle_count` — sorted-edge a<b<c triangle census (each
  triangle counted once) plus node/edge counts.
- :func:`random_walks` — deterministic md5-driven walks over sorted
  adjacency lists; both engines (and any two runs) walk identical
  paths, which is what makes walk corpora reproducible training data.

Scale posture: all joins are equi-joins on node ids. The node-sized
relations (ranks, out-weights, adjacency) are broadcast when they fit
(`broadcast_state=True`, right for domain/host graphs whose node
count is tiny next to the edge count); pass ``broadcast_state=False``
on a web-scale graph and the same loops run as shuffle hash joins —
the join keys don't change, so the plans degrade gracefully.

Cache lifetime: the ``persist()`` calls here cache relations consumed
by multiple branches of the RETURNED lazy plan (the rank loop, both
sides of the wedge join), so the operator cannot release them itself —
per the package cache-ownership convention, callers run their action
and then ``spark.catalog.clearCache()`` (all repo harnesses do).

Connected components (the other core graph primitive) lives in
operators/dedup.py — size-gated driver union-find with a distributed
min-label-propagation fallback — because near-dup cluster resolution
is its consumer.

Reference parity: the reference pipeline has no graph stage; these
extend the Tier-C suite (crawl-seed ranking, clustering diagnostics,
graph-embedding walk corpora).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from ..session import local_frame


def _maybe_broadcast(df: DataFrame, flag: bool) -> DataFrame:
    return F.broadcast(df) if flag else df


def weighted_edges(edges: DataFrame, src: str = "s", dst: str = "t") -> DataFrame:
    """Aggregate raw edge rows to (src, dst, w) — the one data-sized
    shuffle every operator here runs on."""
    return edges.groupBy(src, dst).agg(F.count(F.lit(1)).alias("w"))


def pagerank(
    edges: DataFrame,
    src: str = "s",
    dst: str = "t",
    *,
    iters: int = 3,
    scale: int = 1_000_000,
    base_pct: int = 15,
    broadcast_state: bool = True,
    weighted: bool = False,
    max_driver_edges: int = 100_000,
) -> DataFrame:
    """(node, r): fixed-point integer PageRank after ``iters`` rounds.

    r_{t+1}(v) = base_pct%*scale + (100-base_pct)% * Σ_{u→v}
    (r_t(u)*w(u,v)) div W(u), every division truncating BIGINT over
    non-negative operands — bit-identical across engines (the q99
    contract). Dangling mass is dropped (the standard leaky variant).

    Pass ``weighted=True`` when ``edges`` is already the aggregated
    (src, dst, w) relation — callers running several graph operators
    should aggregate (and persist) once and share it, instead of
    paying the corpus-sized shuffle per operator.

    ``max_driver_edges``: when the aggregated relation has at most
    this many rows, the iterations run in the driver over the
    collected edge list (bit-identical integer arithmetic) instead of
    compiling ``iters`` rounds of join+aggregate plans — the same
    size-switched pattern as connected_components' union-find. 0
    disables the fast path (every iteration stays distributed).
    """
    damp = 100 - base_pct
    base = base_pct * scale // 100
    we = edges if weighted else weighted_edges(edges, src, dst).persist()
    # weighted=True hands us the caller's aggregated relation; persist
    # it around the gate (round-11 ADVICE) so the gate's count and the
    # fast path's collect — or the distributed loop's iterations — do
    # not each recompute the caller's aggregation pipeline. Track
    # whether WE persisted it: a caller-persisted relation (q99 shares
    # its cache with degree_stats) must never be unpersisted here.
    ours = not weighted
    if weighted:
        sl = we.storageLevel
        if not (sl.useMemory or sl.useDisk or sl.useOffHeap):
            we, ours = we.persist(), True
    # Driver fast path (round 11, same size-switched discipline as
    # dedup.connected_components' ≤1M-edge union-find): the rank loop
    # runs on the AGGREGATED (src, dst, w) relation, which for bounded
    # key domains (site domains, tenants, categories) is thousands of
    # rows however big the corpus — while the distributed loop costs
    # ~3 broadcast builds + an aggregate exchange per iteration and
    # compounds a 50+-exchange plan. All arithmetic is integer with
    # TRUNCATING division (``_tdiv`` == SQL ``div`` for any sign;
    # zero out-weight contributes nothing, matching div's NULL being
    # skipped by SUM) and order-insensitive sums, so the driver result
    # is bit-identical to the loop's for ANY integer weights, not just
    # non-negative ones (round-11 ADVICE). Above the threshold the
    # distributed loop below is unchanged. The gate's count runs over
    # the persisted relation whose materialization either path needs
    # anyway, so it is one map-side-combined aggregate, not a wasted
    # corpus pass.
    if max_driver_edges > 0:
        agg_rows = we.groupBy().count().collect()[0][0]
        if agg_rows <= max_driver_edges:

            def _tdiv(a: int, b: int) -> int:
                q = abs(a) // abs(b)
                return -q if (a < 0) != (b < 0) else q

            erows = we.select(src, dst, "w").collect()
            if ours:
                we.unpersist()
            tw: dict = {}
            for u, v, w in erows:
                tw[u] = tw.get(u, 0) + int(w)
            nodes_d = sorted({u for u, _, _ in erows} | {v for _, v, _ in erows})
            r = {n: int(scale) for n in nodes_d}
            for _ in range(iters):
                m: dict = {}
                for u, v, w in erows:
                    if tw[u] != 0:
                        m[v] = m.get(v, 0) + _tdiv(r[u] * int(w), tw[u])
                r = {n: base + _tdiv(damp * m.get(n, 0), 100) for n in nodes_d}
            spark = edges.sparkSession
            node_type = we.schema[src].dataType
            out_schema = StructType(
                [
                    StructField("node", node_type),
                    StructField("r", LongType()),
                ]
            )
            return local_frame(spark, [(n, int(r[n])) for n in nodes_d], out_schema)
    outw = we.groupBy(src).agg(F.sum("w").cast("bigint").alias("tw"))
    # node set from the AGGREGATED relation — it carries the identical
    # distinct src/dst values, so deriving nodes from the raw edge
    # input would re-scan the corpus-sized input for nothing
    nodes = (
        we.select(F.col(src).alias("node"))
        .union(we.select(F.col(dst).alias("node")))
        .distinct()
        .persist()
    )
    ranks = nodes.select("node", F.lit(scale).cast("bigint").alias("r"))
    for _ in range(iters):
        contrib = (
            we.join(
                _maybe_broadcast(
                    ranks.withColumnRenamed("node", src), broadcast_state
                ),
                src,
            )
            .join(_maybe_broadcast(outw, broadcast_state), src)
            .select(
                F.col(dst).alias("node"),
                F.expr("(r * w) div tw").alias("m"),
            )
            .groupBy("node")
            .agg(F.sum("m").alias("m"))
        )
        ranks = nodes.join(
            _maybe_broadcast(contrib, broadcast_state), "node", "left"
        ).select(
            "node",
            F.expr(
                f"CAST({base} + ({damp} * coalesce(m, 0L)) div 100 AS BIGINT)"
            ).alias("r"),
        )
    return ranks


def degree_stats(
    edges: DataFrame,
    src: str = "s",
    dst: str = "t",
    *,
    weighted: bool = False,
) -> DataFrame:
    """(node, out_w, in_w): weighted degrees — the skew diagnostic to
    read before deciding the join strategy for the loops above. A
    union + one aggregate, never an outer join of the two degree
    relations (a full-outer can't broadcast and would SMJ)."""
    we = edges if weighted else weighted_edges(edges, src, dst)
    both = we.select(
        F.col(src).alias("node"),
        F.col("w").alias("ow"),
        F.lit(0).alias("iw"),
    ).unionAll(
        we.select(
            F.col(dst).alias("node"),
            F.lit(0).alias("ow"),
            F.col("w").alias("iw"),
        )
    )
    return both.groupBy("node").agg(
        F.sum("ow").cast("bigint").alias("out_w"),
        F.sum("iw").cast("bigint").alias("in_w"),
    )


def triangle_count(
    edges: DataFrame, src: str = "s", dst: str = "t"
) -> DataFrame:
    """One-row census (n_nodes, n_edges, n_triangles) over the
    undirected, deduped view of ``edges`` (self-loops dropped). The
    a<b<c sorted-pair orientation counts each triangle exactly once
    and anchors the wedge join at the lowest vertex."""
    eu = (
        edges.filter(F.col(src) != F.col(dst))
        .select(
            F.least(src, dst).alias("u"), F.greatest(src, dst).alias("v")
        )
        .distinct()
        .persist()
    )
    wedges = eu.alias("e1").join(
        eu.alias("e2"), F.col("e1.v") == F.col("e2.u")
    ).select(
        F.col("e1.u").alias("a"),
        F.col("e1.v").alias("b"),
        F.col("e2.v").alias("c"),
    )
    tri = wedges.join(
        eu.alias("e3"),
        (F.col("a") == F.col("e3.u")) & (F.col("c") == F.col("e3.v")),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
    nodes = (
        eu.select(F.col("u").alias("node"))
        .unionAll(eu.select(F.col("v").alias("node")))
        .agg(F.countDistinct("node").cast("bigint").alias("n_nodes"))
    )
    n_edges = eu.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
    return (
        nodes.crossJoin(F.broadcast(n_edges))
        .crossJoin(F.broadcast(tri))
        .select("n_nodes", "n_edges", "n_triangles")
    )


def random_walks(
    edges: DataFrame,
    src: str = "s",
    dst: str = "t",
    *,
    steps: int = 3,
    seed: str = "rw|",
    broadcast_state: bool = True,
) -> DataFrame:
    """(start, n1..n<steps>): one deterministic walk per source node.

    The next hop from node u at step k of the walk started at s is
    the md5(seed|s|k|u)-indexed entry of u's SORTED out-neighbor
    list — seeded pseudo-randomness, so walks are reproducible and
    engine-portable (the q113 contract). Nodes without out-edges hold
    in place.

    Deliberately NO size-switched driver path here (round-11 negative
    result, kept as evidence): a driver hop loop — hashlib md5 over
    the identical seed|s|k|u strings, persisted distinct edges — was
    built, proven bit-identical, and measured SLOWER than these
    unrolled broadcast joins both in full-bench context (q113
    0.58→1.00 s interleaved old-vs-new) and in-session (1.32 s
    distributed vs 1.75 s driver): the gate's count + collect jobs
    cost more than three broadcast rounds over a node-sized frontier.
    pagerank keeps its driver path because its per-iteration cost is
    an aggregate exchange, not just a broadcast probe."""
    eu = edges.select(src, dst).distinct()
    nbrs = eu.groupBy(src).agg(
        F.array_sort(F.collect_list(dst)).alias("nb")
    )
    walk = eu.select(F.col(src).alias("start")).distinct().select(
        "start", F.col("start").alias("n0")
    )
    for k in range(1, steps + 1):
        cur = f"n{k - 1}"
        h = (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit(seed),
                            F.col("start").cast("string"),
                            F.lit(f"|{k}|"),
                            F.col(cur).cast("string"),
                        ).cast("binary")
                    ),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("bigint")
        )
        walk = (
            walk.join(
                _maybe_broadcast(
                    nbrs.withColumnRenamed(src, cur), broadcast_state
                ),
                cur,
                "left",
            )
            .withColumn(
                f"n{k}",
                F.coalesce(
                    F.element_at("nb", (h % F.size("nb") + 1).cast("int")),
                    F.col(cur),
                ),
            )
            .drop("nb")
        )
    return walk.drop("n0")
