"""Deduplication operators.

- :func:`dedup_exact` — hash-groupBy, keep lowest id. One shuffle.
- :func:`shingles` / :func:`jaccard_pairs` — exact word-n-gram Jaccard
  (the q22 plan as a reusable operator). Quadratic in candidates.
- :func:`minhash_signatures` / :func:`lsh_candidate_pairs` /
  :func:`minhash_lsh_dedup` — the 100 TB path: shingle → xxhash64 →
  K universal-hash min-aggregations → band → bucket-join. Candidate
  generation is linear in corpus size (per bucket), and only candidates
  pay the exact-Jaccard verify.
- :func:`simhash_signatures` / :func:`simhash_pairs` — 60-bit SimHash
  (md5-derived token bits, so the pipeline is SQL-oracle-able) with
  banded candidate generation and Hamming-distance verify.
- :func:`simhash_wide_signatures` / :func:`simhash_wide_pairs` —
  120-bit SimHash (both md5 halves, two BIGINT limbs): the design-
  scale geometry. 7 bands × ≥17 bits ⇒ ≥131k buckets/band, cutting
  banded candidate density ~2^8 (~250×) vs the 60-bit layout at the
  same d ≤ 6 pigeonhole completeness (q193 contract; the tightened
  relative threshold 6/120 is a semantic change vs q26's 6/60, hence
  a separate query, not an edit).

Everything is built-in column expressions (whole-stage codegen) — no
Python UDF anywhere on the hot path. xxhash64 is Spark's JVM-side
64-bit hash; universal hashing ((a*x+b) mod p) gives the K independent
permutations.

Reference parity: the reference has no near-dedup (its dedup is the
idempotency window, `2.2 loading-lambda-for-mysql.py:219-255`); these
operators are the north-star extension (BASELINE.json) for LLM-corpus
curation at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.spread import spread_scan
from ..session import local_frame

# Mersenne prime 2^31-1: universal-hash modulus. Keys and coefficients
# stay below 2^31 so a*x+b fits in a 63-bit long (Spark 4 runs ANSI
# mode: long overflow is an error, not a wrap).
_P = (1 << 31) - 1


def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep one row per exact text (lowest id wins). Returns kept rows."""
    w = Window.partitionBy(F.md5(F.col(text_col))).orderBy(F.col(id_col))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def shingles(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3) -> DataFrame:
    """Distinct word-n-gram shingles per document: (id, shingle).

    Tokenization is materialized once per row (a projected ``toks``
    column) — inlining split() into each n-gram index re-parses the
    text n+1 times per row and dominated profile time.

    Docs shorter than ``n`` tokens yield zero shingles: the index
    generator is guarded so ``sequence(0, negative)`` never runs —
    under Spark 4 ANSI mode an unguarded descending sequence indexes
    ``toks`` out of bounds and aborts the whole job. Empty/short docs
    are routine in LLM corpora; they must be a no-op, not a crash.
    """
    parts = ", ".join(f"toks[i+{j}]" for j in range(n))
    gen = (
        f"CASE WHEN size(toks) >= {n} "
        f"THEN transform(sequence(0, size(toks) - {n}), i -> concat_ws(' ', {parts})) "
        f"ELSE array() END"
    )
    # NOT spread (round-11 measurement): the n-gram build is ~0.3 s of
    # the consumers' 1.6-2.2 s at sf0.1 — the exchange's AQE-stage cost
    # exceeded the parallelism gain on every consumer (q44/q64/q77
    # +0.3-0.9 s). The heavy md5-fold signatures spread instead.
    return (
        df.select(
            F.col(id_col).alias("id"),
            F.split(F.col(text_col), " ").alias("toks"),
        )
        .select("id", F.explode(F.expr(gen)).alias("shingle"))
        .distinct()
    )


def doc_shingles(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """Per-row distinct shingle ARRAY: (id, sh array<string>), one row
    per document that has at least ``n`` tokens (shorter docs have no
    shingles and are dropped — a row filter, matching the zero-shingle
    semantics of :func:`shingles`).

    The zero-shuffle twin of :func:`shingles` — shingle-distinctness is
    a per-document property, so ``array_distinct`` inside the row does
    what the corpus-wide ``explode().distinct()`` shuffle did. At 100 TB
    this removes an entire exchange of the (id, shingle) relation; the
    array stays bounded by document length.

    The short-doc gate runs on the TOKEN count before the shingle array
    exists. Filtering downstream on ``size(sh) > 0`` instead would be
    pushed below the projection by Catalyst and re-evaluate the whole
    interpreted transform + array_distinct pipeline inside the filter —
    the same 2-3x-per-row duplication the session excludes
    InferFiltersFromGenerate for. The token-count gate also makes the
    sequence bounds trivially non-negative, so no ANSI CASE guard is
    needed around the generator.

    """
    parts = ", ".join(f"toks[i+{j}]" for j in range(n))
    gen = (
        f"array_distinct(transform(sequence(0, size(toks) - {n}), "
        f"i -> concat_ws(' ', {parts})))"
    )
    # NOT spread — same round-11 measurement as :func:`shingles`: the
    # per-row shingle build is cheap relative to the exchange it would
    # buy (q25 probe: doc_shingles noop 0.32 s unspread vs 0.37 s
    # spread; the full consumers regressed +0.3-0.9 s each).
    return (
        df.select(
            F.col(id_col).alias("id"),
            F.split(F.col(text_col), " ").alias("toks"),
        )
        .filter(F.size("toks") >= n)
        .select("id", F.expr(gen).alias("sh"))
    )


def jaccard_pairs(sh: DataFrame, threshold: float, candidates: DataFrame | None = None) -> DataFrame:
    """Exact Jaccard over shingle sets → pairs (a_id, b_id, jaccard) ≥ threshold.

    With ``candidates`` (a_id, b_id) the shingle self-join is restricted
    to those pairs (the LSH verify path); without, it is all-pairs.
    """
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
    if candidates is not None:
        # Candidate-restricted intersection: expand each candidate pair
        # by the left doc's shingles, then probe the right side on
        # (id, shingle). Cost is |candidates| × shingles-per-doc — NOT
        # the all-pairs shingle self-join (common shingles in a small
        # vocab make that explode quadratically).
        a, b = sh.alias("a"), sh.alias("b")
        inter = (
            F.broadcast(candidates)
            .join(a, F.col("a_id") == F.col("a.id"))
            .join(
                b,
                (F.col("b_id") == F.col("b.id"))
                & (F.col("a.shingle") == F.col("b.shingle")),
            )
            .groupBy("a_id", "b_id")
            .agg(F.count(F.lit(1)).alias("n_inter"))
        )
    else:
        a, b = sh.alias("a"), sh.alias("b")
        inter = (
            a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.id") < F.col("b.id")))
            .groupBy(F.col("a.id").alias("a_id"), F.col("b.id").alias("b_id"))
            .agg(F.count(F.lit(1)).alias("n_inter"))
        )
    j = (
        inter.join(F.broadcast(sizes.alias("sa")), F.col("a_id") == F.col("sa.id"))
        .join(F.broadcast(sizes.alias("sb")), F.col("b_id") == F.col("sb.id"))
        .select(
            "a_id",
            "b_id",
            (
                F.col("n_inter")
                / (F.col("sa.n") + F.col("sb.n") - F.col("n_inter"))
            ).alias("jaccard"),
        )
    )
    return j.filter(F.col("jaccard") >= threshold)


def _perm_params(k: int, seed: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) draws for K universal hash functions."""
    params = []
    state = seed & 0x7FFFFFFFFFFFFFFF
    for _ in range(k):
        # xorshift64* — tiny deterministic PRNG, no runtime randomness.
        state ^= (state >> 12) & 0xFFFFFFFFFFFFFFFF
        state ^= (state << 25) & 0xFFFFFFFFFFFFFFFF
        state ^= (state >> 27) & 0xFFFFFFFFFFFFFFFF
        a = ((state * 0x2545F4914F6CDD1D) & 0xFFFFFFFFFFFFFFFF) % _P or 1
        state ^= (state >> 12) & 0xFFFFFFFFFFFFFFFF
        state ^= (state << 25) & 0xFFFFFFFFFFFFFFFF
        state ^= (state >> 27) & 0xFFFFFFFFFFFFFFFF
        b = ((state * 0x2545F4914F6CDD1D) & 0xFFFFFFFFFFFFFFFF) % _P
        params.append((a, b))
    return params


def minhash_signatures(
    sh: DataFrame, num_hashes: int = 64, seed: int = 42,
    pre_hashed: bool = False,
) -> DataFrame:
    """(id, h0..h{K-1}) MinHash signature via K min-aggregations.

    One shuffle (groupBy id); each h_i is min((a_i*x + b_i) mod P) over
    the doc's shingle hashes x = xxhash64(shingle) (sign-masked to
    non-negative so the modulus behaves). With ``pre_hashed`` the
    shingle column already carries xxhash64 values (the slim-cache
    path: :func:`minhash_lsh_dedup` / :func:`lsh_index_of` store
    hashed long arrays) — only the mask/modulus applies, so the
    signatures are BIT-IDENTICAL to the string path's.
    """
    raw = F.col("shingle") if pre_hashed else F.xxhash64("shingle")
    x = raw.bitwiseAND(F.lit(0x7FFFFFFFFFFFFFFF)) % F.lit(_P)
    hashed = sh.select("id", x.alias("x"))
    # each aggregate is ONE SQL parse, not a tree of py4j Column calls
    # (round 12): constructing K composed Columns costs ~6 driver
    # round-trips each, and the LSH queries build this plan 1-2× per
    # call — measured as a large share of their DataFrame-construction
    # time. `L` suffixes pin BIGINT literals, so the arithmetic (and
    # the signatures) are bit-identical to the Column form.
    aggs = [
        F.expr(f"min((x * {a}L + {b}L) % {_P}L) AS h{i}")
        for i, (a, b) in enumerate(_perm_params(num_hashes, seed))
    ]
    return hashed.groupBy("id").agg(*aggs)


def banded_buckets(sig: DataFrame, num_bands: int = 16) -> DataFrame:
    """Band a signature relation into (id, band, bucket) rows — one
    xxhash64 bucket per band over that band's hash columns."""
    hcols = [c for c in sig.columns if c.startswith("h")]
    rows_per_band = len(hcols) // num_bands
    # one SQL parse for the whole band array (round 12, same rationale
    # as minhash_signatures): SQL xxhash64 uses the same default seed
    # (42) as the Column API, so buckets are bit-identical
    parts = ", ".join(
        "struct({b} AS band, xxhash64({cols}) AS bucket)".format(
            b=bnd,
            cols=", ".join(
                "`{}`".format(c.replace("`", "``"))
                for c in hcols[bnd * rows_per_band : (bnd + 1) * rows_per_band]
            ),
        )
        for bnd in range(num_bands)
    )
    return sig.select(
        F.col("id"), F.explode(F.expr(f"array({parts})")).alias("bb")
    ).select(
        "id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )


def lsh_candidate_pairs(
    sig: DataFrame, num_bands: int = 16, max_bucket_size: int | None = None
) -> DataFrame:
    """Band the signature and bucket-join: docs sharing any band bucket
    become candidate pairs (a_id < b_id, distinct).

    Scale shape: explode to (band, bucket_hash) rows → self-join per
    bucket. Bucket sizes are the skew risk at 100 TB: one boilerplate
    phrase shared by 10M docs makes a bucket whose self-join is 10M² —
    ``max_bucket_size`` drops those degenerate buckets before the join
    (a doc pair that REALLY is a near-dup still meets in its other,
    non-boilerplate bands, so recall loss is confined to pairs similar
    only in the skewed content). AQE skew-join handles the moderate
    skew below the cap.
    """
    return candidate_pairs_from_bands(
        _cap_buckets(banded_buckets(sig, num_bands), max_bucket_size)
    )


def _cap_buckets(bands: DataFrame, max_bucket_size: int | None) -> DataFrame:
    """Drop degenerate (band, bucket) groups larger than the cap — one
    extra shuffle on the same keys the candidate join uses; the window
    count never materializes mega-bucket pairs."""
    if max_bucket_size is None:
        return bands
    wb = Window.partitionBy("band", "bucket")
    return (
        bands.withColumn("__bsz", F.count(F.lit(1)).over(wb))
        .filter(F.col("__bsz") <= max_bucket_size)
        .drop("__bsz")
    )


def candidate_pairs_from_bands(bands: DataFrame) -> DataFrame:
    """Distinct (a_id < b_id) pairs sharing any (band, bucket)."""
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("a_id"), F.col("b.id").alias("b_id"))
        .distinct()
    )


def minhash_lsh_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    num_hashes: int = 32,
    num_bands: int = 16,
    ngram: int = 3,
    seed: int = 42,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs ≥ threshold: MinHash-LSH candidates, exact
    Jaccard verify. Returns (a_id, b_id, jaccard).

    Shuffle-minimal shape: shingle-distinctness is per-document, so it
    runs as ``array_distinct`` inside the row (:func:`doc_shingles`) —
    no corpus-wide ``distinct()`` exchange — and the verify is two id
    joins + ``array_intersect`` over the cached arrays instead of a
    shingle-relation self-join + groupBy. At 100 TB the persists
    become checkpoints to cluster storage and the id joins are plain
    shuffle joins on the doc key.

    Default band geometry is 16 bands × 2 rows (32 hashes): at the
    operating threshold j=0.5 the candidate-recall is
    1-(1-j²)¹⁶ ≈ 0.99 (vs 0.65 for 16×4), planted near-dups at j≥0.8
    are missed with probability (1-j²)¹⁶ ≈ 8e-8, and the signature
    aggregation does half the hash work. The cost is a looser
    candidate filter at low similarity — the exact verify discards
    those, and ``max_bucket_size`` bounds the degenerate-bucket blowup
    a boilerplate-heavy corpus could produce."""
    # doc_shingles drops zero-shingle docs (they can never pair).
    # Cache HASHED long arrays, not shingle strings (round 10): the
    # deserialized string cache inflated ~7x past the storage fraction
    # at the sf100 tier (5M docs: GC 178 s, run/cpu gap 2.5 ks,
    # α=1.61 sf30→sf100) while long arrays fit; signatures stay
    # bit-identical (pre_hashed applies only mask/modulus) and the
    # exact verify intersects hash identities — the catalog-wide
    # 2^-64 collision convention, where a collision surfaces as a
    # loud oracle mismatch.
    dsh = doc_shingles(df, text_col, id_col, ngram).select(
        "id", F.transform("sh", lambda s: F.xxhash64(s)).alias("sh")
    ).persist()
    # Signatures via explode + codegen'd hash-aggregate: the K min()
    # aggregates run in whole-stage codegen, which beats a per-row
    # higher-order-function fold (interpreted lambdas allocate a
    # K-element array per shingle — measured 7× slower). The explode
    # never hits a corpus-wide distinct: array_distinct already ran
    # inside each row.
    # persist: the band self-join consumes the signature relation on
    # both sides — without it the explode + 64-min aggregation runs
    # twice (K+1 small columns per doc, cheap to cache).
    sig = minhash_signatures(
        dsh.select("id", F.explode("sh").alias("shingle")), num_hashes, seed,
        pre_hashed=True,
    ).persist()
    cand = lsh_candidate_pairs(sig, num_bands, max_bucket_size)
    return _jaccard_verify(cand, dsh).filter(F.col("jaccard") >= threshold)


def _jaccard_verify(cand: DataFrame, dsh: DataFrame) -> DataFrame:
    """Exact Jaccard for (a_id, b_id) candidates: two id-joins against
    the per-doc shingle arrays + ``array_intersect`` inside the row."""
    return (
        cand.join(dsh.alias("da"), F.col("a_id") == F.col("da.id"))
        .join(dsh.alias("db"), F.col("b_id") == F.col("db.id"))
        .select(
            "a_id",
            "b_id",
            F.size(F.array_intersect("da.sh", "db.sh")).alias("n_inter"),
            F.size("da.sh").alias("na"),
            F.size("db.sh").alias("nb"),
        )
        .select(
            "a_id",
            "b_id",
            (
                F.col("n_inter")
                / (F.col("na") + F.col("nb") - F.col("n_inter"))
            ).alias("jaccard"),
        )
    )


def minhash_lsh_dedup_incremental(
    old_df: DataFrame,
    new_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    num_hashes: int = 32,
    num_bands: int = 16,
    ngram: int = 3,
    seed: int = 42,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-dup pairs of a NEW document batch against an existing
    corpus PLUS within the batch itself — the daily LLM-pipeline
    operation "dedupe today's crawl against the index" — WITHOUT ever
    forming old-old pairs.

    The reference has no incremental operator (it reloads and re-runs
    its SPs wholesale per file, `2.2:209-217`); this is the dedup
    analogue of the bucket-scoped merge: work scales with the batch,
    not the corpus. Shape:

    - corpus side: shingle + signature + banding, ONE pass (in
      production these are precomputed and stored with the index —
      the relation here is exactly what you would persist);
    - candidates = new-bands ⋈ old-bands on (band, bucket) — the
      corpus relation is probed only on buckets the batch occupies
      (broadcast the batch side at real scale) — plus the batch's own
      ``lsh_candidate_pairs`` self-join (batch-sized, tiny);
    - exact-Jaccard verify over the union, same as the full dedup.

    Never materialized: old×old candidates — the quadratic term that
    makes full re-dedup of a 100 TB corpus per arriving batch a
    non-starter. Caller contract: old/new id sets are disjoint.
    Output: (a_id, b_id, jaccard), a_id < b_id, ≥ threshold.

    Cache lifetime: the shingle/band relations persisted here live
    until the consuming action finishes; sessions running many batches
    should ``spark.catalog.clearCache()`` between rounds (bench.py
    does; dedup_ingest_stream releases its own persists per batch).
    """
    ish, ib = lsh_index_of(old_df, text_col, id_col, num_hashes, num_bands, ngram, seed)
    nsh, nb = lsh_index_of(new_df, text_col, id_col, num_hashes, num_bands, ngram, seed)
    ish, nsh, nb = ish.persist(), nsh.persist(), nb.persist()
    return neardup_pairs_vs_index(
        ish, ib, nsh, nb, threshold=threshold, max_bucket_size=max_bucket_size
    )


def lsh_index_of(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    num_bands: int = 16,
    ngram: int = 3,
    seed: int = 42,
) -> tuple[DataFrame, DataFrame]:
    """The persistable LSH index of a corpus: ``(shingles, bands)`` —
    (id, sh array) and (id, band, bucket) relations. At scale these are
    what you STORE alongside the corpus (bucketed by (band, bucket) for
    the candidate join); every incremental dedup batch then reads the
    index instead of re-shingling the corpus (see
    streaming.runner.dedup_ingest_stream, which appends each batch's
    surviving index rows).

    ON-DISK FORMAT BREAK (round 10): ``sh`` changed from
    array<string> shingles to xxhash64'd array<bigint> (the ~7x cache
    shrink that fixed the sf100 OOM). An index persisted by a round-≤9
    build fails loudly on schema mismatch at the first post-upgrade
    batch append — REBUILD old indexes with this function; there is no
    in-place migration (re-shingling the corpus once is the migration).
    """
    # hashed long arrays, same rationale (and bit-identical signatures)
    # as minhash_lsh_dedup: ~7x smaller persisted/parquet index than
    # shingle strings, and the exact verify intersects hash identities
    dsh = doc_shingles(df, text_col, id_col, ngram).select(
        "id", F.transform("sh", lambda s: F.xxhash64(s)).alias("sh")
    )
    bands = banded_buckets(
        minhash_signatures(
            dsh.select("id", F.explode("sh").alias("shingle")), num_hashes, seed,
            pre_hashed=True,
        ),
        num_bands,
    )
    return dsh, bands


def neardup_pairs_vs_index(
    index_sh: DataFrame,
    index_bands: DataFrame,
    batch_sh: DataFrame,
    batch_bands: DataFrame,
    threshold: float = 0.5,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-dup pairs of a batch against a prebuilt index (cross) plus
    within the batch — the per-batch work of incremental dedup when the
    corpus index is already materialized. Index-side work is ONE probe
    of its band relation; nothing corpus-sized is recomputed."""
    ib = _cap_buckets(index_bands, max_bucket_size)
    # id-inequality matters: after a crash replay the batch's own docs
    # may already sit in the index, and a self-pair (x, x) would read
    # as "new duplicates old" and wipe the doc on re-delivery
    cross = (
        batch_bands.alias("n")
        .join(
            ib.alias("o"),
            (F.col("n.band") == F.col("o.band"))
            & (F.col("n.bucket") == F.col("o.bucket"))
            & (F.col("n.id") != F.col("o.id")),
        )
        .select(
            F.least(F.col("n.id"), F.col("o.id")).alias("a_id"),
            F.greatest(F.col("n.id"), F.col("o.id")).alias("b_id"),
        )
        .distinct()
    )
    within = candidate_pairs_from_bands(_cap_buckets(batch_bands, max_bucket_size))
    # no outer distinct: cross pairs carry exactly one index-side id and
    # within pairs two batch-side ids, so under the disjoint-id contract
    # the sets cannot overlap — deduplicating them again would re-shuffle
    # the whole candidate relation. (With overlapping ids — the replay
    # case — a pair may verify twice; downstream drop-sets distinct.)
    cand = cross.unionByName(within)
    dsh = index_sh.unionByName(batch_sh)
    return _jaccard_verify(cand, dsh).filter(F.col("jaccard") >= threshold)


def connected_components(
    edges: DataFrame,
    a_col: str = "a_id",
    b_col: str = "b_id",
    max_iter: int = 25,
    driver_threshold: int = 1_000_000,
) -> DataFrame:
    """Resolve near-duplicate PAIRS into clusters: (node, cluster_rep)
    where ``cluster_rep`` is the minimum node id in the node's connected
    component. The step a dedup pipeline runs after pair generation —
    "keep one document per near-dup cluster" needs the cluster, not the
    pairs.

    Two execution paths, picked by edge count:

    - ``<= driver_threshold`` edges: collect to a driver union-find.
      The edge list after near-dup thresholding is SPARSE — orders of
      magnitude smaller than the corpus — and a distributed iteration
      pays multiple whole-job round-trips per round, which dwarfs a
      union-find over a few hundred thousand tuples. The default
      threshold (1M edges ≈ 16 MB) is comfortably driver-safe.
    - above it: distributed min-label propagation — every node starts
      labeled with itself; each round takes the min of its own and its
      neighbors' labels; converges in O(component diameter) rounds.
      Each round is one join + one groupBy on the cached edge relation;
      only the per-round changed-count reaches the driver. At extreme
      scale the published refinement is large-star/small-star
      (Kiveris et al., "Connected Components in MapReduce"), which
      shortcuts long chains; the per-round plan shape is the same.

    Raises ``RuntimeError`` if the distributed path does not converge
    within ``max_iter`` — a diameter that large means the "clusters"
    are one giant hairball and the caller's threshold needs raising,
    not silent wrong labels.
    """
    e2 = edges.select(
        F.col(a_col).cast("bigint").alias("a"), F.col(b_col).cast("bigint").alias("b")
    ).persist()
    n_edges = e2.count()
    if n_edges <= driver_threshold:
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            root = x
            while parent.setdefault(root, root) != root:
                root = parent[root]
            while parent[x] != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        # collect(), not toLocalIterator(): the latter runs one job per
        # partition; the edge count is already bounded by the threshold
        for row in e2.collect():
            ra, rb = find(row.a), find(row.b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        e2.unpersist()
        # hand the assignment back as an Arrow local relation
        # (session.local_frame), not a tuple-list or pandas
        # createDataFrame: with arrow.pyspark.enabled off (the session
        # default) both are Python-RDD scans whose first aggregation
        # measured ~4s of per-session overhead. The explicit schema
        # keeps a pair-free corpus (every doc unique) a zero-row result.
        return local_frame(
            edges.sparkSession,
            [(n, find(n)) for n in parent],
            "node BIGINT, cluster_rep BIGINT",
        )
    edges = e2.select(F.col("a").alias(a_col), F.col("b").alias(b_col))
    # persist + materialize the symmetric edge relation: every round's
    # join consumes it, and without the cache each round would recompute
    # the caller's whole pair-generation pipeline (for near-dup edges
    # that is the full MinHash-LSH plan).
    sym = (
        edges.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .union(edges.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst")))
        .persist()
    )
    labels = (
        sym.select(F.col("src").alias("node")).distinct().withColumn("label", F.col("node"))
    ).persist()
    labels.count()
    # sym's cache is materialized by the count above; the upstream edge
    # cache has served its purpose — drop it so repeated dedup rounds
    # in one session don't accumulate dead cached blocks
    e2.unpersist()

    def propagate(lbl: DataFrame) -> DataFrame:
        nb = (
            sym.join(lbl, sym["src"] == lbl["node"])
            .groupBy("dst")
            .agg(F.min("label").alias("nb_min"))
        )
        return lbl.join(nb, lbl["node"] == nb["dst"], "left").select(
            "node",
            F.least(F.col("label"), F.coalesce("nb_min", "label")).alias("label"),
        )

    # Batch ROUNDS_PER_CHECK propagation rounds between materializations:
    # the convergence count is a full driver round-trip, and chaining a
    # few lazy rounds under one action amortizes it (the extra rounds
    # after actual convergence are no-ops on already-minimal labels).
    ROUNDS_PER_CHECK = 3
    for _ in range(0, max_iter, ROUNDS_PER_CHECK):
        new_labels = labels
        for _r in range(ROUNDS_PER_CHECK):
            new_labels = propagate(new_labels)
        new_labels = new_labels.persist()
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels.unpersist()
        labels = new_labels
        if changed == 0:
            sym.unpersist()
            return labels.select("node", F.col("label").alias("cluster_rep"))
    sym.unpersist()
    raise RuntimeError(f"connected_components did not converge in {max_iter} rounds")


# --------------------------------------------------------------------------
# SimHash


SIMHASH_BITS = 60


def simhash_signatures(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """60-bit SimHash per doc: bit b is the sign of sum(±1) over token
    hashes' bit b. Exploded tokens → 60 conditional sums → bit-OR fold.

    The token hash is the first 15 hex chars of md5 as a 60-bit integer
    (``conv(substr(md5(t),1,15),16,10)``) — deliberately md5, not
    xxhash64: md5 is reproducible in any SQL engine, so the whole
    SimHash pipeline carries a DuckDB oracle twin (q26) instead of a
    weaker rows-only check. 60 bits keeps the value strictly positive
    in a signed BIGINT (no sign-bit special case) at no meaningful
    precision loss vs 64.

    Zero-shuffle shape: the token list stays an ARRAY inside the row
    (the old explode → groupBy-with-60-aggregates plan paid a
    corpus-wide exchange of every token for the same arithmetic).
    Token multiplicity is preserved — ``transform`` over the split
    keeps duplicates exactly as the explode did.

    Per-bit form: the hash array is materialized once per row, then 60
    independent SCALAR folds count set bits per position (bit i set ⟺
    2·popcount_i > n, since sum_i = 2·popcount_i − n). An earlier
    single-fold form carried a 60-element array accumulator through
    zip_with — allocating two fresh arrays per token per row; the
    scalar folds do the same arithmetic allocation-free (measured
    ~15% faster and GC-flatter at sf0.1, bit-identical output).
    """
    folds = _sign_fold("__hs", SIMHASH_BITS)
    # spread first: one md5 per token + 60 scalar folds is the most
    # CPU-dense projection in the package and must not run at the
    # scan's row-group width (functions/spread.py)
    base = spread_scan(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__t"))
    )
    return base.select(
        "id",
        F.expr(
            "transform(split(__t, ' '),"
            " t -> cast(conv(substr(md5(t), 1, 15), 16, 10) as bigint))"
        ).alias("__hs"),
    ).select("id", F.expr(folds).alias("simhash"))


def hamming64(a, b):
    """Hamming distance between two BIGINT columns (bit_count of XOR)."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_distance: int = 10,
    num_bands: int | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash: band the 60-bit signature into
    ``num_bands`` chunks — by pigeonhole, a pair with Hamming distance
    ≤ num_bands - 1 agrees exactly on ≥1 band, so bucket-joining bands
    yields a complete candidate set for ``max_distance < num_bands`` —
    then verify true Hamming distance. Returns (a_id, b_id, hamming).

    ``num_bands`` defaults to ``max_distance + 1`` — the pigeonhole
    MINIMUM. Fewer bands is impossible (completeness breaks); more
    bands is strictly worse (each extra band narrows every bucket,
    and candidate volume grows ~ num_bands · n² / 2^band_width — at
    d=6 the old 12×5-bit default generated ~10× the candidates of
    7×{9,8}-bit). Bit-widths are distributed as evenly as possible
    over the 60 bits.

    Calibration on the test corpus: planted near-dups land at distance
    0-9, background pairs at median ~18 (word-level SimHash on short
    docs is noisy — expect some background pairs below 10; MinHash-LSH
    is the higher-precision choice, SimHash the cheaper signature).
    """
    if num_bands is None:
        num_bands = max_distance + 1
    if num_bands > SIMHASH_BITS:
        raise ValueError("num_bands cannot exceed the signature width")
    if num_bands <= max_distance:
        # pigeonhole completeness REQUIRES max_distance < num_bands: a
        # true pair could differ by one bit in every band, share no
        # bucket, and be silently dropped — an incomplete result, not a
        # slower one.
        raise ValueError(
            f"num_bands ({num_bands}) must exceed max_distance "
            f"({max_distance}) for a complete candidate set"
        )
    # persist: the banded self-join consumes the signature relation on
    # both sides — without it the signature fold runs twice.
    sig = simhash_signatures(df, text_col, id_col).persist()
    base, extra = divmod(SIMHASH_BITS, num_bands)
    widths = [base + (1 if i < extra else 0) for i in range(num_bands)]
    offsets = [sum(widths[:i]) for i in range(num_bands)]
    bands = [
        F.struct(
            F.lit(i).alias("band"),
            F.shiftrightunsigned(F.col("simhash"), offsets[i])
            .bitwiseAND(F.lit((1 << widths[i]) - 1))
            .alias("bucket"),
        )
        for i in range(num_bands)
    ]
    exploded = sig.select("id", "simhash", F.explode(F.array(*bands)).alias("bb")).select(
        "id", "simhash", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )
    a, b = exploded.alias("a"), exploded.alias("b")
    # Verify BEFORE deduplicating: the Hamming check is two integer ops
    # per raw candidate row, so running it on the multi-band duplicates
    # and distinct-ing only the survivors shuffles |true pairs| · bands
    # rows instead of the full candidate multiset (measured 3.4M → 90k
    # rows into the exchange on the boilerplate-heavy test corpus).
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("a_id"),
            F.col("b.id").alias("b_id"),
            hamming64(F.col("a.simhash"), F.col("b.simhash")).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_distance)
        .distinct()
    )


SIMHASH_WIDE_BITS = 120


def _sign_fold(arr: str, bits: int) -> str:
    """SQL for a SimHash limb: 60 scalar per-bit sign folds over a
    hash ARRAY column, OR-folded into one BIGINT (bit i set ⟺
    2·popcount_i > n). Shared by the 60-bit signature and each
    120-bit limb — same allocation-free scalar-fold form as
    :func:`simhash_signatures` (see its docstring for why scalar
    folds beat a zip_with array accumulator)."""
    return " + ".join(
        f"IF(2 * aggregate({arr}, 0L, (a, h) -> a + ((h >> {i}) & 1L)) > size({arr}),"
        f" shiftleft(1L, {i}), 0L)"
        for i in range(bits)
    )


def simhash_wide_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """120-bit SimHash per doc as TWO 60-bit BIGINT limbs
    (``sim_lo``, ``sim_hi``): limb token-hashes are md5 hex chars
    1-15 / 16-30 — BOTH halves of the digest, so the two limbs are
    independent and the whole signature is reproducible in any SQL
    engine (the q193 DuckDB oracle twin).

    Why 120 bits: band-bucket candidate volume goes ~bands·n²/2^w.
    The 60-bit geometry caps w at {9,8} for the d≤6 pigeonhole
    minimum of 7 bands — measured quadratic candidate growth at
    sf10→sf30 (BASELINE.md Round 8). At 120 bits the same 7 bands
    get w ≥ 17 ⇒ 131,072+ buckets/band, ~2^8 lower density, while
    the md5-derived bits keep the oracle exact. Two positive
    sub-2^60 limbs also avoid every signed-BIGINT sign-bit edge in
    both engines.

    One md5 per token: the digest string array materializes once,
    then each limb transforms its own 15-hex-char slice."""
    folds_lo = _sign_fold("__lo", 60)
    folds_hi = _sign_fold("__hi", 60)
    # spread first, as in :func:`simhash_signatures`
    base = spread_scan(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__t"))
    )
    return (
        base.select(
            "id",
            F.expr("transform(split(__t, ' '), t -> md5(t))").alias("__m"),
        )
        .select(
            "id",
            F.expr(
                "transform(__m, m -> cast(conv(substr(m, 1, 15), 16, 10) as bigint))"
            ).alias("__lo"),
            F.expr(
                "transform(__m, m -> cast(conv(substr(m, 16, 15), 16, 10) as bigint))"
            ).alias("__hi"),
        )
        .select(
            "id",
            F.expr(folds_lo).alias("sim_lo"),
            F.expr(folds_hi).alias("sim_hi"),
        )
    )


def hamming120(a_lo, a_hi, b_lo, b_hi):
    """Hamming distance between two (lo, hi) 120-bit signatures."""
    return F.bit_count(a_lo.bitwiseXOR(b_lo)) + F.bit_count(
        a_hi.bitwiseXOR(b_hi)
    )


def _wide_bucket(p: int, w: int):
    """Bits [p, p+w) of the logical 120-bit value held as limbs
    (sim_lo = bits 0-59, sim_hi = bits 60-119). The straddling case
    masks the hi limb BEFORE shifting left, so every intermediate
    stays < 2^w ≤ 2^18 — no signed-64 overflow under ANSI mode."""
    lo, hi = F.col("sim_lo"), F.col("sim_hi")
    mask = (1 << w) - 1
    if p + w <= 60:
        return F.shiftrightunsigned(lo, p).bitwiseAND(F.lit(mask))
    if p >= 60:
        return F.shiftrightunsigned(hi, p - 60).bitwiseAND(F.lit(mask))
    hi_part = F.shiftleft(
        hi.bitwiseAND(F.lit((1 << (p + w - 60)) - 1)), 60 - p
    )
    return F.shiftrightunsigned(lo, p).bitwiseOR(hi_part)


def simhash_wide_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_distance: int = 6,
    num_bands: int | None = None,
) -> DataFrame:
    """Near-dup pairs by 120-bit SimHash — :func:`simhash_pairs`' exact
    shape (band → bucket-join → Hamming verify before distinct) on the
    design-scale signature. Completeness is the same pigeonhole: bands
    partition all 120 bits, so Hamming ≤ num_bands - 1 forces ≥1 band
    agreement. Returns (a_id, b_id, hamming), hamming over 120 bits.

    Default 7 bands at d=6 (the pigeonhole minimum) gives widths
    {18,17×6}: worst-band density n²/2^17 vs the 60-bit layout's
    n²/2^8 — the ~250× cut that keeps candidate generation effectively
    linear at corpus scales where the 60-bit geometry has gone
    quadratic (BASELINE.md Round 8 measured 3.0B→23.8B raw candidates
    sf10→sf30)."""
    if num_bands is None:
        num_bands = max_distance + 1
    if num_bands > SIMHASH_WIDE_BITS:
        raise ValueError("num_bands cannot exceed the signature width")
    if num_bands <= max_distance:
        raise ValueError(
            f"num_bands ({num_bands}) must exceed max_distance "
            f"({max_distance}) for a complete candidate set"
        )
    sig = simhash_wide_signatures(df, text_col, id_col).persist()
    base, extra = divmod(SIMHASH_WIDE_BITS, num_bands)
    widths = [base + (1 if i < extra else 0) for i in range(num_bands)]
    offsets = [sum(widths[:i]) for i in range(num_bands)]
    bands = [
        F.struct(
            F.lit(i).alias("band"),
            _wide_bucket(offsets[i], widths[i]).alias("bucket"),
        )
        for i in range(num_bands)
    ]
    exploded = sig.select(
        "id", "sim_lo", "sim_hi", F.explode(F.array(*bands)).alias("bb")
    ).select(
        "id",
        "sim_lo",
        "sim_hi",
        F.col("bb.band").alias("band"),
        F.col("bb.bucket").alias("bucket"),
    )
    a, b = exploded.alias("a"), exploded.alias("b")
    # verify-before-distinct, as in simhash_pairs: Hamming is four
    # integer ops per raw candidate inside the join loop; only true
    # pairs reach the distinct exchange.
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("a_id"),
            F.col("b.id").alias("b_id"),
            hamming120(
                F.col("a.sim_lo"),
                F.col("a.sim_hi"),
                F.col("b.sim_lo"),
                F.col("b.sim_hi"),
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_distance)
        .distinct()
    )


def containment_pairs(
    sh: DataFrame, threshold: float, candidates: DataFrame | None = None
) -> DataFrame:
    """Asymmetric near-dup: shingle containment C(A→B) = |A∩B| / |A| —
    the quotation/partial-copy detector. A 50-shingle doc fully quoted
    inside a 5000-shingle doc scores C≈1.0 while its Jaccard is ≈0.01,
    so symmetric dedup never sees it; containment is the standard
    complement (Broder's resemblance vs containment). Emits pairs
    (a_id < b_id) where EITHER direction clears ``threshold``, both
    directions reported as float divisions of exact integers.

    The exact path is the COUNTING shape: shingle-key self-join
    streaming Σ df·(df-1)/2 slim match rows (16-byte keys, no arrays)
    into a pair-keyed count with map-side partial combine — the
    intersection size falls out of match multiplicity for free.

    This is a MEASURED keep, not a default (round 10, BASELINE.md):
    two q111-style alternatives were built, probed sf10→sf30 in
    exclusive same-day sessions, and REJECTED —

    - containment prefix filter + in-row array verify: the prefix is
      nearly toothless here (28.2M candidates for 25.6k true pairs at
      sf10 — containment admits no length filter, and the positional
      bound is weak when any size ratio can qualify), so it pays ~50M
      array_intersects and 3x q111's array-attach payload: α=1.64,
      sf30 287.8 s vs 73.8 s for this shape.
    - this shape + match-volume-derived join repartitioning (to
      bound the partial count's per-task hash table): the stats job
      plus twin posting re-exchanges cost more than they save —
      sf30 104.7 s vs 73.8 s, and executor memSpill did not drop.

    The ~134 GB sf30 spill SPILL_SF30_r09 attributed to this shape is
    sequential sort-fallback I/O that barely moves wall (the 212 s
    probe wall that motivated a restructure was in-session inflation
    — the same-day exclusive re-measure is 73.8 s, α=1.037); at the
    100 TB posture the match volume is linear in corpus size
    (max per-shingle df measured 25, Σ matches exactly x3 across the
    sf10→sf30 decade), so the counting join scales by the same
    argument as any first-class aggregation."""
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    if candidates is not None:
        inter = (
            F.broadcast(candidates)
            .join(a, F.col("a_id") == F.col("a.id"))
            .join(
                b,
                (F.col("b_id") == F.col("b.id"))
                & (F.col("a.shingle") == F.col("b.shingle")),
            )
            .groupBy("a_id", "b_id")
            .agg(F.count(F.lit(1)).alias("n_inter"))
        )
    else:
        inter = (
            a.join(
                b,
                (F.col("a.shingle") == F.col("b.shingle"))
                & (F.col("a.id") < F.col("b.id")),
            )
            .groupBy(F.col("a.id").alias("a_id"), F.col("b.id").alias("b_id"))
            .agg(F.count(F.lit(1)).alias("n_inter"))
        )
    return _containment_rates(inter, sizes, threshold)


def _containment_rates(
    inter: DataFrame, sizes: DataFrame, threshold: float
) -> DataFrame:
    """Attach both sizes to (a_id, b_id, n_inter) and emit the two
    float containment directions, filtered on either clearing
    ``threshold`` — the shared tail of the candidate-restricted and
    arbitrary-threshold paths."""
    out = (
        inter.join(
            F.broadcast(sizes.alias("sa")), F.col("a_id") == F.col("sa.id")
        )
        .join(F.broadcast(sizes.alias("sb")), F.col("b_id") == F.col("sb.id"))
        .select(
            "a_id",
            "b_id",
            (F.col("n_inter") / F.col("sa.n")).alias("c_ab"),
            (F.col("n_inter") / F.col("sb.n")).alias("c_ba"),
        )
    )
    return out.filter(
        (F.col("c_ab") >= threshold) | (F.col("c_ba") >= threshold)
    )


def crosscorpus_neardup_pairs(
    old_docs: DataFrame,
    new_docs: DataFrame,
    n: int = 5,
    threshold: float = 0.35,
    df_cap: int | None = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact-Jaccard near-dup pairs BETWEEN two corpora (never within
    either): dedup a new crawl batch against an existing corpus.
    Returns (new_id, old_id, n_shared, jaccard) for pairs at or above
    ``threshold``.

    Candidates come from shared shingles; with ``df_cap`` set, only
    informative shingles — document frequency <= cap across BOTH
    corpora — generate candidates (the stop-shingle rule: a
    navigation-chrome shingle shared by half the corpus would
    otherwise make the candidate join quadratic through that one hot
    key — observed as a >300 s hang on the 100k boilerplate-heavy
    smoke). The Jaccard VERIFY still counts every shared shingle,
    restricted to candidate pairs, so scores are exact; only pairs
    sharing NOTHING BUT ubiquitous shingles are not reported. At scale
    the old side's shingle relation is the persisted index
    (lsh_index_of shape): per batch, cost scales with the new side.
    Backs q86 (plans/corpus.py), whose DuckDB oracle applies the
    identical cap. Shingles are hashed to 64-bit keys right after the
    explode, so every shuffle/join carries 8-byte keys instead of the
    n-token shingle strings (a collision would surface as a loud
    deterministic parity mismatch, not a silent drift).

    Scale posture: with ``df_cap`` set, per-shingle candidate fan-out
    is bounded by the cap itself (cap² pairs per shingle worst case),
    so candidate generation is structurally skew-proof; the verify
    streams slim (pair, shingle) match keys into a partial-combined
    count. ``df_cap=None`` (the exact/test baseline) has no such
    bound and is only for bounded corpora where the uncapped contract
    is the point."""
    osh = (
        doc_shingles(old_docs, text_col, id_col, n)
        .select(F.col("id").alias("old_id"), F.explode("sh").alias("s0"))
        .select("old_id", F.xxhash64("s0").alias("s"))
        .persist()
    )
    nsh = (
        doc_shingles(new_docs, text_col, id_col, n)
        .select(F.col("id").alias("new_id"), F.explode("sh").alias("s0"))
        .select("new_id", F.xxhash64("s0").alias("s"))
        .persist()
    )
    # COUNTING shape, a measured round-10 keep (see the q71 story in
    # containment_pairs): an in-row array-verify variant (old-side
    # postings grouped per rare shingle carrying full arrays,
    # new-side postings array-attached, exact array_intersect at the
    # match site) was built and probed — at sf30 its array-carrying
    # match stream filled the container disk with sort spill before
    # finishing. Match multiplicity is high here (every shared rare
    # shingle re-carries both full arrays), while the counting shape
    # streams 16-byte match keys and gets the exact shared count from
    # multiplicity for free.
    osz = osh.groupBy("old_id").agg(F.count(F.lit(1)).alias("on"))
    nsz = nsh.groupBy("new_id").agg(F.count(F.lit(1)).alias("nn"))
    gen_n, gen_o = nsh, osh
    if df_cap is not None:
        rare = (
            nsh.select("s")
            .unionByName(osh.select("s"))
            .groupBy("s")
            .agg(F.count(F.lit(1)).alias("dfreq"))
            .filter(F.col("dfreq") <= df_cap)
            .select("s")
        )
        gen_n = nsh.join(rare, "s")
    cand = gen_n.join(gen_o, "s").select("new_id", "old_id").distinct()
    ov = (
        cand.join(nsh, "new_id")
        .join(osh, ["old_id", "s"])
        .groupBy("new_id", "old_id")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    jac = F.col("shared").cast("double") / (
        F.col("nn") + F.col("on") - F.col("shared")
    )
    return (
        ov.join(nsz, "new_id")
        .join(osz, "old_id")
        .select(
            "new_id",
            "old_id",
            F.col("shared").cast("bigint").alias("n_shared"),
            jac.alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def _pf_ranked(ts: DataFrame, id_col: str, token_col: str) -> DataFrame:
    """(id, __h, df, rk, n): the canonically-ranked token relation.

    Every set element is hashed to 64 bits ONCE: the set-dedup, all
    shuffles (df, prefix postings, candidate join) and the in-row
    intersect then carry 8-byte keys instead of shingle strings —
    the catalog-wide hash-key convention (q22/q44/q71/q77),
    collisions negligible at 2^-64 and bounded to one
    candidate/intersection miscount.

    df stays a groupBy + equi-join (NOT a window over __h): the
    aggregate gets map-side partial combine and AQE can skew-split
    the join, so one stop-shingle-hot hash cannot pile a whole
    posting list into a single task at scale. The per-SET numbers
    (rk, n) DO come from windows — an id partition is bounded by
    set size, and computing n beside rk in the same exchange
    replaces the former separate size-aggregate + broadcast join.
    The result leaves that window hash-partitioned by id, so the
    verify stage's per-set array aggregation reuses the exchange
    for free. (df, hash) is a GLOBAL canonical order — the prefix
    property only needs every set sorted by the same total order.

    rk and n share ONE window spec (round 12): n counts over the
    rk spec's full frame (UNBOUNDED PRECEDING..FOLLOWING), which is
    the partition row count regardless of ordering — identical to
    the former unordered ``partitionBy(id)`` count — but because
    both functions now agree on (partition, order), Catalyst plans
    ONE Window operator instead of two stacked ones: one pass over
    the ranked relation, not two (plans/r12 q111: 2 Window → 1)."""
    th = ts.select(id_col, F.xxhash64(token_col).alias("__h")).distinct()
    df_rel = th.groupBy("__h").agg(F.count(F.lit(1)).alias("df"))
    w_rk = Window.partitionBy(id_col).orderBy("df", "__h")
    w_n = w_rk.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        th.join(df_rel, "__h")
        .withColumn("rk", F.row_number().over(w_rk))
        .withColumn("n", F.count(F.lit(1)).over(w_n).cast("bigint"))
    )


def _pf_prefix_pred(t10: int):
    """The AllPairs prefix-membership predicate over (rk, n):
    rank within the set's rarest ``n - ceil(t*n) + 1`` tokens.
    Integer ceil: `/` here would be FLOAT division, silently
    shrinking the prefix by one for most set sizes — a
    false-negative bug the hypothesis completeness test catches.
    Shared by :func:`_pf_prefixes` and the partition estimator so
    the two can never drift."""
    return F.expr(f"rk <= n - ({t10} * n + 9) div 10 + 1")


def _pf_prefixes(thw: DataFrame, t10: int, id_col: str) -> DataFrame:
    """The AllPairs prefix postings: each set's rarest
    ``n - ceil(t*n) + 1`` tokens in canonical order."""
    return thw.filter(_pf_prefix_pred(t10)).select(id_col, "__h", "n", "rk")


def _pf_candidates(pfx: DataFrame, t10: int, id_col: str) -> DataFrame:
    """SUPERSEDED LIVE PATH — kept as the measured alternative for
    tools/q111_probe.py and the round-9 attribution artifacts; the
    production pipeline verifies inline (:func:`_pf_verify_inline`)
    and never materializes this relation.

    (a_id, b_id) candidate pairs from the prefix self-join, with
    two exact per-match prunes (no false negatives):

    1. AllPairs LENGTH filter: J(a,b) <= min(|a|,|b|)/max(|a|,|b|),
       so a pair can pass only when 10*min >= t10*max — applied
       per-match, BEFORE the per-pair shuffle.
    2. PPJoin POSITIONAL filter: a match on hash h at positions
       (ra, rb) of the two canonically-sorted sets bounds the
       intersection — shared elements ordered before h sit below ra
       AND below rb, shared elements after h above both — so
       inter <= least(ra,rb) + least(na-ra, nb-rb). Every match
       yields a valid bound; MIN over a pair's matches is the
       tightest. The pair survives only if that bound can still
       reach the threshold: J >= t10/10 <=> (10+t10)*inter >=
       t10*(na+nb). The groupBy replaces the former `.distinct()`
       (same 16-byte-key shuffle, three tiny agg columns), so the
       positional prune costs nothing extra and cuts the pairs the
       two array-attach verify joins must materialize."""
    ub = F.least("ra", "rb") + F.least(
        F.col("na") - F.col("ra"), F.col("nb") - F.col("rb")
    )
    return (
        pfx.select(
            F.col(id_col).alias("a_id"),
            "__h",
            F.col("n").alias("na"),
            F.col("rk").alias("ra"),
        )
        .join(
            pfx.select(
                F.col(id_col).alias("b_id"),
                "__h",
                F.col("n").alias("nb"),
                F.col("rk").alias("rb"),
            ),
            "__h",
        )
        .filter(
            (F.col("a_id") < F.col("b_id"))
            & (10 * F.least("na", "nb") >= t10 * F.greatest("na", "nb"))
        )
        .groupBy("a_id", "b_id")
        .agg(
            F.min(ub).alias("ub"),
            F.first("na").alias("na"),
            F.first("nb").alias("nb"),
        )
        .filter((10 + t10) * F.col("ub") >= t10 * (F.col("na") + F.col("nb")))
        .select("a_id", "b_id")
    )


def _pf_sets(thw: DataFrame, id_col: str) -> DataFrame:
    """(id, arr, n): each set as one sorted hash ARRAY row.
    Aggregating the ranked relation (already hash-partitioned by id
    from the window stage) needs NO new exchange — Catalyst sees the
    partitioning."""
    return thw.groupBy(id_col).agg(
        F.sort_array(F.collect_list("__h")).alias("arr"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )


def _pf_verify(
    cand: DataFrame, sets: DataFrame, t10: int, id_col: str
) -> DataFrame:
    """SUPERSEDED LIVE PATH (round 9) — the pair-keyed verify whose
    array-carrying exchanges the sf30 task metrics attributed the
    round-8 α≈1.5 to; kept for tools/q111_probe.py comparisons.
    Production verifies inline: :func:`_pf_verify_inline`.

    Attach each side's sorted hash array and intersect in-row —
    near-dup corpora make |candidates| × |set| token-explode joins
    the dominant cost (16M rows at sf0.1), while two array-attach
    joins + an in-row set op stay |candidates|-sized.

    The verify joins move |candidates| rows carrying ~|set|-element
    arrays — the in-memory expansion is ~10x the shuffle bytes, so
    the session's cores-sized shuffle partitioning spills long
    before AQE's byte-based advisory notices (measured at the sf10
    tier: 85 s -> 25 s). Partition the pair relation explicitly at
    8x parallelism and build the hash side from the |docs|-sized
    sets relation (shuffle_hash: no 19M-row sort).

    ``SPARK_GRAFT_SETSIM_VERIFY_PARTITIONS`` overrides the verify
    partition count — the per-task working set here is
    (candidates x array bytes) / nver, so a deployment sizes nver to
    its executor memory; the round-9 sf30 probes use it to bound
    allocation pressure on the fixed 32-thread/8g local box."""
    import os as _os

    _env = _os.environ.get("SPARK_GRAFT_SETSIM_VERIFY_PARTITIONS", "")
    nver = (
        int(_env)
        if _env
        else sets.sparkSession.sparkContext.defaultParallelism * 8
    )
    return (
        cand.repartition(nver, "a_id")
        .join(
            sets.select(
                F.col(id_col).alias("a_id"),
                F.col("arr").alias("a_arr"),
                F.col("n").alias("na"),
            ).hint("shuffle_hash"),
            "a_id",
        )
        .repartition(nver, "b_id")
        .join(
            sets.select(
                F.col(id_col).alias("b_id"),
                F.col("arr").alias("b_arr"),
                F.col("n").alias("nb"),
            ).hint("shuffle_hash"),
            "b_id",
        )
        .withColumn(
            "inter",
            F.size(F.array_intersect("a_arr", "b_arr")).cast("bigint"),
        )
        .withColumn(
            "uni", (F.col("na") + F.col("nb") - F.col("inter")).cast("bigint")
        )
        .filter(10 * F.col("inter") >= t10 * F.col("uni"))
        .select("a_id", "b_id", "inter", "uni")
    )


def _pf_verify_inline(
    thw: DataFrame, t10: int, id_col: str
) -> DataFrame:
    """Verify INSIDE candidate generation — the round-9 scale shape.

    The pair-keyed verify (:func:`_pf_verify`) exchanges every
    candidate twice, the second time carrying the attached hash
    array: 26 of the 31 exchanged GB at sf30, and the stage the sf30
    task metrics attribute the α≈1.5 wall to (allocation stalls on a
    fixed-heap box; Q111_VOLUMES_r09 / SPILL_SF30_r09 artifacts).
    Since the measured candidate count ≈ the raw match count at every
    tier (the positional filter prunes <10% on this corpus), running
    the exact intersect PER MATCH costs almost no extra CPU — and
    attaching both arrays at the POSTING level first eliminates
    pair-keyed exchanges entirely:

    - arrays join onto prefix postings BY ID — co-partitioned, no new
      shuffle — and the array-attached posting relation is exchanged
      ONCE, grouped per hash (:func:`_pf_verify_inline_n`: in-row
      pair expansion, no self-join);
    - the length filter, per-match positional short-circuit, exact
      ``array_intersect`` and threshold all pipeline in the stage
      reading that one exchange — match rows never hit another one;
    - only rows passing the EXACT filter reach the final distinct
      (|true pairs| x match multiplicity — the simhash_pairs
      verify-before-distinct discipline).

    The per-match positional test accepts a superset of the old
    min-over-matches test, so some failing pairs compute an
    intersect they would have skipped — and are then rejected by the
    exact threshold; the result set is identical (oracle-pinned).
    Per-task memory is one posting partition — bounded by the
    partition count, not by candidate volume — and the partition
    count is DATA-DERIVED (``nppart``): the attached arrays inflate
    working sets ~10x past shuffle bytes, so both a cores-sized
    default (sf30: 293 s spilling at 32 partitions vs 179 s at 256)
    and any FIXED count (256 cost sf10 30→38 s in pure overhead)
    mis-size some tier. ``nppart`` targets ~48 MB of array-attached
    posting payload per task from one bounded single-row aggregate
    over the persisted ranked relation — more data means more tasks,
    never bigger tasks (the 100 TB posture)."""
    nppart, est_bytes = _verify_partitions(thw, t10)
    # re-spread the slim ranked relation BEFORE the array attach when
    # the payload is big: the attach join's tasks are the MAP side of
    # the array-attached posting exchange, and at the session's
    # cores-sized partitioning each map task pushes ~payload/cores
    # bytes through the shuffle writer's bounded sort buffer —
    # 500 MB/task at sf30 = a forced multi-pass external merge
    # (measured: 17.6 GB disk spill, 3.2 ks of I/O-wait in that one
    # stage; re-spreading cut the sf30 wall 221 s -> 138 s). Below
    # ~256 MB/map-task the write is single-pass already and the slim
    # re-exchange is pure overhead (sf10 measured 34.7 s -> 40.2 s
    # when applied unconditionally), so it is gated on the estimate.
    cores = thw.sparkSession.sparkContext.defaultParallelism
    if est_bytes > cores * (256 << 20):
        # nppart for BOTH the re-spread and the grouped exchange — a
        # round-10 A/B at sf100 kept it: decoupling the map side to a
        # 256 MB single-pass target (184 tasks) measured 849.7 s vs
        # 533.1 s for this coupled shape (the fat map tasks hit the
        # shuffle-writer alloc wall the round-9 gate exists to avoid),
        # while at sf30 the decoupled variant was ~17% faster — the
        # coupled 48 MB tasks are the right point at the tier where it
        # matters (SCALE_SF100_r10.json, BASELINE.md Round 10).
        thw = thw.repartition(nppart, id_col)
    pfx = _pf_prefixes(thw, t10, id_col)
    sets = _pf_sets(thw, id_col)
    return _pf_verify_inline_n(pfx, sets, t10, id_col, nppart)


def _verify_partitions(thw: DataFrame, t10: int) -> tuple[int, float]:
    """(partition count, estimated payload bytes) for the
    array-attached posting exchange: one single-row aggregate
    (bounded driver fetch) over the persisted ranked relation —
    prefix postings carry their doc's full hash array, ~8 bytes x
    avg set size each. The count targets ~48 MB of payload per task,
    floored at the session parallelism and capped at 64x (runaway
    guard). ``SPARK_GRAFT_SETSIM_VERIFY_PARTITIONS`` overrides the
    count (the bytes estimate is still computed — it also gates the
    map-side re-spread)."""
    import os as _os

    cores = thw.sparkSession.sparkContext.defaultParallelism
    # count/avg over PREFIX rows only (the shared _pf_prefix_pred),
    # posting-weighted: each posting row carries its own doc's array,
    # so the posting-weighted mean set size is exactly the bytes
    # estimator
    is_pfx = _pf_prefix_pred(t10)
    row = thw.agg(
        F.count(F.when(is_pfx, 1)).alias("n_post"),
        F.avg(F.when(is_pfx, F.col("n"))).alias("avg_n"),
    ).collect()[0]
    n_post, avg_n = int(row["n_post"] or 0), float(row["avg_n"] or 0.0)
    est_bytes = n_post * (40.0 + 8.0 * avg_n)
    _env = _os.environ.get("SPARK_GRAFT_SETSIM_VERIFY_PARTITIONS", "")
    if _env:
        return int(_env), est_bytes
    n = max(cores, min(cores * 64, int(est_bytes // (48 << 20)) + 1))
    return n, est_bytes


def _pf_verify_inline_n(
    pfx: DataFrame, sets: DataFrame, t10: int, id_col: str, nppart: int
) -> DataFrame:
    # A posting SELF-JOIN here would exchange the array-attached
    # relation TWICE: AQE's exchange reuse does not fire across the
    # self-join's alias-rewritten subtrees (sf30 task metrics: twin
    # 16 GB exchange-write stages), and caching doesn't help either —
    # the dedup rewrite renames the join key on one side, so the
    # planner cannot see the cached partitioning and re-exchanges
    # both sides. Grouping postings per hash needs ONE exchange and
    # no join at all: pairs expand IN-ROW over the bucket's posting
    # array. Bucket size is bounded by construction — a token lands
    # in a doc's prefix only when it is among that doc's RAREST
    # (global df order), so hot hashes are structurally excluded
    # from prefixes (measured max posting length 10 at sf0.1/sf10/
    # sf30); a corpus degenerate enough to produce a giant prefix
    # bucket makes the CONTRACT OUTPUT itself quadratic, which no
    # exact all-pairs algorithm survives.
    parr = pfx.join(sets.select(id_col, "arr"), id_col).select(
        "__h", F.struct(id_col, "n", "rk", "arr").alias("p")
    )
    # array_sort on the struct array orders by the leading field
    # (id), so pair expansion over i<j yields a.id < b.id directly
    grouped = (
        parr.repartition(nppart, "__h")
        .groupBy("__h")
        .agg(F.array_sort(F.collect_list("p")).alias("ps"))
    )
    pair = F.explode(
        F.expr(
            "flatten(transform(ps, (x, i) ->"
            " transform(slice(ps, i + 2, size(ps)), y -> struct(x, y))))"
        )
    ).alias("pr")
    ub = F.least("pr.x.rk", "pr.y.rk") + F.least(
        F.col("pr.x.n") - F.col("pr.x.rk"),
        F.col("pr.y.n") - F.col("pr.y.rk"),
    )
    na, nb = F.col("pr.x.n"), F.col("pr.y.n")
    return (
        grouped.select(pair)
        .filter(
            (10 * F.least(na, nb) >= t10 * F.greatest(na, nb))
            & ((10 + t10) * ub >= t10 * (na + nb))
        )
        .withColumn(
            "inter",
            F.size(F.array_intersect("pr.x.arr", "pr.y.arr")).cast("bigint"),
        )
        .withColumn("uni", (na + nb - F.col("inter")).cast("bigint"))
        .filter(10 * F.col("inter") >= t10 * F.col("uni"))
        .select(
            F.col(f"pr.x.{id_col}").alias("a_id"),
            F.col(f"pr.y.{id_col}").alias("b_id"),
            "inter",
            "uni",
        )
        .distinct()
    )


def prefix_filtered_pairs(
    ts: DataFrame,
    id_col: str = "doc_id",
    token_col: str = "tok",
    threshold_tenths: int = 6,
) -> DataFrame:
    """(a_id, b_id, inter, uni): all pairs whose set Jaccard is >=
    threshold_tenths/10 — EXACT, via the AllPairs/PPJoin prefix filter
    (Bayardo et al. 2007, the q111 contract): a pair can reach the
    threshold only if it shares an element among each set's rarest
    ``|s| - ceil(t*|s|) + 1`` tokens (global-df order), so candidate
    generation joins short prefix postings and the exact intersection
    verify runs only on candidates. No false negatives — the exact
    complement to :func:`minhash_lsh_dedup`'s probabilistic recall.

    ``ts`` is an (id, token) multiset relation (duplicates are fine —
    the operator dedups after hashing, so the distinct shuffles 8-byte
    keys, not token strings). Use shingles, not raw tokens, when the
    vocabulary is small — a tiny vocabulary makes token sets
    degenerate and the filter toothless. Integer ceil
    ((t*n + 9) // 10) and a cross-multiplied Jaccard gate keep the
    whole operator float-free.

    Implemented tiers: AllPairs prefix filtering, the AllPairs length
    filter (size-ratio bound at candidate generation), and the PPJoin
    positional filter (per-match overlap upper bound) — all exact
    prunes applied per match, before the exact intersect, inside the
    one grouped posting exchange of :func:`_pf_verify_inline`
    (see BASELINE.md's Round-9 q111 notes).

    NOT fully lazy, intentionally: CONSTRUCTING the returned
    DataFrame runs one bounded single-row aggregate over the ranked
    relation (:func:`_verify_partitions` — the exchange partition
    count and the map-side re-spread gate are data-derived, and both
    are plan-build-time decisions), and leaves the ranked relation
    persisted for the consuming action. Plan-shape tools that only
    ``explain()`` therefore pay one stats job per call; callers
    rebuilding the same relation repeatedly in one session should
    hold onto the returned DataFrame rather than re-invoking."""
    t10 = threshold_tenths
    # persist: the prefix postings and the per-set arrays both derive
    # from the ranked relation — one materialization of the window.
    thw = _pf_ranked(ts, id_col, token_col).persist()
    return _pf_verify_inline(thw, t10, id_col)
