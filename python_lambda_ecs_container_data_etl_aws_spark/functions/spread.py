"""Adaptive scan spreading for expansion-heavy operators.

Single-file, single-row-group inputs (the driver's testdata shape —
and any small landing file) scan as ONE non-empty task, so an
expensive per-row expansion (shingling, signature folds, n-gram
explode, per-replicate hashing) runs on one core regardless of
cluster size: parquet only assigns whole ROW GROUPS to tasks, so
``spark.sql.files.maxPartitionBytes`` produces extra *empty* splits,
never extra parallelism, and ``df.rdd.getNumPartitions()`` over-reports
the effective width (round-11 finding: lineitem.parquet scans as 22
splits of which 21 are empty — the 8-core catalog ran as fast as the
32-core one because every heavy scan stage was serial).

``spread_scan`` derives EFFECTIVE scan parallelism from the parquet
footers (row-group count across the scan's input files) and
repartitions only when (a) the frame is still a bare scan
(projections/filters only — anything downstream of a join/aggregate/
repartition already runs at shuffle parallelism and passes through
untouched), and (b) the effective width is below half the session's
slots. A real partitioned table at scale has thousands of row groups
/ files and passes through after one bounded footer read, so no
data-sized shuffle is ever introduced; the shuffle it does add moves
the raw (pre-expansion) rows — the cheapest relation in the pipeline.
Guide §2.5 ("input skew: one huge unsplittable file → repartition
immediately after the read").

The decision is deliberately metadata-only (analyzed plan string +
parquet footers, ~ms): an earlier variant fell back to
``df.rdd.getNumPartitions()``, whose full physical planning ran inside
every timed query build and cost more than the exchange it avoided.

Cost model for call sites: the added round-robin exchange costs one
AQE stage (~0.2-0.3 s at interactive scale, plus the payload shuffle);
it pays for itself only when the serialized expansion work exceeds
that. Measured round 11 (sf0.1, local[32], best-of-2): big wins on the
md5-per-token signature folds (q193 2.84→1.46 s) and the ×32
replicate explode (q180 5.30→1.60 s); consistent LOSSES on light
shingle expansions (q44/q64/q70/q77/q85 +0.3-1.0 s) — so spreading
stays opt-in per operator, gated by each site's measured verdict, not
blanket-on in the shared shingle builders.
"""

from __future__ import annotations

import re
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame

# Logical operators whose presence means the frame is no longer a bare
# scan: its parallelism is governed by an exchange (or by a caller's
# explicit repartition/coalesce), so the row-group heuristic would
# double-count and a second shuffle could buy nothing. Matched as the
# PREFIX of each plan line's node name (round-11 ADVICE: raw substring
# containment over the whole analyzed string also scanned column names
# and aliases — an identifier containing 'Join' or 'Sort' silently
# disabled spreading), with Sample and Local/GlobalLimit added: a
# sampled or limited frame is row-REDUCING, so repartitioning after it
# would shuffle rows the caller is about to drop.
_NON_SCAN_NODES = (
    "Repartition",
    "Join",
    "Aggregate",
    "Window",
    "Deduplicate",
    "Sort",
    "Union",
    "Generate",
    "Sample",
    "GlobalLimit",
    "LocalLimit",
)

# First alphabetic token of a plan line, past the tree-drawing margin
# ("   :- ", "+- ", "|  ") and the unresolved-node quote.
_NODE_HEAD = re.compile(r"^[\s:+|-]*'?([A-Za-z]+)")


def _has_non_scan_node(analyzed: str) -> bool:
    for line in analyzed.splitlines():
        m = _NODE_HEAD.match(line)
        if m and m.group(1).startswith(_NON_SCAN_NODES):
            return True
    return False

# Footer reads are driver-side metadata I/O (~ms each); a scan with
# more files than this is parallel enough that reading them is waste.
_MAX_FOOTER_READS = 64


def _row_group_count(files: list[str]) -> int | None:
    """Total parquet row groups across ``files`` (the reader's hard
    upper bound on non-empty scan tasks), or None when any file is
    not local parquet (decision falls through to pass-through)."""
    try:
        import pyarrow as pa
        import pyarrow.parquet as pq
    except ImportError:  # pragma: no cover - pyarrow ships with pyspark
        return None
    total = 0
    for uri in files:
        parsed = urlparse(uri)
        if parsed.scheme not in ("", "file") or not uri.endswith(".parquet"):
            return None
        try:
            total += pq.ParquetFile(
                unquote(parsed.path) or uri
            ).metadata.num_row_groups
        except (OSError, pa.ArrowInvalid):
            return None
    return total


def spread_scan(df: DataFrame) -> DataFrame:
    """Repartition a narrow bare scan across the session's cores before
    expensive per-row expansion; pass through anything already
    effectively parallel (≥ half the slots) or already downstream of a
    shuffle. Metadata-only decision — never triggers physical planning
    or a job."""
    sc = df.sparkSession.sparkContext
    slots = sc.defaultParallelism
    # a 1-slot session has nothing to spread over — repartition(1)
    # would add a shuffle that can buy no parallelism
    if slots <= 1:
        return df
    threshold = max(2, slots // 2)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    if _has_non_scan_node(analyzed):
        return df
    files = df.inputFiles()
    if not files or len(files) > _MAX_FOOTER_READS:
        # no files (in-memory frame: parallelized at creation) or
        # already file-parallel
        return df
    groups = _row_group_count(files)
    if groups is not None and groups < threshold:
        return df.repartition(slots)
    return df
