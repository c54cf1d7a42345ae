"""Every declared query must hash-match its DuckDB oracle (t2 stand-in).

Run at sf0.001 by default; set PARITY_SF_DIR=/root/testdata/sf0.01 for
the driver-scale check.
"""

from __future__ import annotations

import pytest

from python_lambda_ecs_container_data_etl_aws_spark.plans import ORACLE, QUERIES
from tests.conftest import SF_DIR
from tests.parity import compare


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(spark, duck, name):
    df = QUERIES[name](spark, SF_DIR)
    if name not in ORACLE:
        assert df.count() >= 0  # rows-only check for non-SQL-expressible ops
        return
    compare(df, duck, ORACLE[name], name)


def test_every_oracle_has_query():
    assert set(ORACLE) <= set(QUERIES)


# Round-3 verdict item 2: the driver's canonicalizer renders DuckDB
# HUGEINT output float-style, so an oracle whose SELECT list types as
# HUGEINT hash-mismatches even when values agree (q46/q56 in round 3).
# tests/parity.py canonicalizes fetched *Python* values, which hides the
# drift locally — lint the bound output types instead so the whole bug
# class is caught at test time.
_BANNED_ORACLE_TYPES = {"HUGEINT", "UHUGEINT"}


@pytest.mark.parametrize("name", sorted(ORACLE))
def test_oracle_output_types(duck, name):
    rel = duck.sql(ORACLE[name])
    bad = [
        (col, str(typ))
        for col, typ in zip(rel.columns, rel.types)
        if str(typ).upper() in _BANNED_ORACLE_TYPES
    ]
    assert not bad, (
        f"{name}: oracle emits driver-unsafe column types {bad}; "
        "wrap the expression in CAST(... AS BIGINT)"
    )


def test_embedding_dimension_contract():
    """Several oracles hardcode the 64-dim embedding layout (range(1,65)
    laterals in q23/q29/q48/q74, the literal 64-wide Rademacher matrix in
    q65/q66). If testdata ever changes dimension, DuckDB would silently
    read NULL components (SUM skips them) — fail loudly here instead."""
    import glob

    import duckdb

    con = duckdb.connect()
    for sf_dir in sorted(glob.glob("/root/testdata/sf*")):
        lo, hi = con.execute(
            "SELECT MIN(len(embedding)), MAX(len(embedding)) "
            f"FROM '{sf_dir}/embeddings.parquet'"
        ).fetchone()
        assert (lo, hi) == (64, 64), f"{sf_dir}: embedding dims [{lo},{hi}] != 64"


def _load_entry_module():
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", "/root/repo/__spark_entry__.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_driver_window_covers_contract_and_unverified():
    """The driver hash-checks only the FIRST 50 queries() entries: the
    window must always contain the q01-q16 contract plus every query
    that has no green CORRECTNESS row yet (window-rotation discipline,
    __spark_entry__.py). Round 5: the tiers are DERIVED from the
    committed CORRECTNESS_r*.json artifacts, so verify the derivation's
    invariants rather than hand-maintained lists."""
    mod = _load_entry_module()
    never, single, multi = mod._tiers(QUERIES)
    ordered = list(mod.queries())
    win = ordered[:50]
    # driver order is a permutation of the catalog — nothing dropped
    assert sorted(ordered) == sorted(QUERIES), "driver order loses queries"
    # tiers partition the non-contract catalog
    contract = set(mod._CONTRACT)
    assert contract <= set(QUERIES), "contract names missing from catalog"
    noncontract = set(QUERIES) - contract
    assert set(never) | set(single) | set(multi) == noncontract
    assert not (set(never) & set(single)) and not (set(single) & set(multi))
    # contract always heads the window
    missing_contract = [n for n in mod._CONTRACT if n not in win]
    assert not missing_contract, f"window misses contract={missing_contract}"
    # never-verified names may overflow the window ONLY when it is
    # fully packed with contract + never-verified entries, and the
    # overflow must be exactly the TAIL of the (catalog-registration-
    # ordered) never list — deferred to next round, never silently
    # dropped from the middle
    missing_unverified = [n for n in never if n not in win]
    if missing_unverified:
        assert len(mod._CONTRACT) + len(never) > 50, (
            f"window has free slots yet misses unverified={missing_unverified}"
        )
        assert missing_unverified == never[-len(missing_unverified):], (
            f"overflow is not the rotation tail: {missing_unverified}"
        )
        assert all(n not in win for n in single), (
            "single-green entries occupy window slots while unverified overflow"
        )
    # single-green entries in the window are the OLDEST greens first —
    # the ones with the longest gap since their last driver row
    in_win_singles = [n for n in win if n in set(single)]
    assert in_win_singles == single[: len(in_win_singles)], (
        "window singles are not the oldest-green prefix"
    )


def test_green_round_derivation_matches_artifacts():
    """Spot-check _green_rounds against known artifact history: the
    round-3 reds q46/q56 must show green first in round 4 (and never
    in rounds 1-3); rows-only queries (q27/q35, err='no_oracle')
    count as verified; contract queries are green in every round.

    Membership semantics on purpose: the window rotation re-greens
    old families in later rounds, so any query may accumulate extra
    green rounds as new CORRECTNESS_r*.json artifacts land — exact
    list equality would break after every future rotation."""
    mod = _load_entry_module()
    greens = mod._green_rounds()
    assert 4 in greens["q46_pack_contexts"]
    assert not {1, 2, 3} & set(greens["q46_pack_contexts"])
    assert 4 in greens["q56_pii_scrub"]
    assert not {1, 2, 3} & set(greens["q56_pii_scrub"])
    assert 1 in greens["q27_ann_lsh_topk"] and 2 in greens["q27_ann_lsh_topk"]
    assert 1 in greens["q35_ann_ivf_topk"]
    assert set(greens["q01_ingest_count"]) >= {1, 2, 3, 4}
    # round-1's q26 red (no_oracle then) still yields a verified row —
    # rows-only semantics — plus hash greens from round 2 on
    assert {1, 2} <= set(greens["q26_simhash_neardup"])


def test_catalog_runs_on_empty_tables(spark, tmp_path):
    """Empty-input hardening: every query must execute cleanly on
    zero-row tables (ANSI sequence bounds, null maxima, empty prefix
    sums, largest-remainder allocation over no strata...) — the only
    allowed exception is q35's documented empty-corpus ValueError.
    Crashes on empty partitions are routine at 100 TB (a filter can
    zero out any split)."""
    import os

    dst = str(tmp_path / "empty_sf")
    os.makedirs(dst)
    for t in [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]:
        spark.read.parquet(f"{SF_DIR}/{t}.parquet").limit(0).coalesce(
            1
        ).write.parquet(f"{dst}/{t}.parquet")
    crashes = []
    for name in sorted(QUERIES):
        try:
            QUERIES[name](spark, dst).collect()
        except ValueError:
            if name != "q35_ann_ivf_topk":
                crashes.append((name, "ValueError"))
        except Exception as e:
            crashes.append((name, type(e).__name__))
        spark.catalog.clearCache()
    assert not crashes, crashes


def test_load_events_fails_loudly_on_unreadable_file(spark, tmp_path, monkeypatch):
    """An events file Spark cannot read must raise, not fall back to a
    whole-table load through the driver: with nanosAsLong unset, a
    TIMESTAMP(NANOS) ``ts`` is PARQUET_TYPE_ILLEGAL to Spark."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import SparkSession

    from python_lambda_ecs_container_data_etl_aws_spark import catalog

    sf = tmp_path / "sf_nanos"
    sf.mkdir()
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([1], pa.int64()),
                "ts": pa.array([1_700_000_000_123_456_789], pa.timestamp("ns")),
                "user_id": pa.array([7], pa.int64()),
                "event_type": ["view"],
                "value": [1.5],
                "props": ["{}"],
            }
        ),
        str(sf / "events.parquet"),
    )
    driver_loads = []
    monkeypatch.setattr(catalog, "configure", lambda s: s)
    monkeypatch.setattr(
        SparkSession, "createDataFrame", lambda *a, **k: driver_loads.append(a)
    )
    key = "spark.sql.legacy.parquet.nanosAsLong"
    old = spark.conf.get(key)
    spark.conf.unset(key)
    try:
        with pytest.raises(Exception, match="PARQUET_TYPE_ILLEGAL"):
            catalog.load_events(spark, str(sf))
    finally:
        spark.conf.set(key, old)
    assert driver_loads == []


def test_source_cardinality_contract():
    """q86's Spark side enumerates the new-corpus sources src10-src19
    explicitly (an In() list pushes to the parquet scan; the oracle's
    CAST(substr()) >= 10 form never would), and several mixture
    queries assume the src0-src19 universe. If driver testdata ever
    grows more sources, the enumerated list would silently drop them
    from the Spark side only — fail loudly here instead."""
    import glob

    import duckdb

    con = duckdb.connect()
    expected = {f"src{i}" for i in range(20)}
    for sf_dir in sorted(glob.glob("/root/testdata/sf*")):
        got = {
            r[0]
            for r in con.execute(
                f"SELECT DISTINCT source FROM '{sf_dir}/documents.parquet'"
            ).fetchall()
        }
        assert got <= expected, f"{sf_dir}: unexpected sources {got - expected}"


def test_q89_survives_short_docs(spark, tmp_path):
    """A planted 1-2-token doc on q89's sampling residue must not
    crash the shingle generator (unguarded sequence(0, size-3) goes
    descending and indexes out of bounds under ANSI mode) and must
    keep Spark ≡ oracle: such docs have no shingles on either side in
    both engines."""
    import duckdb

    from python_lambda_ecs_container_data_etl_aws_spark.plans.corpus import _Q89_MOD

    dst = str(tmp_path / "sf_short")
    base = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    extra = spark.createDataFrame(
        [
            (int(_Q89_MOD) * 1_000_003, "ab", "en", "src0", 2),
            (int(_Q89_MOD) * 1_000_004, "a b", "en", "src0", 3),
        ],
        base.schema,
    )
    base.unionByName(extra).coalesce(1).write.parquet(f"{dst}/documents.parquet")
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{dst}/documents.parquet/*.parquet'"
    )
    compare(
        QUERIES["q89_minhash_jaccard_est"](spark, dst),
        con,
        ORACLE["q89_minhash_jaccard_est"],
        "q89_short_docs",
    )


def test_tier_derivation_on_synthetic_future_artifacts(tmp_path):
    """Simulate a future round: after CORRECTNESS_r05 lands green rows
    for the current never-verified names, the derivation must promote
    them to single-green (ordered by first green round) and keep
    multi-green names out of the priority tiers."""
    import json

    mod = _load_entry_module()
    g = lambda: {"rows_match": True, "schema_match": True,  # noqa: E731
                 "hash_match": True, "spark_rows": 1, "oracle_rows": 1,
                 "err": None}
    (tmp_path / "CORRECTNESS_r01.json").write_text(
        json.dumps({"qA": g(), "qB": g()})
    )
    (tmp_path / "CORRECTNESS_r02.json").write_text(
        json.dumps({"qB": g(), "qC": g(),
                    "qR": {"rows_match": None, "schema_match": None,
                           "hash_match": None, "spark_rows": 7,
                           "oracle_rows": None, "err": "no_oracle"},
                    "qX": {"rows_match": True, "schema_match": True,
                           "hash_match": False, "spark_rows": 3,
                           "oracle_rows": 3, "err": None}})
    )
    old = mod._HERE
    try:
        mod._HERE = str(tmp_path)
        catalog = {k: None for k in ["qN2", "qB", "qA", "qC", "qR", "qX", "qN1"]}
        never, single, multi = mod._tiers(catalog)
        # qX's red row gives it NO green round -> still never-verified,
        # in catalog registration order with the brand-new names
        assert never == ["qN2", "qX", "qN1"]
        # singles order by FIRST green round (qA r1 before qC/qR r2),
        # name-tiebreak within a round; rows-only qR counts as green
        assert single == ["qA", "qC", "qR"]
        assert multi == ["qB"]
    finally:
        mod._HERE = old


def test_q164_generator_assumption(duck):
    """q164 rewrites TPC-H Q22's "no orders at all" as "no orders since
    1999" because never-ordered customers are near-absent in this corpus
    (measured round 7: 0 at sf0.001/sf0.01, exactly 1 of 15k at sf0.1 —
    the round-6 "every customer has >= 1 order" claim was an
    extrapolation from the small tiers), making textbook Q22 degenerate.
    The rewrite's own semantics are engine-checked by the hash contract;
    what must stay true for the Q22 ANALOGY is that never-ordered
    customers remain RARE. Pin <= 0.1% so a regenerated corpus where
    they become common fails loudly instead of silently changing what
    the analogy means."""
    n, total = duck.sql(
        "SELECT SUM(CASE WHEN NOT EXISTS (SELECT 1 FROM orders "
        "WHERE o_custkey = c_custkey) THEN 1 ELSE 0 END), COUNT(*) "
        "FROM customer"
    ).fetchone()
    assert n * 1000 <= total, (
        f"{n} of {total} customers have no orders (> 0.1%): q164's "
        "'no orders since 1999' rewrite no longer approximates Q22's "
        "'never ordered' — revisit plans/warehouse.py q164"
    )


def test_q190_generator_assumption_event_type_domain(duck):
    """q190's bitmask CASE hardcodes five event types with ELSE 0: an
    unknown type would silently contribute bit 0 (a user with only
    unknown types collapses to mask=0, n_types=0) and BOTH engines
    would agree, so oracle parity cannot catch a regenerated corpus
    with a new type. Pin the domain so that failure is loud instead
    (round-7 ADVICE; same class as test_q164_generator_assumption)."""
    rows = duck.sql("SELECT DISTINCT event_type FROM events").fetchall()
    got = sorted(r[0] for r in rows)
    assert got == ["click", "error", "purchase", "signup", "view"], (
        f"events.event_type domain changed to {got}: q190's hardcoded "
        "bit map (plans/traindata.py _Q190_BIT_SQL) would silently "
        "collapse unknown types into bit 0 — extend the CASE and the "
        "popcount width together"
    )
