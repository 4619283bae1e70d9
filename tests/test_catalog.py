"""Catalog integrity + driver-contract shape tests. Full oracle
equivalence runs in selfcheck.py / the driver; here we check the
contract invariants cheaply."""


import __spark_entry__ as entrymod
from howto_mongo_bulk_update_from_parquet_spark.plans import all_oracles, all_queries
from howto_mongo_bulk_update_from_parquet_spark.plans.catalog import CATALOG

SF = "/root/testdata/sf0.001"


def test_catalog_nonempty_and_oracle_coverage():
    qs, os_ = all_queries(), all_oracles()
    assert len(qs) >= 30
    # every oracle key corresponds to a query
    assert set(os_) <= set(qs)
    # SQL-expressible coverage should be the overwhelming majority
    assert len(os_) >= len(qs) - 5


def test_entry_contract(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert "sum_qty" in df.columns and "count_order" in df.columns


def test_every_query_returns_dataframe_lazily(catalog_frames):
    # construction (no action) must be cheap and not raise
    for name, df in catalog_frames.items():
        assert df.columns, f"{name} produced no columns"


def test_docstrings_present():
    for q in CATALOG.values():
        assert q.doc, f"{q.name} missing doc"


def test_head50_is_the_derived_rotation():
    """The correctness harness attests a bounded prefix (cap 50) of
    the registration order. Since round 9 (the r8 verdict's item 3)
    the rotation is DERIVED from the committed driver artifacts by
    plans/rotation.py rather than hand-curated — this test re-derives
    it independently and checks the policy invariants, so a drifted
    catalog order or a policy regression fails loudly."""
    from howto_mongo_bulk_update_from_parquet_spark.plans.rotation import (
        FORCE_REATTEST, HEAD_SIZE, ROWS_ONLY, expected_head,
        last_green_by_query)

    names = list(all_queries())
    oracles = all_oracles()
    last_green = last_green_by_query("/root/repo")
    assert last_green, "no committed CORRECTNESS artifacts found"

    head = expected_head(names, oracles, last_green)
    assert names[:len(head)] == head, "catalog order != derived rotation"
    assert len(head) == len(set(head)) == HEAD_SIZE

    hset = set(head)
    # (a) every oracle-bearing query with NO green driver row must
    # hold a head slot (new queries attest first-try)
    never = {n for n in names
             if n not in last_green and n in oracles and n not in ROWS_ONLY}
    missing_debt = sorted(never - hset)
    assert missing_debt == [], f"never-attested queries left out: {missing_debt}"
    # (b) changed-this-round queries re-attest. OVERFLOW rule (r16):
    # a round whose mandatory set (never-attested + forced) exceeds
    # the head cap cannot attest everything at once — the derivation
    # truncates deterministically in catalog order. The invariant
    # then weakens to "no LRA fill may displace a mandatory entry";
    # the cut forced entries stay listed in FORCE_REATTEST and take
    # head slots next round (the guard test keeps them listed until
    # a newer artifact shows them green).
    mandatory = set(never) | {n for n in FORCE_REATTEST if n in oracles}
    missing_force = [n for n in FORCE_REATTEST
                     if n in oracles and n not in hset]
    if len(mandatory) <= HEAD_SIZE:
        assert missing_force == [], \
            f"forced re-attests left out: {missing_force}"
    else:
        assert hset <= mandatory, (
            "overflow round: LRA fill must not displace mandatory "
            f"entries, but head holds non-mandatory {sorted(hset - mandatory)}")
    # (c) every remaining slot goes least-recently-attested first: no
    # fill entry may be fresher than an excluded older attestation
    fill = hset - never - set(FORCE_REATTEST)
    excluded = [n for n in names
                if n in oracles and n in last_green and n not in hset]
    if fill and excluded:
        newest_fill = max(last_green[n] for n in fill)
        oldest_excluded = min(last_green[n] for n in excluded)
        assert newest_fill <= oldest_excluded, (
            f"fill slot fresher (r{newest_fill}) than an excluded "
            f"attestation (r{oldest_excluded})")
    # rows-only sketches stay in the tail; every head query has an oracle
    assert not (hset & ROWS_ONLY)
    missing_oracle = [n for n in head if n not in oracles]
    assert missing_oracle == [], f"head queries without oracle: {missing_oracle}"


def test_every_oracle_plans_in_duckdb():
    """Cheap guard against oracle SQL rot: every oracle must at least
    EXPLAIN cleanly against the real table views (full value
    equivalence runs in selfcheck.py / the driver)."""
    import duckdb
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{SF}/{t}.parquet')")
    for name, sql in all_oracles().items():
        try:
            con.execute(f"EXPLAIN {sql}")
        except Exception as exc:  # noqa: BLE001
            raise AssertionError(f"oracle for {name} fails to plan: {exc}")


def test_selfcheck_compare_is_dtype_faithful():
    """The driver's value-hash distinguishes int64 from float64 —
    r7's four red rows were DuckDB HUGEINT sums surfacing as float64
    against Spark bigints with identical values. selfcheck.compare
    must flag that (driver-faithful) while still tolerating int-width
    differences (the driver demonstrably does)."""
    import pandas as pd
    import selfcheck

    ints = pd.DataFrame({"k": [1, 2], "v": pd.array([10, 20], dtype="int64")})
    floats = pd.DataFrame({"k": [1, 2], "v": pd.array([10.0, 20.0],
                                                     dtype="float64")})
    narrow = pd.DataFrame({"k": [1, 2], "v": pd.array([10, 20], dtype="int32")})

    assert any("dtype kind mismatch" in p
               for p in selfcheck.compare("x", ints, floats))
    assert any("dtype kind mismatch" in p
               for p in selfcheck.compare("x", floats, ints))
    assert selfcheck.compare("x", ints, narrow) == []
    assert selfcheck.compare("x", ints, ints.copy()) == []
