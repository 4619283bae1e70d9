"""Merged-read fast path: delta-key broadcast joins instead of
shuffling the whole base through the version window.

The classic form is kept (and forced for bulk-sized deltas via the
byte guard); these tests pin that the two forms produce IDENTICAL
rows and columns on the tricky semantics — null-skip chains across
several deltas, tombstone + re-insert history cuts, schema widening —
and that the fast plan actually broadcasts instead of exchanging the
base.
"""

import pytest
from pyspark.sql import Row, functions as F

from howto_mongo_bulk_update_from_parquet_spark.sinks import keyed_table as kt
from howto_mongo_bulk_update_from_parquet_spark.sinks.keyed_table import (
    append_delete_delta, append_delta, compact, read_merged,
    upsert_into_keyed_table)


def _build(spark, tmp_path):
    """Base of 200 keys + three deltas exercising every merge rule:
    null-skip (val updated, tag inherited), a tombstone, a re-insert
    AFTER the tombstone (history cut: old tag must NOT resurrect),
    a chained two-delta update, and a schema-widening column."""
    path = str(tmp_path / "fm")
    base = spark.range(200).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("val"),
        F.concat(F.lit("t"), F.col("id").cast("string")).alias("tag"))
    upsert_into_keyed_table(spark, base, path=path, key="k",
                            updated_at_col=None)
    append_delta(spark, spark.createDataFrame(
        [Row(k=5, val=500, tag=None),          # null-skip: tag survives
         Row(k=6, val=None, tag="six")]),      # null-skip: val survives
        path=path, key="k")
    append_delete_delta(spark, spark.createDataFrame(
        [Row(k=7), Row(k=5)]), path=path, key="k")
    append_delta(spark, spark.createDataFrame(
        [Row(k=5, val=1, tag=None, extra="re"),   # re-insert post-delete
         Row(k=6, val=66, tag=None, extra=None),  # chained update
         Row(k=1000, val=9, tag="new", extra="i")],
        "k long, val long, tag string, extra string"),
        path=path, key="k")
    return path


EXPECT = {
    # k: (val, tag, extra)
    5: (1, None, "re"),        # tombstone cut: t5 must NOT resurrect
    6: (66, "six", None),      # val from delta 3, tag from delta 1
    1000: (9, "new", "i"),
    1: (2, "t1", None),        # untouched base row, widened with null
}


def _rows(df):
    return sorted(tuple(r) for r in
                  df.select("k", "val", "tag", "extra").collect())


def test_fast_and_classic_agree(spark, tmp_path, monkeypatch):
    path = _build(spark, tmp_path)
    fast = read_merged(spark, path, "k")
    assert fast.columns[0] == "k"
    got_fast = _rows(fast)
    monkeypatch.setattr(kt, "FAST_MERGE_MAX_DELTA_BYTES", 0)
    classic = read_merged(spark, path, "k")
    assert classic.columns == fast.columns
    assert got_fast == _rows(classic)
    got = {r[0]: r[1:] for r in got_fast}
    for k, exp in EXPECT.items():
        assert got[k] == exp, k
    assert 7 not in got and len(got) == 200   # 200 -2 deleted +1 insert +1 re


def test_fast_plan_broadcasts_not_exchanges_base(spark, tmp_path):
    path = _build(spark, tmp_path)
    plan = (read_merged(spark, path, "k")._jdf.queryExecution()
            .executedPlan().toString())
    assert "BroadcastHashJoin" in plan
    assert "LeftAnti" in plan


def test_fold_through_fast_path_matches_classic_fold(spark, tmp_path,
                                                     monkeypatch):
    """compact consumes _read_merged_through — the committed base must
    be identical whichever merge form folded it."""
    p1 = _build(spark, tmp_path / "a")
    p2 = _build(spark, tmp_path / "b")
    d1 = compact(spark, p1, "k")
    monkeypatch.setattr(kt, "FAST_MERGE_MAX_DELTA_BYTES", 0)
    d2 = compact(spark, p2, "k")
    assert _rows(d1) == _rows(d2)


def test_range_table_hits_branch_pruned(spark, tmp_path, monkeypatch):
    """On a range-layout base the fast merge's HITS branch reads only
    the zone-map-admissible files (delta bounds from _KEYRANGE);
    results stay identical to the classic form, including a tombstone
    and an out-of-span insert."""
    path = str(tmp_path / "rp")
    base = spark.range(400).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("val"))
    upsert_into_keyed_table(spark, base, path=path, key="k",
                            updated_at_col=None, range_files=8)
    append_delta(spark, spark.createDataFrame(
        [Row(k=20, val=-20), Row(k=5_000, val=1)]), path=path, key="k")
    append_delete_delta(spark, spark.createDataFrame([Row(k=21)]),
                        path=path, key="k")
    fast = read_merged(spark, path, "k")
    plan = fast._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    got_fast = sorted(tuple(r) for r in fast.collect())
    monkeypatch.setattr(kt, "FAST_MERGE_MAX_DELTA_BYTES", 0)
    got_classic = sorted(tuple(r) for r in
                         read_merged(spark, path, "k").collect())
    assert got_fast == got_classic
    got = dict(got_fast)
    assert got[20] == -20 and got[5_000] == 1 and 21 not in got
    assert len(got) == 400
    # the pruning decision itself: the span join touches only the
    # files holding delta keys — an out-of-span insert (5000) touches
    # nothing, so exactly the k∈{20,21} file(s) are admitted, NOT the
    # whole table (an overall-[min,max] bound would admit all 8)
    from howto_mongo_bulk_update_from_parquet_spark.sinks import zonemap as zm
    from howto_mongo_bulk_update_from_parquet_spark.sinks.keyed_table import (
        _touched_base_files, snapshot)
    snap = snapshot(spark, path)
    zmap = zm.read_zone_map(spark, snap.base.dir)
    touched = _touched_base_files(snap, "k", [1, 2], zmap,
                                  sorted(snap.base.file_map))
    assert len(touched) == 1


def test_folded_table_reads_base_directly(spark, tmp_path):
    """read_merged on a fully folded versioned table returns the base
    with NO version window (no Exchange, no Window in the plan) —
    the identity was previously bought with a full-base shuffle."""
    path = str(tmp_path / "folded")
    base = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("val"))
    upsert_into_keyed_table(spark, base, path=path, key="k",
                            updated_at_col=None)
    append_delta(spark, spark.createDataFrame([Row(k=1, val=-1)]),
                 path=path, key="k")
    compact(spark, path, "k")
    out = read_merged(spark, path, "k")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan and "Exchange" not in plan
    got = {r["k"]: r["val"] for r in out.collect()}
    assert got[1] == -1 and len(got) == 100


def test_lookup_unaffected(spark, tmp_path):
    """lookup passes an explicit base_df — fast-path dispatch must
    leave it on the classic (already-bounded) form and stay correct."""
    from howto_mongo_bulk_update_from_parquet_spark.sinks.keyed_table import (
        lookup_keyed_table)

    path = str(tmp_path / "lk")
    base = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("val"))
    upsert_into_keyed_table(spark, base, path=path, key="k",
                            updated_at_col=None, range_files=4)
    append_delta(spark, spark.createDataFrame([Row(k=3, val=-3)]),
                 path=path, key="k")
    out = lookup_keyed_table(spark, path, "k", values=[3, 4])
    got = {r["k"]: r["val"] for r in out.collect()}
    assert got == {3: -3, 4: 8}
