"""Schema evolution at the TABLE level (r9 verdict item 5): a source
carrying a NEW payload column must survive (a) the versioned upsert
path, (b) the LSM path where base and delta schemas differ
(`read_merged` resolves via unionByName-with-missing-columns), and
(c) compaction, which folds the widened schema into the new base."""

import os

from howto_mongo_bulk_update_from_parquet_spark.sinks.keyed_table import (
    append_delta, compact, read_keyed_table, read_merged,
    upsert_into_keyed_table)


def test_new_column_through_versioned_upsert(spark, tmp_path):
    p = str(tmp_path / "widen_v")
    upsert_into_keyed_table(
        spark, spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"),
        path=p, key="k", updated_at_col=None)
    # round 2 introduces `score`; rows not in the source keep NULL
    out = upsert_into_keyed_table(
        spark, spark.createDataFrame([(2, "b2", 0.5), (3, "c", 0.9)],
                                     "k long, v string, score double"),
        path=p, key="k", updated_at_col=None)
    got = {r.k: (r.v, r.score) for r in out.collect()}
    assert got == {1: ("a", None), 2: ("b2", 0.5), 3: ("c", 0.9)}
    # the committed base (fresh read, no lineage) carries the column
    back = read_keyed_table(spark, p)
    assert "score" in back.columns
    assert {r.k: (r.v, r.score) for r in back.collect()} == got
    # round 3 with the OLD narrow schema must not drop the column for
    # untouched rows (target-only columns pass through)
    out3 = upsert_into_keyed_table(
        spark, spark.createDataFrame([(1, "a3")], "k long, v string"),
        path=p, key="k", updated_at_col=None)
    got3 = {r.k: (r.v, r.score) for r in out3.collect()}
    assert got3 == {1: ("a3", None), 2: ("b2", 0.5), 3: ("c", 0.9)}


def test_new_column_through_lsm_and_compaction(spark, tmp_path):
    p = str(tmp_path / "widen_lsm")
    upsert_into_keyed_table(
        spark, spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"),
        path=p, key="k", updated_at_col=None)
    # delta introduces `score` — base and delta schemas now differ
    append_delta(
        spark, spark.createDataFrame([(2, None, 0.5), (3, "c", 0.9)],
                                     "k long, v string, score double"),
        path=p, key="k")
    want = {1: ("a", None), 2: ("b", 0.5), 3: ("c", 0.9)}  # null-skip kept b
    got = {r.k: (r.v, r.score)
           for r in read_merged(spark, p, "k").collect()}
    assert got == want
    # compaction folds the widened schema into the new base
    compacted = compact(spark, p, "k")
    assert {r.k: (r.v, r.score) for r in compacted.collect()} == want
    from howto_mongo_bulk_update_from_parquet_spark.sinks import keyed_table as kt
    assert kt.snapshot(spark, p).deltas == ()
    assert {r.k: (r.v, r.score)
            for r in read_keyed_table(spark, p).collect()} == want
    # and the widened table keeps merging correctly afterwards
    append_delta(
        spark, spark.createDataFrame([(1, 1.0)], "k long, score double"),
        path=p, key="k")
    got2 = {r.k: (r.v, r.score)
            for r in read_merged(spark, p, "k").collect()}
    assert got2 == {1: ("a", 1.0), 2: ("b", 0.5), 3: ("c", 0.9)}


def test_new_column_widens_bucketed_base(spark, tmp_path):
    """Schema evolution and bucketing compose: the widened base is
    rewritten bucketed and the next round still reads it through the
    bucket metadata (a fresh external-table registration per version,
    so the old narrow DDL can never shadow the new schema)."""
    from howto_mongo_bulk_update_from_parquet_spark.sinks.keyed_table import table_meta
    p = str(tmp_path / "widen_bkt")
    upsert_into_keyed_table(
        spark, spark.createDataFrame([(1, "a")], "k long, v string"),
        path=p, key="k", updated_at_col=None, buckets=4)
    out = upsert_into_keyed_table(
        spark, spark.createDataFrame([(2, "b", 0.5)],
                                     "k long, v string, score double"),
        path=p, key="k", updated_at_col=None)
    assert {r.k: (r.v, r.score) for r in out.collect()} == \
        {1: ("a", None), 2: ("b", 0.5)}
    assert table_meta(spark, p)["buckets"] == "4"
    out3 = upsert_into_keyed_table(
        spark, spark.createDataFrame([(1, 9.0)], "k long, score double"),
        path=p, key="k", updated_at_col=None)
    assert {r.k: (r.v, r.score) for r in out3.collect()} == \
        {1: ("a", 9.0), 2: ("b", 0.5)}
