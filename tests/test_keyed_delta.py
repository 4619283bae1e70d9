"""Tests for the log-structured base+delta keyed table: merge-on-read
must equal the sequential full-merge chain, and compaction must
preserve it."""

import os

from howto_mongo_bulk_update_from_parquet_spark.operators.merge import keyed_upsert
from howto_mongo_bulk_update_from_parquet_spark.sinks.keyed_table import (
    append_delta, compact, read_merged, upsert_into_keyed_table)


def _rows(df):
    return {r["_id"]: {k: v for k, v in r.asDict().items() if k != "_id"}
            for r in df.collect()}


def test_delta_chain_equals_sequential_merge(spark, tmp_path):
    path = os.path.join(str(tmp_path), "lsm")
    base = spark.createDataFrame(
        [("a", 1.0, "x"), ("b", 2.0, "y")], "_id string, v double, tag string")
    upsert_into_keyed_table(spark, base, path=path, key="_id",
                            updated_at_col=None)

    d1 = spark.createDataFrame([("a", None, "x1"), ("c", 3.0, None)],
                               "_id string, v double, tag string")
    d2 = spark.createDataFrame([("a", 10.0, None), ("b", None, "y2")],
                               "_id string, v double, tag string")
    assert append_delta(spark, d1, path=path, key="_id") == 1
    assert append_delta(spark, d2, path=path, key="_id") == 2

    got = _rows(read_merged(spark, path, "_id"))

    # reference chain: base ⊕ d1 ⊕ d2 via the merge operator
    want_df = keyed_upsert(
        keyed_upsert(base, d1, "_id", updated_at_col=None),
        d2, "_id", updated_at_col=None)
    want = _rows(want_df)
    assert got == want
    # spot-check the interesting cells
    assert got["a"] == {"v": 10.0, "tag": "x1"}   # d2.v wins, d1.tag survives
    assert got["b"] == {"v": 2.0, "tag": "y2"}    # null-skip kept base v
    assert got["c"] == {"v": 3.0, "tag": None}    # insert with null col


def test_compact_preserves_content_and_removes_deltas(spark, tmp_path):
    path = os.path.join(str(tmp_path), "lsm2")
    base = spark.createDataFrame([("a", 1.0)], "_id string, v double")
    upsert_into_keyed_table(spark, base, path=path, key="_id",
                            updated_at_col=None)
    append_delta(spark, spark.createDataFrame([("b", 2.0)], "_id string, v double"),
                 path=path, key="_id")
    before = _rows(read_merged(spark, path, "_id"))
    compacted = compact(spark, path, "_id")
    assert _rows(compacted) == before
    # the folded delta's files survive ONE more commit (in-flight
    # pre-fold readers finish their scans) but readers already ignore
    # them under the watermark
    from howto_mongo_bulk_update_from_parquet_spark.sinks import keyed_table as kt
    assert kt.snapshot(spark, path).deltas == ()
    # delta numbering is MONOTONIC across compactions: the manifest's
    # folded_through watermark covers version 1 forever, so the next
    # append must claim 2 — a re-used number at or below the watermark
    # would be invisibly skipped by every reader
    assert append_delta(spark, spark.createDataFrame([("c", 3.0)], "_id string, v double"),
                        path=path, key="_id") == 2
    assert set(_rows(read_merged(spark, path, "_id"))) == {"a", "b", "c"}
    # the NEXT fold GCs the previous fold's files
    compact(spark, path, "_id")
    assert "delta_00001" not in os.listdir(path)
