"""The committed-dir parquet schema memo (r16 optimization): repeated
reads of immutable base_v*/delta_* directories skip footer schema
inference, and the listing fingerprint protects against the one way a
memo entry could lie — a directory deleted and re-created with
different files at the same path."""

import os

import pytest
from pyspark.sql import functions as F

from howto_mongo_bulk_update_from_parquet_spark.sinks import keyed_table as kt
from howto_mongo_bulk_update_from_parquet_spark.sinks.keyed_table import (
    _PQ_SCHEMA_MEMO, append_delta, read_merged, upsert_into_keyed_table)


def _mk_table(spark, path):
    src = spark.createDataFrame(
        [("a", 1.0, "x"), ("b", 2.0, "y")],
        "_id string, v double, tag string")
    upsert_into_keyed_table(spark, src, path=path, key="_id",
                            updated_at_col=None)
    append_delta(spark,
                 spark.createDataFrame([("a", 5.0, None)],
                                       "_id string, v double, tag string"),
                 path=path, key="_id")


def test_memo_reads_equal_fresh_reads(spark, tmp_path):
    path = os.path.join(str(tmp_path), "t")
    _mk_table(spark, path)
    first = {r["_id"]: r.asDict() for r in
             read_merged(spark, path, "_id").collect()}
    # the base dir and the delta dir are memoized now
    memo_dirs = [k[0][0] for k in _PQ_SCHEMA_MEMO
                 if k[0] and k[0][0].startswith(path)]
    assert any("base_v" in d for d in memo_dirs)
    assert any("delta_" in d for d in memo_dirs)
    # second read goes through the memo (explicit schema, no
    # inference) and must be identical
    second = {r["_id"]: r.asDict() for r in
              read_merged(spark, path, "_id").collect()}
    assert first == second
    assert second["a"]["v"] == 5.0 and second["a"]["tag"] == "x"


def test_fingerprint_detects_recreated_dir(spark, tmp_path):
    """Out-of-band damage: a committed delta dir replaced wholesale
    with different files (new schema) at the same path must be read
    with ITS schema, not the memoized one."""
    path = os.path.join(str(tmp_path), "t")
    _mk_table(spark, path)
    read_merged(spark, path, "_id").collect()          # populate memo
    ddir = os.path.join(path, "delta_00001")
    import shutil
    shutil.rmtree(ddir)
    (spark.createDataFrame([("a", 7.0, "zz", 9)],
                           "_id string, v double, tag string, extra int")
     .coalesce(1).write.parquet(ddir))
    got = {r["_id"]: r.asDict() for r in
           read_merged(spark, path, "_id").collect()}
    assert "extra" in got["a"] and got["a"]["extra"] == 9
    assert got["a"]["v"] == 7.0 and got["a"]["tag"] == "zz"


def test_memo_is_schema_only_not_results(spark, tmp_path):
    """New deltas (new dirs) appear in the very next read — nothing
    about the memo caches rows or snapshot composition."""
    path = os.path.join(str(tmp_path), "t")
    _mk_table(spark, path)
    read_merged(spark, path, "_id").collect()
    append_delta(spark,
                 spark.createDataFrame([("b", None, "y9")],
                                       "_id string, v double, tag string"),
                 path=path, key="_id")
    got = {r["_id"]: r.asDict() for r in
           read_merged(spark, path, "_id").collect()}
    assert got["b"]["tag"] == "y9" and got["b"]["v"] == 2.0


def test_seeded_ntz_type_equals_a_cold_read(spark, tmp_path):
    """With `spark.sql.parquet.inferTimestampNTZ.enabled` off, a
    memo-served read of a TIMESTAMP_NTZ column gives the type a cold
    `spark.read.parquet` of the same directory infers — for the base
    and for a delta."""
    conf = "spark.sql.parquet.inferTimestampNTZ.enabled"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "false")
    try:
        path = os.path.join(str(tmp_path), "t")
        upsert_into_keyed_table(spark, spark.sql(
            "SELECT 'a' AS _id, TIMESTAMP_NTZ'2024-01-02 03:04:05' AS ts"),
            path=path, key="_id", updated_at_col=None)
        append_delta(spark, spark.sql(
            "SELECT 'b' AS _id, TIMESTAMP_NTZ'2024-02-03 00:00:00' AS ts"),
            path=path, key="_id")
        base = kt._base_dir(path, kt.current_base_version(spark, path))
        cold = spark.read.parquet(base).schema["ts"].dataType
        assert read_merged(spark, path, "_id").schema["ts"].dataType == cold
        assert kt.snapshot(spark, path).base.read() \
            .schema["ts"].dataType == cold
        cold_delta = spark.read.parquet(
            os.path.join(path, "delta_00001")).schema["ts"].dataType
        assert kt._read_delta_dir(spark, path, 1).schema["ts"].dataType \
            == cold_delta
    finally:
        spark.conf.set(conf, old)


@pytest.mark.parametrize("materialize", [False, True])
def test_pruned_fold_seeds_the_schema_a_cold_read_infers(spark, tmp_path,
                                                         materialize):
    """`compact_pruned` seeds the new version's merged-schema memo entry
    from the rewritten frame. After folding a delta that adds a column,
    the seeded entry equals a cold `mergeSchema` read of the new base's
    files: the new column is present and the field order matches."""
    path = os.path.join(str(tmp_path), "t")
    upsert_into_keyed_table(spark, spark.range(40).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v"),
        F.lit("t").alias("tag")), path=path, key="k", updated_at_col=None,
        range_files=4)
    append_delta(spark, spark.createDataFrame(
        [(3, 7, None, "NEW")], "k bigint, v bigint, tag string, extra string"),
        path=path, key="k")
    _, stats = kt.compact_pruned(spark, path, "k", materialize=materialize)
    assert stats["files_carried"] > 0 and stats["files_rewritten"] > 0
    new_base = kt._Base(spark, path, stats["new_version"])
    seeded = _PQ_SCHEMA_MEMO[new_base._memo_key]
    cold = (spark.read.option("mergeSchema", "true")
            .parquet(*new_base.read_paths).schema)
    assert "extra" in seeded.names
    assert seeded.names == cold.names
    assert seeded == cold
