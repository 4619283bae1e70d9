"""Change-data-feed over the keyed table's LSM deltas
(`sinks/changes.py`): batch windows, op typing, reclamation errors,
schema evolution, and the streaming form
(drain, incremental pickup across restarts, fold-behind-the-stream
safety).
"""

import time

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from howto_mongo_bulk_update_from_parquet_spark.sinks.changes import (
    OP_COL, VERSION_COL, ChangeHistoryUnavailable, changes_schema,
    read_table_changes, stream_table_changes)
from howto_mongo_bulk_update_from_parquet_spark.sinks.keyed_table import (
    append_delete_delta, append_delta, compact, upsert_into_keyed_table)


def _mk_table(spark, tmp_path):
    path = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [Row(k=i, v=float(i), tag=f"t{i % 3}") for i in range(20)])
    upsert_into_keyed_table(spark, base, path=path, key="k",
                            updated_at_col=None)
    return path


def test_batch_changes_versions_and_ops(spark, tmp_path):
    path = _mk_table(spark, tmp_path)
    ups1 = spark.createDataFrame([Row(k=1, v=10.0, tag="u")])
    ups2 = spark.createDataFrame([Row(k=2, v=20.0, tag=None)],
                                 "k bigint, v double, tag string")
    append_delta(spark, ups1, path=path, key="k")
    append_delta(spark, ups2, path=path, key="k")
    append_delete_delta(spark,
                        spark.createDataFrame([Row(k=3)]),
                        path=path, key="k")
    out = read_table_changes(spark, path).orderBy(VERSION_COL).collect()
    assert [(r["k"], r[VERSION_COL], r[OP_COL]) for r in out] == [
        (1, 1, "U"), (2, 2, "U"), (3, 3, "D")]
    # tombstone rows carry NULL payload
    assert out[2]["v"] is None and out[2]["tag"] is None
    # windowing: (1, 2] = exactly the second delta
    win = read_table_changes(spark, path, after=1, until=2).collect()
    assert [(r["k"], r[VERSION_COL]) for r in win] == [(2, 2)]
    # beyond history: empty with the feed schema
    assert read_table_changes(spark, path, after=3).count() == 0


def test_changes_survive_fold_one_commit_then_raise(spark, tmp_path):
    path = _mk_table(spark, tmp_path)
    append_delta(spark, spark.createDataFrame([Row(k=1, v=10.0, tag="u")]),
                 path=path, key="k")
    compact(spark, path, "k")
    # folded deltas keep their files for one more commit — still served
    out = read_table_changes(spark, path).collect()
    assert [(r["k"], r[VERSION_COL]) for r in out] == [(1, 1)]
    # the next committing operation GC's them
    append_delta(spark, spark.createDataFrame([Row(k=2, v=20.0, tag="w")]),
                 path=path, key="k")
    compact(spark, path, "k")
    with pytest.raises(ChangeHistoryUnavailable, match=r"\[1"):
        read_table_changes(spark, path)
    # ...but a feed resuming above the reclaimed window still works
    out = read_table_changes(spark, path, after=1).collect()
    assert [(r["k"], r[VERSION_COL]) for r in out] == [(2, 2)]


def test_schema_evolution_nulls_old_rows(spark, tmp_path):
    path = _mk_table(spark, tmp_path)
    append_delta(spark, spark.createDataFrame([Row(k=1, v=1.0, tag="a")]),
                 path=path, key="k")
    append_delta(spark,
                 spark.createDataFrame(
                     [Row(k=2, v=2.0, tag="b", extra="new")]),
                 path=path, key="k")
    out = read_table_changes(spark, path).orderBy(VERSION_COL).collect()
    assert out[0]["extra"] is None and out[1]["extra"] == "new"


def test_stream_drain_and_incremental_pickup(spark, tmp_path):
    path = _mk_table(spark, tmp_path)
    append_delta(spark, spark.createDataFrame([Row(k=1, v=10.0, tag="u")]),
                 path=path, key="k")
    append_delete_delta(spark, spark.createDataFrame([Row(k=3)]),
                        path=path, key="k")
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")
    schema = changes_schema(spark, path)

    def drain():
        q = (stream_table_changes(spark, path, schema=schema)
             .writeStream.format("parquet")
             .option("checkpointLocation", ckpt)
             .option("path", sink)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    drain()
    got = spark.read.parquet(sink)
    assert sorted((r["k"], r[VERSION_COL], r[OP_COL])
                  for r in got.collect()) == [(1, 1, "U"), (3, 2, "D")]
    # a later arrival is picked up incrementally on the SAME checkpoint
    append_delta(spark, spark.createDataFrame([Row(k=5, v=50.0, tag="n")]),
                 path=path, key="k")
    drain()
    got = spark.read.parquet(sink)
    assert sorted((r["k"], r[VERSION_COL], r[OP_COL])
                  for r in got.collect()) == [
        (1, 1, "U"), (3, 2, "D"), (5, 3, "U")]
    # folding + GC behind the stream re-delivers nothing (processed
    # files are checkpointed by name, not re-listed content)
    compact(spark, path, "k")
    append_delta(spark, spark.createDataFrame([Row(k=6, v=60.0, tag="n")]),
                 path=path, key="k")
    compact(spark, path, "k")            # GC's v1..v3 files
    drain()
    got = spark.read.parquet(sink)
    assert sorted((r["k"], r[VERSION_COL], r[OP_COL])
                  for r in got.collect()) == [
        (1, 1, "U"), (3, 2, "D"), (5, 3, "U"), (6, 4, "U")]


def test_cli_changes_batch_and_follow(spark, tmp_path, capsys):
    from howto_mongo_bulk_update_from_parquet_spark.cli import main
    path = _mk_table(spark, tmp_path)
    append_delta(spark, spark.createDataFrame([Row(k=1, v=10.0, tag="u")]),
                 path=path, key="k")
    append_delete_delta(spark, spark.createDataFrame([Row(k=3)]),
                        path=path, key="k")
    out_dir = str(tmp_path / "feed_out")
    rc = main(["changes", "--table", path, "--out", out_dir])
    assert rc == 0
    got = spark.read.parquet(out_dir)
    assert sorted((r["k"], r[VERSION_COL], r[OP_COL])
                  for r in got.collect()) == [(1, 1, "U"), (3, 2, "D")]
    # follow form: incremental drain on a checkpoint
    f_out = str(tmp_path / "follow_out")
    ckpt = str(tmp_path / "follow_ckpt")
    rc = main(["changes", "--table", path, "--follow",
               "--out", f_out, "--checkpoint", ckpt])
    assert rc == 0
    assert spark.read.parquet(f_out).count() == 2
    append_delta(spark, spark.createDataFrame([Row(k=7, v=7.0, tag="x")]),
                 path=path, key="k")
    rc = main(["changes", "--table", path, "--follow",
               "--out", f_out, "--checkpoint", ckpt])
    assert rc == 0
    assert sorted((r["k"], r[VERSION_COL])
                  for r in spark.read.parquet(f_out).collect()) == [
        (1, 1), (3, 2), (7, 3)]
    # missing flags gate
    rc = main(["changes", "--table", path, "--follow"])
    assert rc == 2
    assert "--checkpoint" in capsys.readouterr().err


def test_bounded_window_excludes_future_delta_columns(spark, tmp_path):
    """Review r14: a bounded (after, until] read must not leak a
    column only a LATER delta introduced — its schema is stable no
    matter what lands afterwards; the full read still surfaces the
    evolved column (earlier rows as NULL)."""
    from pyspark.sql import Row

    path = str(tmp_path / "t")
    upsert_into_keyed_table(
        spark, spark.createDataFrame([Row(k=1, v=1.0)]), path=path,
        key="k", updated_at_col=None)
    append_delta(spark, spark.createDataFrame([Row(k=2, v=2.0)]),
                 path=path, key="k")
    before = read_table_changes(spark, path, until=1,
                                with_preimage=True, key="k")
    assert "flag" not in before.columns
    append_delta(spark, spark.createDataFrame([Row(k=3, v=3.0,
                                                   flag="x")]),
                 path=path, key="k")
    bounded = read_table_changes(spark, path, until=1,
                                 with_preimage=True, key="k")
    assert bounded.columns == before.columns          # schema stable
    assert "flag" not in bounded.schema[
        "_change_pre"].dataType.fieldNames()
    full = read_table_changes(spark, path, with_preimage=True, key="k")
    rows = {r["k"]: r for r in full.collect()}
    assert rows[3]["flag"] == "x" and rows[2]["flag"] is None


def test_preimage_one_pass_matches_per_version_merge(spark, tmp_path):
    """r16 optimization guard: the one-pass windowed pre-image
    (`_with_preimage_one_pass`) must equal the definitional form —
    per change version v, the pre-image of key k is the MERGED state
    of (base + committed deltas < v) for that key, NULL when the key
    did not exist (incl. a key deleted by an earlier served delta).
    The scenario forces every edge: partial (null-skip) updates,
    tombstone then re-insert (clean-slate — pre of the re-insert must
    be NULL, and a later update's pre must NOT see pre-delete
    values), schema evolution mid-history, and a bounded window whose
    lookback spans an earlier non-window delta."""
    from howto_mongo_bulk_update_from_parquet_spark.sinks.keyed_table import (
        _read_merged_through, snapshot)

    path = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [Row(k=i, v=float(i), tag=f"t{i % 3}") for i in range(12)])
    upsert_into_keyed_table(spark, base, path=path, key="k",
                            updated_at_col=None)
    # v1: partial update (tag omitted -> null-skip) + fresh insert
    append_delta(spark, spark.createDataFrame(
        [Row(k=1, v=100.0, tag=None), Row(k=50, v=50.0, tag="new")],
        "k bigint, v double, tag string"), path=path, key="k")
    # v2: tombstones (one for a base key, one for the fresh insert)
    append_delete_delta(spark, spark.createDataFrame(
        [Row(k=2), Row(k=50)]), path=path, key="k")
    # v3: re-insert of the deleted key (clean slate) + evolved column
    append_delta(spark, spark.createDataFrame(
        [Row(k=2, v=22.0, tag=None, flag="x"),
         Row(k=1, v=111.0, tag="upd", flag=None)],
        "k bigint, v double, tag string, flag string"),
        path=path, key="k")
    # v4: update that must look back THROUGH v3/v1 for its pre-image
    append_delta(spark, spark.createDataFrame(
        [Row(k=2, v=None, tag="t9", flag=None),
         Row(k=3, v=33.0, tag=None, flag="y")],
        "k bigint, v double, tag string, flag string"),
        path=path, key="k")

    for after, until in [(0, None), (1, 3), (2, None)]:
        got = read_table_changes(spark, path, after=after, until=until,
                                 with_preimage=True, key="k")
        pcols = got.schema["_change_pre"].dataType.fieldNames()
        snap = snapshot(spark, path)
        committed = snap.deltas
        hi = until if until is not None else committed[-1]
        window = [v for v in committed if after < v <= hi]
        for r in got.collect():
            v = r[VERSION_COL]
            below = [e for e in committed if e < v]
            state = _read_merged_through(snap, "k", below)
            want_rows = state.filter(F.col("k") == r["k"]).collect()
            pre = r["_change_pre"]
            if not want_rows:
                assert pre is None, (after, until, v, r["k"], pre)
            else:
                w = want_rows[0]
                assert pre is not None, (after, until, v, r["k"])
                for c in pcols:
                    wv = w[c] if c in w.__fields__ else None
                    assert pre[c] == wv, (after, until, v, r["k"], c,
                                          pre[c], wv)
        assert sorted(r[VERSION_COL] for r in got.collect()) == sorted(
            v for v in window for _ in range(
                spark.read.parquet(f"{path}/delta_{v:05d}").count()))
