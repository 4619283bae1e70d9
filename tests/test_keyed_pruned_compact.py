"""Pruned (surgical) compaction for range-layout keyed tables.

The full `compact` re-reads and rewrites the ENTIRE base per fold —
O(table) at every arrival round. `compact_pruned` rewrites only the
base files whose zone-map key span intersects the foldable deltas'
keys and carries every untouched file into the new base version by a
filesystem copy (no executor compute, no shuffle, no parquet decode).

Covers: semantic equality with the merged view (and with a full
compact of an identical twin table); touch-set precision (one-file
delta rewrites one file); tombstones count as touching; pure inserts
outside every span rewrite nothing; carried bytes are identical;
zone-map carry-over keeps pruned lookups working across folds; the
watermark/GC commit protocol matches `compact`; fallback and no-op
paths; arrival-loop convergence over several pruned folds.
"""

import pytest
from pyspark.sql import Row, functions as F

from howto_mongo_bulk_update_from_parquet_spark.sinks import fs as hfs
from howto_mongo_bulk_update_from_parquet_spark.sinks import zonemap as zm
from howto_mongo_bulk_update_from_parquet_spark.sinks.keyed_table import (
    _carried_refs, append_delete_delta, append_delta, base_file_map,
    compact, compact_pruned, current_base_version, folded_through,
    lookup_keyed_table, read_keyed_table, read_merged, table_meta,
    upsert_into_keyed_table)


def _docs(spark, n=400):
    return spark.range(n).select(
        F.col("id").alias("k"),
        (F.col("id") * 3).alias("val"),
        F.concat(F.lit("s"), (F.col("id") % 7).cast("string")).alias("tag"))


def _mk_range_table(spark, tmp_path, name="ptab", n=400, files=8):
    path = str(tmp_path / name)
    upsert_into_keyed_table(spark, _docs(spark, n), path=path, key="k",
                            updated_at_col=None, range_files=files)
    return path


def _rows(df):
    return sorted(tuple(r) for r in df.select("k", "val", "tag").collect())


def test_pruned_fold_matches_merged_view(spark, tmp_path):
    path = _mk_range_table(spark, tmp_path)
    append_delta(spark, spark.createDataFrame(
        [Row(k=10, val=999, tag=None),        # update, tag null-skipped
         Row(k=10_000, val=1, tag="new")]),   # insert beyond every span
        path=path, key="k")
    append_delete_delta(spark, spark.createDataFrame([Row(k=11)]),
                        path=path, key="k")
    expect = _rows(read_merged(spark, path, "k"))
    df, stats = compact_pruned(spark, path, "k")
    assert stats["pruned"] is True and stats["deltas_folded"] == 2
    assert _rows(df) == expect
    # the committed base (not merge-on-read) carries the fold
    assert _rows(read_keyed_table(spark, path)) == expect
    assert folded_through(spark, path) == 2


def test_touch_set_is_tight(spark, tmp_path):
    path = _mk_range_table(spark, tmp_path)
    # all delta keys live inside ONE file's span (range layout splits
    # 400 keys over 8 files → ~50 keys per file; 20..22 share a file)
    append_delta(spark, spark.createDataFrame(
        [Row(k=20, val=-1, tag="x"), Row(k=22, val=-2, tag="y")]),
        path=path, key="k")
    df, stats = compact_pruned(spark, path, "k")
    assert stats["files_total"] == 8
    assert stats["files_carried"] == 7
    assert stats["files_rewritten"] >= 1      # the touched file
    assert df.count() == 400


def test_tombstone_touches_its_file(spark, tmp_path):
    path = _mk_range_table(spark, tmp_path)
    append_delete_delta(spark, spark.createDataFrame([Row(k=200)]),
                        path=path, key="k")
    df, stats = compact_pruned(spark, path, "k")
    assert stats["files_carried"] == 7        # only k=200's file rewritten
    assert df.filter(F.col("k") == 200).count() == 0
    assert df.count() == 399


def test_pure_insert_rewrites_nothing(spark, tmp_path):
    path = _mk_range_table(spark, tmp_path)
    append_delta(spark, spark.createDataFrame(
        [Row(k=5_000, val=1, tag="a"), Row(k=6_000, val=2, tag="b")]),
        path=path, key="k")
    df, stats = compact_pruned(spark, path, "k")
    assert stats["files_carried"] == 8        # every base file untouched
    assert stats["files_rewritten"] >= 1      # the insert-only new file
    assert df.count() == 402


def test_reference_carry_moves_no_bytes(spark, tmp_path):
    """Default carry is BY REFERENCE: untouched files stay in their
    owner dir, the new base records them in _CARRIED.json, and the
    resolved read is complete."""
    path = _mk_range_table(spark, tmp_path)
    v0 = current_base_version(spark, path)
    olds = set(hfs.listdir(spark, hfs.join(path, f"base_v{v0:05d}")))
    append_delta(spark, spark.createDataFrame([Row(k=0, val=9, tag="z")]),
                 path=path, key="k")
    _, stats = compact_pruned(spark, path, "k")
    v1 = current_base_version(spark, path)
    new_dir = hfs.join(path, f"base_v{v1:05d}")
    listing = set(hfs.listdir(spark, new_dir))
    # no old data file was copied into the new dir
    assert not (listing & {f for f in olds if f.endswith(".parquet")
                           and not f.startswith("_")})
    refs = _carried_refs(spark, path, v1)
    assert len(refs) == stats["files_carried"] == 7
    assert all(r.startswith(f"base_v{v0:05d}/") for r in refs)
    got = {r["k"]: r["val"]
           for r in read_keyed_table(spark, path).collect()}
    assert got[0] == 9 and got[1] == 3 and len(got) == 400


def test_materialize_carries_byte_identical_copies(spark, tmp_path):
    path = _mk_range_table(spark, tmp_path)
    v0 = current_base_version(spark, path)
    base0 = hfs.join(path, f"base_v{v0:05d}")
    olds = {f: (tmp_path / "ptab" / f"base_v{v0:05d}" / f).read_bytes()
            for f in hfs.listdir(spark, base0)
            if not f.startswith("_") and not f.startswith(".")}
    append_delta(spark, spark.createDataFrame([Row(k=0, val=9, tag="z")]),
                 path=path, key="k")
    _, stats = compact_pruned(spark, path, "k", materialize=True)
    v1 = current_base_version(spark, path)
    assert _carried_refs(spark, path, v1) == []   # self-contained
    carried = [f for f in hfs.listdir(spark, hfs.join(
        path, f"base_v{v1:05d}")) if f in olds]
    assert len(carried) == stats["files_carried"] == 7
    for f in carried:
        new = (tmp_path / "ptab" / f"base_v{v1:05d}" / f).read_bytes()
        assert new == olds[f]


def test_refs_stay_one_hop_and_owners_survive_gc(spark, tmp_path):
    """Chained pruned folds flatten refs to the ORIGINAL owner dir
    (never ref-through-ref), and the retention GC keeps every dir a
    retained version still references."""
    path = _mk_range_table(spark, tmp_path)
    v0 = current_base_version(spark, path)
    for i, k in enumerate((15, 15, 77)):        # 3 arrival rounds
        append_delta(spark, spark.createDataFrame(
            [Row(k=k, val=1000 + i, tag="x")]), path=path, key="k")
        compact_pruned(spark, path, "k")
    v = current_base_version(spark, path)
    refs = _carried_refs(spark, path, v)
    owners = {r.split("/", 1)[0] for r in refs}
    # untouched files still resolve to v0's dir after 3 folds
    assert f"base_v{v0:05d}" in owners
    for d in owners:
        assert hfs.exists(spark, hfs.join(path, d)), d
    # every ref is dir/name — one hop, never a chained path
    assert all(r.count("/") == 1 for r in refs)
    got = {r["k"]: r["val"]
           for r in read_keyed_table(spark, path).collect()}
    assert got[15] == 1001 and got[77] == 1002 and len(got) == 400


def test_full_compact_rematerializes(spark, tmp_path):
    """A full compact on a carried table folds everything back into
    one self-contained dir and the GC then reclaims unreferenced
    owner dirs (beyond the retain window)."""
    path = _mk_range_table(spark, tmp_path)
    append_delta(spark, spark.createDataFrame([Row(k=3, val=-3, tag="m")]),
                 path=path, key="k")
    compact_pruned(spark, path, "k")
    v1 = current_base_version(spark, path)
    assert _carried_refs(spark, path, v1)
    append_delta(spark, spark.createDataFrame([Row(k=4, val=-4, tag="m")]),
                 path=path, key="k")
    compact(spark, path, "k")
    v2 = current_base_version(spark, path)
    assert _carried_refs(spark, path, v2) == []
    got = {r["k"]: r["val"]
           for r in read_keyed_table(spark, path).collect()}
    assert got[3] == -3 and got[4] == -4 and len(got) == 400


def test_schema_evolution_through_pruned_fold(spark, tmp_path):
    """A delta that ADDS a column folds correctly: rewritten files
    carry the new column, carried files surface it as NULL through
    the merged-footer read — same rows a full fold would produce."""
    path = _mk_range_table(spark, tmp_path)
    append_delta(spark, spark.createDataFrame(
        [Row(k=10, val=111, tag="n", extra="NEW")]), path=path, key="k")
    df, stats = compact_pruned(spark, path, "k")
    assert stats["files_carried"] > 0
    assert "extra" in df.columns
    rows = {r["k"]: (r["val"], r["extra"]) for r in df.collect()}
    assert rows[10] == (111, "NEW")
    assert rows[300] == (900, None)     # carried row: new col is NULL
    # the committed snapshot read agrees
    snap = read_keyed_table(spark, path)
    assert "extra" in snap.columns and snap.count() == 400


def test_time_travel_to_carried_version(spark, tmp_path):
    path = _mk_range_table(spark, tmp_path)
    append_delta(spark, spark.createDataFrame([Row(k=2, val=-2, tag="t")]),
                 path=path, key="k")
    compact_pruned(spark, path, "k")
    v1 = current_base_version(spark, path)
    append_delta(spark, spark.createDataFrame([Row(k=2, val=-22, tag="t")]),
                 path=path, key="k")
    compact_pruned(spark, path, "k")
    old = {r["k"]: r["val"]
           for r in read_keyed_table(spark, path, version=v1).collect()}
    assert old[2] == -2 and len(old) == 400
    cur = {r["k"]: r["val"]
           for r in read_keyed_table(spark, path).collect()}
    assert cur[2] == -22


def test_zonemap_carryover_keeps_pruning(spark, tmp_path):
    path = _mk_range_table(spark, tmp_path)
    append_delta(spark, spark.createDataFrame([Row(k=40, val=-1, tag="x")]),
                 path=path, key="k")
    compact_pruned(spark, path, "k")
    v = current_base_version(spark, path)
    zmap = zm.read_zone_map(spark, hfs.join(path, f"base_v{v:05d}"))
    assert zmap is not None
    assert sum(e["rows"] for e in zmap["files"]) == 400
    # the map covers EVERY live file (carried refs + rewritten)
    live = set(base_file_map(spark, path, v))
    assert {e["file"] for e in zmap["files"]} == live
    out, stats = lookup_keyed_table(spark, path, "k", values=[123],
                                    with_stats=True)
    assert stats["files_read"] == 1
    assert out.collect()[0]["val"] == 369
    out2, _ = lookup_keyed_table(spark, path, "k", values=[40],
                                 with_stats=True)
    assert out2.collect()[0]["val"] == -1


def test_matches_full_compact_twin(spark, tmp_path):
    p1 = _mk_range_table(spark, tmp_path, "a")
    p2 = _mk_range_table(spark, tmp_path, "b")
    for p in (p1, p2):
        append_delta(spark, spark.createDataFrame(
            [Row(k=7, val=70, tag=None), Row(k=999, val=9, tag="i")]),
            path=p, key="k")
        append_delete_delta(spark, spark.createDataFrame([Row(k=300)]),
                            path=p, key="k")
    df1, _ = compact_pruned(spark, p1, "k")
    df2 = compact(spark, p2, "k")
    assert _rows(df1) == _rows(df2)
    assert folded_through(spark, p1) == folded_through(spark, p2) == 2


def test_noop_without_deltas(spark, tmp_path):
    path = _mk_range_table(spark, tmp_path)
    v0 = current_base_version(spark, path)
    df, stats = compact_pruned(spark, path, "k")
    assert stats == {"pruned": True, "new_version": v0,
                     "deltas_folded": 0, "files_total": 8,
                     "files_rewritten": 0, "files_carried": 8}
    assert current_base_version(spark, path) == v0
    assert df.count() == 400


def test_fallback_on_unmapped_table(spark, tmp_path):
    path = str(tmp_path / "plain")
    upsert_into_keyed_table(spark, _docs(spark, 50), path=path, key="k",
                            updated_at_col=None)
    append_delta(spark, spark.createDataFrame([Row(k=1, val=-1, tag="x")]),
                 path=path, key="k")
    df, stats = compact_pruned(spark, path, "k")
    assert stats["pruned"] is False and "full fold" in stats["reason"]
    assert df.filter(F.col("k") == 1).collect()[0]["val"] == -1
    assert folded_through(spark, path) == 1


def test_cli_pruned_compact(spark, tmp_path, capsys):
    import json

    from howto_mongo_bulk_update_from_parquet_spark.cli import main

    path = _mk_range_table(spark, tmp_path)
    append_delta(spark, spark.createDataFrame([Row(k=9, val=-9, tag="c")]),
                 path=path, key="k")
    assert main(["compact", "--table", path, "--key", "k",
                 "--pruned"]) == 0
    out = json.loads(capsys.readouterr().out)
    assert out["pruned"] is True and out["rows"] == 400
    assert out["files_carried"] == 7 and out["deltas_folded"] == 1
    # re-layout flags contradict a pruned fold
    assert main(["compact", "--table", path, "--key", "k",
                 "--pruned", "--buckets", "4"]) == 2


def test_cli_delete_pruned(spark, tmp_path, capsys):
    """delete --pruned: tombstone + immediate surgical fold — only the
    victims' files rewrite, the rest carry by reference."""
    import json

    from howto_mongo_bulk_update_from_parquet_spark.cli import main

    path = _mk_range_table(spark, tmp_path)
    assert main(["delete", "--table", path, "--key", "k",
                 "--keys", "100,101", "--key-type", "long",
                 "--pruned"]) == 0
    out = json.loads(capsys.readouterr().out)
    assert out["pruned"] is True and out["files_carried"] == 7
    got = read_keyed_table(spark, path)
    assert got.count() == 398
    assert got.filter(F.col("k").isin(100, 101)).count() == 0
    # contradictory flags are a usage error
    assert main(["delete", "--table", path, "--key", "k",
                 "--keys", "5", "--tombstone", "--pruned"]) == 2


def test_changefeed_then_pruned_compact(spark, tmp_path):
    """The streaming write path composes with the surgical fold: a
    checkpointed changefeed drains op-typed batches into deltas on a
    RANGE-layout table, `compact --pruned` folds them touching only
    the admissible files, and a second feed round + fold keeps
    working against the carried base."""
    import json

    from howto_mongo_bulk_update_from_parquet_spark.cli import main

    table = str(tmp_path / "cfp_table")
    feed = str(tmp_path / "cfp_feed")
    ckpt = str(tmp_path / "cfp_ckpt")
    upsert_into_keyed_table(spark, _docs(spark, 400), path=table,
                            key="k", updated_at_col=None, range_files=8)
    spark.createDataFrame([(20, -20, "f1", "U"), (21, None, "f1", "U"),
                           (25, 0, None, "D")],
                          "k long, val long, tag string, op string") \
        .write.mode("append").parquet(feed)
    assert main(["changefeed", "--source", feed, "--table", table,
                 "--key", "k", "--checkpoint", ckpt]) == 0
    assert main(["compact", "--table", table, "--key", "k",
                 "--pruned"]) == 0
    got = {r["k"]: (r["val"], r["tag"])
           for r in read_keyed_table(spark, table).collect()}
    assert got[20] == (-20, "f1")
    assert got[21] == (63, "f1")          # val null-skipped, tag set
    assert 25 not in got and len(got) == 399
    # round 2 against the carried base
    spark.createDataFrame([(380, -380, "f2", "U")],
                          "k long, val long, tag string, op string") \
        .write.mode("append").parquet(feed)
    assert main(["changefeed", "--source", feed, "--table", table,
                 "--key", "k", "--checkpoint", ckpt]) == 0
    assert main(["compact", "--table", table, "--key", "k",
                 "--pruned"]) == 0
    got = {r["k"]: r["val"]
           for r in read_keyed_table(spark, table).collect()}
    assert got[380] == -380 and got[20] == -20 and len(got) == 399


def test_changefeed_auto_fold_threshold(spark, tmp_path, capsys):
    """--compact-pending closes the arrival loop: below the threshold
    the drain leaves deltas pending; at it, the pruned fold runs."""
    from howto_mongo_bulk_update_from_parquet_spark.cli import main

    table = str(tmp_path / "af_table")
    feed = str(tmp_path / "af_feed")
    upsert_into_keyed_table(spark, _docs(spark, 400), path=table,
                            key="k", updated_at_col=None, range_files=8)
    spark.createDataFrame([(30, -30, "x", "U")],
                          "k long, val long, tag string, op string") \
        .write.mode("append").parquet(feed)
    assert main(["changefeed", "--source", feed, "--table", table,
                 "--key", "k", "--checkpoint", str(tmp_path / "c1"),
                 "--compact-pending", "5"]) == 0
    out = capsys.readouterr().out
    assert "skipped" in out
    assert folded_through(spark, table) == 0    # nothing folded
    spark.createDataFrame([(31, -31, "x", "U")],
                          "k long, val long, tag string, op string") \
        .write.mode("append").parquet(feed)
    assert main(["changefeed", "--source", feed, "--table", table,
                 "--key", "k", "--checkpoint", str(tmp_path / "c1"),
                 "--compact-pending", "2"]) == 0
    out = capsys.readouterr().out
    assert "pruned fold rewrote" in out
    assert folded_through(spark, table) == 2
    got = {r["k"]: r["val"]
           for r in read_keyed_table(spark, table).collect()}
    assert got[30] == -30 and got[31] == -31 and len(got) == 400


def test_arrival_loop_converges(spark, tmp_path):
    """Three arrival rounds of pruned folds: every round's committed
    base equals the running merged truth, deltas GC one commit later,
    and the table stays prunable throughout."""
    path = _mk_range_table(spark, tmp_path)
    truth = {r["k"]: (r["val"], r["tag"])
             for r in _docs(spark, 400).collect()}
    batches = [
        [Row(k=15, val=1, tag="r1"), Row(k=380, val=2, tag="r1")],
        [Row(k=15, val=3, tag=None), Row(k=1_000, val=4, tag="r2")],
        [Row(k=77, val=5, tag="r3")],
    ]
    for batch in batches:
        append_delta(spark, spark.createDataFrame(batch),
                     path=path, key="k")
        for row in batch:
            old = truth.get(row.k, (None, None))
            truth[row.k] = (row.val if row.val is not None else old[0],
                            row.tag if row.tag is not None else old[1])
        df, stats = compact_pruned(spark, path, "k")
        assert stats["pruned"] is True
        got = {r["k"]: (r["val"], r["tag"]) for r in df.collect()}
        assert got == truth
    out, st = lookup_keyed_table(spark, path, "k", values=[77],
                                 with_stats=True)
    assert st["files_read"] < st["files_total"]
    assert out.collect()[0]["val"] == 5


def test_trailing_slash_path_keeps_refs_intact(spark, tmp_path):
    """ADVICE r12 (medium): fmap paths come from hfs.join (which
    rstrips '/'), so slicing carried refs with a raw trailing-slash
    `path` chopped the first character off every ref ('ase_v00001/…'),
    bricking the table. The slice prefix must be the normalized root;
    a second fold cycle through the carried refs must keep working."""
    path = _mk_range_table(spark, tmp_path, name="slashtab")
    slashed = path + "/"
    append_delta(spark, spark.createDataFrame(
        [Row(k=20, val=-1, tag="x")]), path=slashed, key="k")
    df, stats = compact_pruned(spark, slashed, "k")
    assert stats["pruned"] is True and stats["files_carried"] >= 1
    v = current_base_version(spark, path)
    refs = _carried_refs(spark, path, v)
    assert refs and all(r.startswith("base_v") for r in refs)
    got = {r["k"]: r["val"] for r in read_keyed_table(spark, slashed)
           .collect()}
    assert got[20] == -1 and len(got) == 400
    # the bricking scenario: every SUBSEQUENT read/fold resolved the
    # corrupt refs — prove the next cycle is healthy too
    append_delta(spark, spark.createDataFrame(
        [Row(k=350, val=-2, tag="y")]), path=slashed, key="k")
    df2, stats2 = compact_pruned(spark, slashed, "k")
    assert stats2["pruned"] is True
    got2 = {r["k"]: r["val"] for r in df2.collect()}
    assert got2[20] == -1 and got2[350] == -2 and len(got2) == 400


def test_racing_pruned_folds_share_no_slot(spark, tmp_path, monkeypatch):
    """Two pruned folds of the same snapshot that BOTH pass the slot
    claim: the loser resolved its snapshot, claimed the next version
    and started writing; the winner folded and committed that version
    before the loser's write created anything, so the loser's write
    proceeds as if its existence pre-check had passed. The loser gets
    ConcurrentWriteError, the slot holds only the winner's files and
    sidecars, and reads equal the model."""
    from pyspark.sql.readwriter import DataFrameWriter

    from howto_mongo_bulk_update_from_parquet_spark.sinks import \
        keyed_table as kt

    path = _mk_range_table(spark, tmp_path, n=80, files=4)
    append_delta(spark, spark.createDataFrame(
        [Row(k=10, val=-1, tag="w"), Row(k=500, val=5, tag="new")]),
        path=path, key="k")
    model = {r["k"]: (r["val"], r["tag"])
             for r in read_merged(spark, path, "k").collect()}
    v0 = current_base_version(spark, path)
    # both folds resolve this snapshot; the winner commits while the
    # loser is writing, so the loser's copy is stale when it publishes
    stale = kt.snapshot(spark, path)
    real_parquet = DataFrameWriter.parquet
    race = {"armed": True}

    def racing_parquet(self, p, *args, **kwargs):
        if race["armed"] and f"base_v{v0 + 1:05d}" in p:
            race["armed"] = False
            race["winner"] = compact_pruned(spark, path, "k")[1]
            self = self.mode("append")   # its pre-check passed earlier
        return real_parquet(self, p, *args, **kwargs)

    monkeypatch.setattr(kt, "snapshot", lambda *a, **k: stale)
    monkeypatch.setattr(DataFrameWriter, "parquet", racing_parquet)
    with pytest.raises(kt.ConcurrentWriteError):
        compact_pruned(spark, path, "k")
    monkeypatch.undo()
    winner = race["winner"]
    assert winner["new_version"] == v0 + 1
    assert current_base_version(spark, path) == v0 + 1
    slot = hfs.join(path, f"base_v{v0 + 1:05d}")
    own = [f for f in hfs.listdir(spark, slot)
           if not f.startswith(("_", "."))]
    assert len(own) == winner["files_rewritten"]
    zmap = zm.read_zone_map(spark, slot)
    assert sorted(e["file"] for e in zmap["files"]) == \
        sorted(base_file_map(spark, path, v0 + 1))
    got = {r["k"]: (r["val"], r["tag"])
           for r in read_keyed_table(spark, path).collect()}
    assert got == model
