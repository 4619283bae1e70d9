"""Recovery from complete-but-never-committed base directories.

A writer that dies BETWEEN finishing its `base_v{N+1}` write (the dir
has _SUCCESS) and flipping the manifest leaves an orphan the claim
fence refuses to clobber — correctly, since a fresh complete dir
belongs to a racing writer about to commit. Before the fix, every
future rewrite (upsert fold, compact, delete) targeted the same
poisoned number and raised ConcurrentWriteError forever.

`_next_base_version` skips a complete, UNREFERENCED orphan once it has
sat untouched past the staleness grace window; `_commit_version`
retains by published pointers (not version arithmetic), so the skipped
orphan falls out of the keep set and is reclaimed at the next commit
while the genuinely previous base stays for in-flight readers.
"""

import os
import shutil
import time

import pytest
from pyspark.sql import Row, functions as F

from howto_mongo_bulk_update_from_parquet_spark.sinks import fs as hfs
from howto_mongo_bulk_update_from_parquet_spark.sinks.keyed_table import (
    ConcurrentWriteError, append_delta, compact, current_base_version,
    read_keyed_table, read_merged, upsert_into_keyed_table)


def _docs(spark, n=100):
    return spark.range(n).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("val"))


def _mk_table(spark, tmp_path):
    path = str(tmp_path / "otab")
    upsert_into_keyed_table(spark, _docs(spark), path=path, key="k",
                            updated_at_col=None)
    return path


def _plant_orphan(path: str, version: int, stale: bool) -> str:
    """Simulate a writer that died post-write, pre-commit: a complete
    copy of the current base at `base_v{version}` with no manifest
    pointer. `stale` backdates every mtime past the 15-minute grace."""
    src = os.path.join(path, "base_v00001")
    dst = os.path.join(path, f"base_v{version:05d}")
    shutil.copytree(src, dst)
    if stale:
        old = time.time() - 3600
        for root, dirs, files in os.walk(dst, topdown=False):
            for name in files + dirs:
                os.utime(os.path.join(root, name), (old, old))
        os.utime(dst, (old, old))
    return dst


def test_stale_orphan_skipped_and_reclaimed(spark, tmp_path):
    path = _mk_table(spark, tmp_path)
    _plant_orphan(path, 2, stale=True)
    append_delta(spark, spark.createDataFrame([Row(k=5, val=-1)]),
                 path=path, key="k")
    compact(spark, path, "k")              # would deadlock before
    assert current_base_version(spark, path) == 3
    # the skipping commit reclaims the unreferenced orphan immediately
    # and keeps the genuinely previous base for in-flight readers
    assert not hfs.exists(spark, hfs.join(path, "base_v00002"))
    assert hfs.exists(spark, hfs.join(path, "base_v00001"))
    got = {r["k"]: r["val"] for r in read_keyed_table(spark, path).collect()}
    assert got[5] == -1 and got[6] == 12 and len(got) == 100


def test_fresh_orphan_is_a_clean_conflict(spark, tmp_path):
    path = _mk_table(spark, tmp_path)
    _plant_orphan(path, 2, stale=False)    # racing writer, about to commit
    append_delta(spark, spark.createDataFrame([Row(k=5, val=-1)]),
                 path=path, key="k")
    with pytest.raises(ConcurrentWriteError):
        compact(spark, path, "k")
    # the table itself is untouched and still readable
    assert current_base_version(spark, path) == 1
    assert read_merged(spark, path, "k").count() == 100


def test_upsert_skips_orphan_too(spark, tmp_path):
    path = _mk_table(spark, tmp_path)
    _plant_orphan(path, 2, stale=True)
    upsert_into_keyed_table(
        spark, spark.createDataFrame([Row(k=7, val=700)]),
        path=path, key="k", updated_at_col=None)
    assert current_base_version(spark, path) == 3
    got = {r["k"]: r["val"]
           for r in read_keyed_table(spark, path).collect()}
    assert got[7] == 700 and len(got) == 100


def test_vacuum_reclaims_orphan_bases(spark, tmp_path):
    """A dormant table never commits again, so its orphans are
    reclaimed by vacuum_orphan_bases — stale ones only, and never a
    version at or below the current pointer (retained history dirs
    have no pointer files by design)."""
    from howto_mongo_bulk_update_from_parquet_spark.sinks.keyed_table import (
        vacuum_orphan_bases)

    path = _mk_table(spark, tmp_path)
    _plant_orphan(path, 2, stale=True)
    _plant_orphan(path, 3, stale=False)   # fresh — possibly live writer
    got = vacuum_orphan_bases(spark, path, older_than_ms=60_000)
    assert got == [2]
    assert not hfs.exists(spark, hfs.join(path, "base_v00002"))
    assert hfs.exists(spark, hfs.join(path, "base_v00003"))
    # the committed base (v1, at the pointer) is never a candidate
    assert hfs.exists(spark, hfs.join(path, "base_v00001"))
    assert read_keyed_table(spark, path).count() == 100


def test_cli_vacuum_reports_orphans(spark, tmp_path, capsys):
    from howto_mongo_bulk_update_from_parquet_spark.cli import main

    path = _mk_table(spark, tmp_path)
    _plant_orphan(path, 2, stale=True)
    assert main(["vacuum", "--table", path,
                 "--older-than-hours", "0.01"]) == 0
    out = capsys.readouterr().out
    assert "orphan base dir(s)" in out and "base_v00002" in out


def test_consecutive_orphans_skipped(spark, tmp_path):
    path = _mk_table(spark, tmp_path)
    _plant_orphan(path, 2, stale=True)
    _plant_orphan(path, 3, stale=True)
    append_delta(spark, spark.createDataFrame([Row(k=1, val=0)]),
                 path=path, key="k")
    compact(spark, path, "k")
    assert current_base_version(spark, path) == 4
    assert not hfs.exists(spark, hfs.join(path, "base_v00002"))
    assert not hfs.exists(spark, hfs.join(path, "base_v00003"))


def test_recover_dead_claims_clears_fresh_debris_only(spark, tmp_path):
    """r13: a single-writer restart may clear its own kill's
    incomplete claim dirs WITHOUT waiting out the staleness grace —
    but must never touch committed versions or pending complete
    deltas."""
    import os

    from howto_mongo_bulk_update_from_parquet_spark.sinks.keyed_table import (
        append_delta, read_merged, recover_dead_claims,
        upsert_into_keyed_table)

    path = str(tmp_path / "rdc")
    upsert_into_keyed_table(
        spark, spark.range(20).selectExpr("id AS k", "id * 2 AS v"),
        path=path, key="k", updated_at_col=None)
    append_delta(spark, spark.createDataFrame([(1, 99)], "k long, v long"),
                 path=path, key="k")
    # fresh kill debris: an incomplete base claim and an incomplete
    # delta claim (no _SUCCESS), both younger than the grace window
    os.makedirs(os.path.join(path, "base_v00002"))
    with open(os.path.join(path, "base_v00002", "part-0.parquet"), "w"):
        pass
    os.makedirs(os.path.join(path, "delta_00002"))
    cleared = recover_dead_claims(spark, path)
    assert sorted(cleared) == ["base_v00002", "delta_00002"]
    assert not os.path.exists(os.path.join(path, "base_v00002"))
    # committed version + complete delta untouched, table healthy
    assert os.path.exists(os.path.join(path, "base_v00001", "_SUCCESS"))
    assert os.path.exists(os.path.join(path, "delta_00001", "_SUCCESS"))
    got = {r["k"]: r["v"] for r in read_merged(spark, path, "k").collect()}
    assert got[1] == 99 and len(got) == 20
    # a second writer round claims the freed slot cleanly
    upsert_into_keyed_table(
        spark, spark.createDataFrame([(2, 77)], "k long, v long"),
        path=path, key="k", updated_at_col=None)


def test_recover_dead_claims_clears_complete_unpublished_base(spark,
                                                              tmp_path):
    """The kill-between-write-and-commit sliver: a COMPLETE base dir
    the manifest never flipped to is dead debris under the exclusive-
    writer contract and must clear — while complete DELTAS (whose
    _SUCCESS is their commit) and published bases survive."""
    import os

    from howto_mongo_bulk_update_from_parquet_spark.sinks.keyed_table import (
        append_delta, read_merged, recover_dead_claims,
        upsert_into_keyed_table)

    path = str(tmp_path / "rdc2")
    upsert_into_keyed_table(
        spark, spark.range(10).selectExpr("id AS k", "id AS v"),
        path=path, key="k", updated_at_col=None)
    append_delta(spark, spark.createDataFrame([(1, 99)], "k long, v long"),
                 path=path, key="k")
    # complete-but-unpublished base: _SUCCESS present, no manifest
    os.makedirs(os.path.join(path, "base_v00002"))
    for f in ("part-0.parquet", "_SUCCESS"):
        with open(os.path.join(path, "base_v00002", f), "w"):
            pass
    cleared = recover_dead_claims(spark, path)
    assert cleared == ["base_v00002"]
    assert os.path.exists(os.path.join(path, "base_v00001", "_SUCCESS"))
    assert os.path.exists(os.path.join(path, "delta_00001", "_SUCCESS"))
    got = {r["k"]: r["v"] for r in read_merged(spark, path, "k").collect()}
    assert got[1] == 99 and len(got) == 10
    # the freed slot is claimable again
    upsert_into_keyed_table(
        spark, spark.createDataFrame([(3, 33)], "k long, v long"),
        path=path, key="k", updated_at_col=None)


def test_recover_dead_claims_keeps_retained_history(spark, tmp_path):
    """A retained base version lost its manifest pointer at the next
    commit, but it was published: the sweep keeps it, so time travel
    to it still works."""
    from howto_mongo_bulk_update_from_parquet_spark.sinks.keyed_table import (
        recover_dead_claims)

    path = str(tmp_path / "rdc3")
    for i in range(2):
        upsert_into_keyed_table(
            spark, spark.createDataFrame([(i, i)], "k long, v long"),
            path=path, key="k", updated_at_col=None)
    assert recover_dead_claims(spark, path) == []
    assert read_keyed_table(spark, path, version=1).count() == 1


def test_failed_sidecar_leaves_no_slot(spark, tmp_path, monkeypatch):
    """A writer that fails after its data write but before its zone map
    lands leaves no `base_v*` dir behind: every sidecar is built in the
    private staging dir, before the slot rename. A slot left above the
    published version would read as a live racer's claim, and every
    later rewrite would raise ConcurrentWriteError until the staleness
    grace expired."""
    from howto_mongo_bulk_update_from_parquet_spark.sinks import \
        zonemap as zm

    path = str(tmp_path / "wedge")
    upsert_into_keyed_table(spark, _docs(spark, 40), path=path, key="k",
                            updated_at_col=None, range_files=4)
    real = zm.collect_zone_map

    def fail_once(*a, **k):
        monkeypatch.setattr(zm, "collect_zone_map", real)
        raise RuntimeError("injected zone-map failure")

    def unpublished_slots():
        v = current_base_version(spark, path)
        return [d for d in os.listdir(path)
                if d.startswith("base_v") and int(d[6:]) > v]

    writes = [
        lambda: upsert_into_keyed_table(
            spark, spark.createDataFrame([Row(k=3, val=-3)]), path=path,
            key="k", updated_at_col=None, range_files=4),
        lambda: compact(spark, path, "k"),
    ]
    for write in writes:
        monkeypatch.setattr(zm, "collect_zone_map", fail_once)
        with pytest.raises(RuntimeError, match="injected"):
            write()
        assert unpublished_slots() == []
        before = current_base_version(spark, path)
        upsert_into_keyed_table(
            spark, spark.createDataFrame([Row(k=5, val=-5)]), path=path,
            key="k", updated_at_col=None)
        assert current_base_version(spark, path) > before
    got = {r["k"]: r["val"] for r in read_keyed_table(spark, path).collect()}
    assert got[5] == -5 and got[3] == 6 and len(got) == 40
