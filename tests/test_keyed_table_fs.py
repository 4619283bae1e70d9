"""Versioned keyed-table layout: one write per round, manifest flip,
Hadoop-FileSystem path routing, one resolver for every reader and
writer, and a first write that refuses plain parquet at the root."""

import os

from howto_mongo_bulk_update_from_parquet_spark.sinks import fs as hfs
from howto_mongo_bulk_update_from_parquet_spark.sinks.keyed_table import (
    append_delta, compact, current_base_version, read_keyed_table,
    read_merged, table_schema, upsert_into_keyed_table)


def test_hadoop_fs_helpers_roundtrip(spark, tmp_path):
    # exercised through the Hadoop FileSystem API (file: scheme here;
    # identical call path for hdfs:// and s3a://)
    root = f"file://{tmp_path}/fsapi"
    assert not hfs.exists(spark, root)
    hfs.write_text(spark, hfs.join(root, "_CURRENT"), "7")
    assert hfs.exists(spark, root)
    assert hfs.read_text(spark, hfs.join(root, "_CURRENT")) == "7"
    assert hfs.read_text(spark, hfs.join(root, "nope")) is None
    assert hfs.listdir(spark, root) == ["_CURRENT"]
    assert hfs.rename(spark, hfs.join(root, "_CURRENT"),
                      hfs.join(root, "renamed"))
    assert hfs.listdir(spark, root) == ["renamed"]
    assert hfs.delete(spark, hfs.join(root, "renamed"))
    assert hfs.listdir(spark, root) == []
    assert hfs.join("s3a://bucket/t/", "a", "b") == "s3a://bucket/t/a/b"


def test_versioned_layout_single_write_per_round(spark, tmp_path):
    path = os.path.join(str(tmp_path), "versioned")
    r1 = spark.createDataFrame([("a", 1.0), ("b", 2.0)], "_id string, v double")
    upsert_into_keyed_table(spark, r1, path=path, key="_id")
    assert current_base_version(spark, path) == 1
    r2 = spark.createDataFrame([("a", 9.0), ("c", 3.0)], "_id string, v double")
    upsert_into_keyed_table(spark, r2, path=path, key="_id")
    assert current_base_version(spark, path) == 2
    # each round wrote the merged table exactly once (no __tmp_write
    # double-write dance); the default retain window keeps current +
    # previous so in-flight readers of v1 can finish
    base_dirs = sorted(d for d in os.listdir(path) if d.startswith("base_v"))
    assert base_dirs == ["base_v00001", "base_v00002"]
    assert not [d for d in os.listdir(path) if "tmp" in d.lower()]
    rows = {r["_id"]: r["v"] for r in read_keyed_table(spark, path).collect()}
    assert rows == {"a": 9.0, "b": 2.0, "c": 3.0}
    # a third round pushes v1 out of the retain window
    r3 = spark.createDataFrame([("d", 4.0)], "_id string, v double")
    upsert_into_keyed_table(spark, r3, path=path, key="_id")
    base_dirs = sorted(d for d in os.listdir(path) if d.startswith("base_v"))
    assert base_dirs == ["base_v00002", "base_v00003"]


def test_retain_versions_keeps_previous_snapshot(spark, tmp_path):
    import pytest
    path = os.path.join(str(tmp_path), "retained")
    r1 = spark.createDataFrame([("a", 1.0)], "_id string, v double")
    upsert_into_keyed_table(spark, r1, path=path, key="_id")
    r2 = spark.createDataFrame([("b", 2.0)], "_id string, v double")
    upsert_into_keyed_table(spark, r2, path=path, key="_id",
                            retain_versions=2)
    dirs = sorted(d for d in os.listdir(path) if d.startswith("base_v"))
    assert dirs == ["base_v00001", "base_v00002"]
    # reader follows the manifest to the newest version
    assert read_keyed_table(spark, path).count() == 2
    # time travel: the retained v1 snapshot is still readable as-of
    v1 = read_keyed_table(spark, path, version=1)
    assert {r["_id"] for r in v1.collect()} == {"a"}
    with pytest.raises(FileNotFoundError, match="does not exist or was"):
        read_keyed_table(spark, path, version=7)


def test_bootstrap_refuses_root_parquet_files(spark, tmp_path):
    """Plain parquet files at a directory's root are no keyed table:
    reads find none, and the first upsert raises and leaves the files
    alone instead of merging them in and deleting them."""
    import pytest
    path = os.path.join(str(tmp_path), "flat")
    spark.createDataFrame([("a", 1.0), ("b", 2.0)],
                          "_id string, v double").write.parquet(path)
    before = sorted(os.listdir(path))
    with pytest.raises(FileNotFoundError):
        read_keyed_table(spark, path)
    src = spark.createDataFrame([("c", 3.0)], "_id string, v double")
    with pytest.raises(FileExistsError, match="parquet file"):
        upsert_into_keyed_table(spark, src, path=path, key="_id")
    assert sorted(os.listdir(path)) == before
    assert current_base_version(spark, path) == 0


def test_reader_ignores_incomplete_version_dirs(spark, tmp_path):
    """Crash-safety: a base_v dir without _SUCCESS (writer died before
    commit) and a stale manifest must never surface partial data —
    readers stay on the last COMMITTED version."""
    path = os.path.join(str(tmp_path), "crashy")
    r1 = spark.createDataFrame([("a", 1.0)], "_id string, v double")
    upsert_into_keyed_table(spark, r1, path=path, key="_id")
    # simulate a writer that died mid-write: version dir, no _SUCCESS
    os.makedirs(os.path.join(path, "base_v00009"))
    with open(os.path.join(path, "base_v00009", "part-junk.parquet"), "wb") as fh:
        fh.write(b"not parquet")
    # manifest still points at v1 → reader sees committed data only
    assert current_base_version(spark, path) == 1
    assert {r["_id"] for r in read_keyed_table(spark, path).collect()} == {"a"}
    # even with every pointer gone, the fallback counts only COMPLETE
    # versions (those with _SUCCESS)
    for f in os.listdir(path):
        if f.startswith("_CURRENT"):
            hfs.delete(spark, hfs.join(path, f))
    assert current_base_version(spark, path) == 1


def test_interleaved_writers_loser_gets_clean_conflict(spark, tmp_path, monkeypatch):
    """Two upsert rounds that both read base version N: the winner
    commits N+1; the loser must raise ConcurrentWriteError (not
    silently drop the winner's round), and the table must still hold
    the winner's data."""
    import pytest

    from howto_mongo_bulk_update_from_parquet_spark.sinks import keyed_table as kt

    path = os.path.join(str(tmp_path), "race")
    r0 = spark.createDataFrame([("a", 1.0)], "_id string, v double")
    upsert_into_keyed_table(spark, r0, path=path, key="_id")     # v1
    # loser resolved version 1 before the winner's commit landed
    # (writers resolve the table once, into one snapshot)
    stale = kt.snapshot(spark, path)
    winner = spark.createDataFrame([("b", 2.0)], "_id string, v double")
    upsert_into_keyed_table(spark, winner, path=path, key="_id")  # v2 committed
    monkeypatch.setattr(kt, "snapshot", lambda *a, **k: stale)
    loser = spark.createDataFrame([("c", 3.0)], "_id string, v double")
    with pytest.raises(kt.ConcurrentWriteError, match="re-read and retry"):
        upsert_into_keyed_table(spark, loser, path=path, key="_id")
    monkeypatch.undo()
    rows = {r["_id"]: r["v"] for r in read_keyed_table(spark, path).collect()}
    assert rows == {"a": 1.0, "b": 2.0}          # winner's commit intact
    # and the retry path works: re-reading the true version succeeds
    out = upsert_into_keyed_table(spark, loser, path=path, key="_id")
    assert {r["_id"] for r in out.collect()} == {"a", "b", "c"}


def test_manifest_publish_cas_refuses_stale_commit(spark, tmp_path):
    """The pointer publish itself is a CAS: a pointer at or past the
    target version makes _commit_version raise instead of republishing."""
    import pytest

    from howto_mongo_bulk_update_from_parquet_spark.sinks import keyed_table as kt

    path = os.path.join(str(tmp_path), "cas")
    r0 = spark.createDataFrame([("a", 1.0)], "_id string, v double")
    upsert_into_keyed_table(spark, r0, path=path, key="_id")     # publishes v1
    with pytest.raises(kt.ConcurrentWriteError, match="advanced"):
        kt._commit_version(spark, path, 1)
    # commit of the NEXT version still proceeds normally
    kt._commit_version(spark, path, 2, retain_versions=2)
    assert current_base_version(spark, path) == 2


def test_versioned_manifest_layout(spark, tmp_path):
    """Commits publish _CURRENT.v{N} (no pointerless window: old
    pointers retire only after the new one is visible)."""
    path = os.path.join(str(tmp_path), "layout")
    for i in range(2):
        src = spark.createDataFrame([("a", float(i))], "_id string, v double")
        upsert_into_keyed_table(spark, src, path=path, key="_id")
    names = set(os.listdir(path))
    assert "_CURRENT.v00002" in names
    assert "_CURRENT.v00001" not in names and "_CURRENT" not in names
    assert not [n for n in names if n.endswith(".tmp")]


def test_pointerless_fallback_prefers_second_newest(spark, tmp_path):
    """Recovery semantics: with every pointer gone and 2+ complete
    bases, the newest may be an unconfirmed commit — the reader takes
    the second-newest (stale-but-committed). Every reader and the
    next writer resolve that same version."""
    import time
    path = os.path.join(str(tmp_path), "fallback")
    for i in range(2):
        src = spark.createDataFrame([(f"k{i}", float(i))],
                                    "_id string, v double")
        upsert_into_keyed_table(spark, src, path=path, key="_id")
    for f in os.listdir(path):
        if f.startswith("_CURRENT"):
            hfs.delete(spark, hfs.join(path, f))
    assert current_base_version(spark, path) == 1

    def ids(df):
        return {r["_id"] for r in df.collect()}
    assert ids(read_keyed_table(spark, path)) == {"k0"}
    assert ids(read_merged(spark, path, "_id")) == {"k0"}
    assert table_schema(spark, path).names == \
        read_keyed_table(spark, path, version=1).schema.names
    # age the unconfirmed base_v00002 past the claim grace window so
    # the next writer skips its slot instead of presuming a live racer
    old = time.time() - 3600
    for root, dirs, files in os.walk(os.path.join(path, "base_v00002")):
        for n in files + dirs + ["."]:
            os.utime(os.path.join(root, n), (old, old))
    src = spark.createDataFrame([("k9", 9.0)], "_id string, v double")
    out = upsert_into_keyed_table(spark, src, path=path, key="_id")
    assert ids(out) == {"k0", "k9"}                    # merged onto v1
    assert current_base_version(spark, path) == 3


def test_read_missing_table_raises(spark, tmp_path):
    import pytest
    with pytest.raises(FileNotFoundError):
        read_keyed_table(spark, os.path.join(str(tmp_path), "nope"))


def test_compact_single_write_versioned_base(spark, tmp_path):
    path = os.path.join(str(tmp_path), "lsm_v")
    for row in (("a", 1.0), ("b", 2.0)):
        append_delta(spark, spark.createDataFrame([row], "_id string, v double"),
                     path=path, key="_id")
    compact(spark, path, "_id")
    entries = set(os.listdir(path))
    assert "base_v00001" in entries
    assert not [d for d in entries if "tmp" in d.lower()]
    # the freshly-folded delta keeps its files one more commit (the
    # delta analog of retain_versions) but is invisible to readers
    from howto_mongo_bulk_update_from_parquet_spark.sinks import keyed_table as kt
    assert kt.snapshot(spark, path).deltas == ()
    # second compact rolls the version forward (GC'ing the previous
    # fold's files); the default retain window keeps current + previous
    append_delta(spark, spark.createDataFrame([("c", 3.0)], "_id string, v double"),
                 path=path, key="_id")
    compact(spark, path, "_id")
    dirs = sorted(d for d in os.listdir(path) if d.startswith("base_v"))
    assert dirs == ["base_v00001", "base_v00002"]
    assert "delta_00001" not in os.listdir(path)        # prior fold GC'd
    assert {r["_id"] for r in read_merged(spark, path, "_id").collect()} == \
        {"a", "b", "c"}


def _exists_checks_in_the_gap(monkeypatch):
    """Make every Hadoop existence check answer as if run before a
    racer's target landed."""
    real_fs_path = hfs._fs_path

    def fs_path_in_the_gap(s, p):
        fs, jp = real_fs_path(s, p)

        class InTheGap:
            def exists(self, q):
                return False

            def __getattr__(self, name):
                return getattr(fs, name)

        return InTheGap(), jp

    monkeypatch.setattr(hfs, "_fs_path", fs_path_in_the_gap)


def test_rename_no_clobber_loses_to_a_directory_landing_in_the_gap(
        spark, tmp_path, monkeypatch):
    """A racer's slot directory that lands between the existence check
    and the rename: the rename loses (False) and leaves both directories
    as they were. Hadoop's local rename would move the loser INSIDE the
    winner's slot and report success, so two writers would both believe
    they took the one slot."""
    src, dst = tmp_path / ".stage-x", tmp_path / "slot"
    for d in (src, dst):
        d.mkdir()
        (d / "part-0").write_text(d.name)
    # both existence checks run before the racer's directory landed
    _exists_checks_in_the_gap(monkeypatch)
    monkeypatch.setattr(os.path, "lexists", lambda p: False)
    lost = not hfs.rename_no_clobber(spark, str(src), str(dst))
    monkeypatch.undo()
    assert lost
    assert os.listdir(dst) == ["part-0"]
    assert (src / "part-0").read_text() == ".stage-x"


def test_local_path_resolution(spark, tmp_path):
    """The metadata-read fast path must engage ONLY for provably-local
    paths: bare paths under a file: default FS, file:///-style URIs
    without an authority; every remote scheme (and authority-bearing
    file: URIs) stays on the JVM FileSystem."""
    from howto_mongo_bulk_update_from_parquet_spark.sinks.fs import _local_path
    assert _local_path(spark, "/tmp/x") == "/tmp/x"
    assert _local_path(spark, f"file://{tmp_path}/y") == f"{tmp_path}/y"
    assert _local_path(spark, "file:///a/b") == "/a/b"
    assert _local_path(spark, "s3a://bucket/key") is None
    assert _local_path(spark, "hdfs://nn/a") is None
    assert _local_path(spark, "file://host/a") is None   # authority


def test_fast_and_jvm_reads_agree(spark, tmp_path):
    import os
    d = str(tmp_path / "agree")
    os.makedirs(d)
    with open(os.path.join(d, "m.json"), "w") as fh:
        fh.write('{"v": 1}\n')
    # bare local path (fast) and file: URI (fast) and the JVM answer
    # for the same file must agree modulo the trailing newline
    bare = hfs.read_text(spark, os.path.join(d, "m.json"))
    uri = hfs.read_text(spark, f"file://{d}/m.json")
    assert bare.strip() == uri.strip() == '{"v": 1}'
    assert hfs.read_text(spark, os.path.join(d, "absent")) is None
    assert sorted(hfs.listdir(spark, d)) == ["m.json"]


def test_every_base_sidecar_is_written_in_staging(spark, tmp_path,
                                                  monkeypatch):
    """Nothing writes into a `base_v*` slot after it appears: the zone
    map, bloom index, carried refs and `_SUCCESS` of every base rewriter
    land in its `.stage-*` dir before the slot rename; the only other
    text the writers put down is the manifest's temp file."""
    import re

    from pyspark.sql import Row

    from howto_mongo_bulk_update_from_parquet_spark.sinks import \
        bloom_index as bi
    from howto_mongo_bulk_update_from_parquet_spark.sinks.keyed_table import (
        compact_pruned, delete_from_keyed_table, restore_table)

    path = str(tmp_path / "staged")

    def rows(ks):
        return spark.createDataFrame(
            [Row(k=k, score=float(k), h=f"h{k * 7 % 40}") for k in ks])

    layout = dict(range_files=4, stats_cols=["score"], bloom_cols=["h"])
    upsert_into_keyed_table(spark, rows(range(40)), path=path, key="k",
                            updated_at_col=None, **layout)
    written = []
    real_text, real_bloom = hfs.write_text, bi.write_bloom_index
    monkeypatch.setattr(hfs, "write_text", lambda s, p, t: (
        written.append(p), real_text(s, p, t))[1])
    monkeypatch.setattr(bi, "write_bloom_index", lambda s, d, r: (
        written.append(d), real_bloom(s, d, r))[1])
    upsert_into_keyed_table(spark, rows([1, 2, 45]), path=path, key="k",
                            updated_at_col=None, **layout)
    compact(spark, path, "k")
    delete_from_keyed_table(spark, rows([3]), path=path, key="k")
    append_delta(spark, rows([4, 50]), path=path, key="k")
    compact_pruned(spark, path, "k")
    restore_table(spark, path, "k", current_base_version(spark, path) - 1)
    monkeypatch.undo()
    staged = re.compile(r"/\.stage-[^/]+(/|$)")
    manifest_tmp = re.compile(r"/_CURRENT\.v\d{5}\.tmp\.[0-9a-f]+$")
    assert written
    stray = [p for p in written
             if not (staged.search(p) or manifest_tmp.search(p))]
    assert stray == [], stray
    got = sorted(r["k"] for r in read_keyed_table(spark, path).collect())
    assert got == sorted(set(range(40)) - {3} | {45})


def test_hadoop_rename_no_clobber_refuses_an_existing_target(
        spark, tmp_path, monkeypatch):
    """The Hadoop branch of `rename_no_clobber` refuses a directory or a
    file that landed in the check-then-rename gap: it returns False,
    leaves the target as it was and does not move the source inside
    it. `FileSystem.rename` would move a directory INSIDE an existing
    directory and replace an existing file, reporting success."""
    slot_src, slot_dst = tmp_path / ".stage-x", tmp_path / "slot"
    for d in (slot_src, slot_dst):
        d.mkdir()
        (d / "part-0").write_text(d.name)
    file_src, file_dst = tmp_path / "m.tmp", tmp_path / "m"
    file_src.write_text("mine")
    file_dst.write_text("theirs")
    # the Hadoop branch (as on `hdfs://`), its existence check run
    # before the racer's target landed
    monkeypatch.setattr(hfs, "_local_path", lambda s, p: None)
    _exists_checks_in_the_gap(monkeypatch)
    won_dir = hfs.rename_no_clobber(spark, f"file://{slot_src}",
                                    f"file://{slot_dst}")
    won_file = hfs.rename_no_clobber(spark, f"file://{file_src}",
                                     f"file://{file_dst}")
    monkeypatch.undo()
    assert not won_dir and not won_file
    assert os.listdir(slot_dst) == ["part-0"]
    assert (slot_dst / "part-0").read_text() == "slot"
    assert (slot_src / "part-0").read_text() == ".stage-x"
    assert file_dst.read_text() == "theirs"
    assert file_src.read_text() == "mine"
