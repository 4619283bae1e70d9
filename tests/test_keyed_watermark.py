"""Keyed-table hardening: the folded-through watermark (a reader racing
a fold never sees folded deltas re-applied, and an append racing folds
still lands above it), and base-slot protection (a fresh directory in
the next base slot is taken, a stale one is dead-writer debris)."""

import os
import shutil
import time

import pytest

from howto_mongo_bulk_update_from_parquet_spark.sinks import fs as hfs
from howto_mongo_bulk_update_from_parquet_spark.sinks import keyed_table as kt
from howto_mongo_bulk_update_from_parquet_spark.sinks.keyed_table import (
    ConcurrentWriteError, append_delta, append_delete_delta, compact,
    delete_from_keyed_table, folded_through, read_merged,
    upsert_into_keyed_table)


def _df(spark, rows):
    return spark.createDataFrame(rows, "k long, v string")


def _age(path, seconds=3600):
    """Backdate a directory and everything in it (make a claim stale)."""
    stamp = time.time() - seconds
    for root, dirs, files in os.walk(path):
        for n in [root, *[os.path.join(root, f) for f in files]]:
            os.utime(n, (stamp, stamp))
    os.utime(path, (stamp, stamp))


def test_reader_between_fold_commit_and_delta_gc(spark, tmp_path):
    """r9 verdict #3: a read_merged after the fold's base commit must
    see the post-delete row set even though the folded delta's files
    are still on disk — the manifest's folded_through watermark makes
    them invisible. The files are deliberately RETAINED for one more
    commit (the delta analog of retain_versions: an in-flight reader
    that resolved the pre-fold manifest finishes its scan), then the
    next committing operation GCs them."""
    p = str(tmp_path / "wm")
    upsert_into_keyed_table(spark, _df(spark, [(1, "a"), (2, "b")]),
                            path=p, key="k", updated_at_col=None)
    append_delta(spark, _df(spark, [(3, "c")]), path=p, key="k")
    out = delete_from_keyed_table(
        spark, spark.createDataFrame([(3,)], "k long"), path=p, key="k")
    assert {r.k for r in out.collect()} == {1, 2}
    # the folded delta's files are still on disk (one-commit
    # retention) — and invisible to every reader
    assert os.path.exists(os.path.join(p, "delta_00001"))
    assert folded_through(spark, p) == 1
    assert {r.k for r in read_merged(spark, p, "k").collect()} == {1, 2}
    # next fold: absorbs the new delta AND GCs the previous fold's
    # files; the new fold's files are retained in turn
    append_delta(spark, _df(spark, [(2, "b2")]), path=p, key="k")
    compact(spark, p, "k")
    assert folded_through(spark, p) == 2
    assert not os.path.exists(os.path.join(p, "delta_00001"))
    assert os.path.exists(os.path.join(p, "delta_00002"))
    got = {r.k: r.v for r in read_merged(spark, p, "k").collect()}
    assert got == {1: "a", 2: "b2"}
    # and new appends claim ABOVE the watermark
    assert append_delta(spark, _df(spark, [(4, "d")]), path=p, key="k") == 3


def test_tombstone_watermark_survives_upsert_commit(spark, tmp_path):
    """An upsert round must carry the folded_through watermark forward
    in its own manifest — dropping it would resurrect folded-but-not-
    yet-GC'd tombstoned rows for every reader."""
    p = str(tmp_path / "carry")
    upsert_into_keyed_table(spark, _df(spark, [(1, "a"), (2, "b")]),
                            path=p, key="k", updated_at_col=None)
    append_delete_delta(spark, spark.createDataFrame([(2,)], "k long"),
                        path=p, key="k")
    compact(spark, p, "k")
    assert folded_through(spark, p) == 1
    upsert_into_keyed_table(spark, _df(spark, [(5, "e")]),
                            path=p, key="k", updated_at_col=None)
    assert folded_through(spark, p) == 1


def test_fresh_incomplete_base_dir_raises_clean_conflict(spark, tmp_path):
    """Same rule on the versioned-base path: a fresh incomplete
    base_v{N+1} is a concurrent writer → ConcurrentWriteError (no
    version bump exists for bases); stale → cleared and claimed."""
    p = str(tmp_path / "basewrite")
    upsert_into_keyed_table(spark, _df(spark, [(1, "a")]),
                            path=p, key="k", updated_at_col=None)
    inflight = os.path.join(p, "base_v00002")
    os.makedirs(inflight)
    with open(os.path.join(inflight, "part-live.parquet"), "wb") as fh:
        fh.write(b"mid-write task file")
    with pytest.raises(ConcurrentWriteError, match="taken by a concurrent"):
        upsert_into_keyed_table(spark, _df(spark, [(2, "b")]),
                                path=p, key="k", updated_at_col=None)
    _age(inflight)
    out = upsert_into_keyed_table(spark, _df(spark, [(2, "b")]),
                                  path=p, key="k", updated_at_col=None)
    assert {r.k for r in out.collect()} == {1, 2}


def test_upsert_folds_pending_deltas(spark, tmp_path):
    """r10, same class as the r8 delete bug: a versioned upsert on a
    table with pending LSM deltas must fold them — unfolded, the
    deltas would re-apply over the NEW base and win over this newer
    round. The fold also records the watermark, so resurrected delta
    files stay invisible."""
    p = str(tmp_path / "upfold")
    upsert_into_keyed_table(spark, _df(spark, [(1, "a"), (2, "b")]),
                            path=p, key="k", updated_at_col=None)
    append_delta(spark, _df(spark, [(2, "b_delta"), (3, "c")]),
                 path=p, key="k")
    # the upsert round is NEWER than the delta and must win on key 2
    out = upsert_into_keyed_table(spark, _df(spark, [(2, "b_up"), (4, "d")]),
                                  path=p, key="k", updated_at_col=None)
    want = {1: "a", 2: "b_up", 3: "c", 4: "d"}
    assert {r.k: r.v for r in out.collect()} == want
    assert {r.k: r.v for r in read_merged(spark, p, "k").collect()} == want
    assert folded_through(spark, p) == 1
    # folded: invisible to readers, files retained one commit
    assert kt.snapshot(spark, p).deltas == ()


def test_append_takes_its_number_above_folds_during_its_write(
        spark, tmp_path, monkeypatch):
    """An append numbers its delta when its staged rename lands, not
    before its write job: an append, a compact, an append and a compact
    that all commit while the job runs (the second compact's GC deletes
    the first folded delta, freeing its number) cannot leave it at or
    below the folded_through floor, where no reader would look."""
    from pyspark.sql.readwriter import DataFrameWriter

    p = str(tmp_path / "race_fold")
    upsert_into_keyed_table(spark, _df(spark, [(1, "a")]),
                            path=p, key="k", updated_at_col=None)
    real = DataFrameWriter.parquet
    raced = []

    def parquet_then_race(self, path, *args, **kwargs):
        real(self, path, *args, **kwargs)
        if ".stage-delta_" in path and not raced:
            raced.append(path)
            append_delta(spark, _df(spark, [(2, "b")]), path=p, key="k")
            compact(spark, p, "k")
            append_delta(spark, _df(spark, [(3, "c")]), path=p, key="k")
            compact(spark, p, "k")

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet_then_race)
    v = append_delta(spark, _df(spark, [(4, "d")]), path=p, key="k")
    monkeypatch.undo()
    assert raced
    assert v > folded_through(spark, p) == 2
    compact(spark, p, "k")
    assert {r.k for r in read_merged(spark, p, "k").collect()} == \
        {1, 2, 3, 4}


def test_mixed_path_random_op_sequences_match_model(spark, tmp_path):
    """Model-based property test over BOTH write paths: random
    interleavings of LSM upsert deltas, tombstone deltas, compactions,
    versioned fold-upserts, and versioned fold-deletes must always
    read back exactly what a dict model predicts (newest wins,
    per-column null-skip, tombstone cuts history, folds + the
    watermark invisible to readers). This is the r8/r9/r10 bug class —
    every one of those bugs was a mixed-path interaction."""
    from hypothesis import HealthCheck, given, settings, strategies as st

    keys = st.integers(0, 5)
    rows = st.lists(
        st.tuples(keys,
                  st.one_of(st.none(), st.sampled_from(["p", "q", "r"])),
                  st.one_of(st.none(), st.sampled_from([1.0, 2.5, -3.0]))),
        min_size=1, max_size=4, unique_by=lambda t: t[0])
    ops = st.lists(
        st.one_of(
            st.tuples(st.just("lsm_upsert"), rows),
            st.tuples(st.just("tombstone"), st.lists(keys, min_size=1,
                                                     max_size=3)),
            st.tuples(st.just("compact"), st.just(None)),
            st.tuples(st.just("v_upsert"), rows),
            st.tuples(st.just("v_delete"), st.lists(keys, min_size=1,
                                                    max_size=3))),
        min_size=2, max_size=7)

    def _src(rows_):
        return spark.createDataFrame(rows_, "k long, a string, b double")

    counter = [0]

    @settings(max_examples=8, deadline=None,
              suppress_health_check=list(HealthCheck))
    @given(ops=ops)
    def check(ops):
        counter[0] += 1
        p = str(tmp_path / f"mix{counter[0]}")
        model: dict[int, dict[str, object]] = {}
        wrote = False

        def apply_merge(rows_):
            for k, a, b in rows_:
                row = model.setdefault(k, {"a": None, "b": None})
                if a is not None:
                    row["a"] = a
                if b is not None:
                    row["b"] = b

        for kind, arg in ops:
            if kind == "lsm_upsert":
                append_delta(spark, _src(arg), path=p, key="k")
                wrote = True
                apply_merge(arg)
            elif kind == "v_upsert":
                upsert_into_keyed_table(spark, _src(arg), path=p, key="k",
                                        updated_at_col=None)
                wrote = True
                apply_merge(arg)
            elif kind == "tombstone":
                if not wrote:
                    continue
                append_delete_delta(
                    spark, spark.createDataFrame([(k,) for k in arg],
                                                 "k long"),
                    path=p, key="k")
                for k in arg:
                    model.pop(k, None)
            elif kind == "v_delete":
                if not wrote:
                    continue
                delete_from_keyed_table(
                    spark, spark.createDataFrame([(k,) for k in arg],
                                                 "k long"),
                    path=p, key="k")
                for k in arg:
                    model.pop(k, None)
            elif kind == "compact" and wrote:
                compact(spark, p, "k")
        if not wrote:
            return
        got = {r.k: (r.a, r.b)
               for r in read_merged(spark, p, "k").collect()}
        want = {k: (v["a"], v["b"]) for k, v in model.items()}
        assert got == want, ops
        # after a fold (no reader-visible deltas — retained folded
        # files don't count), the committed snapshot IS the merged view
        if not kt.snapshot(spark, p).deltas:
            from howto_mongo_bulk_update_from_parquet_spark.sinks.keyed_table import (
                read_keyed_table)
            snap = {r.k: (r.a, r.b)
                    for r in read_keyed_table(spark, p)
                    .select("k", "a", "b").collect()}
            assert snap == want, ops

    check()


def test_truncated_metadata_scan_reads_as_occupied(spark, tmp_path):
    """ADVICE r10 (the medium): when newest_mtime's listing is cut off
    at max_entries the partial maximum can be OLDER than the true
    newest (a live writer's fresh task files may sit past the cap) —
    the claimer must treat the directory as occupied, never clear it."""
    d = str(tmp_path / "truncated_claim")
    os.makedirs(os.path.join(d, "_temporary"))
    for i in range(5):
        with open(os.path.join(d, "_temporary", f"part-{i}"), "w") as fh:
            fh.write("x")
    # exhaustive scan of an aged dir → provably stale
    _age(d)
    mt, truncated = hfs.newest_mtime(spark, d)
    assert mt is not None and not truncated
    assert kt._claim_is_stale(spark, d)
    # capped scan (listing not exhausted) → truncated → occupied,
    # even though every entry it DID see is old
    mt, truncated = hfs.newest_mtime(spark, d, max_entries=2)
    assert truncated
    import unittest.mock as mock
    with mock.patch.object(hfs, "newest_mtime", return_value=(mt, True)):
        assert not kt._claim_is_stale(spark, d)


def test_manifest_retry_exhaustion_raises_not_empty_meta(spark, tmp_path,
                                                         monkeypatch):
    """ADVICE r10: when every manifest read races a retirement, the
    resolver must fail retryable — returning (version, {}) would
    collapse folded_through to 0 and transiently resurrect folded
    deltas, the exact failure the one-pointer read exists to prevent."""
    p = str(tmp_path / "mexhaust")
    upsert_into_keyed_table(spark, _df(spark, [(1, "a")]), path=p, key="k",
                            updated_at_col=None)
    # sanity: the healthy read resolves
    assert kt.snapshot(spark, p).version == 1
    monkeypatch.setattr(hfs, "read_text", lambda s, path: None)
    with pytest.raises(ConcurrentWriteError, match="re-read and retry"):
        kt.snapshot(spark, p)
    # a directory with no table reads as version 0, no metadata
    empty = str(tmp_path / "no_table")
    os.makedirs(empty)
    got = kt.snapshot(spark, empty)
    assert (got.version, got.meta) == (0, {})


def test_vacuum_reclaims_dormant_folded_deltas(spark, tmp_path):
    """r10 verdict #8: the one-commit-deferred GC never fires on a
    table that stops receiving commits — vacuum reclaims folded deltas
    once aged, leaves fresh folds and unfolded deltas alone, and never
    needs a new commit."""
    from howto_mongo_bulk_update_from_parquet_spark.sinks.keyed_table import vacuum
    p = str(tmp_path / "dormant")
    upsert_into_keyed_table(spark, _df(spark, [(1, "a")]),
                            path=p, key="k", updated_at_col=None)
    append_delta(spark, _df(spark, [(2, "b")]), path=p, key="k")
    compact(spark, p, "k")                        # folds delta 1, retains it
    assert os.path.exists(os.path.join(p, "delta_00001"))
    # fresh fold: age gate refuses (an in-flight pre-fold reader may
    # still be scanning)
    assert vacuum(spark, p) == []
    assert os.path.exists(os.path.join(p, "delta_00001"))
    # aged past the window: reclaimed without any new commit
    _age(os.path.join(p, "delta_00001"))
    assert vacuum(spark, p, older_than_ms=60_000) == [1]
    assert not os.path.exists(os.path.join(p, "delta_00001"))
    # table still reads correctly and keeps committing afterwards
    assert {r.k for r in read_merged(spark, p, "k").collect()} == {1, 2}
    # an UNFOLDED delta above the watermark is never touched, aged or not
    append_delta(spark, _df(spark, [(3, "c")]), path=p, key="k")
    _age(os.path.join(p, "delta_00002"))
    assert vacuum(spark, p, older_than_ms=60_000) == []
    assert os.path.exists(os.path.join(p, "delta_00002"))
    assert {r.k for r in read_merged(spark, p, "k").collect()} == {1, 2, 3}
    # idempotent on an empty backlog / legacy table without a watermark
    assert vacuum(spark, p, older_than_ms=60_000) == []


def test_cli_vacuum(spark, tmp_path, capsys):
    from howto_mongo_bulk_update_from_parquet_spark.cli import main
    p = str(tmp_path / "cli_vac")
    upsert_into_keyed_table(spark, _df(spark, [(1, "a")]),
                            path=p, key="k", updated_at_col=None)
    append_delta(spark, _df(spark, [(2, "b")]), path=p, key="k")
    compact(spark, p, "k")
    assert main(["vacuum", "--table", p]) == 0
    assert "nothing to vacuum" in capsys.readouterr().out
    _age(os.path.join(p, "delta_00001"))
    assert main(["vacuum", "--table", p, "--older-than-hours", "0.01"]) == 0
    assert "vacuumed 1 folded delta(s)" in capsys.readouterr().out
    assert not os.path.exists(os.path.join(p, "delta_00001"))
