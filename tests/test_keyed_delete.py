"""Row deletes for the keyed table — the DELETE half of MERGE the
upsert-only reference can never express. Two paths mirror the two
write paths: a versioned anti-join rewrite (atomic flip, time travel
keeps history) and LSM tombstone deltas (O(deleted) writes,
history-cutting merge-on-read, physical purge at compaction)."""

import pytest
from pyspark.sql import functions as F

from howto_mongo_bulk_update_from_parquet_spark.sinks.keyed_table import (
    append_delete_delta, append_delta, compact, current_base_version,
    delete_from_keyed_table, read_keyed_table, read_merged,
    upsert_into_keyed_table)


def _src(spark, rows, schema="k long, a string, b double"):
    return spark.createDataFrame(rows, schema)


def test_versioned_delete_rewrites_and_keeps_history(spark, tmp_path):
    p = str(tmp_path / "t")
    upsert_into_keyed_table(
        spark, _src(spark, [(1, "x", 1.0), (2, "y", 2.0), (3, "z", 3.0)]),
        path=p, key="k", updated_at_col=None, retain_versions=3)
    v_before = current_base_version(spark, p)
    out, n = delete_from_keyed_table(
        spark, spark.createDataFrame([(2,), (3,), (99,), (None,)], "k long"),
        path=p, key="k", retain_versions=3, return_counts=True)
    assert n == 2
    assert sorted(r.k for r in out.collect()) == [1]
    assert current_base_version(spark, p) == v_before + 1
    # time travel: the pre-delete version still shows all three rows
    old = read_keyed_table(spark, p, version=v_before)
    assert sorted(r.k for r in old.collect()) == [1, 2, 3]
    # a later upsert reinserts cleanly on top of the delete
    upsert_into_keyed_table(spark, _src(spark, [(2, "y2", None)]),
                            path=p, key="k", updated_at_col=None,
                            retain_versions=3)
    now = {r.k: (r.a, r.b) for r in read_keyed_table(spark, p).collect()}
    assert now == {1: ("x", 1.0), 2: ("y2", None)}


def test_versioned_delete_requires_existing_table(spark, tmp_path):
    with pytest.raises(FileNotFoundError):
        delete_from_keyed_table(
            spark, spark.createDataFrame([(1,)], "k long"),
            path=str(tmp_path / "missing"), key="k")


def test_lsm_tombstone_hides_and_cuts_history(spark, tmp_path):
    p = str(tmp_path / "lsm")
    append_delta(spark, _src(spark, [(1, "x", 1.0), (2, "y", 2.0)]),
                 path=p, key="k")
    append_delta(spark, _src(spark, [(2, None, 22.0)]), path=p, key="k")
    # pre-delete: null-skip keeps a='y' from the older version
    m = {r.k: (r.a, r.b) for r in read_merged(spark, p, "k").collect()}
    assert m == {1: ("x", 1.0), 2: ("y", 22.0)}

    append_delete_delta(spark, spark.createDataFrame([(2,)], "k long"),
                        path=p, key="k")
    m = {r.k: (r.a, r.b) for r in read_merged(spark, p, "k").collect()}
    assert m == {1: ("x", 1.0)}

    # re-insert AFTER the tombstone: pre-delete values must NOT
    # resurrect through the null-skip lookback — b stays NULL
    append_delta(spark, _src(spark, [(2, "fresh", None)]), path=p, key="k")
    m = {r.k: (r.a, r.b) for r in read_merged(spark, p, "k").collect()}
    assert m == {1: ("x", 1.0), 2: ("fresh", None)}


def test_compact_purges_tombstoned_keys_physically(spark, tmp_path):
    p = str(tmp_path / "lsm2")
    append_delta(spark, _src(spark, [(1, "x", 1.0), (2, "y", 2.0),
                                     (3, "z", 3.0)]), path=p, key="k")
    append_delete_delta(spark, spark.createDataFrame([(3,)], "k long"),
                        path=p, key="k")
    compacted = compact(spark, p, "k")
    assert sorted(r.k for r in compacted.collect()) == [1, 2]
    assert "__deleted" not in compacted.columns
    assert "__v" not in compacted.columns
    # post-compaction reads agree and further rounds work
    assert sorted(r.k for r in read_merged(spark, p, "k").collect()) == [1, 2]
    append_delta(spark, _src(spark, [(3, "back", 33.0)]), path=p, key="k")
    m = {r.k: (r.a, r.b) for r in read_merged(spark, p, "k").collect()}
    assert m[3] == ("back", 33.0)


def test_cli_delete_roundtrip(spark, tmp_path, capsys):
    from howto_mongo_bulk_update_from_parquet_spark.cli import main
    p = str(tmp_path / "clitab")
    upsert_into_keyed_table(
        spark, _src(spark, [(1, "x", 1.0), (2, "y", 2.0)]),
        path=p, key="k", updated_at_col=None)
    rc = main(["delete", "--table", p, "--key", "k",
               "--keys", "2,99", "--key-type", "long"])
    assert rc == 0
    assert "deleted 1 row(s)" in capsys.readouterr().out
    assert sorted(r.k for r in read_keyed_table(spark, p).collect()) == [1]
    assert main(["delete", "--table", p, "--key", "k"]) == 2


def test_lsm_random_op_sequences_match_model(spark, tmp_path):
    """Model-based property test: random interleavings of upsert
    deltas, tombstone deltas, and compactions must always read back
    exactly what a dict model of the semantics predicts (newest wins,
    per-column null-skip, tombstone cuts history, compaction is
    invisible to readers)."""
    from hypothesis import HealthCheck, given, settings, strategies as st

    keys = st.integers(0, 5)
    upsert_rows = st.lists(
        st.tuples(keys,
                  st.one_of(st.none(), st.sampled_from(["p", "q", "r"])),
                  st.one_of(st.none(), st.sampled_from([1.0, 2.5, -3.0]))),
        min_size=1, max_size=4, unique_by=lambda t: t[0])
    ops = st.lists(
        st.one_of(
            st.tuples(st.just("upsert"), upsert_rows),
            st.tuples(st.just("delete"), st.lists(keys, min_size=1,
                                                  max_size=3)),
            st.tuples(st.just("compact"), st.just(None))),
        min_size=1, max_size=7)

    counter = [0]

    @settings(max_examples=8, deadline=None,
              suppress_health_check=list(HealthCheck))
    @given(ops=ops)
    def check(ops):
        counter[0] += 1
        p = str(tmp_path / f"mod{counter[0]}")
        model: dict[int, dict[str, object]] = {}
        wrote = False
        for kind, arg in ops:
            if kind == "upsert":
                append_delta(spark, _src(spark, arg), path=p, key="k")
                wrote = True
                for k, a, b in arg:
                    row = model.setdefault(k, {"a": None, "b": None})
                    if a is not None:
                        row["a"] = a
                    if b is not None:
                        row["b"] = b
            elif kind == "delete":
                if not wrote:
                    continue   # tombstone into an empty table: skip
                append_delete_delta(
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

    check()


def test_delete_inherits_concurrent_writer_fences(spark, tmp_path, monkeypatch):
    """delete_from_keyed_table shares the upsert path's commit
    protocol: a delete racing a committed upsert round must raise
    ConcurrentWriteError instead of silently erasing the winner's
    commit, and retrying against the true version succeeds."""
    import pytest

    from howto_mongo_bulk_update_from_parquet_spark.sinks import keyed_table as kt

    p = str(tmp_path / "race")
    upsert_into_keyed_table(spark, _src(spark, [(1, "x", 1.0)]),
                            path=p, key="k", updated_at_col=None)   # v1
    stale = kt.snapshot(spark, p)       # the loser resolved v1
    upsert_into_keyed_table(spark, _src(spark, [(2, "y", 2.0)]),
                            path=p, key="k", updated_at_col=None)   # v2
    real = kt.snapshot
    monkeypatch.setattr(kt, "snapshot", lambda *a, **k: stale)
    with pytest.raises(kt.ConcurrentWriteError):
        delete_from_keyed_table(
            spark, spark.createDataFrame([(1,)], "k long"),
            path=p, key="k")
    monkeypatch.undo()
    assert kt.snapshot is real
    # winner intact; retry succeeds against the true version
    assert sorted(r.k for r in read_keyed_table(spark, p).collect()) == [1, 2]
    out, n = delete_from_keyed_table(
        spark, spark.createDataFrame([(1,)], "k long"),
        path=p, key="k", return_counts=True)
    assert n == 1 and sorted(r.k for r in out.collect()) == [2]


def test_cdc_diff_classifies_versioned_delete(spark, tmp_path):
    """Time travel + diff_snapshots turn a delete round into a CDC
    'deleted' event — the changefeed a downstream consumer replays."""
    from howto_mongo_bulk_update_from_parquet_spark.operators.diff import diff_snapshots
    from howto_mongo_bulk_update_from_parquet_spark.sinks.keyed_table import (
        current_base_version)

    p = str(tmp_path / "cdc")
    upsert_into_keyed_table(
        spark, _src(spark, [(1, "x", 1.0), (2, "y", 2.0)]),
        path=p, key="k", updated_at_col=None, retain_versions=3)
    delete_from_keyed_table(spark, spark.createDataFrame([(2,)], "k long"),
                            path=p, key="k", retain_versions=3)
    v = current_base_version(spark, p)
    old = read_keyed_table(spark, p, version=v - 1)
    new = read_keyed_table(spark, p, version=v)
    d = {r.k: r.change for r in
         diff_snapshots(old, new, "k").collect()}
    assert d == {2: "deleted"}


def test_stream_changefeed_applies_upserts_and_deletes(spark, tmp_path):
    """End-to-end op-typed changefeed through Structured Streaming:
    micro-batches route 'U' rows to upsert deltas and 'D' rows to
    tombstone deltas; the merged table equals the batch MERGE model,
    including delete-wins within a batch and clean re-insert after."""
    from pyspark.sql import types as T

    from howto_mongo_bulk_update_from_parquet_spark.streaming.upsert import (
        stream_apply_changefeed)

    land = str(tmp_path / "land")
    table = str(tmp_path / "tab")
    ck = str(tmp_path / "ck")
    schema = T.StructType.fromDDL("k long, a string, op string")

    def emit(rows):
        # append into the FLAT landing dir — the file stream does not
        # descend into per-batch subdirectories
        spark.createDataFrame(rows, schema).coalesce(1) \
            .write.mode("append").parquet(land)

    # batch 1: inserts + a same-batch upsert/delete collision on k=3
    emit([(1, "x", "U"), (2, "y", "U"), (3, "z", "U"), (3, None, "D")])
    stream_apply_changefeed(spark, land, schema=schema, table_path=table,
                            key="k", op_col="op", checkpoint=ck)
    m = {r.k: r.a for r in read_merged(spark, table, "k").collect()}
    assert m == {1: "x", 2: "y"}

    # batch 2: delete k=1, re-insert k=3 fresh
    emit([(1, None, "D"), (3, "z2", "U")])
    stream_apply_changefeed(spark, land, schema=schema, table_path=table,
                            key="k", op_col="op", checkpoint=ck)
    m = {r.k: r.a for r in read_merged(spark, table, "k").collect()}
    assert m == {2: "y", 3: "z2"}

    # compaction preserves the state and purges tombstones
    compacted = compact(spark, table, "k")
    assert {r.k: r.a for r in compacted.collect()} == {2: "y", 3: "z2"}


def test_cli_lsm_upsert_delete_compact_cycle(spark, tmp_path, capsys):
    """The full LSM lifecycle through the CLI: `upsert --lsm` appends
    deltas, `delete --tombstone` appends tombstones, `compact` folds
    and purges — the high-frequency pipeline a cron would run."""
    from howto_mongo_bulk_update_from_parquet_spark.cli import main
    src1 = str(tmp_path / "s1")
    table = str(tmp_path / "t")
    assert main(["generate", "--path", src1, "--n-rows", "100",
                 "--n-files", "2"]) == 0
    assert main(["upsert", "--path", src1, "--table", table,
                 "--lsm"]) == 0
    assert "appended delta_00001" in capsys.readouterr().out
    assert read_merged(spark, table, "_id").count() == 100
    assert main(["delete", "--table", table, "--keys", "id-000000000000",
                 "--tombstone"]) == 0
    assert "tombstone delta_00002" in capsys.readouterr().out
    assert read_merged(spark, table, "_id").count() == 99
    assert main(["compact", "--table", table]) == 0
    assert "99 rows" in capsys.readouterr().out
    assert read_keyed_table(spark, table).count() == 99


def test_versioned_delete_folds_pending_deltas(spark, tmp_path):
    """ADVICE r8 (medium): a versioned delete on a table with pending
    LSM deltas must fold them first — a key living only in a delta has
    to die, and no surviving delta (__v >= 1) may re-apply over the new
    base (__v = 0) in read_merged and resurrect deleted rows."""
    from howto_mongo_bulk_update_from_parquet_spark.sinks.keyed_table import \
        snapshot
    p = str(tmp_path / "mix")
    upsert_into_keyed_table(
        spark, _src(spark, [(1, "x", 1.0), (2, "y", 2.0)]),
        path=p, key="k", updated_at_col=None)
    # pending delta: update key 1 (null-skip on b), insert key 3
    append_delta(spark, _src(spark, [(1, "x2", None), (3, "z", 3.0)]),
                 path=p, key="k")
    out, n = delete_from_keyed_table(
        spark, spark.createDataFrame([(2,), (3,)], "k long"),
        path=p, key="k", return_counts=True)
    assert n == 2                       # key 2 (base) AND key 3 (delta-only)
    # folded: invisible to every reader (files are retained one more
    # commit for in-flight pre-fold readers, then GC'd)
    assert snapshot(spark, p).deltas == ()
    live = {r.k: (r.a, r.b) for r in out.collect()}
    assert live == {1: ("x2", 1.0)}     # delta update survived the fold
    assert {r.k: (r.a, r.b) for r in read_merged(spark, p, "k").collect()} \
        == live
    assert {r.k: (r.a, r.b) for r in read_keyed_table(spark, p).collect()} \
        == live


def test_append_delta_claims_version_against_stale_listing(
        spark, tmp_path, monkeypatch):
    """ADVICE r8: two concurrent appenders computing the same next
    delta version must not clobber — the loser's errorifexists write
    fails and it retries with the next number, both deltas surviving."""
    import howto_mongo_bulk_update_from_parquet_spark.sinks.keyed_table as kt
    p = str(tmp_path / "race")
    upsert_into_keyed_table(spark, _src(spark, [(1, "x", 1.0)]),
                            path=p, key="k", updated_at_col=None)
    stale = kt.snapshot(spark, p)
    v1 = append_delta(spark, _src(spark, [(5, "a", None)]), path=p, key="k")
    # the "loser": its directory listing is stale (taken before v1
    # landed), so it claims the same version number
    monkeypatch.setattr(kt, "snapshot", lambda *a, **k: stale)
    v2 = append_delta(spark, _src(spark, [(6, "b", None)]), path=p, key="k")
    monkeypatch.undo()
    assert (v1, v2) == (1, 2)
    merged = {r.k: r.a for r in read_merged(spark, p, "k").collect()}
    assert merged == {1: "x", 5: "a", 6: "b"}   # neither round lost


def test_cli_delete_key_type_guard(spark, tmp_path, capsys):
    """ADVICE r8: a mistyped --keys batch (default --key-type string on
    a long-keyed table) must exit 2 BEFORE any delta/base write — an
    untyped tombstone would make every later read_merged fail at type
    resolution until the delta directory is removed by hand."""
    from howto_mongo_bulk_update_from_parquet_spark.cli import main
    p = str(tmp_path / "typed")
    upsert_into_keyed_table(spark, _src(spark, [(1, "x", 1.0)]),
                            path=p, key="k", updated_at_col=None)
    rc = main(["delete", "--table", p, "--key", "k", "--keys", "1",
               "--tombstone"])
    assert rc == 2
    assert "key type mismatch" in capsys.readouterr().err
    assert read_merged(spark, p, "k").count() == 1   # nothing landed
    # versioned path takes the same guard
    assert main(["delete", "--table", p, "--key", "k", "--keys", "1"]) == 2
    # correctly-typed batch applies
    rc = main(["delete", "--table", p, "--key", "k", "--keys", "1",
               "--key-type", "long", "--tombstone"])
    assert rc == 0
    assert read_merged(spark, p, "k").count() == 0
