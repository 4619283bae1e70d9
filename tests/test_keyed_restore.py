"""RESTORE (r16): metadata-only rollback to a retained historical
base version — a new version that carries every snapshot file by
reference (`_CARRIED.json`) and flips the manifest. The tests pin
the three claims that matter: FULL-overwrite semantics (a column
NULL at the snapshot comes back NULL — inexpressible as a null-skip
delta), zero data files written (metadata-only), and the commit
protocol (pending deltas superseded, the restore is itself a version
another restore can undo)."""

import os

import pytest
from pyspark.sql import Row

from howto_mongo_bulk_update_from_parquet_spark.sinks.keyed_table import (
    ConcurrentWriteError, append_delta, compact, current_base_version,
    read_keyed_table, read_merged, restore_table, upsert_into_keyed_table)
from howto_mongo_bulk_update_from_parquet_spark.sinks.sql_merge import (
    MergeSyntaxError, sql_restore, sql_write, write_statement_kind)


def _seed(spark, tmp_path, retain=3):
    path = str(tmp_path / "t")
    upsert_into_keyed_table(
        spark,
        spark.createDataFrame([Row(k=1, qty=10, tag=None),
                               Row(k=2, qty=20, tag="b")]),
        path=path, key="k", updated_at_col=None,
        retain_versions=retain)                      # version 1
    upsert_into_keyed_table(
        spark,
        spark.createDataFrame([Row(k=1, qty=11, tag="FILLED"),
                               Row(k=3, qty=30, tag="c")]),
        path=path, key="k", updated_at_col=None,
        retain_versions=retain)                      # version 2
    return path


def _state(spark, path):
    return {r.k: (r.qty, r.tag)
            for r in read_merged(spark, path, "k").collect()}


def test_restore_full_overwrite_and_metadata_only(spark, tmp_path):
    path = _seed(spark, tmp_path)
    assert _state(spark, path) == {1: (11, "FILLED"), 2: (20, "b"),
                                   3: (30, "c")}
    out = restore_table(spark, path, "k", version=1)
    assert out["restored_to"] == 1 and out["files_carried"] >= 1
    # FULL overwrite: k=1's tag returns to NULL (null-skip could not),
    # k=3 (absent at v1) is gone
    assert _state(spark, path) == {1: (10, None), 2: (20, "b")}
    # metadata-only: the new base dir holds no parquet data files
    v = out["new_version"]
    base = os.path.join(path, f"base_v{v:05d}")
    assert not [f for f in os.listdir(base) if f.endswith(".parquet")]
    assert os.path.exists(os.path.join(base, "_CARRIED.json"))
    # the restore is itself a version: restore forward to version 2
    out2 = restore_table(spark, path, "k", version=2)
    assert _state(spark, path)[3] == (30, "c")
    # time travel still resolves the restore version
    assert {r.k for r in read_keyed_table(
        spark, path, version=out["new_version"]).collect()} == {1, 2}
    assert out2["new_version"] > out["new_version"]


def test_restore_supersedes_pending_deltas(spark, tmp_path):
    path = _seed(spark, tmp_path)
    append_delta(spark,
                 spark.createDataFrame([Row(k=9, qty=90, tag="late")]),
                 path=path, key="k")
    out = restore_table(spark, path, "k", version=2)
    assert out["deltas_superseded"] == 1
    assert 9 not in _state(spark, path)    # the delta's effect erased
    # writes keep working on top of the restored base
    append_delta(spark,
                 spark.createDataFrame([Row(k=4, qty=40, tag="d")]),
                 path=path, key="k")
    assert _state(spark, path)[4] == (40, "d")
    # and a full compact re-materializes the carried base
    compact(spark, path, "k")
    assert _state(spark, path)[4] == (40, "d")
    assert _state(spark, path)[1] == (11, "FILLED")


def test_restore_refuses_inflight_delta_and_missing_version(
        spark, tmp_path):
    path = _seed(spark, tmp_path)
    with pytest.raises(FileNotFoundError, match="retired"):
        restore_table(spark, path, "k", version=77)


def test_sql_restore_statement(spark, tmp_path):
    path = _seed(spark, tmp_path)
    assert write_statement_kind(
        "RESTORE TABLE t TO VERSION AS OF 1") == "restore"
    out = sql_write(spark, "-- rollback\nRESTORE TABLE t TO "
                           "VERSION AS OF 1",
                    tables={"t": (path, "k")})
    assert out["action"] == "restore" and out["restored_to"] == 1
    assert _state(spark, path) == {1: (10, None), 2: (20, "b")}
    with pytest.raises(MergeSyntaxError, match="not of the form"):
        sql_restore(spark, "RESTORE TABLE t", tables={"t": (path, "k")})
    with pytest.raises(MergeSyntaxError, match="retired"):
        sql_restore(spark, "RESTORE TABLE t TO VERSION AS OF 99",
                    tables={"t": (path, "k")})
    assert current_base_version(spark, path) >= 3


def test_cli_restore_verb(spark, tmp_path, capsys):
    import json

    from howto_mongo_bulk_update_from_parquet_spark.cli import main

    path = _seed(spark, tmp_path)
    assert main(["restore", "--table", path, "--key", "k",
                 "--version", "1"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["action"] == "restore" and out["restored_to"] == 1
    assert _state(spark, path) == {1: (10, None), 2: (20, "b")}
    assert main(["restore", "--table", path, "--key", "k",
                 "--version", "55"]) == 2
    assert "retired" in capsys.readouterr().err


def test_concurrent_restores_serialize_cleanly(spark, tmp_path):
    """Two+ simultaneous restores: the slot rename + manifest CAS
    serialize them — every loser gets a clean ConcurrentWriteError,
    winners commit DISTINCT versions, and the final state is exactly
    the snapshot (no interleaved sidecars — the pre-r13 shared-slot
    hole, closed for restore by _staged_claimed_write)."""
    from threading import Thread

    path = _seed(spark, tmp_path)
    oks, errs, bad = [], [], []

    def go():
        try:
            oks.append(restore_table(spark, path, "k", version=1))
        except ConcurrentWriteError as exc:
            errs.append(exc)
        except Exception as exc:  # noqa: BLE001 - anything else fails
            bad.append(exc)

    threads = [Thread(target=go) for _ in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not bad, f"non-clean loser error(s): {bad!r}"
    assert oks and len(oks) + len(errs) == 4
    vs = [o["new_version"] for o in oks]
    assert len(set(vs)) == len(vs)          # serialized, distinct slots
    assert _state(spark, path) == {1: (10, None), 2: (20, "b")}


def test_restore_provenance_marker(spark, tmp_path):
    """`restored_from` rides the restore commit (table-info lineage)
    and is DROPPED by the next base-rewriting commit — a compacted or
    re-upserted base is new content, not the snapshot."""
    from howto_mongo_bulk_update_from_parquet_spark.sinks.keyed_table import (
        table_meta)

    path = _seed(spark, tmp_path)
    assert "restored_from" not in table_meta(spark, path)
    restore_table(spark, path, "k", version=1)
    assert table_meta(spark, path)["restored_from"] == "1"
    compact(spark, path, "k")
    assert "restored_from" not in table_meta(spark, path)
