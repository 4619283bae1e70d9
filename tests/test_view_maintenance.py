"""Pre-image feed enrichment + incremental grouped-view maintenance
(`sinks/changes.py::with_preimage`, `sinks/views.py`). Covers:
pre-image exactness incl. multi-version chaining and
deleted-by-earlier keys, the fold guard, table properties, snapshot
bootstrap, differential increments equal to a full recompute (exact
decimal), group moves / deletes / inserts / null-skip partial
updates, telescoped multi-version windows, idempotent re-runs, and
crash-safe offsets (offset flips atomically with the view commit).
"""

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from howto_mongo_bulk_update_from_parquet_spark.sinks.changes import (
    PRE_COL, VERSION_COL, ChangeHistoryUnavailable, read_table_changes)
from howto_mongo_bulk_update_from_parquet_spark.sinks.keyed_table import (
    append_delete_delta, append_delta, compact, read_merged, table_meta,
    upsert_into_keyed_table)
from howto_mongo_bulk_update_from_parquet_spark.sinks.views import (
    maintain_grouped_view, read_grouped_view, view_offset)


def _mk_table(spark, tmp_path, n=12):
    path = str(tmp_path / "src")
    base = spark.createDataFrame(
        [Row(k=i, g=i % 3, val=float(i)) for i in range(n)])
    upsert_into_keyed_table(spark, base, path=path, key="k",
                            updated_at_col=None)
    return path


def _recompute(spark, path):
    """The grouped aggregate from scratch, over non-NULL groups only:
    the view does not track a NULL group."""
    return sorted(
        (r.g, r.cnt, float(r.total)) for r in
        read_merged(spark, path, "k").filter(F.col("g").isNotNull())
        .groupBy("g").agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("val").cast("decimal(38,6)"))
             .cast("double").alias("total")).collect())


def _view(spark, vp):
    return sorted((r.g, r.cnt, r.total) for r in
                  read_grouped_view(spark, vp, "g").collect())


def test_preimages_exact_and_chained(spark, tmp_path):
    path = _mk_table(spark, tmp_path)
    append_delta(spark, spark.createDataFrame([Row(k=1, g=9, val=11.0)]),
                 path=path, key="k")
    append_delete_delta(spark, spark.createDataFrame([Row(k=2)]),
                        path=path, key="k")
    append_delta(spark, spark.createDataFrame([Row(k=100, g=5, val=1.0)]),
                 path=path, key="k")
    append_delta(spark, spark.createDataFrame([Row(k=1, g=4, val=12.0)]),
                 path=path, key="k")
    out = {(r["k"], r[VERSION_COL]):
           (r[PRE_COL]["g"], r[PRE_COL]["val"]) if r[PRE_COL] else None
           for r in read_table_changes(spark, path, with_preimage=True,
                                       key="k").collect()}
    assert out[(1, 1)] == (1, 1.0)       # update: base state
    assert out[(2, 2)] == (2, 2.0)       # delete carries what died
    assert out[(100, 3)] is None         # insert: no pre
    assert out[(1, 4)] == (9, 11.0)      # chained: v1's POST state


def test_preimage_of_key_deleted_earlier_is_null(spark, tmp_path):
    path = _mk_table(spark, tmp_path)
    append_delete_delta(spark, spark.createDataFrame([Row(k=5)]),
                        path=path, key="k")
    append_delta(spark, spark.createDataFrame([Row(k=5, g=7, val=50.0)]),
                 path=path, key="k")
    out = {r[VERSION_COL]: r[PRE_COL]
           for r in read_table_changes(spark, path, with_preimage=True,
                                       key="k").collect()}
    assert out[1] is not None            # the delete saw the base row
    assert out[2] is None                # re-insert after tombstone


def test_preimage_requires_unfolded(spark, tmp_path):
    path = _mk_table(spark, tmp_path)
    append_delta(spark, spark.createDataFrame([Row(k=1, g=9, val=1.0)]),
                 path=path, key="k")
    compact(spark, path, "k")
    with pytest.raises(ChangeHistoryUnavailable, match="unfolded"):
        read_table_changes(spark, path, with_preimage=True, key="k")
    # plain (post-only) reads of the retained folded delta still work
    assert read_table_changes(spark, path).count() == 1


def test_table_props_roundtrip_and_guard(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.createDataFrame([Row(k=1, v=1.0)])
    upsert_into_keyed_table(spark, df, path=path, key="k",
                            updated_at_col=None,
                            table_props={"user.owner": "me"})
    assert table_meta(spark, path)["user.owner"] == "me"
    # carried through later rounds, droppable with ''
    upsert_into_keyed_table(spark, df, path=path, key="k",
                            updated_at_col=None)
    assert table_meta(spark, path)["user.owner"] == "me"
    upsert_into_keyed_table(spark, df, path=path, key="k",
                            updated_at_col=None,
                            table_props={"user.owner": ""})
    assert "user.owner" not in table_meta(spark, path)
    with pytest.raises(ValueError, match="user"):
        upsert_into_keyed_table(spark, df, path=path, key="k",
                                updated_at_col=None,
                                table_props={"range_files": "9"})


def test_bootstrap_then_increments_match_recompute(spark, tmp_path):
    path = _mk_table(spark, tmp_path)
    vp = str(tmp_path / "view")
    st = maintain_grouped_view(spark, table_path=path, key="k",
                               view_path=vp, group_col="g",
                               sum_col="val")
    assert st.get("bootstrap") and st["groups_touched"] == 3
    assert _view(spark, vp) == _recompute(spark, path)
    # a window holding only an empty delta is a no-op round
    append_delta(spark, spark.createDataFrame(
        [], "k bigint, g bigint, val double"), path=path, key="k")
    st = maintain_grouped_view(spark, table_path=path, key="k",
                               view_path=vp, group_col="g",
                               sum_col="val")
    assert st["changes"] == 0 and st["groups_touched"] == 0
    # non-empty windows whose every contribution drops: an insert
    # under a NULL group, then a tombstone of a key that never existed
    for applied, append in (
            (2, lambda: append_delta(spark, spark.createDataFrame(
                [Row(k=100, g=None, val=1.0)],
                "k bigint, g bigint, val double"), path=path, key="k")),
            (3, lambda: append_delete_delta(
                spark, spark.createDataFrame([Row(k=999)]), path=path,
                key="k"))):
        append()
        st = maintain_grouped_view(spark, table_path=path, key="k",
                                   view_path=vp, group_col="g",
                                   sum_col="val")
        assert (st["applied_through"], st["changes"],
                st["groups_touched"]) == (applied, 1, 0)
        assert _view(spark, vp) == _recompute(spark, path)
    # one window with a group move, a delete, a key leaving the NULL
    # group, and a null-skip partial update (g=None keeps the old group)
    append_delta(spark, spark.createDataFrame([Row(k=1, g=9, val=11.0)]),
                 path=path, key="k")
    append_delete_delta(spark, spark.createDataFrame([Row(k=2)]),
                        path=path, key="k")
    append_delta(spark,
                 spark.createDataFrame([Row(k=100, g=5, val=100.0)]),
                 path=path, key="k")
    append_delta(spark,
                 spark.createDataFrame([Row(k=3, g=None, val=30.0)],
                                       "k bigint, g bigint, val double"),
                 path=path, key="k")
    st = maintain_grouped_view(spark, table_path=path, key="k",
                               view_path=vp, group_col="g",
                               sum_col="val")
    assert st["applied_through"] == 7 and st["changes"] == 4
    assert st["groups_touched"] == 5        # 0, 1, 2, 5 and 9
    assert _view(spark, vp) == _recompute(spark, path)
    # idempotent: nothing new, nothing touched
    st = maintain_grouped_view(spark, table_path=path, key="k",
                               view_path=vp, group_col="g",
                               sum_col="val")
    assert st["groups_touched"] == 0 and st["changes"] == 0


def test_telescoped_multi_version_window(spark, tmp_path):
    path = _mk_table(spark, tmp_path)
    vp = str(tmp_path / "view")
    maintain_grouped_view(spark, table_path=path, key="k",
                          view_path=vp, group_col="g", sum_col="val")
    # the same key changes three times before one maintenance call
    for g, v in ((7, 1.0), (8, 2.0), (7, 3.0)):
        append_delta(spark,
                     spark.createDataFrame([Row(k=1, g=g, val=v)]),
                     path=path, key="k")
    maintain_grouped_view(spark, table_path=path, key="k",
                          view_path=vp, group_col="g", sum_col="val")
    assert _view(spark, vp) == _recompute(spark, path)
    # group 8 was entered and left within the window: nets to zero
    assert all(g != 8 for g, _, _ in _view(spark, vp))


def test_group_emptied_then_refilled(spark, tmp_path):
    path = str(tmp_path / "src")
    upsert_into_keyed_table(
        spark, spark.createDataFrame([Row(k=1, g=1, val=10.0)]),
        path=path, key="k", updated_at_col=None)
    vp = str(tmp_path / "view")
    maintain_grouped_view(spark, table_path=path, key="k",
                          view_path=vp, group_col="g", sum_col="val")
    append_delete_delta(spark, spark.createDataFrame([Row(k=1)]),
                        path=path, key="k")
    maintain_grouped_view(spark, table_path=path, key="k",
                          view_path=vp, group_col="g", sum_col="val")
    assert _view(spark, vp) == []        # cnt=0 rows filtered
    append_delta(spark, spark.createDataFrame([Row(k=2, g=1, val=5.0)]),
                 path=path, key="k")
    maintain_grouped_view(spark, table_path=path, key="k",
                          view_path=vp, group_col="g", sum_col="val")
    assert _view(spark, vp) == [(1, 1, 5.0)]


def test_offset_commits_atomically_with_view(spark, tmp_path):
    path = _mk_table(spark, tmp_path)
    vp = str(tmp_path / "view")
    maintain_grouped_view(spark, table_path=path, key="k",
                          view_path=vp, group_col="g", sum_col="val")
    append_delta(spark, spark.createDataFrame([Row(k=1, g=9, val=1.0)]),
                 path=path, key="k")
    maintain_grouped_view(spark, table_path=path, key="k",
                          view_path=vp, group_col="g", sum_col="val")
    assert view_offset(spark, vp) == 1
    # the offset lives in the view's committed manifest — time travel
    # to the bootstrap version shows the OLD offset with the OLD data
    # (one atomic flip; no window where they disagree)
    assert table_meta(spark, vp)["user.feed_offset"] == "1"


def test_cli_maintain_view(spark, tmp_path, capsys):
    from howto_mongo_bulk_update_from_parquet_spark.cli import main
    path = _mk_table(spark, tmp_path)
    vp = str(tmp_path / "view")
    rc = main(["maintain-view", "--table", path, "--key", "k",
               "--view", vp, "--group-col", "g", "--sum-col", "val"])
    assert rc == 0
    assert '"bootstrap": true' in capsys.readouterr().out
    append_delta(spark, spark.createDataFrame([Row(k=1, g=9, val=1.0)]),
                 path=path, key="k")
    rc = main(["maintain-view", "--table", path, "--key", "k",
               "--view", vp, "--group-col", "g", "--sum-col", "val"])
    assert rc == 0
    assert '"applied_through": 1' in capsys.readouterr().out
    assert _view(spark, vp) == _recompute(spark, path)
    # folded-away pre-images: clear error instead of silent corruption
    append_delta(spark, spark.createDataFrame([Row(k=2, g=9, val=2.0)]),
                 path=path, key="k")
    compact(spark, path, "k")
    rc = main(["maintain-view", "--table", path, "--key", "k",
               "--view", vp, "--group-col", "g", "--sum-col", "val"])
    assert rc == 2
    assert "unfolded" in capsys.readouterr().err


def test_concurrent_maintainers_never_double_count(spark, tmp_path):
    """Two maintainers racing over the same change window (r15,
    verdict item 5): the view store's WRITER LEASE fences the whole
    multi-step round — the loser fails fast with `WriterLeaseHeld`
    before paying a feed read (the manifest CAS underneath remains
    the commit-level backstop: at most one commit per round even if
    the lease were bypassed). After the dust settles one more call
    converges the view to the exact recompute — no change applied
    twice, and the winner's lease is released (no TTL wait for the
    follow-up round)."""
    import threading

    from howto_mongo_bulk_update_from_parquet_spark.sinks.keyed_table import (
        ConcurrentWriteError)
    from howto_mongo_bulk_update_from_parquet_spark.sinks.lease import (
        WriterLeaseHeld)

    path = _mk_table(spark, tmp_path)
    vp = str(tmp_path / "view")
    maintain_grouped_view(spark, table_path=path, key="k",
                          view_path=vp, group_col="g", sum_col="val")
    for i in range(4):
        append_delta(spark,
                     spark.createDataFrame([Row(k=i, g=7 + i, val=1.0)]),
                     path=path, key="k")
    outcomes = []

    def worker():
        try:
            st = maintain_grouped_view(spark, table_path=path, key="k",
                                       view_path=vp, group_col="g",
                                       sum_col="val")
            outcomes.append(("ok", st["applied_through"]))
        except WriterLeaseHeld:
            outcomes.append(("lease", None))
        except ConcurrentWriteError:
            outcomes.append(("conflict", None))

    threads = [threading.Thread(target=worker) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert any(o == "ok" for o, _ in outcomes)
    # convergence: one more (serial) round, then exact equality —
    # runs immediately because the winner RELEASED its lease
    maintain_grouped_view(spark, table_path=path, key="k",
                          view_path=vp, group_col="g", sum_col="val")
    assert _view(spark, vp) == _recompute(spark, path)
    assert view_offset(spark, vp) == 4


def test_maintainer_lease_blocks_second_and_self_heals(spark, tmp_path):
    """A held maintainer lease (a crashed maintainer that never
    released) blocks the next round only until its TTL lapses; a
    live one fails the second maintainer fast and cleanly."""
    import time

    from howto_mongo_bulk_update_from_parquet_spark.sinks.lease import (
        WriterLeaseHeld, acquire_writer_lease)

    path = _mk_table(spark, tmp_path)
    vp = str(tmp_path / "view")
    maintain_grouped_view(spark, table_path=path, key="k",
                          view_path=vp, group_col="g", sum_col="val")
    append_delta(spark, spark.createDataFrame([Row(k=99, g=1, val=9.0)]),
                 path=path, key="k")
    # simulate a crashed maintainer: lease held, never released —
    # acquired immediately before the blocked call (a loaded suite
    # can stretch the setup past a short TTL; full-suite flake r15)
    acquire_writer_lease(spark, vp, owner="crashed", ttl_ms=4000)
    with pytest.raises(WriterLeaseHeld):
        maintain_grouped_view(spark, table_path=path, key="k",
                              view_path=vp, group_col="g",
                              sum_col="val")
    time.sleep(6.0)          # TTL lapses: the corpse is breakable
    maintain_grouped_view(spark, table_path=path, key="k",
                          view_path=vp, group_col="g", sum_col="val")
    assert _view(spark, vp) == _recompute(spark, path)


def _view_mm(spark, vp):
    return sorted((r.g, r.cnt, r.total, r.vmin, r.vmax) for r in
                  read_grouped_view(spark, vp, "g").collect())


def _recompute_mm(spark, path):
    return sorted(
        (r.g, r.cnt, float(r.total), r.vmin, r.vmax) for r in
        read_merged(spark, path, "k").groupBy("g").agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("val").cast("decimal(38,6)"))
             .cast("double").alias("total"),
            F.min("val").alias("vmin"),
            F.max("val").alias("vmax")).collect())


def test_minmax_monotone_path_no_recompute(spark, tmp_path):
    path = _mk_table(spark, tmp_path)
    vp = str(tmp_path / "view")
    maintain_grouped_view(spark, table_path=path, key="k", view_path=vp,
                          group_col="g", sum_col="val",
                          track_minmax=True)
    # pure inserts: no pre-images, no retraction — never a recompute
    append_delta(spark,
                 spark.createDataFrame([Row(k=50, g=1, val=50.0),
                                        Row(k=51, g=2, val=-9.0)]),
                 path=path, key="k")
    st = maintain_grouped_view(spark, table_path=path, key="k",
                               view_path=vp, group_col="g",
                               sum_col="val", track_minmax=True)
    assert st["recomputed_groups"] == 0 and st["groups_touched"] == 2
    assert _view_mm(spark, vp) == _recompute_mm(spark, path)


def test_minmax_extremum_retraction_recomputes(spark, tmp_path):
    path = _mk_table(spark, tmp_path)          # g = k % 3, val = k
    vp = str(tmp_path / "view")
    maintain_grouped_view(spark, table_path=path, key="k", view_path=vp,
                          group_col="g", sum_col="val",
                          track_minmax=True)
    # k=11 is group 2's MAX (val 11.0): deleting it must recompute
    append_delete_delta(spark, spark.createDataFrame([Row(k=11)]),
                        path=path, key="k")
    st = maintain_grouped_view(spark, table_path=path, key="k",
                               view_path=vp, group_col="g",
                               sum_col="val", track_minmax=True)
    assert st["recomputed_groups"] == 1 and st["groups_touched"] == 1
    assert _view_mm(spark, vp) == _recompute_mm(spark, path)
    # an interior retraction (k=5, val 5.0 — neither extremum of
    # group 2 which now spans 2..8) stays pure-differential
    append_delete_delta(spark, spark.createDataFrame([Row(k=5)]),
                        path=path, key="k")
    st = maintain_grouped_view(spark, table_path=path, key="k",
                               view_path=vp, group_col="g",
                               sum_col="val", track_minmax=True)
    assert st["recomputed_groups"] == 0
    assert _view_mm(spark, vp) == _recompute_mm(spark, path)


def test_minmax_group_emptied_and_refilled(spark, tmp_path):
    path = str(tmp_path / "src")
    upsert_into_keyed_table(
        spark, spark.createDataFrame([Row(k=1, g=1, val=10.0),
                                      Row(k=2, g=1, val=20.0)]),
        path=path, key="k", updated_at_col=None)
    vp = str(tmp_path / "view")
    maintain_grouped_view(spark, table_path=path, key="k", view_path=vp,
                          group_col="g", sum_col="val",
                          track_minmax=True)
    append_delete_delta(spark, spark.createDataFrame([Row(k=1), Row(k=2)]),
                        path=path, key="k")
    st = maintain_grouped_view(spark, table_path=path, key="k",
                               view_path=vp, group_col="g",
                               sum_col="val", track_minmax=True)
    # fully-emptied group: nulled extremes, no recompute needed
    assert st["recomputed_groups"] == 0
    assert _view_mm(spark, vp) == []
    append_delta(spark, spark.createDataFrame([Row(k=3, g=1, val=7.0)]),
                 path=path, key="k")
    maintain_grouped_view(spark, table_path=path, key="k", view_path=vp,
                          group_col="g", sum_col="val",
                          track_minmax=True)
    assert _view_mm(spark, vp) == [(1, 1, 7.0, 7.0, 7.0)]


def test_minmax_mode_mismatch_guard(spark, tmp_path):
    path = _mk_table(spark, tmp_path)
    vp = str(tmp_path / "view")
    maintain_grouped_view(spark, table_path=path, key="k", view_path=vp,
                          group_col="g", sum_col="val",
                          track_minmax=True)
    append_delta(spark, spark.createDataFrame([Row(k=99, g=1, val=9.0)]),
                 path=path, key="k")
    with pytest.raises(ValueError, match="track_minmax"):
        maintain_grouped_view(spark, table_path=path, key="k",
                              view_path=vp, group_col="g",
                              sum_col="val")


def test_auto_recover_after_history_reclaimed(spark, tmp_path):
    """r14 (verdict item 2): feed history vacuumed past the view's
    offset re-bootstraps under auto_recover=True — including the
    retraction of a group that vanished entirely while the view was
    blind — then resumes pure-differential maintenance."""
    path = _mk_table(spark, tmp_path)            # g = k % 3
    vp = str(tmp_path / "view")
    maintain_grouped_view(spark, table_path=path, key="k", view_path=vp,
                          group_col="g", sum_col="val")
    # arrivals the view will never see through the feed: empty group 2
    # entirely, move k=1, insert a new group
    append_delete_delta(spark,
                        spark.createDataFrame([Row(k=2), Row(k=5),
                                               Row(k=8), Row(k=11)]),
                        path=path, key="k")
    append_delta(spark, spark.createDataFrame([Row(k=1, g=9, val=11.0)]),
                 path=path, key="k")
    compact(spark, path, "k")                    # folds v1, v2
    append_delta(spark,
                 spark.createDataFrame([Row(k=100, g=5, val=100.0)]),
                 path=path, key="k")
    compact(spark, path, "k")                    # GCs v1, v2
    # default: the dead-end error still surfaces
    with pytest.raises(ChangeHistoryUnavailable):
        maintain_grouped_view(spark, table_path=path, key="k",
                              view_path=vp, group_col="g",
                              sum_col="val")
    st = maintain_grouped_view(spark, table_path=path, key="k",
                               view_path=vp, group_col="g",
                               sum_col="val", auto_recover=True)
    assert st.get("recovered") and not st.get("bootstrap")
    assert st["recover_count"] == 1              # cadence counter (r15)
    assert _view(spark, vp) == _recompute(spark, path)
    assert all(g != 2 for g, _, _ in _view(spark, vp))   # vanished
    # the fresh offset resumes O(changes) differential maintenance
    append_delta(spark, spark.createDataFrame([Row(k=101, g=0, val=7.0)]),
                 path=path, key="k")
    st = maintain_grouped_view(spark, table_path=path, key="k",
                               view_path=vp, group_col="g",
                               sum_col="val")
    assert st["changes"] == 1 and "recovered" not in st
    assert _view(spark, vp) == _recompute(spark, path)
    # a SECOND reclaim-then-recover increments the counter — the
    # operational signal that retention is misconfigured persists in
    # the view's own manifest (r14 watch item)
    append_delta(spark, spark.createDataFrame([Row(k=102, g=0, val=1.0)]),
                 path=path, key="k")
    compact(spark, path, "k")
    append_delta(spark, spark.createDataFrame([Row(k=103, g=0, val=2.0)]),
                 path=path, key="k")
    compact(spark, path, "k")                    # GCs the unseen window
    st = maintain_grouped_view(spark, table_path=path, key="k",
                               view_path=vp, group_col="g",
                               sum_col="val", auto_recover=True)
    assert st.get("recovered") and st["recover_count"] == 2
    assert _view(spark, vp) == _recompute(spark, path)


def test_auto_recover_minmax_view(spark, tmp_path):
    path = _mk_table(spark, tmp_path)
    vp = str(tmp_path / "view")
    maintain_grouped_view(spark, table_path=path, key="k", view_path=vp,
                          group_col="g", sum_col="val",
                          track_minmax=True)
    # delete group 2's max (k=11) beyond feed retention
    append_delete_delta(spark, spark.createDataFrame([Row(k=11)]),
                        path=path, key="k")
    compact(spark, path, "k")
    append_delta(spark, spark.createDataFrame([Row(k=50, g=1, val=50.0)]),
                 path=path, key="k")
    compact(spark, path, "k")
    st = maintain_grouped_view(spark, table_path=path, key="k",
                               view_path=vp, group_col="g",
                               sum_col="val", track_minmax=True,
                               auto_recover=True)
    assert st.get("recovered")
    assert _view_mm(spark, vp) == _recompute_mm(spark, path)
    append_delta(spark, spark.createDataFrame([Row(k=51, g=2, val=-3.0)]),
                 path=path, key="k")
    st = maintain_grouped_view(spark, table_path=path, key="k",
                               view_path=vp, group_col="g",
                               sum_col="val", track_minmax=True)
    assert st["recomputed_groups"] == 0      # monotone insert
    assert _view_mm(spark, vp) == _recompute_mm(spark, path)


def test_read_view_with_derived_avg(spark, tmp_path):
    """r14 (verdict item 4): AVG surfaces as maintained-SUM/COUNT —
    exact against a recompute after mixed arrivals."""
    path = _mk_table(spark, tmp_path)
    vp = str(tmp_path / "view")
    maintain_grouped_view(spark, table_path=path, key="k", view_path=vp,
                          group_col="g", sum_col="val")
    append_delta(spark, spark.createDataFrame([Row(k=1, g=9, val=11.0)]),
                 path=path, key="k")
    append_delete_delta(spark, spark.createDataFrame([Row(k=2)]),
                        path=path, key="k")
    maintain_grouped_view(spark, table_path=path, key="k", view_path=vp,
                          group_col="g", sum_col="val")
    got = sorted((r.g, r.cnt, r.total, r.avg) for r in
                 read_grouped_view(spark, vp, "g", with_avg=True)
                 .collect())
    want = sorted(
        (r.g, r.cnt, float(r.total), float(r.total) / r.cnt) for r in
        read_merged(spark, path, "k").groupBy("g").agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("val").cast("decimal(38,6)"))
             .cast("double").alias("total")).collect())
    assert got == want


def test_two_views_one_table_independent_offsets(spark, tmp_path):
    """r14 (verdict gap b): multiple views per table — each view's
    offset rides its OWN manifest, so two views over one feed
    maintain independently, including at staggered cadences, as long
    as the drain-then-fold contract holds for the laggard."""
    path = _mk_table(spark, tmp_path)            # k, g=k%3, val
    va = str(tmp_path / "view_by_g")
    vb = str(tmp_path / "view_by_parity")
    # view B groups by a different column, materialized on the table
    # as its own payload column so the feed serves both
    append_delta(spark,
                 spark.createDataFrame(
                     [Row(k=i, p=i % 2) for i in range(12)],
                     "k bigint, p bigint"),
                 path=path, key="k")
    maintain_grouped_view(spark, table_path=path, key="k", view_path=va,
                          group_col="g", sum_col="val")
    maintain_grouped_view(spark, table_path=path, key="k", view_path=vb,
                          group_col="p", sum_col="val")
    # arrival 1: only view A applies it
    append_delta(spark, spark.createDataFrame([Row(k=1, g=9, val=11.0)]),
                 path=path, key="k")
    sta = maintain_grouped_view(spark, table_path=path, key="k",
                                view_path=va, group_col="g",
                                sum_col="val")
    assert sta["changes"] == 1
    # arrival 2: B now catches up over BOTH pending versions in one
    # telescoped window; A applies just the new one
    append_delete_delta(spark, spark.createDataFrame([Row(k=2)]),
                        path=path, key="k")
    stb = maintain_grouped_view(spark, table_path=path, key="k",
                                view_path=vb, group_col="p",
                                sum_col="val")
    sta = maintain_grouped_view(spark, table_path=path, key="k",
                                view_path=va, group_col="g",
                                sum_col="val")
    assert stb["changes"] == 2 and sta["changes"] == 1
    state = read_merged(spark, path, "k")
    want_a = sorted(
        (r.g, r.cnt, float(r.total)) for r in
        state.groupBy("g").agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("val").cast("decimal(38,6)"))
             .cast("double").alias("total")).collect())
    want_b = sorted(
        (r.p, r.cnt, float(r.total)) for r in
        state.groupBy("p").agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("val").cast("decimal(38,6)"))
             .cast("double").alias("total")).collect())
    assert _view(spark, va) == want_a
    assert sorted((r.p, r.cnt, r.total) for r in
                  read_grouped_view(spark, vb, "p").collect()) == want_b


def _mk_table2(spark, tmp_path):
    path = str(tmp_path / "src2")
    base = spark.createDataFrame(
        [Row(k=i, g=i % 3, val=float(i), w=float(i * i)) for i in range(12)])
    upsert_into_keyed_table(spark, base, path=path, key="k",
                            updated_at_col=None)
    return path


def _recompute2(spark, path, minmax=False):
    aggs = [F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("val").cast("decimal(38,6)"))
             .cast("double").alias("tv"),
            F.sum(F.col("w").cast("decimal(38,6)"))
             .cast("double").alias("tw")]
    if minmax:
        aggs += [F.min("val").alias("mv"), F.max("val").alias("xv"),
                 F.min("w").alias("mw"), F.max("w").alias("xw")]
    return sorted(tuple(r) for r in
                  read_merged(spark, path, "k").groupBy("g")
                  .agg(*aggs).collect())


def test_multicol_view_matches_recompute(spark, tmp_path):
    """r14: a LIST sum_col maintains one total per column through one
    feed read — including a null-skip PARTIAL update touching only
    one column (the other's ±pre contributions must cancel exactly)."""
    path = _mk_table2(spark, tmp_path)
    vp = str(tmp_path / "view")
    st = maintain_grouped_view(spark, table_path=path, key="k",
                               view_path=vp, group_col="g",
                               sum_col=["val", "w"])
    assert st.get("bootstrap")
    # group move (both cols), delete, insert, and a PARTIAL update
    # carrying only val (w omitted = keep old)
    append_delta(spark, spark.createDataFrame(
        [Row(k=1, g=9, val=11.0, w=111.0)]), path=path, key="k")
    append_delete_delta(spark, spark.createDataFrame([Row(k=2)]),
                        path=path, key="k")
    append_delta(spark, spark.createDataFrame(
        [Row(k=100, g=5, val=100.0, w=1.0)]), path=path, key="k")
    append_delta(spark,
                 spark.createDataFrame([Row(k=3, val=30.0)],
                                       "k bigint, val double"),
                 path=path, key="k")
    st = maintain_grouped_view(spark, table_path=path, key="k",
                               view_path=vp, group_col="g",
                               sum_col=["val", "w"])
    assert st["applied_through"] == 4
    got = sorted((r.g, r.cnt, r.total_val, r.total_w) for r in
                 read_grouped_view(spark, vp, "g").collect())
    assert got == _recompute2(spark, path)
    # derived averages per column
    avg = read_grouped_view(spark, vp, "g", with_avg=True)
    assert {"avg_val", "avg_w"} <= set(avg.columns)
    for r in avg.collect():
        assert abs(r.avg_val - r.total_val / r.cnt) < 1e-12
        assert abs(r.avg_w - r.total_w / r.cnt) < 1e-12


def test_multicol_minmax_recompute_any_column(spark, tmp_path):
    """ANY column's retracted extremum flags the group; the recompute
    rebuilds every tracked aggregate exactly."""
    path = _mk_table2(spark, tmp_path)        # val=k, w=k*k, g=k%3
    vp = str(tmp_path / "view")
    maintain_grouped_view(spark, table_path=path, key="k",
                          view_path=vp, group_col="g",
                          sum_col=["val", "w"], track_minmax=True)
    # k=11 holds group 2's max in BOTH columns: recompute fires
    append_delete_delta(spark, spark.createDataFrame([Row(k=11)]),
                        path=path, key="k")
    st = maintain_grouped_view(spark, table_path=path, key="k",
                               view_path=vp, group_col="g",
                               sum_col=["val", "w"], track_minmax=True)
    assert st["recomputed_groups"] == 1
    got = sorted((r.g, r.cnt, r.total_val, r.total_w,
                  r.vmin_val, r.vmax_val, r.vmin_w, r.vmax_w)
                 for r in read_grouped_view(spark, vp, "g").collect())
    want = [(g, c, tv, tw, mv, xv, mw, xw) for
            (g, c, tv, tw, mv, xv, mw, xw) in
            _recompute2(spark, path, minmax=True)]
    assert got == want
    # a pure insert stays differential for every column
    append_delta(spark, spark.createDataFrame(
        [Row(k=50, g=2, val=-1.0, w=999.0)]), path=path, key="k")
    st = maintain_grouped_view(spark, table_path=path, key="k",
                               view_path=vp, group_col="g",
                               sum_col=["val", "w"], track_minmax=True)
    assert st["recomputed_groups"] == 0
    got = sorted((r.g, r.cnt, r.total_val, r.total_w,
                  r.vmin_val, r.vmax_val, r.vmin_w, r.vmax_w)
                 for r in read_grouped_view(spark, vp, "g").collect())
    assert got == _recompute2(spark, path, minmax=True)


def test_shape_mismatch_surfaces_on_idle_table(spark, tmp_path):
    """ADVICE r15: the no-op fast path (zero arrivals above the
    offset) must still run the shape guard — an idle poll with a
    mismatched sum_col/track_minmax previously reported success."""
    path = _mk_table(spark, tmp_path)
    vp = str(tmp_path / "view")
    maintain_grouped_view(spark, table_path=path, key="k", view_path=vp,
                          group_col="g", sum_col="val",
                          track_minmax=True)
    # NO new arrivals: the differential round takes the no-op path
    with pytest.raises(ValueError, match="different "):
        maintain_grouped_view(spark, table_path=path, key="k",
                              view_path=vp, group_col="g",
                              sum_col="val")
    # the matching shape still no-ops cleanly
    out = maintain_grouped_view(spark, table_path=path, key="k",
                                view_path=vp, group_col="g",
                                sum_col="val", track_minmax=True)
    assert out["changes"] == 0 and out["groups_touched"] == 0


def test_shape_mismatch_guard_multicol(spark, tmp_path):
    path = _mk_table2(spark, tmp_path)
    vp = str(tmp_path / "view")
    maintain_grouped_view(spark, table_path=path, key="k",
                          view_path=vp, group_col="g",
                          sum_col=["val", "w"])
    append_delta(spark, spark.createDataFrame(
        [Row(k=99, g=1, val=9.0, w=9.0)]), path=path, key="k")
    with pytest.raises(ValueError, match="different "):
        maintain_grouped_view(spark, table_path=path, key="k",
                              view_path=vp, group_col="g",
                              sum_col="val")
    with pytest.raises(ValueError, match="different "):
        maintain_grouped_view(spark, table_path=path, key="k",
                              view_path=vp, group_col="g",
                              sum_col=["val"])


def test_stream_maintain_view_available_now(spark, tmp_path):
    """r15: `stream_maintain_view` (availableNow) bootstraps, drains
    the backlog, applies later arrivals on a second drain, and holds
    the view's lease only while running (released on return)."""
    from howto_mongo_bulk_update_from_parquet_spark.sinks.views import (
        stream_maintain_view)

    path = _mk_table(spark, tmp_path)
    vp = str(tmp_path / "view")
    ckpt = str(tmp_path / "ckpt")
    append_delta(spark, spark.createDataFrame([Row(k=50, g=7, val=5.0)]),
                 path=path, key="k")
    assert stream_maintain_view(
        spark, table_path=path, key="k", view_path=vp, group_col="g",
        sum_col="val", checkpoint=ckpt) is None
    assert _view(spark, vp) == _recompute(spark, path)
    # lease released: a batch maintainer runs immediately
    append_delta(spark, spark.createDataFrame([Row(k=51, g=8, val=6.0)]),
                 path=path, key="k")
    maintain_grouped_view(spark, table_path=path, key="k", view_path=vp,
                          group_col="g", sum_col="val")
    assert _view(spark, vp) == _recompute(spark, path)
    # second drain with the SAME checkpoint (same logical maintainer)
    # picks up further arrivals; replayed signals no-op
    append_delta(spark, spark.createDataFrame([Row(k=52, g=9, val=1.5)]),
                 path=path, key="k")
    stream_maintain_view(
        spark, table_path=path, key="k", view_path=vp, group_col="g",
        sum_col="val", checkpoint=ckpt)
    assert _view(spark, vp) == _recompute(spark, path)


def test_stream_maintain_view_continuous_and_fencing(spark, tmp_path):
    """The processing-time form maintains as arrivals land, and its
    held lease fences a concurrent batch maintainer (clean loser)
    until the stream stops."""
    import time

    from howto_mongo_bulk_update_from_parquet_spark.sinks.lease import (
        WriterLeaseHeld)
    from howto_mongo_bulk_update_from_parquet_spark.sinks.views import (
        stream_maintain_view)

    path = _mk_table(spark, tmp_path)
    vp = str(tmp_path / "view")
    # a LONG ttl: post-stop acquirability below can then only be
    # explained by the r16 termination-listener release, not expiry
    q = stream_maintain_view(
        spark, table_path=path, key="k", view_path=vp, group_col="g",
        sum_col="val", checkpoint=str(tmp_path / "ckpt"),
        processing_time="1 seconds", lease_ttl_ms=60_000)
    try:
        t0 = time.time()
        while view_offset(spark, vp) < 0 and time.time() - t0 < 60:
            time.sleep(0.5)
        assert _view(spark, vp) == _recompute(spark, path)  # bootstrap
        append_delta(spark,
                     spark.createDataFrame([Row(k=60, g=11, val=2.0)]),
                     path=path, key="k")
        t0 = time.time()
        while view_offset(spark, vp) < 1 and time.time() - t0 < 120:
            if q.exception() is not None:
                raise AssertionError(f"stream died: {q.exception()}")
            time.sleep(0.5)
        assert view_offset(spark, vp) == 1
        assert _view(spark, vp) == _recompute(spark, path)
        # the held lease fences a concurrent batch maintainer
        with pytest.raises(WriterLeaseHeld):
            maintain_grouped_view(spark, table_path=path, key="k",
                                  view_path=vp, group_col="g",
                                  sum_col="val")
    finally:
        q.stop()
    # r16 (verdict item 6): a CLEAN stop releases the lease
    # IMMEDIATELY via the termination listener — the 60s TTL above
    # rules out expiry as the explanation. The listener fires on the
    # streams bus asynchronously, so poll briefly, far under the TTL.
    append_delta(spark, spark.createDataFrame([Row(k=61, g=12, val=3.0)]),
                 path=path, key="k")
    t0 = time.time()
    while True:
        try:
            maintain_grouped_view(spark, table_path=path, key="k",
                                  view_path=vp, group_col="g",
                                  sum_col="val")
            break
        except WriterLeaseHeld:
            assert time.time() - t0 < 20, \
                "lease not released on clean stop (would wait full TTL)"
            time.sleep(0.5)
    assert _view(spark, vp) == _recompute(spark, path)


def test_table_info_surfaces_view_props_and_merge_key(spark, tmp_path,
                                                      capsys):
    """r15: table-info shows the manifest-recorded merge key and the
    user.* properties (a maintained view's feed offset at a glance)."""
    import json

    from howto_mongo_bulk_update_from_parquet_spark.cli import main

    path = _mk_table(spark, tmp_path)
    vp = str(tmp_path / "view")
    maintain_grouped_view(spark, table_path=path, key="k", view_path=vp,
                          group_col="g", sum_col="val")
    assert main(["table-info", "--table", vp]) == 0
    info = json.loads(capsys.readouterr().out)
    assert info["merge_key"] == "g"
    assert info["table_props"]["user.feed_offset"] == "0"
    assert main(["table-info", "--table", path]) == 0
    info = json.loads(capsys.readouterr().out)
    assert info["merge_key"] == "k" and "table_props" not in info
