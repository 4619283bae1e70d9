"""Per-file bloom-filter index (`sinks/bloom_index.py`): equality
file skipping on high-cardinality unsorted columns — the zone map's
complement. Covers: pruning engages where min/max cannot, no false
negatives, conservative unindexed handling, inheritance/drop through
rounds, pruned-fold carry + re-stats, mixed per-row params, and the
delta-aware scan decomposition (a value moved by a pending delta is
served by the merge branch the bloom never prunes).
"""

import pytest
from pyspark.sql import functions as F

from howto_mongo_bulk_update_from_parquet_spark.sinks import bloom_index as bi
from howto_mongo_bulk_update_from_parquet_spark.sinks import fs as hfs
from howto_mongo_bulk_update_from_parquet_spark.sinks.keyed_table import (
    append_delta, compact_pruned, current_base_version, scan_keyed_table,
    table_meta, upsert_into_keyed_table)


def _docs(spark, n=8000):
    return spark.range(n).select(
        F.col("id").alias("k"),
        F.md5(F.col("id").cast("string")).alias("uid"),
        (F.col("id") % 100).cast("double").alias("v"))


def _mk(spark, tmp_path, **kw):
    path = str(tmp_path / "btab")
    upsert_into_keyed_table(spark, _docs(spark), path=path, key="k",
                            updated_at_col=None, range_files=8,
                            bloom_cols=["uid"], **kw)
    return path


def _uid(spark, k):
    return spark.range(k, k + 1).select(
        F.md5(F.col("id").cast("string"))).first()[0]


def test_bloom_prunes_where_zonemap_cannot(spark, tmp_path):
    path = _mk(spark, tmp_path)
    probe = _uid(spark, 777)
    out, st = scan_keyed_table(spark, path, where={"uid": (probe, probe)},
                               with_stats=True)
    assert st["bloom_cols_used"] == ["uid"]
    # md5 values are uniform: min/max admits every file; bloom must
    # cut to ~1 (a couple of fp files tolerated)
    assert st["files_read"] <= 2 < st["files_total"]
    assert [r["k"] for r in out.collect()] == [777]
    # absent value: zero files, zero rows
    out2, st2 = scan_keyed_table(spark, path,
                                 where={"uid": ("nope", "nope")},
                                 with_stats=True)
    assert st2["files_read"] == 0 and out2.count() == 0


def test_no_false_negatives_sampled(spark, tmp_path):
    path = _mk(spark, tmp_path)
    for k in range(3, 8000, 1000):
        probe = _uid(spark, k)
        got = scan_keyed_table(spark, path,
                               where={"uid": (probe, probe)}).collect()
        assert [r["k"] for r in got] == [k]


def test_range_predicate_skips_bloom(spark, tmp_path):
    path = _mk(spark, tmp_path)
    out, st = scan_keyed_table(spark, path, where={"v": (10.0, 20.0)},
                               with_stats=True)
    assert st["bloom_cols_used"] == []
    assert out.count() == 8000 // 100 * 11


def test_inherited_then_dropped(spark, tmp_path):
    path = _mk(spark, tmp_path)
    upsert_into_keyed_table(spark, _docs(spark, 10), path=path, key="k",
                            updated_at_col=None)
    assert table_meta(spark, path)["bloom_cols"] == "uid"
    v = current_base_version(spark, path)
    assert bi.read_bloom_index(
        spark, hfs.join(path, f"base_v{v:05d}")) is not None
    upsert_into_keyed_table(spark, _docs(spark, 10), path=path, key="k",
                            updated_at_col=None, bloom_cols=[])
    meta = table_meta(spark, path)
    assert "bloom_cols" not in meta
    probe = _uid(spark, 777)
    _, st = scan_keyed_table(spark, path, where={"uid": (probe, probe)},
                             with_stats=True)
    assert st["bloom_cols_used"] == []


def test_pruned_fold_carries_and_restats(spark, tmp_path):
    path = _mk(spark, tmp_path)
    ups = (_docs(spark).filter(F.col("k") < 40)
           .select("k", F.lit("ZZZ").alias("uid"), "v"))
    append_delta(spark, ups, path=path, key="k")
    _, fstats = compact_pruned(spark, path, "k")
    assert fstats["pruned"] and fstats["files_carried"] > 0
    # the rewritten group's NEW value is findable (fresh stats)...
    out, st = scan_keyed_table(spark, path, where={"uid": ("ZZZ", "ZZZ")},
                               with_stats=True)
    assert out.count() == 40 and st["files_read"] < st["files_total"]
    # ...and carried files answer through their carried entries
    probe = _uid(spark, 7000)
    out2, st2 = scan_keyed_table(spark, path,
                                 where={"uid": (probe, probe)},
                                 with_stats=True)
    assert [r["k"] for r in out2.collect()] == [7000]
    assert st2["files_read"] <= 2


def test_pending_delta_moved_value_is_exact(spark, tmp_path):
    path = _mk(spark, tmp_path)
    old = _uid(spark, 777)
    moved = (_docs(spark).filter(F.col("k") == 777)
             .select("k", F.lit("MOVED").alias("uid"), "v"))
    append_delta(spark, moved, path=path, key="k")
    # the delta-touched key must surface under its NEW value even
    # though no base file contains it (merge branch, bloom-exempt)...
    got = scan_keyed_table(spark, path,
                           where={"uid": ("MOVED", "MOVED")}).collect()
    assert [r["k"] for r in got] == [777]
    # ...and must NOT surface under the old value anymore
    assert scan_keyed_table(spark, path,
                            where={"uid": (old, old)}).count() == 0


def test_unindexed_files_conservative(spark, tmp_path):
    # a base written WITHOUT bloom, then a round that adds it: the
    # probe job must keep files that predate the index
    path = str(tmp_path / "btab")
    upsert_into_keyed_table(spark, _docs(spark), path=path, key="k",
                            updated_at_col=None, range_files=8)
    probe = _uid(spark, 777)
    _, st = scan_keyed_table(spark, path, where={"uid": (probe, probe)},
                             with_stats=True)
    assert st["bloom_cols_used"] == []   # no index at all -> no prune
    upsert_into_keyed_table(spark, _docs(spark, 10), path=path, key="k",
                            updated_at_col=None, bloom_cols=["uid"])
    out, st2 = scan_keyed_table(spark, path, where={"uid": (probe, probe)},
                                with_stats=True)
    assert st2["bloom_cols_used"] == ["uid"]
    assert [r["k"] for r in out.collect()] == [777]


def test_mixed_params_probe_no_false_negative(spark, tmp_path):
    path = _mk(spark, tmp_path)
    # rebuild part of the index under different sizing by faking a
    # carried row next to a fresh one: probe must honor per-row params
    v = current_base_version(spark, path)
    base = hfs.join(path, f"base_v{v:05d}")
    idx = bi.read_bloom_index(spark, base)
    files = [r["file"] for r in idx.select("file").distinct().collect()]
    half = files[: len(files) // 2]
    small = bi.collect_bloom_index(
        spark, base, ["uid"],
        paths=[hfs.join(base, f) for f in half],
        m_bits=1 << 12, n_hashes=3)
    keep = idx.filter(~F.col("file").isin(half))
    # materialize before overwriting the dir the plan reads from
    merged = keep.unionByName(small).localCheckpoint()
    bi.write_bloom_index(spark, base, merged)
    for k in (3, 777, 4003, 7999):
        probe = _uid(spark, k)
        got = scan_keyed_table(spark, path,
                               where={"uid": (probe, probe)}).collect()
        assert [r["k"] for r in got] == [k]


def test_all_layout_specs_compose(spark, tmp_path):
    """target_file_bytes + zorder_col + bloom_cols on one table:
    inherited together, folded together, and each consumer still
    engages (autosized count, z-rectangle stats prune, bloom
    equality prune)."""
    path = str(tmp_path / "ctab")
    docs = _docs(spark).withColumn("score", (F.col("k") % 977)
                                   .cast("double"))
    upsert_into_keyed_table(spark, docs, path=path, key="k",
                            updated_at_col=None, range_files=2,
                            target_file_bytes=32 * 1024,
                            zorder_col="score", bloom_cols=["uid"],
                            stats_cols=["score"])
    upsert_into_keyed_table(spark, docs.limit(1), path=path, key="k",
                            updated_at_col=None)
    meta = table_meta(spark, path)
    assert meta["target_file_bytes"] == str(32 * 1024)
    assert meta["zorder_col"] == "score"
    assert meta["bloom_cols"] == "uid"
    assert int(meta["range_files"]) > 2     # autosize re-planned
    # z-ordered stats prune engages...
    _, st = scan_keyed_table(spark, path, where={"score": (0.0, 50.0)},
                             with_stats=True)
    assert st["files_read"] < st["files_total"]
    # ...and the bloom equality prune on the same base
    probe = _uid(spark, 4242)
    out, st2 = scan_keyed_table(spark, path,
                                where={"uid": (probe, probe)},
                                with_stats=True)
    assert st2["bloom_cols_used"] == ["uid"]
    assert st2["files_read"] < st2["files_total"]
    assert [r["k"] for r in out.collect()] == [4242]


def test_delete_rewrite_keeps_target_and_bloom(spark, tmp_path):
    """A versioned delete rewrite must carry the FULL layout spec —
    byte target re-planned, bloom re-collected — not silently drop
    them from the manifest (regression: the delete path once omitted
    eff_target/eff_bloom and every later read degraded)."""
    from howto_mongo_bulk_update_from_parquet_spark.sinks.keyed_table import (
        delete_from_keyed_table)
    path = str(tmp_path / "dtab")
    upsert_into_keyed_table(spark, _docs(spark), path=path, key="k",
                            updated_at_col=None, range_files=4,
                            target_file_bytes=32 * 1024,
                            bloom_cols=["uid"])
    delete_from_keyed_table(
        spark, _docs(spark).filter(F.col("k") % 9 == 0).select("k"),
        path=path, key="k")
    meta = table_meta(spark, path)
    assert meta["target_file_bytes"] == str(32 * 1024)
    assert meta["bloom_cols"] == "uid"
    probe = _uid(spark, 7001)
    out, st = scan_keyed_table(spark, path, where={"uid": (probe, probe)},
                               with_stats=True)
    assert st["bloom_cols_used"] == ["uid"]
    assert st["files_read"] < st["files_total"]
    assert [r["k"] for r in out.collect()] == [7001]
    # deleted keys' uids are gone
    gone = _uid(spark, 9 * 5)
    assert scan_keyed_table(spark, path,
                            where={"uid": (gone, gone)}).count() == 0


def test_caller_supplied_n_max_matches_auto_sizing(spark, tmp_path):
    """The write path now passes the zone map's per-file row counts as
    n_max so the sizing job is skipped — the recorded m_bits must be
    exactly what the auto-sizing job would have chosen, and the built
    index identical."""
    path = str(tmp_path / "sz")
    base = str(tmp_path / "szdata")
    _docs(spark, 6000).coalesce(3).write.parquet(base)
    auto = bi.collect_bloom_index(spark, base, ["uid"])
    # true fullest-file count, computed independently
    n_max = (spark.read.parquet(base)
             .groupBy(F.col("_metadata.file_path")).count()
             .agg(F.max("count")).first()[0])
    given = bi.collect_bloom_index(spark, base, ["uid"], n_max=n_max)
    a = {r["file"]: r.asDict() for r in auto.collect()}
    g = {r["file"]: r.asDict() for r in given.collect()}
    assert a.keys() == g.keys()
    for f in a:
        assert a[f]["m_bits"] == g[f]["m_bits"] == bi.auto_m_bits(n_max)
        assert a[f]["words"] == g[f]["words"]
    assert path  # silence unused-path lint in minimal runs


def test_recreated_table_with_new_dtype_keeps_every_row(spark, tmp_path):
    """A table dropped and re-created at the same path in one session,
    with a different dtype for the bloom column: the probe must hash
    under the NEW build's dtype. Reusing the dropped table's memoized
    meta (int) against a bigint build would prune the file that holds
    the value — silently missing rows."""
    path = str(tmp_path / "recreated")

    def create(dtype):
        hfs.delete(spark, path)
        rows = spark.range(4000).select(
            F.col("id").alias("k"), (F.col("id") * 7).cast(dtype).alias("tag"))
        upsert_into_keyed_table(spark, rows, path=path, key="k",
                                updated_at_col=None, range_files=8,
                                bloom_cols=["tag"])

    for dtype in ("int", "bigint"):
        create(dtype)
        for value in (700, 7 * 3001):
            out, st = scan_keyed_table(spark, path,
                                       where={"tag": (value, value)},
                                       with_stats=True)
            assert st["bloom_cols_used"] == ["tag"]
            unpruned = spark.read.parquet(
                hfs.join(path, f"base_v{current_base_version(spark, path):05d}"))
            want = sorted(r["k"] for r in
                          unpruned.filter(F.col("tag") == value).collect())
            assert sorted(r["k"] for r in out.collect()) == want == [value // 7]
