"""Bounded key probes (`lookup_keyed_table(values=[...])`): a point
lookup runs as ONE Spark job with one stage, and its output equals the
merged view (`read_merged`) filtered to the probe — for untouched,
updated, delta-only, tombstoned and re-inserted keys, across the plain,
`buckets` and `range_files` layouts, after a schema-widening delta and a
pruned fold, with nothing pending, and when the zone map prunes every
base file."""

import pytest
from pyspark.sql import functions as F

from howto_mongo_bulk_update_from_parquet_spark.sinks.keyed_table import (
    append_delete_delta, append_delta, compact_pruned, lookup_keyed_table,
    read_merged, upsert_into_keyed_table)

LAYOUTS = {
    "plain": {},
    "buckets": {"buckets": 4},
    "range_files": {"range_files": 4, "stats_cols": ["b"]},
}
UNTOUCHED, UPDATED, DELTA_ONLY, TOMBSTONED, REINSERTED = 5, 10, 5000, 20, 30
ABSENT = 10 ** 6                  # beyond every base file's key span
KINDS = (UNTOUCHED, UPDATED, DELTA_ONLY, TOMBSTONED, REINSERTED, ABSENT)


def _rows(spark, data, schema="k long, a string, b double"):
    return spark.createDataFrame(data, schema)


def _make(spark, path, layout):
    """Base of 200 keys, then pending deltas: an update with a NULL
    (null-skip), an insert, a tombstone, and a re-insert after it."""
    base = spark.range(200).select(
        F.col("id").alias("k"),
        F.concat(F.lit("a"), F.col("id").cast("string")).alias("a"),
        (F.col("id") / 2).alias("b"))
    upsert_into_keyed_table(spark, base, path=path, key="k",
                            updated_at_col=None, **LAYOUTS[layout])
    append_delta(spark, _rows(spark, [(UPDATED, "u", None),
                                      (DELTA_ONLY, "new", 1.5),
                                      (REINSERTED, "pre", 3.0)]),
                 path=path, key="k")
    append_delete_delta(spark, _rows(spark, [(TOMBSTONED,), (REINSERTED,)],
                                     "k long"), path=path, key="k")
    append_delta(spark, _rows(spark, [(REINSERTED, "back", None)]),
                 path=path, key="k")


def _assert_lookups_equal_merged(spark, path, keys):
    merged = read_merged(spark, path, "k")
    for k in keys:
        got = lookup_keyed_table(spark, path, "k", values=[k])
        assert got.columns == merged.columns, k
        want = [r.asDict() for r in merged.filter(F.col("k") == k).collect()]
        assert [r.asDict() for r in got.collect()] == want, k


def _census(spark, fn):
    """(jobs, stages) the call ran, from statusTracker job-id marks."""
    sc = spark.sparkContext
    sched = sc._jsc.sc().dagScheduler()
    first = sched.nextJobId()
    fn()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    end = sched.nextJobId()
    infos = [sc.statusTracker().getJobInfo(j) for j in range(first, end)]
    stages = {s for info in infos if info is not None for s in info.stageIds}
    return end - first, len(stages)


@pytest.mark.parametrize("layout", sorted(LAYOUTS))
def test_lookup_equals_merged_view_with_pending_deltas(spark, tmp_path,
                                                       layout):
    path = str(tmp_path / layout)
    _make(spark, path, layout)
    _assert_lookups_equal_merged(spark, path, KINDS)
    got = {k: lookup_keyed_table(spark, path, "k", values=[k]).collect()
           for k in (UPDATED, TOMBSTONED, REINSERTED)}
    assert got[UPDATED][0]["a"] == "u" and got[UPDATED][0]["b"] == 5.0
    assert got[TOMBSTONED] == []
    # the tombstone cuts the older history: nothing resurrects
    assert (got[REINSERTED][0]["a"], got[REINSERTED][0]["b"]) == ("back", None)


@pytest.mark.parametrize("layout", sorted(LAYOUTS))
def test_lookup_equals_merged_view_after_widening_fold(spark, tmp_path,
                                                       layout):
    """A delta adds column `c`; a pruned fold rewrites only its file
    on the range layout, so the new base carries files of both schema
    generations. Then: nothing pending, and a pending delta holding a
    key beyond every base file's span."""
    path = str(tmp_path / layout)
    _make(spark, path, layout)
    append_delta(spark, spark.createDataFrame(
        [(40, "w", None, "wide")], "k long, a string, b double, c string"),
        path=path, key="k")
    _, st = compact_pruned(spark, path, "k")
    if layout == "range_files":
        assert st["pruned"] and st["files_carried"] > 0
    _assert_lookups_equal_merged(spark, path, KINDS + (40,))
    row = lookup_keyed_table(spark, path, "k", values=[40]).first()
    assert (row["c"], row["b"]) == ("wide", 20.0)
    assert lookup_keyed_table(spark, path, "k",
                              values=[UNTOUCHED]).first()["c"] is None
    _, stats = lookup_keyed_table(spark, path, "k", values=[ABSENT],
                                  with_stats=True)
    if layout == "range_files":
        assert stats["files_read"] == 0      # the zone map pruned all
    append_delta(spark, _rows(spark, [(ABSENT, "far", 9.0)]),
                 path=path, key="k")
    _assert_lookups_equal_merged(spark, path, (ABSENT, UNTOUCHED, 40))
    assert lookup_keyed_table(spark, path, "k",
                              values=[ABSENT]).first()["a"] == "far"


def test_point_lookup_with_one_pending_delta_is_one_job(spark, tmp_path):
    """Range layout, one pending delta: every probe kind (untouched,
    delta-updated, delta-only, beyond every span) plans and runs as
    exactly one job with one stage — no footer inference, no exchange,
    no Python-built frame. Also on a carried base after a pruned
    fold."""
    path = str(tmp_path / "t")
    base = spark.range(2000).select(F.col("id").alias("k"),
                                    (F.col("id") * 0.5).alias("b"))
    upsert_into_keyed_table(spark, base, path=path, key="k",
                            updated_at_col=None, range_files=8,
                            stats_cols=["b"])
    for round_ in range(2):
        append_delta(spark, spark.createDataFrame(
            [(7 + round_, None), (1500, 1.0), (9000 + round_, 2.0)],
            "k long, b double"), path=path, key="k")
        for k in (300, 7 + round_, 1500, 9000 + round_):
            rows = []
            jobs, stages = _census(spark, lambda: rows.extend(
                lookup_keyed_table(spark, path, "k", values=[k]).collect()))
            assert (jobs, stages) == (1, 1), (round_, k)
            assert len(rows) == 1
        compact_pruned(spark, path, "k")


def test_lookup_larger_than_one_scan_partition_keeps_the_exchange(
        spark, tmp_path):
    """The single-partition merge rests on the input's bytes against
    `spark.sql.files.maxPartitionBytes`: a probe whose input exceeds
    one scan partition keeps the partitioned window (an exchange), with
    the same rows."""
    path = str(tmp_path / "t")
    _make(spark, path, "plain")

    def plan(k):
        df = lookup_keyed_table(spark, path, "k", values=[k])
        return df, df._jdf.queryExecution().executedPlan().toString()

    small_df, small = plan(UPDATED)
    want = small_df.collect()
    assert "Exchange" not in small
    conf = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "1k")
    try:
        big_df, big = plan(UPDATED)
        assert "Exchange" in big
        assert big_df.collect() == want
    finally:
        spark.conf.set(conf, old)


def _first_data_file(base_dir):
    """The data file Spark's single-footer schema inference reads: the
    lexicographically first path of the directory."""
    import os
    return os.path.join(base_dir, min(
        f for f in os.listdir(base_dir)
        if not f.startswith(("_", "."))))


def test_materialized_widening_fold_keeps_the_new_column(spark, tmp_path):
    """`compact_pruned(materialize=True)` after a delta that adds column
    `c` copies old-generation files next to the rewritten ones into a
    self-contained base (no carried refs). The version's schema must
    still hold `c` whichever footer sorts first: in lookups, and in the
    files the next pruned fold rewrites. Spark's single-footer inference
    reads the lexicographically first file, and file names carry random
    job ids, so the table is rebuilt until an old-generation file sorts
    first (each build has an even chance)."""
    from howto_mongo_bulk_update_from_parquet_spark.sinks.keyed_table import (
        current_base_version)
    for attempt in range(20):
        path = str(tmp_path / f"t{attempt}")
        base = spark.range(200).select(
            F.col("id").alias("k"),
            F.concat(F.lit("a"), F.col("id").cast("string")).alias("a"),
            (F.col("id") / 2).alias("b"))
        upsert_into_keyed_table(spark, base, path=path, key="k",
                                updated_at_col=None, range_files=4)
        append_delta(spark, spark.createDataFrame(
            [(120, "w", None, "wide")],
            "k long, a string, b double, c string"), path=path, key="k")
        _, st = compact_pruned(spark, path, "k", materialize=True)
        assert st["pruned"] and st["files_carried"] > 0
        first = _first_data_file(
            f"{path}/base_v{current_base_version(spark, path):05d}")
        if "c" not in spark.read.parquet(first).columns:
            break
    else:
        pytest.fail("no build put an old-generation file first")
    row = lookup_keyed_table(spark, path, "k", values=[120]).first()
    assert (row["a"], row["b"], row["c"]) == ("w", 60.0, "wide")
    assert "c" in read_merged(spark, path, "k").columns
    # the next pruned fold rewrites the file holding 120 (and one more)
    append_delta(spark, _rows(spark, [(125, "x", None), (5, "y", 1.0)]),
                 path=path, key="k")
    _, st = compact_pruned(spark, path, "k")
    assert st["pruned"] and st["files_rewritten"] >= 1
    row = lookup_keyed_table(spark, path, "k", values=[120]).first()
    assert (row["a"], row["c"]) == ("w", "wide")
    _assert_lookups_equal_merged(spark, path, (5, 120, 125, 180))


def test_lookup_puts_the_key_first_with_or_without_pending_deltas(
        spark, tmp_path):
    """A lookup returns the key first whether or not a pending delta
    intersects the probe: the no-window path and the window path agree
    on column order. The sink's writers store the key first, so the
    merge is also driven directly with a kept-file frame whose key
    comes later."""
    from howto_mongo_bulk_update_from_parquet_spark.sinks.keyed_table import (
        _read_merged_through, snapshot)
    path = str(tmp_path / "t")
    src = spark.range(50).select(
        F.concat(F.lit("a"), F.col("id").cast("string")).alias("a"),
        F.col("id").alias("k"), (F.col("id") / 2).alias("b"))
    upsert_into_keyed_table(spark, src, path=path, key="k",
                            updated_at_col=None, range_files=2)
    append_delta(spark, spark.createDataFrame([("u", 3, None)],
                                              "a string, k long, b double"),
                 path=path, key="k")
    hit = lookup_keyed_table(spark, path, "k", values=[3])
    miss = lookup_keyed_table(spark, path, "k", values=[40])
    assert hit.columns == miss.columns == ["k", "a", "b"]
    assert [tuple(r) for r in hit.collect()] == [(3, "u", 1.5)]
    assert [tuple(r) for r in miss.collect()] == [(40, "a40", 20.0)]
    snap = snapshot(spark, path)
    key_later = read_merged(spark, path, "k").select("a", "k", "b")
    no_window = _read_merged_through(snap, "k", [], base_df=key_later)
    window = _read_merged_through(snap, "k", [1], base_df=key_later)
    assert no_window.columns == window.columns == ["k", "a", "b"]
