"""The zone-map touched-file decision of a range-layout table
(`sinks/keyed_table.py::_touched_base_files`): which base files hold a
key that a pending delta touches. One keyed cycle asks it three times
for the same (base version, delta set) — the change feed's pre-image
read inside view maintenance, the range scan, then the fold — and only
the first ask runs, as one Spark job when the deltas fit one scan
partition. A span whose stored bound fails the cast back to the key's
dtype counts as touched, and a table dropped and re-created at the same
path never reuses an earlier answer."""

import json
import shutil

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from howto_mongo_bulk_update_from_parquet_spark.sinks import keyed_table as kt
from howto_mongo_bulk_update_from_parquet_spark.sinks import zonemap as zm
from howto_mongo_bulk_update_from_parquet_spark.sinks.keyed_table import (
    append_delta, compact_pruned, read_merged, scan_keyed_table,
    upsert_into_keyed_table)
from howto_mongo_bulk_update_from_parquet_spark.sinks.views import (
    maintain_grouped_view)

COLS = ("k", "g", "val")


def _mk(spark, path, n=400, files=4):
    """`files` range files over keys 0..n-1 (100 keys per file)."""
    base = spark.range(n).select(
        F.col("id").alias("k"), (F.col("id") % 5).alias("g"),
        (F.col("id") * 3).alias("val"))
    upsert_into_keyed_table(spark, base, path=path, key="k",
                            updated_at_col=None, range_files=files)


def _delta(spark, path, keys, val=-1):
    append_delta(spark, spark.createDataFrame(
        [Row(k=k, g=7, val=val) for k in keys]), path=path, key="k")


def _rows(df):
    return sorted(tuple(r) for r in df.select(*COLS).collect())


def _model(n, delta_keys, val=-1):
    """The merged rows of `_mk(n)` after one `_delta(delta_keys)`."""
    rows = {k: (k, k % 5, k * 3) for k in range(n)}
    rows.update({k: (k, 7, val) for k in delta_keys})
    return sorted(rows.values())


def _census(spark, fn):
    """(jobs the call ran, its result), from statusTracker job-id
    marks."""
    sc = spark.sparkContext
    sched = sc._jsc.sc().dagScheduler()
    first = sched.nextJobId()
    out = fn()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return sched.nextJobId() - first, out


@pytest.fixture
def decisions(spark, monkeypatch):
    """Records every ask of the touched-file decision and the job
    count of every miss (a miss is a `_span_hits` run)."""
    rec = {"asks": 0, "miss_jobs": []}
    ask, miss = kt._touched_base_files, kt._span_hits

    def counted_ask(*a, **kw):
        rec["asks"] += 1
        return ask(*a, **kw)

    def counted_miss(*a, **kw):
        jobs, out = _census(spark, lambda: miss(*a, **kw))
        rec["miss_jobs"].append(jobs)
        return out

    monkeypatch.setattr(kt, "_touched_base_files", counted_ask)
    monkeypatch.setattr(kt, "_span_hits", counted_miss)
    return rec


def test_one_decision_per_base_version_and_delta_set(spark, tmp_path,
                                                     decisions):
    """append → maintain → scan → fold on one delta: three asks, one
    miss, and the miss is one job (the delta fits one partition)."""
    path, view = str(tmp_path / "t"), str(tmp_path / "v")
    _mk(spark, path)
    maintain_grouped_view(spark, table_path=path, key="k", view_path=view,
                          group_col="g", sum_col="val")
    # keys in the first and third file, and one beyond every span
    keys = [5, 250, 10_000]
    _delta(spark, path, keys)
    expect = _model(400, keys)
    st = maintain_grouped_view(spark, table_path=path, key="k",
                               view_path=view, group_col="g", sum_col="val")
    assert st["changes"] == 3 and decisions["asks"] == 1
    got = _rows(scan_keyed_table(spark, path, where={"k": (0, 300)}))
    assert got == [r for r in expect if r[0] <= 300]
    assert decisions["asks"] == 2
    df, st = compact_pruned(spark, path, "k")
    assert decisions["asks"] == 3
    assert decisions["miss_jobs"] == [1]
    assert st["pruned"] and st["files_rewritten"] == 2
    assert _rows(df) == expect
    # the next delta is a new delta set: one more miss
    _delta(spark, path, [120])
    compact_pruned(spark, path, "k")
    assert decisions["miss_jobs"] == [1, 1]


def test_deltas_over_one_partition_keep_the_same_answer(spark, tmp_path,
                                                        decisions):
    """Deltas larger than one scan partition read partitioned (the
    distinct then shuffles); the touched set and the fold are the
    same."""
    path = str(tmp_path / "t")
    _mk(spark, path)
    _delta(spark, path, [5, 250, 10_000])
    expect = _rows(read_merged(spark, path, "k"))
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, "64")
    try:
        df, st = compact_pruned(spark, path, "k")
    finally:
        spark.conf.set(key, old)
    assert len(decisions["miss_jobs"]) == 1
    assert st["pruned"] and st["files_rewritten"] == 2
    assert _rows(df) == expect


def test_span_with_uncastable_bound_counts_as_touched(spark, tmp_path):
    """A zone-map bound that does not cast back to the `long` key
    cannot prune: its file is rewritten whenever a delta has keys, so
    a delta key inside that file's true span is not lost."""
    path = str(tmp_path / "t")
    _mk(spark, path)
    zdir = kt._base_dir(path, kt.current_base_version(spark, path))
    zpath = f"{zdir}/{zm.ZONEMAP_FILE}"
    with open(zpath) as fh:
        doc = json.load(fh)
    first = min(doc["files"], key=lambda e: e["min_k"])
    first["min_k"] = "not-a-number"
    with open(zpath, "w") as fh:
        json.dump(doc, fh)
    # one key inside the damaged file's true span, one in the third file
    _delta(spark, path, [5, 250])
    expect = _rows(read_merged(spark, path, "k"))
    df, st = compact_pruned(spark, path, "k")
    assert st["pruned"] and st["files_rewritten"] == 2
    assert _rows(df) == expect
    assert _rows(read_merged(spark, path, "k")) == expect


def test_recreated_table_never_reuses_a_decision(spark, tmp_path):
    """Same path, same base data (same spans), different delta keys:
    the re-created table's scan and fold equal its own merged view."""
    path = str(tmp_path / "t")
    _mk(spark, path)
    _delta(spark, path, [5])
    scan_keyed_table(spark, path, where={"k": (0, 400)}).collect()
    compact_pruned(spark, path, "k")
    shutil.rmtree(path)
    _mk(spark, path)
    _delta(spark, path, [350], val=-9)
    merged = read_merged(spark, path, "k")
    expect_scan = _rows(merged.filter(F.col("k").between(300, 399)))
    assert _rows(scan_keyed_table(spark, path,
                                  where={"k": (300, 399)})) == expect_scan
    expect = _rows(merged)
    df, st = compact_pruned(spark, path, "k")
    assert st["files_rewritten"] == 1
    assert _rows(df) == expect
    assert (350, 7, -9) in expect and (5, 7, -1) not in expect
