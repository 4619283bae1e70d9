"""REAL concurrent-writer races (threads, one SparkSession — Spark's
job submission is thread-safe): the commit protocol's fences were
proven single-threaded by simulation; these tests race actual
writers and pin the documented contract — every loser gets a clean
ConcurrentWriteError, a re-read + retry converges, no committed data
is lost, and the table ends structurally sound (one newest pointer,
monotonic versions, every thread's rows present)."""

import threading

import pytest
from pyspark.sql import functions as F

from howto_mongo_bulk_update_from_parquet_spark.sinks.keyed_table import (
    ConcurrentWriteError, append_delta, compact, current_base_version,
    read_keyed_table, read_merged, upsert_into_keyed_table)


def _upsert_with_retry(spark, df, path, retries=30):
    for _ in range(retries):
        try:
            upsert_into_keyed_table(spark, df, path=path, key="k",
                                    updated_at_col=None)
            return
        except ConcurrentWriteError:
            continue                     # re-read happens inside upsert
    raise AssertionError("retry budget exhausted")


def test_racing_upsert_rounds_all_land(spark, tmp_path):
    """3 threads x 2 rounds over disjoint key ranges: every round's
    rows must be present at the end — a lost round means a writer
    clobbered another instead of losing cleanly."""
    path = str(tmp_path / "race")
    upsert_into_keyed_table(
        spark, spark.range(30).select(F.col("id").alias("k"),
                                      F.lit(0).alias("round")),
        path=path, key="k", updated_at_col=None)
    errors = []

    def writer(tid):
        try:
            for rnd in (1, 2):
                df = spark.range(tid * 10, tid * 10 + 10).select(
                    F.col("id").alias("k"), F.lit(rnd).alias("round"))
                _upsert_with_retry(spark, df, path)
        except Exception as exc:         # noqa: BLE001
            errors.append((tid, exc))

    threads = [threading.Thread(target=writer, args=(t,))
               for t in range(3)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not errors, errors
    rows = read_keyed_table(spark, path).collect()
    # exactly one row per key — the r13 lost-update bug produced a
    # MIXED base directory (two writers' merges in one slot), whose
    # duplicate rows a dict comprehension would silently mask
    assert len(rows) == 30, sorted((r["k"], r["round"]) for r in rows)
    got = {r["k"]: r["round"] for r in rows}
    # every key's final value is its thread's LAST round
    assert got == {k: 2 for k in range(30)}
    assert current_base_version(spark, path) >= 7   # 1 seed + 6 rounds


def test_append_races_compact(spark, tmp_path):
    """A live appender racing a compactor: the fold absorbs only the
    complete run, every appended delta survives (folded or pending),
    and the merged view ends complete."""
    path = str(tmp_path / "race_ac")
    upsert_into_keyed_table(
        spark, spark.range(50).select(F.col("id").alias("k"),
                                      F.lit(-1).alias("v")),
        path=path, key="k", updated_at_col=None)
    errors = []

    def appender():
        try:
            for i in range(6):
                append_delta(spark, spark.createDataFrame(
                    [(1000 + i, i)], "k long, v long"),
                    path=path, key="k")
        except Exception as exc:         # noqa: BLE001
            errors.append(("append", exc))

    def compactor():
        try:
            for _ in range(3):
                try:
                    compact(spark, path, "k")
                except ConcurrentWriteError:
                    pass                 # lost a commit race — retry next
        except Exception as exc:         # noqa: BLE001
            errors.append(("compact", exc))

    ts = [threading.Thread(target=appender),
          threading.Thread(target=compactor)]
    for t in ts:
        t.start()
    for t in ts:
        t.join(timeout=300)
    assert not errors, errors
    got = {r["k"]: r["v"] for r in read_merged(spark, path, "k").collect()}
    for i in range(6):
        assert got[1000 + i] == i        # no appended round was lost
    assert len(got) == 56


def test_racing_appenders_take_distinct_numbers(spark, tmp_path):
    """More appenders than cores, each picking its delta number from a
    listing right before its rename: every append lands under its own
    number (a lost rename re-lists) and no appended row is lost."""
    import sys

    path = str(tmp_path / "race_aa")
    upsert_into_keyed_table(
        spark, spark.createDataFrame([(0, 0)], "k long, v long"),
        path=path, key="k", updated_at_col=None)
    versions, errors = [], []

    def appender(tid):
        try:
            for i in range(2):
                k = 100 + 10 * tid + i
                versions.append(append_delta(spark, spark.createDataFrame(
                    [(k, k)], "k long, v long"), path=path, key="k"))
        except Exception as exc:         # noqa: BLE001
            errors.append((tid, exc))

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        ts = [threading.Thread(target=appender, args=(t,))
              for t in range(6)]
        for t in ts:
            t.start()
        for t in ts:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in ts)
    assert not errors, errors
    assert sorted(versions) == list(range(1, 13))
    got = {r["k"] for r in read_merged(spark, path, "k").collect()}
    assert got == {0} | {100 + 10 * t + i for t in range(6) for i in (0, 1)}
