"""Adaptive file sizing for the range layout (`target_file_bytes`).

A pinned `range_files` count means a growing table grows its FILES
without bound — at 100 TB every file's [min,max] span fattens until
the zone map prunes nothing. Under a byte target each write re-plans
the count from the table's observed on-disk bytes (Iceberg/Delta
target-file-size posture), so file size — and prune selectivity —
stays flat while the COUNT grows. Covers: first-write seeding, count
growth across folds (with the documented one-commit lag), the pruned
fold splitting a delta-ballooned rewrite group, inheritance/drop
semantics, the buckets contradiction, correctness of the resized
table, and the CLI flag gates.
"""

import pytest
from pyspark.sql import functions as F

from howto_mongo_bulk_update_from_parquet_spark.sinks import fs as hfs
from howto_mongo_bulk_update_from_parquet_spark.sinks.keyed_table import (
    append_delta, base_file_map, compact,
    compact_pruned, current_base_version, read_merged, table_meta,
    upsert_into_keyed_table)

TARGET = 8 * 1024                        # tiny target so tiny SFs split


def _rows(spark, lo, hi, seed=7):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), F.rand(seed).alias("v"))


def _n_files(spark, path):
    return len(base_file_map(spark, path,
                             current_base_version(spark, path)))


def test_first_write_seeds_then_growth_splits(spark, tmp_path):
    path = str(tmp_path / "t")
    upsert_into_keyed_table(spark, _rows(spark, 0, 2000), path=path,
                            key="k", updated_at_col=None,
                            range_files=2, target_file_bytes=TARGET)
    # nothing observed before the first write: the explicit count seeds
    assert _n_files(spark, path) == 2
    meta = table_meta(spark, path)
    assert meta["target_file_bytes"] == str(TARGET)
    # 10x the data: the next write plans from what is NOW on disk
    # (one-commit lag — it sees v1's bytes, not the incoming source)
    upsert_into_keyed_table(spark, _rows(spark, 2000, 22000, seed=9),
                            path=path, key="k", updated_at_col=None)
    mid = _n_files(spark, path)
    assert mid > 2
    # and the fold after that observes the grown base and corrects
    upsert_into_keyed_table(spark, _rows(spark, 0, 1), path=path,
                            key="k", updated_at_col=None)
    grown = _n_files(spark, path)
    assert grown > mid
    # file sizes actually bounded near the target (parquet framing
    # overhead makes tiny files lumpy — assert the order of magnitude)
    v = current_base_version(spark, path)
    sizes = hfs.listdir_sizes(spark, hfs.join(path, f"base_v{v:05d}"))
    data = [s for n, s in sizes.items() if not n.startswith("_")]
    assert max(data) < 4 * TARGET
    # the data itself is intact after every re-plan
    assert read_merged(spark, path, "k").count() == 22000


def test_autosize_without_seed_uses_default(spark, tmp_path):
    path = str(tmp_path / "t")
    upsert_into_keyed_table(spark, _rows(spark, 0, 500), path=path,
                            key="k", updated_at_col=None,
                            target_file_bytes=TARGET)
    meta = table_meta(spark, path)
    assert meta["range_key"] == "k"      # target alone implies range
    assert _n_files(spark, path) == 16   # _AUTOSIZE_SEED


def test_pruned_fold_splits_ballooned_group(spark, tmp_path):
    path = str(tmp_path / "t")
    upsert_into_keyed_table(spark, _rows(spark, 0, 4000), path=path,
                            key="k", updated_at_col=None,
                            range_files=4, target_file_bytes=TARGET)
    # delta that lands entirely inside ONE file's key span but is big
    # enough that (touched file + delta) must split on the fold
    ups = _rows(spark, 0, 900, seed=3).select(
        "k", (F.col("v") * 2).alias("v"))
    append_delta(spark, ups, path=path, key="k")
    _, stats = compact_pruned(spark, path, "k")
    assert stats["pruned"] is True
    # the rewritten group grew beyond the touched count: byte-sized
    touched = stats["files_total"] - stats["files_carried"]
    assert stats["files_rewritten"] > touched
    assert read_merged(spark, path, "k").count() == 4000


def test_target_inherited_and_dropped(spark, tmp_path):
    path = str(tmp_path / "t")
    upsert_into_keyed_table(spark, _rows(spark, 0, 1000), path=path,
                            key="k", updated_at_col=None,
                            range_files=2, target_file_bytes=TARGET)
    upsert_into_keyed_table(spark, _rows(spark, 1000, 1200), path=path,
                            key="k", updated_at_col=None)
    assert table_meta(spark, path)["target_file_bytes"] == str(TARGET)
    # target=0 drops back to a pinned count (the recorded range_files)
    upsert_into_keyed_table(spark, _rows(spark, 1200, 1300), path=path,
                            key="k", updated_at_col=None,
                            range_files=3, target_file_bytes=0)
    meta = table_meta(spark, path)
    assert "target_file_bytes" not in meta
    assert meta["range_files"] == "3"
    assert _n_files(spark, path) == 3


def test_range_files_zero_drops_target_too(spark, tmp_path):
    path = str(tmp_path / "t")
    upsert_into_keyed_table(spark, _rows(spark, 0, 1000), path=path,
                            key="k", updated_at_col=None,
                            range_files=2, target_file_bytes=TARGET)
    upsert_into_keyed_table(spark, _rows(spark, 0, 10), path=path,
                            key="k", updated_at_col=None, range_files=0)
    meta = table_meta(spark, path)
    assert "target_file_bytes" not in meta
    assert "range_files" not in meta


def test_buckets_switch_kills_target(spark, tmp_path):
    path = str(tmp_path / "t")
    upsert_into_keyed_table(spark, _rows(spark, 0, 1000), path=path,
                            key="k", updated_at_col=None,
                            range_files=2, target_file_bytes=TARGET)
    upsert_into_keyed_table(spark, _rows(spark, 0, 10), path=path,
                            key="k", updated_at_col=None, buckets=4)
    meta = table_meta(spark, path)
    assert meta.get("buckets") == "4"
    assert "target_file_bytes" not in meta


def test_target_on_bucketed_table_switches_layout(spark, tmp_path):
    path = str(tmp_path / "t")
    upsert_into_keyed_table(spark, _rows(spark, 0, 1000), path=path,
                            key="k", updated_at_col=None, buckets=4)
    upsert_into_keyed_table(spark, _rows(spark, 0, 10), path=path,
                            key="k", updated_at_col=None,
                            target_file_bytes=TARGET)
    meta = table_meta(spark, path)
    assert "buckets" not in meta
    assert meta["range_key"] == "k"
    assert meta["target_file_bytes"] == str(TARGET)


def test_buckets_plus_target_contradiction(spark, tmp_path):
    path = str(tmp_path / "t")
    with pytest.raises(ValueError, match="target_file_bytes"):
        upsert_into_keyed_table(spark, _rows(spark, 0, 10), path=path,
                                key="k", updated_at_col=None,
                                buckets=4, target_file_bytes=TARGET)


def test_compact_respects_target(spark, tmp_path):
    path = str(tmp_path / "t")
    upsert_into_keyed_table(spark, _rows(spark, 0, 500), path=path,
                            key="k", updated_at_col=None,
                            range_files=1, target_file_bytes=TARGET)
    append_delta(spark, _rows(spark, 500, 8000, seed=5), path=path,
                 key="k")
    compact(spark, path, "k")
    # the fold observed base + delta bytes and split past the pin
    assert _n_files(spark, path) > 1
    assert read_merged(spark, path, "k").count() == 8000


def test_cli_contradiction_gates(tmp_path, capsys):
    from howto_mongo_bulk_update_from_parquet_spark.cli import main
    rc = main(["upsert", "--path", str(tmp_path), "--table",
               str(tmp_path / "t"), "--buckets", "4",
               "--target-file-mb", "64"])
    assert rc == 2
    assert "contradicts --buckets" in capsys.readouterr().err
    rc = main(["compact", "--table", str(tmp_path / "t"),
               "--pruned", "--target-file-mb", "64"])
    assert rc == 2
    assert "--pruned" in capsys.readouterr().err
