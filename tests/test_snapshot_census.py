"""One resolution of table state per keyed statement
(`sinks/keyed_table.py::snapshot`): a census of the manifest reads
(`_CURRENT.vNNNNN` files read through `sinks.fs.read_text`) each reader,
writer and view round makes. A statement reads the manifest of each
table it touches once; a view round touches two tables, the source
and the view. The census also counts `_SUCCESS` probes under `delta_*`
directories (`sinks.fs.exists`): a delta directory is committed once
it exists, so no statement probes one, however many deltas are
pending."""

import re

from pyspark.sql import Row

from howto_mongo_bulk_update_from_parquet_spark.sinks import fs as hfs
from howto_mongo_bulk_update_from_parquet_spark.sinks.keyed_table import (
    append_delta, lookup_keyed_table, read_merged, scan_keyed_table,
    upsert_into_keyed_table)
from howto_mongo_bulk_update_from_parquet_spark.sinks.views import \
    maintain_grouped_view


def test_each_statement_reads_each_manifest_once(spark, tmp_path,
                                                 monkeypatch):
    path, view = str(tmp_path / "t"), str(tmp_path / "v")

    def rows(ks, off):
        return spark.createDataFrame(
            [Row(k=k, g=k % 2, val=float(k) + off) for k in ks])

    upsert_into_keyed_table(spark, rows(range(8), 0.0), path=path, key="k",
                            updated_at_col=None, range_files=2)
    maintain_grouped_view(spark, table_path=path, key="k", view_path=view,
                          group_col="g", sum_col="val")
    reads, probes = [], []
    real_read, real_exists = hfs.read_text, hfs.exists

    def counted_read(s, p):
        if "/_CURRENT.v" in p:
            reads.append(p)
        return real_read(s, p)

    def counted_exists(s, p):
        if re.search(r"/delta_\d{5}/_SUCCESS$", p):
            probes.append(p)
        return real_exists(s, p)

    monkeypatch.setattr(hfs, "read_text", counted_read)
    monkeypatch.setattr(hfs, "exists", counted_exists)

    def census(fn):
        """(manifest reads, delta `_SUCCESS` probes) of one statement."""
        reads.clear()
        probes.clear()
        fn()
        return len(reads), len(probes)

    # the first append leaves delta 1 pending for every statement below
    assert census(lambda: append_delta(spark, rows([1, 9], 1.0), path=path,
                                       key="k")) == (1, 0)
    assert census(lambda: read_merged(spark, path, "k")) == (1, 0)
    assert census(lambda: lookup_keyed_table(spark, path, "k",
                                             values=[1])) == (1, 0)
    assert census(lambda: scan_keyed_table(spark, path,
                                           where={"k": (0, 3)})) == (1, 0)
    assert census(lambda: maintain_grouped_view(
        spark, table_path=path, key="k", view_path=view, group_col="g",
        sum_col="val")) == (2, 0)
    # the upsert folds the pending delta into its rewrite
    assert census(lambda: upsert_into_keyed_table(
        spark, rows([2], 2.0), path=path, key="k",
        updated_at_col=None)) == (1, 0)
