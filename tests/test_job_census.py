"""Spark jobs per keyed-cycle call, counted between two
`dagScheduler().nextJobId()` marks (the census `perfbench/spans.py`
takes): a differential COUNT/SUM view round is one write plan, a pruned
fold re-reads nothing it wrote (no `parquet at` footer-inference job),
and a scan with a pending delta runs no de-duplication job for its
delta key set. The base rewriters the benchmark does not run (range
upsert, `compact`, delete, `restore_table`, the pruned fold of a cold
touched-file decision) are pinned too, with and without a bloom index.
The counts are ceilings: a change that adds a job to one of these calls
fails here."""

from pyspark.sql import Row

from howto_mongo_bulk_update_from_parquet_spark.sinks.keyed_table import (
    append_delta, compact, compact_pruned, current_base_version,
    delete_from_keyed_table, restore_table, scan_keyed_table,
    upsert_into_keyed_table)
from howto_mongo_bulk_update_from_parquet_spark.sinks.views import \
    maintain_grouped_view


def _census(spark, fn) -> list[list[str]]:
    """Run `fn`; return the stage names of each job it submitted."""
    sc = spark.sparkContext
    first = sc._jsc.sc().dagScheduler().nextJobId()
    fn()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    end = sc._jsc.sc().dagScheduler().nextJobId()
    st = sc.statusTracker()
    jobs = []
    for j in range(first, end):
        info = st.getJobInfo(j)
        stages = info.stageIds if info is not None else []
        jobs.append([st.getStageInfo(s).name for s in stages
                     if st.getStageInfo(s) is not None])
    return jobs


def test_keyed_cycle_job_counts(spark, tmp_path):
    path, view = str(tmp_path / "t"), str(tmp_path / "v")

    def rows(ks, off):
        return spark.createDataFrame(
            [Row(k=k, g=k % 4, val=float(k) + off, score=float(k))
             for k in ks])

    upsert_into_keyed_table(spark, rows(range(40), 0.0), path=path, key="k",
                            updated_at_col=None, range_files=4,
                            stats_cols=["score"])
    maintain_grouped_view(spark, table_path=path, key="k", view_path=view,
                          group_col="g", sum_col="val")
    append_delta(spark, rows([1, 2, 45, 30], 1.0), path=path, key="k")
    view_jobs = _census(spark, lambda: maintain_grouped_view(
        spark, table_path=path, key="k", view_path=view, group_col="g",
        sum_col="val"))
    scan_jobs = _census(spark, lambda: scan_keyed_table(
        spark, path, where={"score": (0.0, 5.0)}).write.format("noop")
        .mode("overwrite").save())
    fold_jobs = _census(spark, lambda: compact_pruned(spark, path, "k"))
    # the touched-file decision, then one plan: feed window, pre-image,
    # contribution aggregate and view write
    assert len(view_jobs) <= 5, view_jobs
    assert len(scan_jobs) <= 3, scan_jobs
    assert len(fold_jobs) <= 6, fold_jobs
    assert not [j for j in fold_jobs
                if any(n.startswith("parquet at") for n in j)], fold_jobs


def _rewriter_census(spark, path, bloom_cols=None) -> dict[str, int]:
    """Jobs of each base rewriter on a 40-row range table."""
    def rows(ks):
        return spark.createDataFrame(
            [Row(k=k, score=float(k), h=f"h{k * 7 % 40}") for k in ks])

    layout = dict(range_files=4, stats_cols=["score"],
                  bloom_cols=bloom_cols)
    upsert_into_keyed_table(spark, rows(range(40)), path=path, key="k",
                            updated_at_col=None, **layout)

    def n_jobs(fn):
        return len(_census(spark, fn))

    jobs = {"upsert": n_jobs(lambda: upsert_into_keyed_table(
        spark, rows([1, 2, 45]), path=path, key="k", updated_at_col=None,
        **layout))}
    if bloom_cols is None:
        append_delta(spark, rows([7]), path=path, key="k")
        jobs["compact"] = n_jobs(lambda: compact(spark, path, "k"))
        jobs["delete"] = n_jobs(lambda: delete_from_keyed_table(
            spark, rows([3]), path=path, key="k"))
    append_delta(spark, rows([4, 50]), path=path, key="k")
    jobs["compact_pruned"] = n_jobs(lambda: compact_pruned(spark, path, "k"))
    previous = current_base_version(spark, path) - 1
    jobs["restore_table"] = n_jobs(lambda: restore_table(
        spark, path, "k", previous))
    return jobs


def test_base_rewriter_job_counts(spark, tmp_path):
    plain = _rewriter_census(spark, str(tmp_path / "plain"))
    bloomed = _rewriter_census(spark, str(tmp_path / "bloom"),
                               bloom_cols=["h"])
    # the data write, then the zone-map collection over the written
    # files; a bloom index adds its collection and its write. Restore
    # writes no data: it carries every file with its sidecars verbatim.
    assert plain["upsert"] <= 7, plain
    assert plain["compact"] <= 8, plain
    assert plain["delete"] <= 8, plain
    assert plain["compact_pruned"] <= 6, plain
    assert plain["restore_table"] == 0, plain
    assert bloomed["upsert"] <= 10, bloomed
    assert bloomed["compact_pruned"] <= 10, bloomed
    assert bloomed["restore_table"] <= 1, bloomed
