"""Plan-shape regressions: the optimizations PLANS.md documents must
actually appear in the executed plan text — pushdown reaching the scan,
pruned read schemas, broadcast dims — so a refactor can't silently
trade them away."""

SF = "/root/testdata/sf0.001"


def _plan(spark, name):
    from howto_mongo_bulk_update_from_parquet_spark.plans import all_queries
    df = all_queries()[name](spark, SF)
    return spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


def test_q1_pushes_filter_and_prunes_columns(spark):
    plan = _plan(spark, "q1_pricing_summary")
    assert "LessThanOrEqual(l_shipdate" in plan          # predicate at the scan
    assert "l_orderkey" not in plan.split("ReadSchema")[1].splitlines()[0]


def test_q19_disjunctive_predicates_push_to_both_scans(spark):
    plan = _plan(spark, "q_tpch_q19_disjunctive")
    # Catalyst factors the OR-of-ANDs into per-side implied predicates
    assert "GreaterThanOrEqual(l_quantity,40.0)" in plan  # lineitem side
    assert "EqualTo(p_brand,Brand#1)" in plan             # part side
    assert "BroadcastHashJoin" in plan


def test_q14_broadcasts_dim_and_prunes_part(spark):
    plan = _plan(spark, "q_tpch_q14_promo")
    assert "BroadcastHashJoin" in plan
    # part contributes only the join key and p_type
    part_schema = [ln for ln in plan.splitlines()
                   if "ReadSchema" in ln and "p_partkey" in ln]
    assert part_schema and "p_retailprice" not in part_schema[0]


def test_multiway_join_broadcasts_all_dims(spark):
    plan = _plan(spark, "q_join_multiway")
    assert plan.count("BroadcastHashJoin") >= 4
    assert "SortMergeJoin" not in plan                    # fact never shuffled


def test_rhp_buckets_is_single_projection_no_shuffle(spark):
    plan = _plan(spark, "q_rhp_lsh_buckets")
    assert "Exchange" not in plan                         # zero-shuffle pass
    assert "BatchEvalPython" not in plan                  # no row-at-a-time UDF
    assert "ArrowEvalPython" in plan                      # vectorized matmul path


def test_doc_packing_single_shuffle_per_lang(spark):
    """The packing cumsum runs one window per lang partition: exactly
    one exchange feeds the window sort, then the (lang, seq_id) agg
    reuses that partitioning via partial aggregation — no second
    full shuffle of the doc rows, and no Python in the plan."""
    plan = _plan(spark, "q_doc_packing")
    assert plan.count("Exchange") <= 2      # window shuffle + final agg
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan         # pure JVM expressions


def test_lsh_pipelines_never_cross_join(spark):
    for name in ["q_minhash_lsh_pairs", "q_lsh_verified_pairs",
                 "q_rhp_lsh_pairs", "q_vector_lsh_verified"]:
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_no_hard_broadcast_on_sf_scaling_tables(spark):
    """orders/customer/supplier/part grow with SF: with the auto-
    broadcast threshold disabled, their joins must degrade to shuffle
    joins — proof there is no hard F.broadcast() hint that would OOM a
    100× scale-up. (nation/region keep hints; queries here don't use
    them or tolerate their BroadcastExchange.)"""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for name in ["q_fk_orphans", "q_join_range", "q_tpch_q14_promo",
                     "q_tpch_q19_disjunctive", "q_ngram_jaccard"]:
            plan = _plan(spark, name)
            assert "BroadcastExchange" not in plan, name
        # multiway keeps exactly the nation+region hints, nothing else
        # (formatted explain prints each node twice: tree + details —
        # count tree occurrences only)
        plan = _plan(spark, "q_join_multiway")
        assert plan.count("- BroadcastExchange") == 2
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_profile_queries_have_no_expand(spark):
    """Multiple exact countDistincts in one agg trigger an Expand
    (k× row multiply). The exact profile runs one distinct per agg
    node; the approx profile uses HLL sketches — neither may Expand."""
    for name in ["q_profile_columns", "q_profile_approx"]:
        plan = _plan(spark, name)
        assert "Expand" not in plan, name


def test_profile_approx_within_5pct_of_exact(spark):
    from howto_mongo_bulk_update_from_parquet_spark.plans import all_queries
    exact = {r["col"]: r["n_distinct"]
             for r in all_queries()["q_profile_columns"](spark, SF).collect()}
    approx = {r["col"]: r["n_distinct_approx"]
              for r in all_queries()["q_profile_approx"](spark, SF).collect()}
    assert set(exact) == set(approx)
    for col, n in exact.items():
        assert abs(approx[col] - n) <= max(1, 0.05 * n), (col, n, approx[col])


def test_q6_predicates_all_pushed_and_schema_pruned(spark):
    """TPC-H Q6 is the pure-pushdown scan: every predicate must reach
    the parquet reader and only the 4 referenced columns are read."""
    from howto_mongo_bulk_update_from_parquet_spark.plans import all_queries
    df = all_queries()["q_tpch_q6_forecast"](spark, SF)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    plan = df._jdf.queryExecution().explainString(mode)
    for frag in ["GreaterThanOrEqual(l_shipdate", "LessThan(l_shipdate",
                 "GreaterThanOrEqual(l_discount,0.04)",
                 "LessThanOrEqual(l_discount,0.06)",
                 "LessThan(l_quantity,24.0)"]:
        assert frag in plan, f"predicate not pushed: {frag}"
    import re
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert cols == {"l_quantity", "l_extendedprice", "l_discount", "l_shipdate"}


def test_weighted_sample_is_topk_not_global_window(spark):
    """The E-S weighted sample must select via TakeOrderedAndProject
    (per-partition top-k + driver merge) and must contain NO window
    at all — the r5 form ranked the whole corpus through one
    unpartitioned WindowExec partition."""
    plan = _plan(spark, "q_weighted_sample")
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan
    assert "- Exchange" not in plan      # broadcast-free, shuffle-free


def test_q15_scalar_max_has_no_window(spark):
    """TPC-H Q15's scalar MAX must be an agg + broadcast join (the
    q17 scalar-subquery shape), not an unpartitioned window over the
    per-supplier revenue view."""
    plan = _plan(spark, "q_tpch_q15_top_supplier")
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan


def test_pq_adc_search_plan_is_shuffle_free(spark):
    """PQ-ADC: encode + LUT scan are two chained mapInPandas passes
    with the codebook/LUTs riding the task closure — no KEYED
    Exchange anywhere between the parquet scan and the ADC output. A
    narrow (single-task) scan gains at most ONE round-robin
    repartition below the encode pass (r17 `widen_for_kernel`, guide
    §2.5); both Python passes then share its width with no further
    exchange between them."""
    from howto_mongo_bulk_update_from_parquet_spark.operators.vector_kernels import pq_adc_search
    from howto_mongo_bulk_update_from_parquet_spark.plans.kmeans import seed_centroids
    from howto_mongo_bulk_update_from_parquet_spark.sources.parquet import load_table
    e = load_table(spark, SF, "embeddings")
    cb = seed_centroids(e, 16)
    out = pq_adc_search(e, cb, 4, queries=[cb[0], cb[1]])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning" not in plan
    assert "rangepartitioning" not in plan
    assert plan.count("Exchange") <= 1          # the widening only
    assert plan.count("MapInPandas") == 2      # encode pass + ADC pass


def test_winsorize_bounds_windows_only_brackets(spark):
    """The scale-safe winsorization may sort only the bracket rows:
    every WindowExec input must sit above a bracket Filter, never the
    raw scan — textually, each Window in the formatted plan is fed by
    a Filter mentioning the bracket columns (lo_a/lo_b or hi_a/hi_b
    or the small-group flag)."""
    plan = _plan(spark, "q_winsorize_bounds")
    import re
    # formatted explain: "(N) Window" nodes reference their input ids;
    # simpler textual pin — the plan's Filters include the bracket
    # predicates, and there are exactly 2 Window nodes (lo + hi cut)
    assert plan.count("- Window") == 2
    assert "lo_a" in plan and "hi_a" in plan and "small" in plan


def test_dpp_join_prunes_partitions_at_runtime(spark):
    """The partitioned-fact join must carry a dynamicpruningexpression
    in the scan's PartitionFilters — runtime directory pruning, not a
    full read + row filter."""
    plan = _plan(spark, "q_dpp_partition_pruned_join")
    assert "dynamicpruning" in plan
    assert "BroadcastHashJoin" in plan


def test_runtime_bloom_filter_injects_on_selective_shuffle_join(spark):
    """Runtime row-level filtering, the shuffle-join sibling of DPP:
    with a selective build side, the optimizer must inject a
    bloom_filter_agg on the dim and a might_contain probe ABOVE the
    fact scan, so non-joining fact rows die before the shuffle. At
    fixture scale the application-side size threshold (default 10 GB —
    i.e. tuned for the real cluster) is lowered to let the rewrite
    fire; the optimizer path is identical."""
    from howto_mongo_bulk_update_from_parquet_spark.sources.parquet import load_table
    from pyspark.sql import functions as F
    confs = {"spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
             "spark.sql.autoBroadcastJoinThreshold": "-1"}
    prev = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        li = load_table(spark, SF, "lineitem")
        o = (load_table(spark, SF, "orders")
             .filter(F.col("o_orderpriority") == "1-URGENT"))
        j = (li.join(o, li.l_orderkey == o.o_orderkey)
             .groupBy("o_orderpriority").count())
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter_agg" in plan
        assert "might_contain" in plan
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_bucketed_join_has_no_exchange_on_join_inputs(spark):
    """Both sides bucketed on the join key: the sort-merge join must
    consume the scans' bucket partitioning directly — the only
    Exchange in the whole plan is the final tiny groupBy."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(spark, "q_bucketed_colocated_join")
        assert "SortMergeJoin" in plan
        assert plan.count("- Exchange") == 1       # final agg only
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_catalog_wide_no_global_windows_cartesians_or_row_udfs(
        catalog_frames):
    """Sweep EVERY batch catalog query's plan for the three
    anti-patterns the per-query pins can't cover exhaustively:
    - unpartitioned windows (all rows → one WindowExec partition);
      detected from windowspecdefinition's first argument — a frame
      spec or an ASC/DESC ordering means no partition expressions
      (partitioned windows lead with a plain attribute)
    - CartesianProduct
    - row-at-a-time Python evaluation (BatchEvalPython[UDTF]; the
      Arrow forms ArrowEvalPython[UDTF] / MapInPandas are fine)
    Streaming queries are skipped: constructing them runs the stream
    (cost), and their returned plan is a memory-table scan."""
    import re
    unpart = re.compile(
        r"windowspecdefinition\((specifiedwindowframe|\S+ (ASC|DESC) NULLS)")
    findings = {}
    for name, df in sorted(catalog_frames.items()):
        if name.startswith("q_stream_"):
            continue
        opt = df._jdf.queryExecution().optimizedPlan().toString()
        phys = df._jdf.queryExecution().executedPlan().toString()
        probs = []
        if unpart.search(opt):
            probs.append("unpartitioned window")
        if "CartesianProduct" in phys:
            probs.append("cartesian product")
        if "BatchEvalPython" in phys:          # also matches the UDTF node
            probs.append("row-at-a-time python")
        if probs:
            findings[name] = probs
    assert findings == {}, findings


def test_assign_kernel_plan_is_shuffle_free(spark):
    """The Arrow assignment kernel introduces no KEYED Exchange —
    centroids ride the task closure, the pass is map-only. A narrow
    (single-task) scan gains at most ONE round-robin repartition
    below the kernel (r17 `widen_for_kernel`: the unsplittable-input
    fix of guide §2.5); hash/range partitioning would mean a join or
    aggregation snuck in and must still fail here."""
    from howto_mongo_bulk_update_from_parquet_spark.operators.vector_kernels import assign_exact
    from howto_mongo_bulk_update_from_parquet_spark.plans.kmeans import seed_centroids
    from howto_mongo_bulk_update_from_parquet_spark.sources.parquet import load_table
    e = load_table(spark, SF, "embeddings")
    out = assign_exact(e, seed_centroids(e))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning" not in plan
    assert "rangepartitioning" not in plan
    assert plan.count("Exchange") <= 1          # the widening only
    assert "MapInPandas" in plan


def test_widen_for_kernel_is_a_noop_on_wide_inputs(spark):
    """The kernel-input widening is scale-adaptive: an input that
    already carries the session's parallelism must NOT gain an
    exchange (a production multi-file scan arrives wide)."""
    from howto_mongo_bulk_update_from_parquet_spark.operators.vector_kernels import widen_for_kernel
    width = spark.sparkContext.defaultParallelism
    wide = spark.range(0, 1000, 1, width)
    assert widen_for_kernel(wide) is wide
    narrow = spark.range(0, 1000, 1, 1)
    out = widen_for_kernel(narrow)
    assert out is not narrow
    assert out.rdd.getNumPartitions() == width


def test_band_join_is_equi_join_not_nested_loop(spark):
    """The eps-band join must plan as a hash equi-join on the bin key
    (plus the exact residual filter) — never a nested-loop/cartesian
    theta join, which is what Spark gives the naive BETWEEN form."""
    plan = _plan(spark, "q_band_join_binned")
    assert "NestedLoop" not in plan
    assert "CartesianProduct" not in plan
    assert "hashpartitioning(bin" in plan or "BroadcastHashJoin" in plan


def test_skyline_never_sorts_globally(spark):
    """Pareto skyline = per-batch prune + bounded merge: stage 1 is
    MapInPandas ON the scan (no exchange — the groupBy(partition_id)
    formulation would shuffle the whole table to regroup rows where
    they already sit), the only exchange carries the pruned frontier,
    and there is no range partitioning (global sort) or window."""
    plan = _plan(spark, "q_skyline_pareto")
    assert "rangepartitioning" not in plan
    assert "Window" not in plan
    assert "MapInPandas" in plan
    assert "hashpartitioning(__pid" not in plan


# The hazard detector and the documented-inherent allowlist live in the
# PACKAGE (operators/plan_audit.py, also behind the `plan-audit` CLI
# subcommand) — the tests import them so CI and the user tool can't
# drift apart.
from howto_mongo_bulk_update_from_parquet_spark.operators.plan_audit import (  # noqa: E402
    DEFAULT_TINY_KEYS as _TINY_KEYS,
    DOCUMENTED_TINY_WINDOWS as _DOCUMENTED_TINY_WINDOWS,
    tiny_key_window_hazards as _tiny_key_window_hazards,
)


def test_catalog_wide_no_undocumented_tiny_key_windows(catalog_frames):
    """Sweep every batch query for full-table windows partitioned by
    pinned-tiny-cardinality keys (the q_mad_outliers /
    q_weighted_median hazard class fixed in r7): the findings must
    exactly equal the documented-inherent allowlist."""
    findings = {}
    for name, df in sorted(catalog_frames.items()):
        if name.startswith("q_stream_"):
            continue
        h = _tiny_key_window_hazards(df, _TINY_KEYS)
        if h:
            findings[name] = h
    assert findings == _DOCUMENTED_TINY_WINDOWS, findings


def test_mad_outliers_has_no_holistic_percentile(spark):
    """q_mad_outliers must compute its medians via the bracket-refine
    operator — never the holistic `percentile` ObjectHashAggregate,
    which buffers each returnflag group's full value set in one task.
    (The bracket stats subtree is behind a localCheckpoint, so the
    final plan text can't show percentile_approx — the operative pins
    are `percentile(` absent and every window partition bounded.)"""
    from howto_mongo_bulk_update_from_parquet_spark.plans import all_queries
    plan = _plan(spark, "q_mad_outliers")
    assert "percentile(" not in plan          # approx form is percentile_approx(
    assert "ObjectHashAggregate" not in plan  # no holistic agg state
    df = all_queries()["q_mad_outliers"](spark, SF)
    assert _tiny_key_window_hazards(df, _TINY_KEYS) == []


def test_weighted_median_windows_are_bounded(spark):
    """q_weighted_median's windows run over per-bucket aggregates
    (≤ n_buckets rows/group) or one refined bucket — never a running
    sum over the whole table partitioned by the 3-value returnflag."""
    from howto_mongo_bulk_update_from_parquet_spark.plans import all_queries
    df = all_queries()["q_weighted_median"](spark, SF)
    assert _tiny_key_window_hazards(df, _TINY_KEYS) == []
    plan = _plan(spark, "q_weighted_median")
    assert "ObjectHashAggregate" not in plan


def test_python_datasource_readers_yield_arrow_batches(spark, tmp_path):
    """The catalog-wide row-Python sweep inspects physical plans, but a
    Python DataSource's parse loop lives BELOW its BatchScan node where
    no plan string shows it (the r7 verdict's blind spot: the
    fixed-width reader was a per-line Python loop the sweep could not
    see). Two guards:
    - statically, every batch DataSourceReader in the sources package
      must implement an Arrow-batch `read` (yield pyarrow.RecordBatch),
      so a future reader can't reintroduce per-row tuples unnoticed;
    - dynamically, FixedWidthReader.read must actually yield
      RecordBatches with the declared schema and pushed-filter masks
      applied.
    """
    import pyarrow as pa

    from howto_mongo_bulk_update_from_parquet_spark.operators.plan_audit import (
        non_arrow_datasource_readers)

    # the detector is shared with the plan-audit CLI so they can't
    # drift (same promise as the other hazard classes)
    non_arrow = non_arrow_datasource_readers()
    assert non_arrow == [], (
        f"batch Python DataSource readers without an Arrow-batch read "
        f"path (per-row tuples are the banned slow path): {non_arrow}")

    # dynamic: run the fixed-width reader's read() directly
    from pyspark.sql.datasource import GreaterThan
    from pyspark.sql.types import StructType

    from howto_mongo_bulk_update_from_parquet_spark.sources.fixedwidth import (
        FixedWidthReader, _FilePartition)

    d = tmp_path / "fw"
    d.mkdir()
    (d / "part-0.txt").write_text("a   1   1.5 \nbb  22  2.5 \nc   3   3.5 \n")
    schema = StructType.fromDDL("s string, k long, v double")

    class Opts(dict):
        pass

    rdr = FixedWidthReader(schema, Opts(path=str(d), widths="4,4,4"))
    list(rdr.pushFilters([GreaterThan(("k",), 1)]))
    batches = list(rdr.read(_FilePartition(str(d / "part-0.txt"))))
    assert batches and all(isinstance(b, pa.RecordBatch) for b in batches)
    got = pa.Table.from_batches(batches).to_pydict()
    assert got == {"s": ["bb", "c"], "k": [22, 3], "v": [2.5, 3.5]}


def test_arrow_path_detector_ignores_docstrings():
    """A reader whose read() only MENTIONS RecordBatch in its
    docstring must still be flagged — the substring version of this
    detector would have let the exact r7 per-row regression ship with
    its new docstring intact."""
    import ast
    import inspect
    import textwrap

    from howto_mongo_bulk_update_from_parquet_spark.operators.plan_audit import (
        non_arrow_datasource_readers)

    # the real catalog readers are clean
    assert non_arrow_datasource_readers() == []

    # simulate the regression: docstring mentions, body is per-row
    src = textwrap.dedent('''
        def read(self, partition):
            """Yields pyarrow.RecordBatch per file (it does not)."""
            for line in open(partition.filepath):
                yield tuple(line.split())
    ''')
    tree = ast.parse(src)
    mentions = any((isinstance(n, ast.Attribute) and n.attr == "RecordBatch")
                   or (isinstance(n, ast.Name) and n.id == "RecordBatch")
                   for n in ast.walk(tree))
    assert not mentions  # the AST walk sees no RecordBatch in CODE
    # and the current real reader is detected through actual code
    from howto_mongo_bulk_update_from_parquet_spark.sources.fixedwidth import (
        FixedWidthReader)
    real = ast.parse(textwrap.dedent(inspect.getsource(FixedWidthReader.read)))
    assert any((isinstance(n, ast.Attribute) and n.attr == "RecordBatch")
               or (isinstance(n, ast.Name) and n.id == "RecordBatch")
               for n in ast.walk(real))


def test_tpch_battery4_plan_shapes(spark):
    """Battery IV scale postures: dims broadcast, fact scanned once,
    no cartesian anywhere; Q21's exists/not-exists collapse must keep
    a single lineitem scan (the plan-level proof of the one-fact-scan
    claim in its docstring)."""
    from howto_mongo_bulk_update_from_parquet_spark.plans import all_queries
    qs = all_queries()
    for name in ["q_tpch_q2_min_cost_supplier", "q_tpch_q9_profit",
                 "q_tpch_q11_value_concentration",
                 "q_tpch_q12_latency_priority",
                 "q_tpch_q16_supplier_counts", "q_tpch_q20_excess_stock",
                 "q_tpch_q21_waiting_supplier"]:
        df = qs[name](spark, SF)
        phys = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in phys, name
        assert "BatchEvalPython" not in phys, name
    # Q9: all three dims (part, supplier, nation) broadcast
    plan = _plan(spark, "q_tpch_q9_profit")
    assert plan.count("BroadcastHashJoin") >= 3
    # Q21: one scan of lineitem feeds pair + per_order (checkpoint
    # cut), so the fact file appears in at most one scan node
    df21 = qs["q_tpch_q21_waiting_supplier"](spark, SF)
    phys21 = df21._jdf.queryExecution().executedPlan().toString()
    assert phys21.count("lineitem.parquet") <= 1
    # Q16: the denylist is a broadcast anti join, not a per-row subquery
    plan16 = _plan(spark, "q_tpch_q16_supplier_counts")
    assert "BroadcastHashJoin" in plan16 and "LeftAnti" in plan16
