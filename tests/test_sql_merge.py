"""MERGE INTO-shaped SQL write path (`sinks/sql_merge.py`, r15
verdict item 6): pure SQL text performs keyed-table upserts with the
engine's null-skip semantics — partial-payload UPDATE SET subsets,
cross-alias assignment expressions, INSERT-only / UPDATE-only
branch filtering, and tombstone DELETE — through the same delta
append every Python writer uses."""

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from howto_mongo_bulk_update_from_parquet_spark.sinks.keyed_table import (
    read_merged, upsert_into_keyed_table)
from howto_mongo_bulk_update_from_parquet_spark.sinks.sql_merge import (
    MergeSyntaxError, parse_merge, sql_merge)


def _mk(spark, tmp_path):
    path = str(tmp_path / "t")
    upsert_into_keyed_table(
        spark,
        spark.createDataFrame([Row(k=i, qty=10 * i, tag=f"t{i}")
                               for i in range(1, 5)]),
        path=path, key="k", updated_at_col=None)
    return path


def _state(spark, path):
    return {r.k: (r.qty, r.tag)
            for r in read_merged(spark, path, "k").collect()}


def test_merge_update_star_insert_star(spark, tmp_path):
    path = _mk(spark, tmp_path)
    spark.createDataFrame(
        [Row(k=2, qty=99, tag=None),      # null-skip: tag survives
         Row(k=9, qty=900, tag="new")]
    ).createOrReplaceTempView("stage")
    out = sql_merge(spark, """
        MERGE INTO t USING stage AS s ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *""",
        tables={"t": (path, "k")})
    assert out["n_matched"] == 1 and out["n_inserted"] == 1
    st = _state(spark, path)
    assert st[2] == (99, "t2")            # qty updated, tag kept
    assert st[9] == (900, "new")
    assert st[1] == (10, "t1")


def test_merge_partial_set_and_cross_alias_expr(spark, tmp_path):
    path = _mk(spark, tmp_path)
    spark.createDataFrame([Row(k=3, qty=5, tag="XX"),
                           Row(k=77, qty=7, tag="nope")]
                          ).createOrReplaceTempView("stage")
    # accumulate qty from BOTH sides, touch nothing else, no insert
    out = sql_merge(spark, """
        MERGE INTO t AS tgt USING stage AS s ON tgt.k = s.k
        WHEN MATCHED THEN UPDATE SET qty = tgt.qty + s.qty""",
        tables={"t": (path, "k")})
    assert out["n_matched"] == 1 and out["n_inserted"] == 0
    st = _state(spark, path)
    assert st[3] == (35, "t3")            # 30 + 5; tag untouched
    assert 77 not in st                   # update-only: no insert


def test_merge_insert_only_and_subquery_source(spark, tmp_path):
    path = _mk(spark, tmp_path)
    spark.createDataFrame([Row(k=1, qty=1, tag="dup"),
                           Row(k=50, qty=500, tag="fresh")]
                          ).createOrReplaceTempView("stage")
    out = sql_merge(spark, """
        MERGE INTO t USING (SELECT k, qty, upper(tag) AS tag
                            FROM stage) s ON t.k = s.k
        WHEN NOT MATCHED THEN INSERT *""",
        tables={"t": (path, "k")})
    assert out["n_inserted"] == 1
    st = _state(spark, path)
    assert st[1] == (10, "t1")            # matched row untouched
    assert st[50] == (500, "FRESH")       # subquery expr applied


def test_merge_delete(spark, tmp_path):
    path = _mk(spark, tmp_path)
    spark.createDataFrame([Row(k=2), Row(k=4), Row(k=99)]
                          ).createOrReplaceTempView("victims")
    out = sql_merge(spark, """
        MERGE INTO t USING victims v ON t.k = v.k
        WHEN MATCHED THEN DELETE""",
        tables={"t": (path, "k")})
    assert out["n_deleted"] == 2
    assert set(_state(spark, path)) == {1, 3}


def test_merge_partial_update_plus_insert_star(spark, tmp_path):
    """The combined form: matched rows get a SUBSET update (others
    preserved by null-skip), unmatched rows land whole — ONE delta."""
    path = _mk(spark, tmp_path)
    spark.createDataFrame([Row(k=1, qty=111, tag="ignored"),
                           Row(k=8, qty=80, tag="t8")]
                          ).createOrReplaceTempView("stage")
    out = sql_merge(spark, """
        MERGE INTO t USING stage s ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET qty = s.qty
        WHEN NOT MATCHED THEN INSERT *""",
        tables={"t": (path, "k")})
    assert out["n_matched"] == 1 and out["n_inserted"] == 1
    st = _state(spark, path)
    assert st[1] == (111, "t1")           # tag NOT overwritten
    assert st[8] == (80, "t8")


def test_merge_syntax_errors_are_loud(spark, tmp_path):
    path = _mk(spark, tmp_path)
    spark.createDataFrame([Row(k=1, qty=1, tag="x")]
                          ).createOrReplaceTempView("stage")
    tables = {"t": (path, "k")}
    with pytest.raises(MergeSyntaxError, match="key equality"):
        sql_merge(spark, "MERGE INTO t USING stage s ON t.k = s.k "
                         "AND t.qty > 0 WHEN MATCHED THEN DELETE",
                  tables=tables)
    with pytest.raises(MergeSyntaxError, match="merge key"):
        sql_merge(spark, "MERGE INTO t USING stage s ON t.qty = s.qty "
                         "WHEN MATCHED THEN DELETE", tables=tables)
    with pytest.raises(MergeSyntaxError, match="not a registered"):
        sql_merge(spark, "MERGE INTO nope USING stage s ON nope.k = s.k "
                         "WHEN MATCHED THEN DELETE", tables=tables)
    with pytest.raises(MergeSyntaxError, match="unreachable"):
        sql_merge(spark, "MERGE INTO t USING stage s ON t.k = s.k "
                         "WHEN MATCHED THEN UPDATE SET * "
                         "WHEN MATCHED THEN DELETE", tables=tables)
    with pytest.raises(MergeSyntaxError, match="INSERT \\*"):
        sql_merge(spark, "MERGE INTO t USING stage s ON t.k = s.k "
                         "WHEN NOT MATCHED THEN INSERT (k) VALUES (s.k)",
                  tables=tables)
    with pytest.raises(MergeSyntaxError, match="unknown column"):
        sql_merge(spark, "MERGE INTO t USING stage s ON t.k = s.k "
                         "WHEN MATCHED THEN UPDATE SET zz = s.qty",
                  tables=tables)
    # a source column the target lacks must be LOUD, not silently
    # dropped — MERGE does not evolve schemas
    spark.createDataFrame([Row(k=1, qty=1, tag="x", novel=9)]
                          ).createOrReplaceTempView("stage_extra")
    with pytest.raises(MergeSyntaxError, match="does not evolve"):
        sql_merge(spark, "MERGE INTO t USING stage_extra s ON t.k = s.k "
                         "WHEN MATCHED THEN UPDATE SET * "
                         "WHEN NOT MATCHED THEN INSERT *", tables=tables)


def test_parse_merge_shapes():
    spec = parse_merge("""
        MERGE INTO tbl AS t
        USING (SELECT 1 AS k, greatest(2, 3) AS v) AS s
        ON t.k = s.k
        WHEN MATCHED AND s.v < 0 THEN DELETE
        WHEN MATCHED THEN UPDATE SET v = greatest(t.v, s.v), w = s.w
        WHEN NOT MATCHED THEN INSERT *;
    """)
    assert spec["target"] == "tbl" and spec["talias"] == "t"
    assert "greatest(2, 3)" in spec["source_sql"]
    assert spec["matched"] == [
        ("s.v < 0", ("delete", None)),
        (None, ("update", [("v", "greatest(t.v, s.v)"),
                           ("w", "s.w")]))]
    assert spec["insert"] == [None]
    spec2 = parse_merge(
        "MERGE INTO t USING s ON t.k = s.k "
        "WHEN NOT MATCHED AND s.v > 0 THEN INSERT * "
        "WHEN NOT MATCHED THEN INSERT *")
    assert spec2["insert"] == ["s.v > 0", None]
    with pytest.raises(MergeSyntaxError, match="unreachable"):
        parse_merge("MERGE INTO t USING s ON t.k = s.k "
                    "WHEN NOT MATCHED THEN INSERT * "
                    "WHEN NOT MATCHED AND s.v > 0 THEN INSERT *")


def test_merge_conditional_clauses_first_match_wins(spark, tmp_path):
    """WHEN MATCHED AND <cond>: conditional delete + conditional
    update + unconditional fallback evaluate first-match-wins; NULL
    conditions fire nothing (three-valued SQL)."""
    path = _mk(spark, tmp_path)          # k=1..4, qty=10k, tag=tk
    spark.createDataFrame(
        [(1, -5, "x"), (2, 100, "y"), (3, None, "z"), (4, 1, "w"),
         (9, 90, "new")],
        "k long, qty long, tag string").createOrReplaceTempView("stage")
    out = sql_merge(spark, """
        MERGE INTO t USING stage s ON t.k = s.k
        WHEN MATCHED AND s.qty < 0 THEN DELETE
        WHEN MATCHED AND s.qty > 50 THEN UPDATE SET qty = s.qty
        WHEN MATCHED THEN UPDATE SET tag = s.tag
        WHEN NOT MATCHED THEN INSERT *""",
        tables={"t": (path, "k")})
    assert out["n_deleted"] == 1         # k=1 (qty<0)
    assert out["n_matched"] == 3         # k=2 (>50), k=3+4 (fallback)
    assert out["n_inserted"] == 1        # k=9
    st = _state(spark, path)
    assert 1 not in st                   # deleted
    assert st[2] == (100, "t2")          # qty updated, tag kept
    assert st[3] == (30, "z")            # NULL cond -> fallback: tag
    assert st[4] == (40, "w")            # fallback: tag only
    assert st[9] == (90, "new")


def test_cli_sql_merge_verb(spark, tmp_path, capsys):
    """`sql --keyed NAME=PATH:KEY --text "MERGE INTO NAME ..."`: the
    registration flag that powers reads powers writes; usage errors
    exit 2."""
    import json

    from howto_mongo_bulk_update_from_parquet_spark.cli import main

    path = _mk(spark, tmp_path)
    stage = str(tmp_path / "stage")
    spark.createDataFrame([Row(k=2, qty=22, tag=None),
                           Row(k=6, qty=60, tag="t6")]
                          ).write.parquet(stage)
    rc = main(["sql", "--keyed", f"t={path}:k", "--view",
               f"stage={stage}", "--text",
               "MERGE INTO t USING stage s ON t.k = s.k "
               "WHEN MATCHED THEN UPDATE SET * "
               "WHEN NOT MATCHED THEN INSERT *"])
    assert rc == 0
    out = json.loads(capsys.readouterr().out)
    assert out["n_matched"] == 1 and out["n_inserted"] == 1
    st = _state(spark, path)
    assert st[2] == (22, "t2") and st[6] == (60, "t6")
    # an unregistered target is a usage error, not a traceback
    rc = main(["sql", "--view", f"stage={stage}", "--text",
               "MERGE INTO nope USING stage s ON nope.k = s.k "
               "WHEN MATCHED THEN DELETE"])
    assert rc == 2
    assert "merge error" in capsys.readouterr().err


def test_register_sql_catalog_and_cli_root(spark, tmp_path, capsys):
    """r15: one call registers every keyed table under a root (merge
    keys discovered from their manifests) and returns the exact
    `tables` mapping sql_merge takes — reads and writes through the
    same names; non-tables and key-less tables are skipped, not
    guessed."""
    import json

    from howto_mongo_bulk_update_from_parquet_spark.cli import main
    from howto_mongo_bulk_update_from_parquet_spark.sinks.keyed_table import (
        register_sql_catalog)

    root = tmp_path / "warehouse"
    root.mkdir()
    upsert_into_keyed_table(
        spark, spark.createDataFrame([Row(k=1, qty=10, tag="a")]),
        path=str(root / "t1"), key="k", updated_at_col=None)
    upsert_into_keyed_table(
        spark, spark.createDataFrame([Row(g=7, v=1.5)]),
        path=str(root / "t2"), key="g", updated_at_col=None)
    (root / "not_a_table").mkdir()       # skipped, not an error
    reg = register_sql_catalog(spark, str(root), prefix="wh_")
    assert reg == {"wh_t1": (str(root / "t1"), "k"),
                   "wh_t2": (str(root / "t2"), "g")}
    got = {r.k: r.qty for r in
           spark.sql("SELECT k, qty FROM wh_t1").collect()}
    assert got == {1: 10}
    # the same registration powers a MERGE write
    spark.createDataFrame([(1, 11, None)], "k long, qty long, tag string"
                          ).createOrReplaceTempView("stage")
    sql_merge(spark, "MERGE INTO wh_t1 USING stage s ON wh_t1.k = s.k "
                     "WHEN MATCHED THEN UPDATE SET *", tables=reg)
    assert _state(spark, str(root / "t1"))[1] == (11, "a")
    # CLI form: --keyed-root DIR:PREFIX serves reads and merges
    rc = main(["sql", "--keyed-root", f"{root}:c_", "--text",
               "SELECT CAST(SUM(qty) AS BIGINT) AS s FROM c_t1"])
    assert rc == 0
    assert "11" in capsys.readouterr().out
    stage2 = str(tmp_path / "stage2")
    spark.createDataFrame([Row(k=5, qty=50, tag="t5")]
                          ).write.parquet(stage2)
    rc = main(["sql", "--keyed-root", f"{root}:c_", "--view",
               f"st={stage2}", "--text",
               "MERGE INTO c_t1 USING st ON c_t1.k = st.k "
               "WHEN NOT MATCHED THEN INSERT *"])
    assert rc == 0
    assert json.loads(capsys.readouterr().out)["n_inserted"] == 1
    assert _state(spark, str(root / "t1"))[5] == (50, "t5")
    # empty/keyless root is a usage error, not a silent no-op
    empty = tmp_path / "empty"
    empty.mkdir()
    assert main(["sql", "--keyed-root", str(empty),
                 "--text", "SELECT 1"]) == 2


def test_merge_not_matched_by_source(spark, tmp_path):
    """WHEN NOT MATCHED BY SOURCE (full-sync): target rows the source
    lacks are deleted or target-side-updated, first-match-wins within
    the by-source group, composing with the matched/insert groups in
    ONE statement."""
    path = _mk(spark, tmp_path)          # k=1..4, qty=10k, tag=tk
    spark.createDataFrame([Row(k=2, qty=222, tag="s2"),
                           Row(k=7, qty=70, tag="t7")]
                          ).createOrReplaceTempView("snap")
    # full sync: upsert what the source has, delete stale rows the
    # source no longer carries — except large ones, which are marked
    out = sql_merge(spark, """
        MERGE INTO t USING snap s ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *
        WHEN NOT MATCHED BY SOURCE AND t.qty >= 30
             THEN UPDATE SET tag = 'stale'
        WHEN NOT MATCHED BY SOURCE THEN DELETE""",
        tables={"t": (path, "k")})
    assert out["n_inserted"] == 1        # k=7
    # by-source rows are k=1,3,4 (k=2 matched): qty 10,30,40 → 3 and
    # 4 marked stale (>=30, first clause), 1 falls to the delete
    st = _state(spark, path)
    assert 1 not in st                   # deleted (qty 10 < 30)
    assert st[2] == (222, "s2")          # matched update
    assert st[3] == (30, "stale") and st[4] == (40, "stale")
    assert st[7] == (70, "t7")           # inserted
    assert out["n_deleted"] == 1 and out["n_matched"] == 3


def test_merge_by_source_delete_only_full_sync(spark, tmp_path):
    """The replication-sync shape: source is the full truth; absent
    rows vanish."""
    path = _mk(spark, tmp_path)
    spark.createDataFrame([Row(k=1, qty=1, tag="a"),
                           Row(k=3, qty=3, tag="c")]
                          ).createOrReplaceTempView("truth")
    sql_merge(spark, """
        MERGE INTO t USING truth s ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *
        WHEN NOT MATCHED BY SOURCE THEN DELETE""",
        tables={"t": (path, "k")})
    st = _state(spark, path)
    assert set(st) == {1, 3}
    assert st[1] == (1, "a") and st[3] == (3, "c")


def test_merge_by_source_syntax_guards(spark, tmp_path):
    path = _mk(spark, tmp_path)
    spark.createDataFrame([Row(k=1, qty=1, tag="x")]
                          ).createOrReplaceTempView("stage")
    tables = {"t": (path, "k")}
    with pytest.raises(MergeSyntaxError, match="no source row"):
        sql_merge(spark, "MERGE INTO t USING stage s ON t.k = s.k "
                         "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET *",
                  tables=tables)
    with pytest.raises(MergeSyntaxError, match="unreachable"):
        sql_merge(spark, "MERGE INTO t USING stage s ON t.k = s.k "
                         "WHEN NOT MATCHED BY SOURCE THEN DELETE "
                         "WHEN NOT MATCHED BY SOURCE AND t.qty > 0 "
                         "THEN DELETE", tables=tables)


def test_merge_checks_and_constraints_enforced(spark, tmp_path):
    """The SQL path rides append_delta underneath, so table CHECK
    constraints fire on MERGE-landed rows too."""
    path = str(tmp_path / "t")
    upsert_into_keyed_table(
        spark, spark.createDataFrame([Row(k=1, qty=5, tag="a")]),
        path=path, key="k", updated_at_col=None,
        checks={"qty_pos": "qty >= 0"})
    spark.createDataFrame([Row(k=2, qty=-1, tag="bad")]
                          ).createOrReplaceTempView("stage")
    with pytest.raises(Exception, match="qty_pos"):
        sql_merge(spark, "MERGE INTO t USING stage s ON t.k = s.k "
                         "WHEN MATCHED THEN UPDATE SET * "
                         "WHEN NOT MATCHED THEN INSERT *",
                  tables={"t": (path, "k")})


def _delta_dirs(path):
    import os
    return sorted(d for d in os.listdir(path) if d.startswith("delta_"))


def test_merge_conditional_insert(spark, tmp_path):
    """r16 (verdict item 4): WHEN NOT MATCHED AND <cond> THEN INSERT *
    — first-match-wins within the not-matched group, non-vacuous (one
    unmatched row passes the condition, one is filtered out)."""
    path = _mk(spark, tmp_path)          # k=1..4
    spark.createDataFrame(
        [(2, 222, "upd"), (8, 80, "big"), (9, -9, "neg")],
        "k long, qty long, tag string").createOrReplaceTempView("stage")
    out = sql_merge(spark, """
        MERGE INTO t USING stage s ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET qty = s.qty
        WHEN NOT MATCHED AND s.qty > 0 THEN INSERT *""",
        tables={"t": (path, "k")})
    assert out["n_matched"] == 1 and out["n_inserted"] == 1
    st = _state(spark, path)
    assert st[2] == (222, "t2")
    assert st[8] == (80, "big")
    assert 9 not in st                   # filtered by the condition


def test_merge_conditional_insert_mixed_with_conditional_matched(
        spark, tmp_path):
    """The shape the r15 workaround (filter the source subquery)
    could NOT express: one statement mixing a conditional MATCHED
    clause and a conditional NOT MATCHED clause over the same
    source."""
    path = _mk(spark, tmp_path)
    spark.createDataFrame(
        [(1, 100, "a"), (2, -2, "b"), (8, 80, "c"), (9, -9, "d")],
        "k long, qty long, tag string").createOrReplaceTempView("stage")
    out = sql_merge(spark, """
        MERGE INTO t USING stage s ON t.k = s.k
        WHEN MATCHED AND s.qty > 0 THEN UPDATE SET qty = s.qty
        WHEN NOT MATCHED AND s.qty > 0 THEN INSERT *""",
        tables={"t": (path, "k")})
    assert out["n_matched"] == 1         # k=1 only (k=2 negative)
    assert out["n_inserted"] == 1        # k=8 only (k=9 negative)
    st = _state(spark, path)
    assert st[1] == (100, "t1") and st[2] == (20, "t2")
    assert st[8] == (80, "c") and 9 not in st


def test_merge_single_commit_atomic(spark, tmp_path):
    """r16 (ADVICE r15): a mixed-clause MERGE — matched delete +
    matched update + insert + by-source delete — lands as EXACTLY ONE
    delta commit; no reader can observe a half-applied statement."""
    path = _mk(spark, tmp_path)          # k=1..4
    before = _delta_dirs(path)
    spark.createDataFrame(
        [(1, -1, "x"), (2, 200, "y"), (8, 80, "t8")],
        "k long, qty long, tag string").createOrReplaceTempView("stage")
    out = sql_merge(spark, """
        MERGE INTO t USING stage s ON t.k = s.k
        WHEN MATCHED AND s.qty < 0 THEN DELETE
        WHEN MATCHED THEN UPDATE SET qty = s.qty
        WHEN NOT MATCHED THEN INSERT *
        WHEN NOT MATCHED BY SOURCE THEN DELETE""",
        tables={"t": (path, "k")})
    after = _delta_dirs(path)
    assert len(after) == len(before) + 1, (before, after)
    assert out["n_deleted"] == 3         # k=1 (matched) + k=3,4 (bysrc)
    assert out["n_matched"] == 1 and out["n_inserted"] == 1
    st = _state(spark, path)
    assert set(st) == {2, 8}
    assert st[2] == (200, "t2") and st[8] == (80, "t8")
    assert out["delta_version"] == int(after[-1].split("_")[1])


def test_merge_delete_key_dtype_cast(spark, tmp_path):
    """ADVICE r15 (medium): a matched-DELETE whose source key dtype
    differs from the table's (int source vs long table key) must land
    a correctly-typed tombstone — every subsequent read_merged stays
    readable."""
    path = _mk(spark, tmp_path)          # k is long
    spark.createDataFrame([(2,), (99,)], "k int"
                          ).createOrReplaceTempView("victims_int")
    out = sql_merge(spark, """
        MERGE INTO t USING victims_int v ON t.k = v.k
        WHEN MATCHED THEN DELETE""", tables={"t": (path, "k")})
    assert out["n_deleted"] == 1
    st = _state(spark, path)             # read_merged must not break
    assert set(st) == {1, 3, 4}


def test_sql_delete_statement(spark, tmp_path):
    from howto_mongo_bulk_update_from_parquet_spark.sinks.sql_merge import (
        sql_delete, sql_write)

    path = _mk(spark, tmp_path)          # k=1..4, qty=10k
    out = sql_write(spark, "DELETE FROM t WHERE qty >= 30",
                    tables={"t": (path, "k")})
    assert out == {"action": "delete", "n_deleted": 2,
                   "delta_version": out["delta_version"]}
    assert set(_state(spark, path)) == {1, 2}
    # alias-qualified predicate + no-WHERE full delete
    out = sql_delete(spark, "DELETE FROM t AS x WHERE x.tag = 't1'",
                     tables={"t": (path, "k")})
    assert out["n_deleted"] == 1
    out = sql_delete(spark, "DELETE FROM t", tables={"t": (path, "k")})
    assert out["n_deleted"] == 1
    assert _state(spark, path) == {}
    with pytest.raises(MergeSyntaxError, match="not a registered"):
        sql_delete(spark, "DELETE FROM nope WHERE 1=1", tables={})


def test_sql_update_statement(spark, tmp_path):
    from howto_mongo_bulk_update_from_parquet_spark.sinks.sql_merge import (
        sql_update, sql_write)

    path = _mk(spark, tmp_path)          # k=1..4, qty=10k, tag=tk
    out = sql_write(spark,
                    "UPDATE t SET qty = qty + 1 WHERE qty >= 30",
                    tables={"t": (path, "k")})
    assert out["action"] == "update" and out["n_updated"] == 2
    st = _state(spark, path)
    assert st[3] == (31, "t3") and st[4] == (41, "t4")
    assert st[1] == (10, "t1")           # untouched below the WHERE
    # alias-qualified refs + multi-assignment + no WHERE (all rows)
    out = sql_update(spark,
                     "UPDATE t AS x SET qty = x.qty * 2, tag = "
                     "concat(x.tag, '!')", tables={"t": (path, "k")})
    assert out["n_updated"] == 4
    assert _state(spark, path)[1] == (20, "t1!")
    # null-skip BY DESIGN: SET to NULL preserves the current value
    sql_update(spark, "UPDATE t SET tag = NULL WHERE k = 1",
               tables={"t": (path, "k")})
    assert _state(spark, path)[1] == (20, "t1!")
    with pytest.raises(MergeSyntaxError, match="unknown column"):
        sql_update(spark, "UPDATE t SET nope = 1",
                   tables={"t": (path, "k")})
    with pytest.raises(MergeSyntaxError, match="merge key"):
        sql_update(spark, "UPDATE t SET k = k + 1",
                   tables={"t": (path, "k")})


def test_write_statement_kind_dispatch():
    """ADVICE r15 (low): word-boundary + leading-comment-aware
    dispatch — `SELECT merge_col` is a read; a comment-prefixed MERGE
    is a write."""
    from howto_mongo_bulk_update_from_parquet_spark.sinks.sql_merge import (
        write_statement_kind)

    assert write_statement_kind("MERGE INTO t USING s ...") == "merge"
    assert write_statement_kind(
        "-- sync nightly\n-- second note\n  merge into t ...") == "merge"
    assert write_statement_kind("UPDATE t SET a = 1") == "update"
    assert write_statement_kind("  delete from t") == "delete"
    assert write_statement_kind("SELECT merge_col FROM t") is None
    assert write_statement_kind("SELECT * FROM merged") is None
    assert write_statement_kind("SELECT 'MERGE INTO x'") is None
    assert write_statement_kind("WITH d AS (SELECT 1) SELECT * FROM d"
                                ) is None


def test_cli_write_statement_flags_and_comments(spark, tmp_path, capsys):
    """CLI: --out/--explain with a write statement is a loud usage
    error (exit 2), not silently ignored; a comment-prefixed MERGE
    still routes to the write path; UPDATE/DELETE verbs work."""
    import json

    from howto_mongo_bulk_update_from_parquet_spark.cli import main

    path = _mk(spark, tmp_path)
    stage = str(tmp_path / "stage")
    spark.createDataFrame([Row(k=6, qty=60, tag="t6")]
                          ).write.parquet(stage)
    rc = main(["sql", "--keyed", f"t={path}:k", "--view",
               f"stage={stage}", "--out", str(tmp_path / "o"),
               "--text", "MERGE INTO t USING stage s ON t.k = s.k "
               "WHEN NOT MATCHED THEN INSERT *"])
    assert rc == 2
    assert "read statements only" in capsys.readouterr().err
    rc = main(["sql", "--keyed", f"t={path}:k", "--view",
               f"stage={stage}", "--text",
               "-- nightly sync\nMERGE INTO t USING stage s ON "
               "t.k = s.k WHEN NOT MATCHED THEN INSERT *"])
    assert rc == 0
    assert json.loads(capsys.readouterr().out)["n_inserted"] == 1
    rc = main(["sql", "--keyed", f"t={path}:k", "--text",
               "DELETE FROM t WHERE qty >= 60"])
    assert rc == 0
    assert json.loads(capsys.readouterr().out)["n_deleted"] == 1
    rc = main(["sql", "--keyed", f"t={path}:k", "--text",
               "UPDATE t SET qty = qty + 5 WHERE k = 1"])
    assert rc == 0
    assert json.loads(capsys.readouterr().out)["n_updated"] == 1
    assert _state(spark, path)[1] == (15, "t1")


def test_register_sql_catalog_changes_prefix(spark, tmp_path, capsys):
    """r16 (verdict item 7): one register_sql_catalog call with
    `changes_prefix` exposes state AND the change feed for every
    table under the root — an audit session joins wh_t against cdc_t
    with zero per-table plumbing. Two tables, distinct keys; the
    feed shows the post-base delta traffic (upsert + tombstone ops)."""
    import json

    from howto_mongo_bulk_update_from_parquet_spark.cli import main
    from howto_mongo_bulk_update_from_parquet_spark.sinks.keyed_table import (
        append_delete_delta, append_delta, register_sql_catalog)

    root = tmp_path / "wh"
    root.mkdir()
    upsert_into_keyed_table(
        spark, spark.createDataFrame([Row(k=1, qty=10, tag="a"),
                                      Row(k=2, qty=20, tag="b")]),
        path=str(root / "t1"), key="k", updated_at_col=None)
    upsert_into_keyed_table(
        spark, spark.createDataFrame([Row(g=7, v=1.5)]),
        path=str(root / "t2"), key="g", updated_at_col=None)
    append_delta(spark, spark.createDataFrame(
        [(1, 11, None)], "k long, qty long, tag string"),
        path=str(root / "t1"), key="k")
    append_delete_delta(spark, spark.createDataFrame([Row(k=2)]),
                        path=str(root / "t1"), key="k")
    append_delta(spark, spark.createDataFrame([Row(g=8, v=2.5)]),
                 path=str(root / "t2"), key="g")
    reg = register_sql_catalog(spark, str(root), prefix="wh_",
                               changes_prefix="cdc_")
    assert set(reg) == {"wh_t1", "wh_t2"}
    ops = {(r.op, r.k) for r in spark.sql(
        "SELECT _change_op AS op, k FROM cdc_t1").collect()}
    assert ops == {("U", 1), ("D", 2)}
    assert [r.g for r in spark.sql(
        "SELECT g FROM cdc_t2").collect()] == [8]
    # state views registered by the same sweep agree with the feed
    assert {r.k for r in spark.sql("SELECT k FROM wh_t1").collect()} \
        == {1}
    # CLI: --keyed-root + --changes-prefix in one invocation
    rc = main(["sql", "--keyed-root", f"{root}:c_", "--changes-prefix",
               "f_", "--text",
               "SELECT CAST(COUNT(*) AS BIGINT) AS n FROM f_t1"])
    assert rc == 0
    assert "2" in capsys.readouterr().out
    # --changes-prefix without --keyed-root is a loud usage error
    assert main(["sql", "--changes-prefix", "f_", "--text",
                 "SELECT 1"]) == 2
    assert "--keyed-root" in capsys.readouterr().err


def test_sql_insert_statement(spark, tmp_path):
    """r16: INSERT INTO — positional mapping, column-list subsets
    (omitted columns ride as typed NULLs = null-skip), VALUES and
    SELECT bodies, and the documented keyed-table posture: an
    existing key is upserted, never duplicated."""
    from howto_mongo_bulk_update_from_parquet_spark.sinks.sql_merge import (
        sql_insert, sql_write)

    path = _mk(spark, tmp_path)          # k=1..4, qty=10k, tag=tk
    out = sql_write(spark,
                    "INSERT INTO t VALUES (8, 80, 't8'), (9, 90, 't9')",
                    tables={"t": (path, "k")})
    assert out["action"] == "insert" and out["n_inserted"] == 2
    st = _state(spark, path)
    assert st[8] == (80, "t8") and st[9] == (90, "t9")
    # column-list subset: tag omitted -> NULL on the new key,
    # preserved (null-skip) on the existing key
    sql_insert(spark, "INSERT INTO t (k, qty) VALUES (2, 222), (11, 110)",
               tables={"t": (path, "k")})
    st = _state(spark, path)
    assert st[2] == (222, "t2")          # upserted, tag preserved
    assert st[11] == (110, None)
    # SELECT body
    spark.createDataFrame([Row(k=12, qty=120, tag="t12")]
                          ).createOrReplaceTempView("feed")
    sql_insert(spark, "INSERT INTO t SELECT k, qty, tag FROM feed",
               tables={"t": (path, "k")})
    assert _state(spark, path)[12] == (120, "t12")
    # loud refusals: arity mismatch, unknown column, missing key
    with pytest.raises(MergeSyntaxError, match="arity"):
        sql_insert(spark, "INSERT INTO t VALUES (1, 2)",
                   tables={"t": (path, "k")})
    with pytest.raises(MergeSyntaxError, match="unknown column"):
        sql_insert(spark, "INSERT INTO t (k, nope) VALUES (1, 2)",
                   tables={"t": (path, "k")})
    with pytest.raises(MergeSyntaxError, match="merge key"):
        sql_insert(spark, "INSERT INTO t (qty, tag) VALUES (1, 'x')",
                   tables={"t": (path, "k")})


def test_sql_truncate_statement(spark, tmp_path):
    from howto_mongo_bulk_update_from_parquet_spark.sinks.sql_merge import (
        sql_write)

    path = _mk(spark, tmp_path)
    out = sql_write(spark, "TRUNCATE TABLE t", tables={"t": (path, "k")})
    assert out["action"] == "truncate" and out["n_deleted"] == 4
    assert _state(spark, path) == {}
    # history is preserved: tombstones, not a wipe — re-insert works
    out = sql_write(spark, "INSERT INTO t VALUES (1, 10, 'a')",
                    tables={"t": (path, "k")})
    assert _state(spark, path) == {1: (10, "a")}


def test_sql_copy_into_statement(spark, tmp_path):
    """r16: COPY INTO — bulk file load aligned BY NAME (files carry
    column names; positional would be a corruption trap), default
    parquet, CSV via FILEFORMAT + FORMAT_OPTIONS, omitted table
    columns ride as typed NULLs, existing keys upsert (null-skip),
    re-running the same COPY is idempotent on state."""
    from howto_mongo_bulk_update_from_parquet_spark.sinks.sql_merge import (
        sql_copy, sql_write)

    path = _mk(spark, tmp_path)          # k=1..4, qty=10k, tag=tk
    src = str(tmp_path / "load")
    # columns deliberately NOT in table order: name-aligned load
    spark.createDataFrame([Row(tag="c7", k=7, qty=70),
                           Row(tag=None, k=2, qty=222)]
                          ).write.parquet(src)
    out = sql_write(spark, f"COPY INTO t FROM '{src}'",
                    tables={"t": (path, "k")})
    assert out["action"] == "copy" and out["n_loaded"] == 2
    st = _state(spark, path)
    assert st[7] == (70, "c7")
    assert st[2] == (222, "t2")          # upserted; null tag skipped
    # idempotent on state
    v1 = out["delta_version"]
    out2 = sql_write(spark, f"COPY INTO t FROM '{src}'",
                     tables={"t": (path, "k")})
    assert out2["delta_version"] > v1 and _state(spark, path) == st
    # CSV with FORMAT_OPTIONS; subset of columns -> typed NULLs
    csv = tmp_path / "feed.csv"
    csv.write_text("k|qty\n20|200\n21|210\n")
    out = sql_copy(spark, f"""COPY INTO t FROM '{csv}'
        FILEFORMAT = CSV
        FORMAT_OPTIONS(header = 'true', delimiter = '|')""",
        tables={"t": (path, "k")})
    assert out["n_loaded"] == 2
    st = _state(spark, path)
    assert st[20] == (200, None) and st[21] == (210, None)
    # loud refusals: unknown source column, missing key, bad format
    extra = str(tmp_path / "extra")
    spark.createDataFrame([Row(k=1, qty=1, woops=2)]
                          ).write.parquet(extra)
    with pytest.raises(MergeSyntaxError, match="woops"):
        sql_copy(spark, f"COPY INTO t FROM '{extra}'",
                 tables={"t": (path, "k")})
    nokey = str(tmp_path / "nokey")
    spark.createDataFrame([Row(qty=1, tag="x")]).write.parquet(nokey)
    with pytest.raises(MergeSyntaxError, match="merge key"):
        sql_copy(spark, f"COPY INTO t FROM '{nokey}'",
                 tables={"t": (path, "k")})
    with pytest.raises(MergeSyntaxError, match="FILEFORMAT"):
        sql_copy(spark, f"COPY INTO t FROM '{src}' FILEFORMAT = AVRO",
                 tables={"t": (path, "k")})
    with pytest.raises(MergeSyntaxError, match="cannot read"):
        sql_copy(spark, f"COPY INTO t FROM '{tmp_path}/absent'",
                 tables={"t": (path, "k")})


def test_sql_optimize_vacuum_statements(spark, tmp_path):
    """r16: OPTIMIZE folds deltas into a new base (state unchanged,
    folded_through advances, ZORDER BY re-clusters); VACUUM RETAIN 0
    HOURS reclaims the folded delta files immediately; both refuse
    malformed text loudly."""
    from howto_mongo_bulk_update_from_parquet_spark.sinks.keyed_table import (
        folded_through)
    from howto_mongo_bulk_update_from_parquet_spark.sinks.sql_merge import (
        sql_optimize, sql_vacuum, sql_write)

    path = _mk(spark, tmp_path)
    sql_write(spark, "UPDATE t SET qty = qty + 1 WHERE k <= 2",
              tables={"t": (path, "k")})
    before = _state(spark, path)
    assert folded_through(spark, path) == 0
    out = sql_write(spark, "OPTIMIZE t", tables={"t": (path, "k")})
    assert out["action"] == "optimize" and out["zorder"] is None
    assert out["folded_through"] >= 1
    assert _state(spark, path) == before          # state preserved
    # zorder refuses on a plain table (silent key-sort would make the
    # reported "zorder" a lie), works once the range layout exists
    sql_write(spark, "INSERT INTO t VALUES (30, 300, 'z')",
              tables={"t": (path, "k")})
    with pytest.raises(MergeSyntaxError, match="range-layout"):
        sql_optimize(spark, "OPTIMIZE t ZORDER BY (qty)",
                     tables={"t": (path, "k")})
    from howto_mongo_bulk_update_from_parquet_spark.sinks.keyed_table import (
        compact)
    compact(spark, path, "k", range_files=2, stats_cols=["qty"])
    out = sql_optimize(spark, "OPTIMIZE t ZORDER BY (qty)",
                       tables={"t": (path, "k")})
    assert out["zorder"] == "qty"
    with pytest.raises(MergeSyntaxError, match="unknown column"):
        sql_optimize(spark, "OPTIMIZE t ZORDER BY (nope)",
                     tables={"t": (path, "k")})
    # vacuum: a freshly folded delta (no later commit has GC'd it) —
    # nothing young enough at RETAIN 24 (default), reclaimed at
    # RETAIN 0 HOURS
    sql_write(spark, "UPDATE t SET qty = qty + 1 WHERE k = 30",
              tables={"t": (path, "k")})
    sql_write(spark, "OPTIMIZE t", tables={"t": (path, "k")})
    out = sql_write(spark, "VACUUM t", tables={"t": (path, "k")})
    assert out["action"] == "vacuum" and out["n_removed"] == 0
    out = sql_vacuum(spark, "VACUUM t RETAIN 0 HOURS",
                     tables={"t": (path, "k")})
    assert out["n_removed"] >= 1
    assert _state(spark, path)[30] == (301, "z")  # readers unaffected
    with pytest.raises(MergeSyntaxError, match="not of the form"):
        sql_vacuum(spark, "VACUUM t RETAIN x HOURS",
                   tables={"t": (path, "k")})


def test_write_statement_kind_covers_maintenance_verbs():
    from howto_mongo_bulk_update_from_parquet_spark.sinks.sql_merge import (
        write_statement_kind)

    assert write_statement_kind("COPY INTO t FROM '/x'") == "copy"
    assert write_statement_kind("-- load\nOPTIMIZE t") == "optimize"
    assert write_statement_kind("vacuum t retain 1 hour") == "vacuum"
    assert write_statement_kind("SELECT copy_flag FROM t") is None
    assert write_statement_kind("SELECT * FROM optimize_log") is None


def test_sql_create_table_as_select(spark, tmp_path):
    """r16: keyed CTAS — creates the table at LOCATION, registers it
    in the live tables mapping (subsequent statements target it by
    name) and as a temp view; refuses overwrites and a SELECT that
    drops the key; plain CREATE VIEW stays spark.sql's."""
    from howto_mongo_bulk_update_from_parquet_spark.sinks.sql_merge import (
        sql_create, sql_write, write_statement_kind)

    assert write_statement_kind(
        "CREATE TABLE t KEY (k) LOCATION '/x' AS SELECT 1") == "create"
    assert write_statement_kind(
        "CREATE OR REPLACE TEMP VIEW v AS SELECT 1") is None
    assert write_statement_kind(
        "CREATE TABLE cat.t AS SELECT 1") is None

    spark.createDataFrame([Row(k=i, qty=i * 10) for i in range(1, 4)]
                          ).createOrReplaceTempView("ctas_src")
    loc = str(tmp_path / "ctas")
    tables = {}
    out = sql_write(spark,
                    f"CREATE TABLE nt KEY (k) LOCATION '{loc}' "
                    f"AS SELECT k, qty FROM ctas_src",
                    tables=tables)
    assert out["action"] == "create" and out["version"] == 1
    assert tables == {"nt": (loc, "k")}
    # registered: reads by name, and the NEXT statement targets it
    assert spark.sql("SELECT count(*) AS n FROM nt").first().n == 3
    sql_write(spark, "UPDATE nt SET qty = qty + 1 WHERE k = 1",
              tables=tables)
    assert {r.k: r.qty for r in read_merged(spark, loc, "k").collect()
            } == {1: 11, 2: 20, 3: 30}
    # refusals: re-create same name, same location, key not selected
    with pytest.raises(MergeSyntaxError, match="already registered"):
        sql_create(spark, f"CREATE TABLE nt KEY (k) LOCATION "
                          f"'{loc}2' AS SELECT k FROM ctas_src",
                   tables=tables)
    with pytest.raises(MergeSyntaxError, match="not empty"):
        sql_create(spark, f"CREATE TABLE other KEY (k) LOCATION "
                          f"'{loc}' AS SELECT k FROM ctas_src",
                   tables=tables)
    with pytest.raises(MergeSyntaxError, match="must be selected"):
        sql_create(spark, f"CREATE TABLE o2 KEY (nope) LOCATION "
                          f"'{loc}3' AS SELECT k FROM ctas_src",
                   tables=tables)


def test_sql_create_refuses_legacy_parquet_dir(spark, tmp_path):
    """CREATE over a plain-parquet directory must refuse: CREATE owns
    a fresh location and never writes next to files it did not make."""
    from howto_mongo_bulk_update_from_parquet_spark.sinks.sql_merge import (
        sql_create)

    legacy = str(tmp_path / "legacy")
    spark.createDataFrame([Row(k=1, qty=1)]).write.parquet(legacy)
    spark.createDataFrame([Row(k=2, qty=2)]
                          ).createOrReplaceTempView("ctas_src2")
    with pytest.raises(MergeSyntaxError, match="not empty"):
        sql_create(spark, f"CREATE TABLE lg KEY (k) LOCATION "
                          f"'{legacy}' AS SELECT k, qty FROM ctas_src2",
                   tables={})


def test_update_delete_adversarial_literals(spark, tmp_path):
    """Keywords and separators INSIDE string literals: top-level
    splitting is quote-aware (commas/parens in literals), and a
    literal that DOES defeat the clause regex (` WHERE ` inside a
    SET string) fails LOUDLY as a statement error — never a silent
    mis-update, never a bare JVM traceback."""
    from howto_mongo_bulk_update_from_parquet_spark.sinks.sql_merge import (
        sql_update)

    path = _mk(spark, tmp_path)          # k=1..4, qty=10k, tag=tk
    # comma inside a literal: one assignment, not two
    sql_update(spark, "UPDATE t SET tag = 'a,b' WHERE k = 1",
               tables={"t": (path, "k")})
    assert _state(spark, path)[1] == (10, "a,b")
    # paren inside a literal must not skew the comma depth
    sql_update(spark, "UPDATE t SET tag = '(', qty = qty + 1 "
                      "WHERE k = 2",
               tables={"t": (path, "k")})
    assert _state(spark, path)[2] == (21, "(")
    # ' WHERE ' inside the literal splits the regex clause — the
    # mangled halves must refuse loudly as a MergeSyntaxError
    before = _state(spark, path)
    with pytest.raises(MergeSyntaxError, match="cannot parse"):
        sql_update(spark, "UPDATE t SET tag = 'x WHERE y'",
                   tables={"t": (path, "k")})
    assert _state(spark, path) == before            # zero trace
