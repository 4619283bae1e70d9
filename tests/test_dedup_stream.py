"""Streaming incremental dedup: arriving document files drain through
the probe → verdict → fold-survivors cycle; the second sweep sees the
first as history; a drained stream re-run is a no-op; replays are
verdict-stable thanks to rep_id self-exclusion."""

import os

from pyspark.sql import functions as F
from pyspark.sql import types as T

from howto_mongo_bulk_update_from_parquet_spark.sinks.keyed_table import read_keyed_table
from howto_mongo_bulk_update_from_parquet_spark.streaming.dedup_stream import (
    dedup_batch_verdicts, stream_dedup_parquet)

SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("text", T.StringType()),
])

TEXTS = {
    1: "the quick brown fox jumps over the lazy dog tonight",
    2: "pack my box with five dozen liquor jugs right now",
    3: "sphinx of black quartz judge my vow they said loudly",
}


def _write_batch(spark, landing, name, rows):
    (spark.createDataFrame(rows, SCHEMA).coalesce(1)
     .write.parquet(os.path.join(landing, name)))


def _run(spark, tmp, **kw):
    kw.setdefault("schema", SCHEMA)
    stream_dedup_parquet(
        spark, os.path.join(str(tmp), "landing", "*"),
        index_path=os.path.join(str(tmp), "index"),
        verdicts_dir=os.path.join(str(tmp), "verdicts"),
        checkpoint=os.path.join(str(tmp), "ckpt"), **kw)


def test_stream_near_two_sweeps(spark, tmp_path):
    landing = os.path.join(str(tmp_path), "landing")
    os.makedirs(landing)
    _write_batch(spark, landing, "b1",
                 [(1, TEXTS[1]), (2, TEXTS[2]), (3, TEXTS[1])])
    _run(spark, tmp_path, mode="near", buckets=4)
    verdicts = spark.read.parquet(os.path.join(str(tmp_path), "verdicts"))
    v1 = {r["doc_id"]: r["verdict"] for r in verdicts.collect()}
    # within the first sweep: 3 duplicates 1 (bucket-min keeps 1)
    assert v1 == {1: "unique", 2: "unique", 3: "dup_in_batch"}
    # survivors only in the index
    idx = read_keyed_table(spark, os.path.join(str(tmp_path), "index"))
    assert set(idx.columns) >= {"bucket_key", "band", "band_sig", "rep_id"}
    assert set(r["rep_id"] for r in idx.collect()) == {1, 2}

    # second arrival: doc 11 repeats doc 1's text (vs index), doc 12 new
    _write_batch(spark, landing, "b2",
                 [(11, TEXTS[1]), (12, TEXTS[3])])
    _run(spark, tmp_path, mode="near", buckets=4)
    verdicts = spark.read.parquet(os.path.join(str(tmp_path), "verdicts"))
    v2 = {r["doc_id"]: r["verdict"] for r in verdicts.collect()}
    assert v2[11] == "dup_vs_index" and v2[12] == "unique"
    # epoch partitioning: both sweeps readable as one table
    assert set(v2) == {1, 2, 3, 11, 12}
    idx2 = read_keyed_table(spark, os.path.join(str(tmp_path), "index"))
    assert set(r["rep_id"] for r in idx2.collect()) == {1, 2, 12}

    # drained re-run: checkpoint empty → nothing changes
    _run(spark, tmp_path, mode="near", buckets=4)
    v3 = {r["doc_id"]: r["verdict"] for r in spark.read.parquet(
        os.path.join(str(tmp_path), "verdicts")).collect()}
    assert v3 == v2


def test_stream_near_lsm_appends_and_probes_tail(spark, tmp_path):
    """--index-lsm streaming: epochs append deltas (no base rewrite);
    a later file duplicating a TAIL-only survivor is caught; the
    threshold fold collapses the tail into a new base."""
    from howto_mongo_bulk_update_from_parquet_spark.sinks.keyed_table import (
        folded_through, read_merged)

    landing = os.path.join(str(tmp_path), "landing")
    idx_path = os.path.join(str(tmp_path), "index")
    os.makedirs(landing)
    _write_batch(spark, landing, "b1", [(1, TEXTS[1])])
    _run(spark, tmp_path, mode="near", buckets=4, index_lsm=True)
    # first epoch seeded the base; no deltas yet
    assert not [d for d in os.listdir(idx_path)
                if d.startswith("delta_")]
    _write_batch(spark, landing, "b2", [(10, TEXTS[2])])
    _run(spark, tmp_path, mode="near", index_lsm=True)
    assert [d for d in os.listdir(idx_path)
            if d.startswith("delta_")] == ["delta_00001"]
    # doc 20 duplicates doc 10 — tail-only history — and the fold
    # threshold (2 pending) triggers after this epoch's append
    _write_batch(spark, landing, "b3", [(20, TEXTS[2]), (21, TEXTS[3])])
    _run(spark, tmp_path, mode="near", index_lsm=True, compact_pending=2)
    v = {r["doc_id"]: r["verdict"] for r in spark.read.parquet(
        os.path.join(str(tmp_path), "verdicts")).collect()}
    assert v[20] == "dup_vs_index" and v[21] == "unique"
    assert folded_through(spark, idx_path) == 2
    reps = {r["rep_id"] for r in read_merged(spark, idx_path, "bucket_key")
            .select("rep_id").distinct().collect()}
    assert reps == {1, 10, 21}


def test_stream_spans_mode(spark, tmp_path):
    landing = os.path.join(str(tmp_path), "landing")
    os.makedirs(landing)
    _write_batch(spark, landing, "b1", [(1, TEXTS[1])])
    _run(spark, tmp_path, mode="spans")
    # batch 2 embeds doc 1's text inside fresh prose → a history span
    _write_batch(spark, landing, "b2",
                 [(21, "totally original opening words then "
                       + TEXTS[1] + " and an original ending here")])
    _run(spark, tmp_path, mode="spans")
    spans = (spark.read.parquet(os.path.join(str(tmp_path), "verdicts"))
             .filter(F.col("doc_id") == 21).collect())
    assert len(spans) == 1
    assert spans[0]["idx_windows"] > 0            # history-attributed
    assert spans[0]["span_tokens"] >= 10          # the embedded sentence


def test_replay_verdicts_stable_after_fold(spark):
    """The foreachBatch retry case: the same batch probed AGAIN after
    its survivors were folded in keeps the unique/dup partition —
    rep_id self-exclusion stops survivors matching themselves. A
    dup's attribution may upgrade to dup_vs_index (its keeper is now
    genuinely history)."""
    docs = spark.createDataFrame(
        [(1, TEXTS[1]), (2, TEXTS[2]), (3, TEXTS[1])], SCHEMA)
    out1, rows1, key1 = dedup_batch_verdicts(docs, None, "near")
    v1 = {r["doc_id"]: r["verdict"] for r in out1.collect()}
    assert v1 == {1: "unique", 2: "unique", 3: "dup_in_batch"}
    # fold, then replay the same batch against the updated index
    out2, _, _ = dedup_batch_verdicts(docs, rows1, "near")
    v2 = {r["doc_id"]: r["verdict"] for r in out2.collect()}
    assert v2 == {1: "unique", 2: "unique", 3: "dup_vs_index"}
    assert ({k for k, v in v1.items() if v == "unique"}
            == {k for k, v in v2.items() if v == "unique"})

    sdocs = spark.createDataFrame([(1, TEXTS[1])], SCHEMA)
    sout1, srows1, _ = dedup_batch_verdicts(sdocs, None, "spans")
    sout2, _, _ = dedup_batch_verdicts(sdocs, srows1, "spans")
    assert sout1.count() == sout2.count() == 0    # no self-spans on replay


VSCHEMA = T.StructType([
    T.StructField("vec_id", T.LongType()),
    T.StructField("embedding", T.ArrayType(T.FloatType())),
])


def _vec(seed):
    """Deterministic 64-dim vector (the RHP hyperplane dim); distinct
    seeds give pairwise |cosine| < 0.14, far under the 0.45 verify
    threshold."""
    import hashlib
    return [(int(hashlib.md5(f"{seed}:{j}".encode()).hexdigest()[:8], 16)
             % 2001 - 1000) / 1000.0 for j in range(64)]


V1, V2, V3 = _vec(1), _vec(2), _vec(3)


def test_stream_vec_mode(spark, tmp_path):
    """vec mode maintains BOTH stores through the stream: batch-1
    sibling dedup, batch-2 history hit, survivors-only folds."""
    landing = os.path.join(str(tmp_path), "landing")
    os.makedirs(landing)
    (spark.createDataFrame([(1, V1), (2, V2), (3, V1)], VSCHEMA)
     .coalesce(1).write.parquet(os.path.join(landing, "b1")))
    kw = dict(mode="vec", schema=VSCHEMA, id_col="vec_id",
              vectors_path=os.path.join(str(tmp_path), "vecs"),
              buckets=4)
    _run(spark, tmp_path, **kw)
    v1 = {r["vec_id"]: r["verdict"] for r in spark.read.parquet(
        os.path.join(str(tmp_path), "verdicts")).collect()}
    assert v1 == {3: "dup_in_batch"}      # identical sibling, one folds
    store = read_keyed_table(spark, os.path.join(str(tmp_path), "vecs"))
    assert {r["member_id"] for r in store.collect()} == {1, 2}

    (spark.createDataFrame([(11, V1), (12, V3)], VSCHEMA)
     .coalesce(1).write.parquet(os.path.join(landing, "b2")))
    _run(spark, tmp_path, **kw)
    rows = {r["vec_id"]: r for r in spark.read.parquet(
        os.path.join(str(tmp_path), "verdicts")).collect()}
    assert rows[11]["verdict"] == "dup_vs_index"
    assert rows[11]["match_id"] == 1 and rows[11]["cos_sim"] == 1.0
    assert 12 not in rows                 # survivor: absent from report
    store2 = read_keyed_table(spark, os.path.join(str(tmp_path), "vecs"))
    assert {r["member_id"] for r in store2.collect()} == {1, 2, 12}


def test_vec_replay_stable_after_fold(spark):
    """Replaying a vec batch after its survivors were folded keeps the
    survivor set: self-matches are excluded (member_id == vec_id)."""
    from howto_mongo_bulk_update_from_parquet_spark.plans.incremental_vec import (
        vec_batch_verdicts)
    emb = spark.createDataFrame([(1, V1), (2, V2)], VSCHEMA)
    out1, idx1, store1 = vec_batch_verdicts(emb, None, None)
    assert out1.count() == 0              # both unique
    out2, _, _ = vec_batch_verdicts(
        emb, idx1.select("band", "bucket", "member_id"), store1)
    assert out2.count() == 0              # replay: no self-dup


def test_cli_dedup_stream(spark, tmp_path):
    """The dedup-stream verb end to end: two invocations drain two
    arrival waves with the index carried between them."""
    import os

    from howto_mongo_bulk_update_from_parquet_spark import cli

    landing = os.path.join(str(tmp_path), "landing")
    os.makedirs(landing)
    _write_batch(spark, landing, "b1", [(1, TEXTS[1]), (2, TEXTS[2])])
    argv = ["dedup-stream", "--mode", "near",
            "--source", os.path.join(landing, "*"),
            "--index", os.path.join(str(tmp_path), "idx"),
            "--out", os.path.join(str(tmp_path), "out"),
            "--checkpoint", os.path.join(str(tmp_path), "ck"),
            "--buckets", "4"]
    assert cli.main(argv) == 0
    _write_batch(spark, landing, "b2", [(11, TEXTS[1])])
    assert cli.main(argv) == 0
    v = {r["doc_id"]: r["verdict"] for r in spark.read.parquet(
        os.path.join(str(tmp_path), "out")).collect()}
    assert v == {1: "unique", 2: "unique", 11: "dup_vs_index"}


def test_processing_time_trigger_survives_kill_restart(spark, tmp_path):
    """r12 verdict item 6 (liveness): a CONTINUOUS (processingTime)
    drain processes arriving batches without availableNow's
    plan-up-front sweep; killing the query mid-stream and restarting
    on the same checkpoint resumes exactly where it stopped — later
    files are processed once, earlier verdicts are untouched, and the
    index state reflects every epoch exactly once."""
    import os
    import time

    landing = os.path.join(str(tmp_path), "landing")
    os.makedirs(landing)
    _write_batch(spark, landing, "b1",
                 [(1, TEXTS[1]), (2, TEXTS[2])])

    def _start():
        return stream_dedup_parquet(
            spark, os.path.join(str(tmp_path), "landing", "*"),
            schema=SCHEMA,
            index_path=os.path.join(str(tmp_path), "index"),
            verdicts_dir=os.path.join(str(tmp_path), "verdicts"),
            checkpoint=os.path.join(str(tmp_path), "ckpt"),
            mode="near", buckets=4, processing_time="1 seconds")

    def _verdicts():
        try:
            return {r["doc_id"]: r["verdict"] for r in spark.read.parquet(
                os.path.join(str(tmp_path), "verdicts")).collect()}
        except Exception:  # noqa: BLE001 - dir not written yet
            return {}

    def _wait_for(q, pred, timeout=150):
        t0 = time.time()
        while time.time() - t0 < timeout:
            v = _verdicts()
            if pred(v):
                return v
            if q.exception() is not None:
                raise AssertionError(f"stream died: {q.exception()}")
            time.sleep(0.5)
        raise AssertionError(f"stream did not converge: {_verdicts()}")

    q = _start()
    assert q is not None                     # live query handle
    try:
        v1 = _wait_for(q, lambda v: {1, 2} <= set(v))
        assert v1[1] == "unique" and v1[2] == "unique"
        # second file arrives WHILE the query runs: the continuous
        # trigger picks it up without a restart (liveness)
        _write_batch(spark, landing, "b2", [(11, TEXTS[1])])
        v2 = _wait_for(q, lambda v: 11 in v)
        assert v2[11] == "dup_vs_index"
    finally:
        q.stop()                             # mid-stream kill
    # arrivals while DOWN...
    _write_batch(spark, landing, "b3", [(21, TEXTS[2]), (22, TEXTS[3])])
    def _reps():
        try:
            return {r["rep_id"] for r in read_keyed_table(
                spark, os.path.join(str(tmp_path), "index")).collect()}
        except Exception:  # noqa: BLE001
            return set()

    q = _start()
    try:
        v3 = _wait_for(q, lambda v: {21, 22} <= set(v))
        # verdicts land BEFORE the epoch's index fold — wait for the
        # commit too, else the stop below races the upsert (the
        # checkpoint would replay it on the next start; this test ends
        # here, so observe the fold directly)
        t0 = time.time()
        while 22 not in _reps() and time.time() - t0 < 150:
            time.sleep(0.5)
    finally:
        q.stop()
    assert v3[21] == "dup_vs_index" and v3[22] == "unique"
    # earlier epochs untouched; each doc verdict exactly once
    assert v3[1] == "unique" and v3[11] == "dup_vs_index"
    assert set(v3) == {1, 2, 11, 21, 22}
    assert _reps() == {1, 2, 22}
