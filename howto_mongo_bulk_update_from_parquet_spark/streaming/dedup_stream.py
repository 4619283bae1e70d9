"""Streaming cross-batch dedup: the `dedup-incremental` arrival loop
as a Structured Streaming job.

The batch CLI (cli.py dedup-incremental) processes ONE arriving
parquet batch per invocation; this module wires the identical
probe → classify → fold-survivors cycle into `readStream` →
`foreachBatch`, so a landing directory is drained continuously (or in
one `availableNow` sweep) with the stream checkpoint tracking which
files were consumed. Per micro-batch, in `near` mode:

1. sign the batch ONCE (`batch_bands`, localCheckpoint'ed — the
   module contract shared with the CLI);
2. probe the persisted band-signature index (bucket-stored: the index
   side joins exchange-free, only the batch shuffles);
3. write per-document verdicts to `verdicts_dir/epoch=N`;
4. fold the unique survivors' index rows back through the keyed-table
   sink so the NEXT micro-batch sees this one as history.

`spans` mode runs the k-gram twin (`incremental_dup_spans`): verdicts
are maximal duplicated spans, and the WHOLE batch's grams fold in
(span dedup trims content, it does not drop documents).

Exactly-once posture: foreachBatch is at-least-once — a crash between
steps 3 and 4 replays the epoch. Both side effects are
replay-idempotent: the verdict write lands with mode=overwrite into
the epoch's own directory, and the index fold upserts rows keyed on
the store's merge key (re-upserting the same rows is a no-op).
Verdict STABILITY under replay comes from the probes' rep_id
self-exclusion (plans/incremental_dedup.py /
plans/incremental_spans.py): a replayed document that already seeded
the index does not match its own signatures, so the unique/dup
partition — the thing the fold depends on — is identical on the
re-run. The one label that may shift is a dup's attribution:
`dup_in_batch` upgrades to `dup_vs_index` when its batch-internal
keeper is already folded, which is the truthful description of the
replayed state.

Scale notes: per micro-batch cost is O(batch signed + batch-side
shuffle of the probe join + O(batch) index upsert delta when the
store uses the LSM path); history is never re-signed, and a
bucket-stored index never re-shuffles across arrivals — the same
100 TB posture as the batch loop, now with continuous ingest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sinks import fs as hfs
from ..sinks.keyed_table import (Snapshot, _read_current, _read_pending,
                                 append_delta, compact, recover_dead_claims,
                                 snapshot, upsert_into_keyed_table)

MODES = ("near", "spans", "vec")


def _index_or_none(snap: Snapshot) -> DataFrame | None:
    # honor_buckets: a bucket-stored index feeds the probe join
    # exchange-free on the index side; no version = the first arrival
    # seeds it
    return _read_current(snap, honor_buckets=True) if snap.version else None


def dedup_batch_verdicts(docs: DataFrame, index: DataFrame | None,
                         mode: str,
                         pending: DataFrame | None = None
                         ) -> tuple[DataFrame, DataFrame, str]:
    """(verdicts, index_rows, index_key) for one arriving batch of
    (doc_id, text) against the persisted index (None = empty). The
    shared core of the streaming job and any caller composing its own
    loop: the batch is signed ONCE (the band/gram frame drives both
    the probe and the fold), and the index side passes (merge key,
    rep_id) so replays self-exclude. `pending` is the store's LSM
    tail (`read_pending_deltas`) — probed as a separate small join so
    the committed base keeps its bucketed scan."""
    from ..plans.dup_spans import gram_windows
    from ..plans.incremental_dedup import (batch_bands,
                                           incremental_near_dup_flags,
                                           signature_index_rows_from_bands)
    from ..plans.incremental_spans import (gram_index_rows_from_grams,
                                           incremental_dup_spans)
    spark = docs.sparkSession
    if mode == "near":
        bands = batch_bands(docs, "doc_id").localCheckpoint(eager=False)
        idx = (index.select("bucket_key", "rep_id") if index is not None
               else spark.createDataFrame(
                   [], "bucket_key string, rep_id long"))
        pend = (pending.select("bucket_key", "rep_id")
                if pending is not None else None)
        out = incremental_near_dup_flags(docs, idx, "doc_id",
                                         new_bands=bands,
                                         pending_index_bands=pend)
        survivors = out.filter(F.col("verdict") == "unique") \
                       .select("doc_id")
        return (out,
                signature_index_rows_from_bands(
                    bands.join(survivors, "doc_id"), "doc_id"),
                "bucket_key")
    if mode == "spans":
        grams = gram_windows(docs)[0].localCheckpoint(eager=False)
        idx = (index.select("h", "rep_id") if index is not None
               else spark.createDataFrame([], "h string, rep_id long"))
        # dedupe the tail by gram: replayed deltas must not multiply
        # the per-window LEFT join's rows
        pend = (pending.groupBy("h").agg(F.min("rep_id").alias("rep_id"))
                if pending is not None else None)
        out = incremental_dup_spans(docs, idx, new_grams=grams,
                                    pending_gram_index=pend)
        return out, gram_index_rows_from_grams(grams), "h"
    raise ValueError(
        f"mode must be 'near' or 'spans' here, got {mode!r} "
        f"(vec runs through _apply_vec_batch — it maintains TWO stores)")


def stream_dedup_parquet(spark: SparkSession, source_dir: str, *,
                         schema: T.StructType, index_path: str,
                         verdicts_dir: str, checkpoint: str,
                         mode: str = "near",
                         id_col: str = "doc_id", text_col: str = "text",
                         vec_col: str = "embedding",
                         vectors_path: str | None = None,
                         threshold: float | None = None,
                         buckets: int | None = None,
                         update_index: bool = True,
                         max_files_per_trigger: int | None = None,
                         index_lsm: bool = False,
                         compact_pending: int | None = None,
                         processing_time: str | None = None,
                         lease_ttl_ms: int | None = None):
    """Drain parquet document batches arriving under `source_dir`
    through the incremental-dedup cycle (availableNow trigger: one
    sweep of everything currently available — rerun or schedule for
    continuous operation). Verdicts land under
    `verdicts_dir/epoch=N/`; read `verdicts_dir` as one partitioned
    parquet table. `buckets` bucket-stores the index base on its
    merge key (pass it on the FIRST run; inherited afterwards).
    Mode `vec` dedups embedding batches instead of text: `vec_col`
    replaces `text_col` and `vectors_path` names the keyed VECTOR
    store (the second store vec maintains — exact-cosine verification
    point-looks-up colliding members there).

    `processing_time` (e.g. "1 seconds") switches to a CONTINUOUS
    micro-batch trigger and returns the live StreamingQuery instead
    of draining-and-returning — the long-running deployment form; the
    caller stops it (or awaits termination). Returns None in the
    default availableNow form."""
    if mode not in MODES:
        raise ValueError(f"mode must be one of {MODES}, got {mode!r}")
    if mode == "vec" and not vectors_path:
        raise ValueError("mode='vec' needs vectors_path (the keyed "
                         "vector store verification reads from)")
    # Writer lease (r14): the drain's exclusive-writer contract over
    # its stores — the thing that makes the force-clears below SOUND —
    # is now enforced, not assumed. Identity is the CHECKPOINT path
    # (the true identity of "the same logical writer"): a kill/restart
    # with the same checkpoint re-acquires its own lease immediately;
    # a second drain misconfigured onto the same store fails fast with
    # WriterLeaseHeld BEFORE touching any claims, instead of sweeping
    # the live writer's staging. Renewed every epoch; released on the
    # availableNow form's clean return (the continuous form's lease
    # expires by TTL after a kill — which the restart then breaks).
    import hashlib

    from ..sinks.lease import (DEFAULT_TTL_MS, acquire_writer_lease,
                               release_writer_lease, renew_writer_lease)
    ttl = lease_ttl_ms or DEFAULT_TTL_MS
    lease_owner = "drain-" + hashlib.sha1(
        checkpoint.encode()).hexdigest()[:16]
    stores = [s for s in (index_path, vectors_path) if s]
    held: list[str] = []
    try:
        for store in stores:
            # unconditional: the lease dir (dot-prefixed, invisible to
            # readers and the claim machinery) may PRE-EXIST the table
            # it guards — a drain must hold the lease from its first
            # idle second, not from its first committed epoch
            acquire_writer_lease(spark, store, owner=lease_owner,
                                 ttl_ms=ttl)
            held.append(store)
    except BaseException:
        for store in held:
            release_writer_lease(spark, store, lease_owner)
        raise
    # single-writer restart recovery: the stream OWNS its stores (now
    # lease-proven), so a previous kill's staging dirs and unpublished
    # bases are this writer's own debris — clear them now instead of
    # dying on the taken base slot for the whole staleness grace
    # window (keyed_table.recover_dead_claims)
    for store in stores:
        if hfs.exists(spark, store):
            recover_dead_claims(spark, store, lease_owner=lease_owner)
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger",
                               str(max_files_per_trigger))
    stream = reader.parquet(source_dir)

    def _fold_retrying(sess: SparkSession, store: str, fold) -> None:
        """Run one store fold, retrying ONCE after clearing debris on
        a claim-fence conflict. Sound only under this stream's
        exclusive-writer contract: the sole 'concurrent writer' the
        fence can be seeing is the previous incarnation's zombie job —
        q.stop() can return while a killed epoch's write is still
        landing files, re-creating the debris AFTER the start-time
        recovery ran. A second conflict is a real foreign writer (a
        mis-pointed store) and propagates."""
        from ..sinks.keyed_table import ConcurrentWriteError
        try:
            fold()
        except ConcurrentWriteError:
            import time as _t
            _t.sleep(2)                 # let the zombie's tasks settle
            recover_dead_claims(sess, store, lease_owner=lease_owner)
            fold()

    def apply_batch(batch_df: DataFrame, epoch_id: int) -> None:
        sess = batch_df.sparkSession
        # heartbeat; a renew failure means the lease expired and was
        # taken over — exclusivity is gone, so failing the stream
        # BEFORE any claim/fold work is the contract
        for store in held:
            renew_writer_lease(sess, store, lease_owner)
        if mode == "vec":
            _apply_vec_batch(sess, batch_df, int(epoch_id))
            return
        docs = batch_df.select(F.col(id_col).alias("doc_id"),
                               F.col(text_col).alias("text"))
        snap = snapshot(sess, index_path)   # one resolution: base + tail
        index = _index_or_none(snap)
        pending = _read_pending(snap) if index is not None else None
        out, index_rows, index_key = dedup_batch_verdicts(
            docs, index, mode, pending=pending)
        # cache the verdict frame: the index fold's survivor filter
        # shares its plan, so the probe runs once per epoch
        out = out.persist()
        try:
            # overwrite into the epoch's own directory: a replayed
            # epoch rewrites the same files, not append-duplicates
            (out.write.mode("overwrite")
                .parquet(hfs.join(verdicts_dir, f"epoch={int(epoch_id)}")))
            if update_index and index_lsm and index is not None:
                # LSM fold: O(batch) delta append per epoch. A crash
                # between append and checkpoint-commit replays the
                # epoch and appends the SAME rows again — a duplicate
                # the probes tolerate (near: countDistinct; spans:
                # gram-deduped tail) and the threshold fold's merge
                # collapses, so the loop stays replay-idempotent.
                _fold_retrying(sess, index_path,
                               lambda: append_delta(sess, index_rows,
                                                    path=index_path,
                                                    key=index_key))
                if compact_pending:
                    n_pend = len(snapshot(sess, index_path).deltas)
                    if n_pend >= compact_pending:
                        compact(sess, index_path, index_key)
            elif update_index:
                _fold_retrying(sess, index_path, lambda:
                               upsert_into_keyed_table(
                                   sess, index_rows, path=index_path,
                                   key=index_key, updated_at_col=None,
                                   buckets=buckets))
        finally:
            out.unpersist()

    def _apply_vec_batch(sess: SparkSession, batch_df: DataFrame,
                         epoch_id: int) -> None:
        from ..plans.incremental_vec import vec_batch_verdicts
        emb = batch_df.select(F.col(id_col).alias("vec_id"),
                              F.col(vec_col).alias("embedding"))
        index = _index_or_none(snapshot(sess, index_path))
        store = _index_or_none(snapshot(sess, vectors_path))
        if (index is None) != (store is None):
            # one store missing is a mis-pointed path, not a first
            # arrival — failing the stream beats silently re-seeding
            # (the batch-CLI applies the same rule, code-review r11)
            raise RuntimeError(
                f"inconsistent vec stores: index={index_path} "
                f"{'exists' if index is not None else 'missing'}, "
                f"vectors={vectors_path} "
                f"{'exists' if store is not None else 'missing'}")
        kwargs = {"threshold": threshold} if threshold is not None else {}
        out, index_rows, store_rows = vec_batch_verdicts(
            emb,
            index.select("band", "bucket", "member_id")
            if index is not None else None,
            store, **kwargs)
        out = out.persist()
        try:
            (out.write.mode("overwrite")
                .parquet(hfs.join(verdicts_dir, f"epoch={epoch_id}")))
            if update_index:
                _fold_retrying(sess, index_path, lambda:
                               upsert_into_keyed_table(
                                   sess, index_rows, path=index_path,
                                   key="idx_key", updated_at_col=None,
                                   buckets=buckets))
                _fold_retrying(sess, vectors_path, lambda:
                               upsert_into_keyed_table(
                                   sess, store_rows, path=vectors_path,
                                   key="member_id", updated_at_col=None))
        finally:
            out.unpersist()

    writer = (stream.writeStream.foreachBatch(apply_batch)
              .option("checkpointLocation", checkpoint))
    if processing_time:
        # continuous drain: micro-batches fire on the wall-clock
        # cadence as files land; the caller owns the query lifecycle
        # (stop/awaitTermination) — the checkpoint makes a kill at ANY
        # point resumable with replay-idempotent epochs (test-pinned
        # across a mid-stream stop/restart). A clean stop RELEASES the
        # lease immediately (termination listener, r16); only a killed
        # driver leaves it to expire by TTL (a same-checkpoint restart
        # breaks its own stale lease reentrantly, without the wait).
        # A daemon thread heartbeats
        # while the query is ACTIVE, so an IDLE drain (no arrivals →
        # no epochs → no per-epoch renew) cannot silently outlive its
        # own TTL and lose the store to a competitor; the thread dies
        # with the query, leaving the TTL as the kill detector.
        q = writer.trigger(processingTime=processing_time).start()
        hb_t, hb_s = _start_lease_heartbeat(spark, q, held,
                                            lease_owner, ttl)
        # a clean q.stop() releases the leases immediately via the
        # termination listener; the TTL remains the detector only for
        # a killed driver (r16, verdict item 6)
        _release_leases_on_termination(spark, q, held, lease_owner,
                                       hb_t, hb_s)
        return q
    hb_thread = hb_stop = None
    try:
        q = writer.trigger(availableNow=True).start()
        # the heartbeat guards THIS form too (review r14): one epoch
        # over a large backlog can outlast the TTL, and the per-epoch
        # renew fires only at epoch START — a mid-epoch expiry would
        # let a competitor break the lease and sweep in-flight staging
        hb_thread, hb_stop = _start_lease_heartbeat(
            spark, q, held, lease_owner, ttl)
        q.awaitTermination()
    finally:
        # stop AND JOIN the heartbeat before releasing: a beat racing
        # the release could otherwise recreate `.writer-lease/hb`
        # after the delete, leaving owner-less debris that blocks the
        # next acquire until its TTL lapses (ADVICE r15)
        if hb_stop is not None:
            hb_stop.set()
            hb_thread.join(timeout=10.0)
        for store in held:
            release_writer_lease(spark, store, lease_owner)
    return None


def _start_lease_heartbeat(spark, q, held, lease_owner: str,
                           ttl: int):
    """Daemon thread renewing the drain's store leases while the
    query is ACTIVE — covers idle stretches (no epochs → no per-epoch
    renew) and epochs longer than the TTL. Transient renew failures
    are retried on the next beat (the owner still holds the lease; a
    one-off FS hiccup must not orphan it — review r14); only a
    confirmed TAKEOVER (`WriterLeaseHeld`) ends the thread, and the
    next epoch's renew then fails the stream loudly. The thread dies
    with the query, leaving the TTL as the kill detector. Returns
    (thread, stop_event) so the availableNow path can stop AND JOIN
    it before releasing — a beat racing the release would recreate
    owner-less `.writer-lease/hb` debris (ADVICE r15)."""
    import threading

    from ..sinks.lease import WriterLeaseHeld, renew_writer_lease

    stop = threading.Event()

    def _beat():
        while q.isActive and not stop.is_set():
            if stop.wait(max(ttl / 3000.0, 0.2)):
                return
            if not q.isActive:
                return
            try:
                for store in held:
                    renew_writer_lease(spark, store, lease_owner)
            except WriterLeaseHeld:
                return              # taken over: exclusivity is gone
            except Exception:       # noqa: BLE001 - transient FS error
                continue            # still the holder — retry next beat
    t = threading.Thread(target=_beat, daemon=True,
                         name="drain-lease-heartbeat")
    t.start()
    return t, stop


def _release_leases_on_termination(spark, q, held, lease_owner: str,
                                   hb_thread, hb_stop):
    """Release the stores' leases the moment the query TERMINATES —
    clean `q.stop()` or crash — instead of parking them for up to a
    full TTL (r16, verdict item 6: a cleanly-stopped follow-stream's
    store must be immediately acquirable). A `StreamingQueryListener`
    keyed to this query's id fires once on termination: it stops AND
    JOINS the heartbeat first (a beat racing the release would
    recreate owner-less `.writer-lease/hb` debris — the ADVICE r15
    hazard the availableNow path already closes inline), releases
    each store, and deregisters itself. `release_writer_lease` is
    owner-checked and idempotent, so a lease already broken/taken
    while the query was dying is left alone. If the query terminated
    BEFORE the listener registered (a lost race on a very short
    life), the post-registration isActive check fires the same path
    inline — the TTL stays as the last-resort detector only for a
    killed DRIVER, which no listener survives anyway."""
    import threading

    from pyspark.sql.streaming import StreamingQueryListener

    from ..sinks.lease import release_writer_lease

    qid = str(q.id)
    fired = threading.Event()

    def _release():
        if fired.is_set():
            return
        fired.set()
        hb_stop.set()
        hb_thread.join(timeout=10.0)
        for store in held:
            try:
                release_writer_lease(spark, store, lease_owner)
            except Exception:   # noqa: BLE001 - best-effort: TTL backs up
                pass

    class _ReleaseOnStop(StreamingQueryListener):
        def onQueryStarted(self, event):    # noqa: D102
            pass

        def onQueryProgress(self, event):   # noqa: D102
            pass

        def onQueryIdle(self, event):       # noqa: D102
            pass

        def onQueryTerminated(self, event):  # noqa: D102
            if str(event.id) != qid:
                return
            try:
                _release()
            finally:
                try:
                    spark.streams.removeListener(self)
                except Exception:  # noqa: BLE001 - bus already down
                    pass

    listener = _ReleaseOnStop()
    spark.streams.addListener(listener)
    if not q.isActive:                  # terminated before we registered
        _release()
        try:
            spark.streams.removeListener(listener)
        except Exception:  # noqa: BLE001
            pass
    return listener
