"""Change-data-feed reads for the keyed table, served from the LSM
delta files themselves — O(changes), never O(table).

The reference's pipeline is write-only: downstream consumers that
want "what changed" must re-diff whole snapshots (cf
/root/reference/src/func/mongo.py — the upsert result counts are the
only change signal it emits). The engine already has that after-the-
fact form (`operators/diff.py::diff_snapshots`, one full-outer join —
O(both snapshots)). This module adds the cheap form a 100 TB table
needs: the LSM arrival path (`append_delta` / `append_delete_delta`)
already materializes every change as a numbered, committed,
key-normalized delta directory — `delta_{v:05d}` IS the change log.
Serving CDC from those files costs O(requested change bytes) and
zero shuffle: this is Delta Lake's Change Data Feed posture, where
the transaction log's actions double as the feed.

Availability contract: delta files live until their fold's watermark
passes them AND one more commit lands (`_gc_folded_deltas`), or until
an age-based `vacuum`. A consumer that polls within that window never
misses a change; one that falls behind gets `ChangeHistoryUnavailable`
naming the reclaimed versions — and can rebuild from a snapshot diff
(`diff_snapshots` over retained versions), the standard CDC recovery.
Changes made by full `upsert_into_keyed_table` rounds rewrite the
base WITHOUT a delta file, so they are invisible to this feed — the
arrival architecture that wants a feed writes through the LSM path
(the CLI's `upsert --lsm` / `delete --tombstone`), which is also the
only path that scales per-arrival cost at 100 TB.

Emission order: strictly by delta version. A delta directory is
committed once it exists (its one exclusive rename publishes the data
files and sidecars together), and an appender takes its number from a
fresh listing right before that rename, so version v+1 never appears
before v: a consumer reading the listed versions in order cannot skip
a change that lands later.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import fs as hfs
from .keyed_table import (_TOMBSTONE, Snapshot, _hits_base, _read_delta_dir,
                          snapshot)

#: system columns appended to every change row (Delta CDF analogs:
#: _commit_version / _change_type)
VERSION_COL = "_change_version"
OP_COL = "_change_op"
#: struct of the changed keys' payload AS OF just before their change
#: version (Delta CDF's update_preimage, carried as a column instead
#: of separate rows); NULL = the key did not exist (an insert)
PRE_COL = "_change_pre"


class ChangeHistoryUnavailable(RuntimeError):
    """The requested change window reaches versions whose delta files
    were already reclaimed (folded + GC'd or vacuumed). Recover by
    snapshot-diffing retained versions (`operators/diff.py`) and
    resuming the feed from the current watermark."""


def read_table_changes(spark: SparkSession, path: str, *,
                       after: int = 0,
                       until: int | None = None,
                       with_preimage: bool = False,
                       key: str | None = None) -> DataFrame:
    """Change rows of delta versions in (after, until] — each row the
    key-normalized upsert payload (op 'U') or tombstone (op 'D', all
    payload columns NULL) exactly as the arrival committed it, plus
    `_change_version` / `_change_op`. Reads ONLY the requested delta
    directories (one column-complete union; schema evolution across
    deltas surfaces as NULLs on the older rows, the same
    `mergeSchema` posture as the fold). `after=0` = everything still
    on disk; `until=None` = through the newest complete delta.

    `with_preimage=True` (requires `key`) adds `_change_pre`: a struct
    of the key's payload AS OF just before its change version — Delta
    CDF's update_preimage, the retraction half an incremental
    consumer (view maintenance, differential aggregation) needs. The
    pre-state of version v is base + committed deltas below v,
    computed ONLY for v's keys: base reads prune to the files whose
    zone span the keys hit (`_hits_base`), earlier-delta keys merge
    through the bounded fast-merge branch (`_merged_touched`) — cost
    O(changed keys + admissible files) per version, never O(table).
    NULL `_change_pre` = the key did not exist (an insert); a key
    deleted by an EARLIER served delta also pre-images as NULL.
    Pre-images need UNFOLDED deltas (a fold bakes them into the
    base), so a window reaching at or below the watermark raises —
    drain the feed before compacting, the same cadence contract the
    streaming form's GC note states.

    Raises `ChangeHistoryUnavailable` when the window reaches
    versions already reclaimed."""
    return _table_changes(snapshot(spark, path), after=after, until=until,
                          with_preimage=with_preimage, key=key)


def _table_changes(snap: Snapshot, *, after: int = 0,
                   until: int | None = None, with_preimage: bool = False,
                   key: str | None = None) -> DataFrame:
    """`read_table_changes` over one resolved snapshot: its base, its
    watermark and its delta listing."""
    if with_preimage and not key:
        raise ValueError("with_preimage needs the merge key")
    spark, path = snap.spark, snap.path
    version_now, floor = snap.version, snap.floor
    versions = _feed_window(snap, after, until)
    if with_preimage and versions and versions[0] <= floor:
        raise ChangeHistoryUnavailable(
            f"pre-images need unfolded deltas, but version "
            f"{versions[0]} is at or below the folded-through "
            f"watermark {floor} of {path} — its pre-state is baked "
            f"into the base; drain the feed before compacting")
    if not versions:
        if not version_now:
            raise ValueError(f"no keyed table at {path}")
        base = snap.base.read()
        empty = spark.createDataFrame([], base.schema)
        out = (empty
               .withColumn(VERSION_COL, F.lit(None).cast("int"))
               .withColumn(OP_COL, F.lit(None).cast("string")))
        if with_preimage:
            pcols = [c for c in base.columns if c != key]
            out = out.withColumn(PRE_COL, F.lit(None).cast(
                "struct<" + ",".join(
                    f"{c}:{dict(base.dtypes)[c]}" for c in pcols) + ">"))
        return out
    deltas = {v: _read_delta_dir(spark, path, v) for v in versions}
    if version_now:
        base = snap.base.read()
    else:                                # deltas-only table
        base = spark.createDataFrame([], deltas[versions[0]].schema)
    # the full payload schema (base + every served delta): a window
    # holding only tombstones must still emit the table's payload
    # columns as NULLs, and schema-evolved windows stay column-complete
    ptypes: dict[str, str] = {c: t for c, t in base.dtypes
                              if c != _TOMBSTONE}
    for d in deltas.values():
        for c, t in d.dtypes:
            if c not in ptypes and c != _TOMBSTONE:
                ptypes[c] = t
    if with_preimage:
        return _with_preimage_one_pass(snap, key, versions, deltas, base,
                                       ptypes)
    parts = [deltas[v].withColumn(VERSION_COL, F.lit(v))
             for v in versions]
    allv = reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True), parts)
    for c, t in ptypes.items():
        if c not in allv.columns:
            allv = allv.withColumn(c, F.lit(None).cast(t))
    if _TOMBSTONE in allv.columns:
        op = F.when(F.col(_TOMBSTONE), F.lit("D")).otherwise(F.lit("U"))
        allv = allv.withColumn(OP_COL, op).drop(_TOMBSTONE)
    else:
        allv = allv.withColumn(OP_COL, F.lit("U"))
    tail = [VERSION_COL, OP_COL]
    cols = [c for c in allv.columns if c not in tail]
    return allv.select(*cols, *tail)


def _feed_window(snap: Snapshot, after: int = 0,
                 until: int | None = None) -> list[int]:
    """The delta versions a feed read of (after, until] serves: the
    snapshot's listed deltas in that window. Raises
    `ChangeHistoryUnavailable` when the window reaches versions at or
    below the floor that were already reclaimed."""
    top = snap.floor if until is None else min(until, snap.floor)
    have = set(snap.listed)
    missing = [v for v in range(after + 1, top + 1) if v not in have]
    if missing:
        raise ChangeHistoryUnavailable(
            f"delta versions {missing} of {snap.path} were already "
            f"reclaimed (folded through {snap.floor}); snapshot-diff the "
            f"retained versions and resume the feed above "
            f"{max(missing)}")
    return [v for v in snap.listed
            if v > after and (until is None or v <= until)]


def _with_preimage_one_pass(snap: Snapshot, key: str, versions: list[int],
                            deltas: dict, base: DataFrame,
                            ptypes: dict) -> DataFrame:
    """Pre-image enrichment as ONE window pass (r16 optimization).

    The r15 form computed each version's pre-state with its own chain
    of broadcast joins (`_hits_base` ⋈ that version's keys, plus a
    `_merged_touched` over EVERY earlier delta, re-built per version)
    — a window of V versions re-read the earlier deltas O(V²) times
    and paid ~2 broadcast builds per version. (An r14 variant that
    batched the per-version BASE reads but kept per-version merge
    joins measured slower and was reverted; this form removes the
    per-version joins themselves.) Here, base hits (still zone-map
    pruned to the window keys' admissible files, still an exact
    broadcast semi join — the scale posture is unchanged) and every
    committed delta ≤ the window end land in ONE union tagged `__v`,
    and each change row's pre-image falls out of window functions
    over the merge key: per column, the latest preceding non-null
    value (`max(struct(__v, col)) OVER (ROWS UNBOUNDED PRECEDING TO 1
    PRECEDING)`), gated on the newest preceding tombstone version —
    the same clean-slate cut `_apply_tombstones` applies at merge
    time. Cost: one O(touched keys + change rows) shuffle and one
    base-hits scan TOTAL, instead of per-version join chains —
    measured ~3× faster feed materialization at sf0.1 (3-version
    window) with strictly fewer delta reads at any scale. Semantics
    pinned equal to the per-version join form by
    tests/test_table_changes.py::test_preimage_one_pass_matches_
    per_version_merge."""
    from pyspark.sql.window import Window

    # The enriched form's payload surface must span base + every
    # committed delta UP TO the window — not just the window deltas:
    # a column that arrived via an EARLIER unfolded delta (schema
    # evolution on the LSM path) is part of every key's pre-state,
    # and a consumer grouping by it (a second view over the same
    # feed) coalesces post with pre on it. Deltas ABOVE the window
    # stay excluded: a bounded (after, until] read must not leak a
    # column the requested versions never had, and its schema must
    # not change when later deltas land (review r14; found by
    # test_two_views_one_table_independent_offsets).
    hist = [e for e in snap.deltas if e <= versions[-1]]
    hist_dfs = dict(deltas)
    for e in hist:
        if e not in hist_dfs:
            hist_dfs[e] = _read_delta_dir(snap.spark, snap.path, e)
            for c, t in hist_dfs[e].dtypes:
                if c not in ptypes and c != _TOMBSTONE:
                    ptypes[c] = t
    pcols: list[str] = [c for c in ptypes if c != key]
    # the base contributes pre-state only for keys the WINDOW deltas
    # touch: zone-pruned file set (bounded by the deltas' recorded
    # key-range sidecars), then an exact broadcast semi join — the
    # base is never shuffled and never read beyond admissible files.
    # A semi join needs no distinct key set
    win_keys = None
    for v in versions:
        kdf = deltas[v].select(key).filter(F.col(key).isNotNull())
        win_keys = kdf if win_keys is None else win_keys.unionByName(kdf)
    hits = _hits_base(snap, key, base, versions)
    parts = [deltas[v].withColumn("__v", F.lit(v)) for v in versions]
    parts += [hist_dfs[e].withColumn("__v", F.lit(e))
              for e in hist if e not in deltas]
    parts.append(hits.join(F.broadcast(win_keys), key, "left_semi")
                 .withColumn("__v", F.lit(0)))
    u = reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True), parts)
    for c, t in ptypes.items():
        if c not in u.columns:
            u = u.withColumn(c, F.lit(None).cast(t))
    if _TOMBSTONE not in u.columns:
        u = u.withColumn(_TOMBSTONE, F.lit(None).cast("boolean"))
    w_prec = (Window.partitionBy(key).orderBy("__v")
              .rowsBetween(Window.unboundedPreceding, -1))
    # clean-slate cut: values at or below the newest PRECEDING
    # tombstone version never surface in a pre-image (a key deleted
    # then re-inserted starts fresh — the `_apply_tombstones` rule)
    live_floor = F.coalesce(
        F.max(F.when(F.col(_TOMBSTONE), F.col("__v"))).over(w_prec),
        F.lit(-1))
    # the key existed just before this version iff some preceding row
    # sits above the tombstone cut. (key, __v) pairs are unique —
    # every delta is latest-per-key deduped and the base holds one
    # row per key — so max(struct(__v, col)) is "latest non-null".
    exists = (F.coalesce(F.max(F.col("__v")).over(w_prec), F.lit(-1))
              > live_floor)
    pre_fields = []
    for c in pcols:
        latest = F.max(F.when(F.col(c).isNotNull(),
                              F.struct(F.col("__v").alias("v"),
                                       F.col(c).alias("x")))
                       ).over(w_prec)
        pre_fields.append(
            F.when(latest["v"] > live_floor, latest["x"]).alias(c))
    pre = F.when(F.col(key).isNotNull() & exists, F.struct(*pre_fields))
    allv = (u.withColumn(PRE_COL, pre)
            .filter(F.col("__v").isin([int(v) for v in versions]))
            .withColumn(VERSION_COL, F.col("__v").cast("int"))
            .drop("__v"))
    op = F.when(F.coalesce(F.col(_TOMBSTONE), F.lit(False)),
                F.lit("D")).otherwise(F.lit("U"))
    allv = allv.withColumn(OP_COL, op).drop(_TOMBSTONE)
    tail = [VERSION_COL, OP_COL, PRE_COL]
    cols = [c for c in allv.columns if c not in tail]
    return allv.select(*cols, *tail)


def register_sql_changes(spark: SparkSession, path: str, name: str, *,
                         after: int = 0, until: int | None = None,
                         with_preimage: bool = False,
                         key: str | None = None) -> None:
    """Expose the table's change feed to `spark.sql` as a temp view
    (r15, verdict item 7 — CDC consumers migrate with their
    dashboards, the same posture as `register_sql_view` for state):
    each row one committed change in (after, until] with
    `_change_version` / `_change_op` (and `_change_pre` under
    `with_preimage`, which needs `key`). The window resolves EAGERLY
    at registration — the delta-version list is pinned, so arrivals
    committed after registration are invisible until re-registered,
    and a BOUNDED (after, until] view keeps a stable schema no
    matter what an evolved later delta introduces (the r14
    bounded-window contract, now reachable from SQL). Registration
    costs the feed's normal metadata listing; queries plan through
    the same bounded union every Python feed consumer gets."""
    read_table_changes(spark, path, after=after, until=until,
                       with_preimage=with_preimage, key=key
                       ).createOrReplaceTempView(name)


def changes_schema(spark: SparkSession, path: str) -> T.StructType:
    """The unified schema a change STREAM must declare up front: the
    table's current columns plus the tombstone marker (streaming file
    sources cannot mergeSchema per batch). Payload columns absent
    from an individual delta file — tombstones, pre-evolution batches
    — read as NULL under this schema, matching the batch reader."""
    snap = snapshot(spark, path)
    if not snap.version:
        raise ValueError(f"no keyed table at {path}")
    fields = [T.StructField(f.name, f.dataType, True)
              for f in snap.base.schema.fields
              if f.name != _TOMBSTONE]
    fields.append(T.StructField(_TOMBSTONE, T.BooleanType(), True))
    return T.StructType(fields)


def stream_table_changes(spark: SparkSession, path: str,
                         schema: T.StructType | None = None,
                         max_files_per_trigger: int | None = None
                         ) -> DataFrame:
    """The feed as a Structured Streaming source: a file stream over
    `delta_*` directories. A delta directory is complete once it
    exists — its data files and `_KEYRANGE` sidecar appear together
    with the one exclusive rename that commits it, so the source's
    listing never sees part of a delta, and the `.stage-*` dirs the
    rename comes from never match `delta_*`; `_`-prefixed sidecars are
    invisible to the parquet reader. Each
    micro-batch carries whatever new delta files landed, tagged with
    `_change_version` parsed from the file path and `_change_op` from
    the tombstone marker — the downstream half of the arrival loop: a
    consumer keeps a materialized view, search index, or cache in
    step with the table without ever rescanning the base.

    GC discipline: the checkpoint remembers PROCESSED files, so
    folding + reclaiming deltas the stream already drained is safe;
    a stream stopped for longer than the retention window loses the
    reclaimed versions (restart it after a snapshot rebuild — same
    contract as the batch reader). At 100 TB the source lists O(delta
    dirs) per trigger; fold cadence bounds that listing exactly as it
    bounds the merge-on-read tail."""
    if schema is None:
        schema = changes_schema(spark, path)
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger",
                               max_files_per_trigger)
    raw = reader.parquet(hfs.join(path, "delta_*"))
    version = F.regexp_extract(F.col("_metadata.file_path"),
                               r"delta_(\d{5})/", 1).cast("int")
    op = (F.when(F.col(_TOMBSTONE), F.lit("D")).otherwise(F.lit("U"))
          if _TOMBSTONE in raw.columns else F.lit("U"))
    out = (raw.withColumn(VERSION_COL, version)
              .withColumn(OP_COL, op))
    if _TOMBSTONE in out.columns:
        out = out.drop(_TOMBSTONE)
    cols = [c for c in out.columns if c not in (VERSION_COL, OP_COL)]
    return out.select(*cols, VERSION_COL, OP_COL)
