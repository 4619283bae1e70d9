"""CLI mirroring the reference's two entry points
(/root/reference/src/cli/mongo_update.py, generate_data.py) plus a
catalog-query runner.

    python -m howto_mongo_bulk_update_from_parquet_spark.cli generate --path /tmp/data --n-rows 10000
    python -m howto_mongo_bulk_update_from_parquet_spark.cli upsert --path /tmp/data --table /tmp/keyed --key _id
    python -m howto_mongo_bulk_update_from_parquet_spark.cli upsert --path /tmp/data --mongo-uri mongodb://... \
        --database db --collection coll --key _id
    python -m howto_mongo_bulk_update_from_parquet_spark.cli reconcile --path /tmp/data --table /tmp/keyed
    python -m howto_mongo_bulk_update_from_parquet_spark.cli delete --table /tmp/keyed --keys id-1,id-2 [--tombstone]
    python -m howto_mongo_bulk_update_from_parquet_spark.cli upsert --path /tmp/more --table /tmp/keyed --lsm
    python -m howto_mongo_bulk_update_from_parquet_spark.cli compact --table /tmp/keyed
    python -m howto_mongo_bulk_update_from_parquet_spark.cli query --name q1_pricing_summary --sf-dir /root/testdata/sf0.001

Reusable scale-safe operators are user-reachable on ANY parquet (not
just catalog tables) via `topk` and `percentile` — the window-free
grouped top-k and the bracket-refined exact grouped percentiles:

    python -m howto_mongo_bulk_update_from_parquet_spark.cli topk --path /root/testdata/sf0.001/orders.parquet \
        --group o_orderpriority --order o_totalprice --k 3 --tie o_orderkey
    python -m howto_mongo_bulk_update_from_parquet_spark.cli percentile --path /root/testdata/sf0.001/orders.parquet \
        --group o_orderpriority --value o_totalprice --probs 0.5,0.9

The LLM-pipeline surfaces are CLI verbs too (r10 verdict #2/#3):
cross-batch dedup arrivals against a persisted index, and the full
curation build with a corpus-card manifest:

    python -m howto_mongo_bulk_update_from_parquet_spark.cli dedup-incremental --mode near \
        --index /tables/sig_index --source /landing/batch_0042 \
        --out /verdicts/batch_0042 --update-index --buckets 32
    python -m howto_mongo_bulk_update_from_parquet_spark.cli curate --source /raw/docs \
        --out /corpora/v3 --min-tokens 20 --splits 80,10,10
    python -m howto_mongo_bulk_update_from_parquet_spark.cli vacuum --table /tables/keyed \
        --older-than-hours 24

The reference's --batch-size / --concurrent-tasks knobs become
--n-partitions (write parallelism = partitions × executor slots).
"""

from __future__ import annotations

import argparse
import sys

from .schemas import PIPELINE_KEY, PIPELINE_PAYLOAD, PIPELINE_SCHEMA
from .session import get_spark


def cmd_generate(args: argparse.Namespace) -> int:
    from .sources.generate import generate_pipeline_data
    from .sources.parquet import write_parquet
    spark = get_spark("generate")
    df = generate_pipeline_data(spark, args.n_rows, seed=args.seed,
                                null_fraction=args.null_fraction)
    write_parquet(df, args.path, n_files=args.n_files)
    print(f"wrote {args.n_rows} rows to {args.path} in {args.n_files} files")
    return 0


def cmd_upsert(args: argparse.Namespace) -> int:
    from .config import load_config
    cfg = load_config(config_file=args.config,
                      mongo_uri=args.mongo_uri, database=args.database,
                      collection=args.collection, key=args.key,
                      n_partitions=args.n_partitions)
    if not (args.table or cfg.mongo_uri):
        print("upsert requires --table or a Mongo URI (flag, env, or "
              "config file)", file=sys.stderr)
        return 2
    if args.table and args.mongo_uri:
        print("ambiguous sink: both --table and --mongo-uri given — "
              "pick one", file=sys.stderr)
        return 2
    # Sink precedence: an EXPLICIT flag always beats ambient config — a
    # Mongo URI resolved from $MONGO_CONNECTION_STRING or a config file
    # must not silently redirect writes when the user typed --table.
    use_mongo = bool(args.mongo_uri) or (bool(cfg.mongo_uri)
                                         and not args.table)
    if args.buckets and args.range_files:
        print("--buckets and --range-files are alternative base "
              "layouts (hash vs range) — choose one per table",
              file=sys.stderr)
        return 2
    if args.buckets and args.target_file_mb:
        print("--target-file-mb sizes the RANGE layout's files — it "
              "contradicts --buckets (hash layout); choose one per "
              "table", file=sys.stderr)
        return 2
    if args.schema_mode and (use_mongo or args.lsm):
        print("--schema-mode is recorded in the keyed-table manifest "
              "(appends ENFORCE the inherited mode automatically); "
              "set it on a plain `upsert --table` round",
              file=sys.stderr)
        return 2
    if args.check and (use_mongo or args.lsm):
        print("--check records a constraint in the keyed-table "
              "manifest (appends ENFORCE inherited constraints "
              "automatically); set it on a plain `upsert --table` "
              "round", file=sys.stderr)
        return 2
    if args.check and any("=" not in c for c in args.check):
        # a raw dict(split('=')) ValueError traceback is not a usage
        # message (ADVICE r13)
        bad = next(c for c in args.check if "=" not in c)
        print(f"--check takes NAME=EXPR (use NAME= to drop one); "
              f"got {bad!r}", file=sys.stderr)
        return 2
    if args.bloom_cols and args.buckets:
        print("--bloom-cols indexes a RANGE base's files — a "
              "hash-bucketed base has no file-skipping scan to serve",
              file=sys.stderr)
        return 2
    if args.zorder_col and args.buckets:
        print("--zorder-col clusters a RANGE base (pair it with "
              "--range-files, or a table already range-laid-out) — "
              "a hash-bucketed base has no zone map to serve it",
              file=sys.stderr)
        return 2
    if ((args.buckets is not None or args.range_files is not None
            or args.zorder_col is not None
            or args.target_file_mb is not None
            or args.bloom_cols is not None)
            and (use_mongo or args.lsm)):
        # silently ignoring the flag would leave the user believing the
        # table is laid out while every round keeps paying the cost the
        # flag exists to eliminate
        print("--buckets/--range-files/--zorder-col/--target-file-mb "
              "only apply to the versioned keyed-table base (not --lsm "
              "delta appends or the Mongo sink); run a plain `upsert "
              "--table ...` round (or `compact`) to lay out the base",
              file=sys.stderr)
        return 2
    spark = get_spark("upsert")
    src = spark.read.schema(PIPELINE_SCHEMA).parquet(args.path)
    if cfg.n_partitions:
        src = src.repartition(cfg.n_partitions)
    if use_mongo:
        from .sinks.mongo import write_mongo_upserts
        result = write_mongo_upserts(src, uri=cfg.mongo_uri,
                                     database=cfg.database,
                                     collection=cfg.collection, key=cfg.key,
                                     n_partitions=cfg.n_partitions,
                                     permissive=args.permissive)
        print(f"upserted into mongodb {cfg.database}.{cfg.collection} "
              f"(failed_partitions={result['n_failed_partitions']})")
    elif args.lsm:
        from .sinks.keyed_table import append_delta
        v = append_delta(spark, src, path=args.table, key=cfg.key)
        print(f"keyed table {args.table}: appended delta_{v:05d} "
              f"(merge-on-read; run `compact` on a schedule)")
    else:
        from .observability import StructuredLog
        from .sinks.keyed_table import upsert_into_keyed_table
        log = StructuredLog()
        with log.timed("upsert_complete", table=args.table,
                       source=args.path) as rec:
            out, counts = upsert_into_keyed_table(spark, src, path=args.table,
                                                  key=cfg.key,
                                                  n_files=cfg.n_partitions,
                                                  return_counts=True,
                                                  buckets=args.buckets,
                                                  range_files=args.range_files,
                                                  zorder_col=args.zorder_col,
                                                  bloom_cols=(
                                                      [c for c in
                                                       args.bloom_cols
                                                       .split(",") if c]
                                                      if args.bloom_cols
                                                      is not None else None),
                                                  checks=(
                                                      dict(c.split("=", 1)
                                                           for c in
                                                           args.check)
                                                      if args.check
                                                      else None),
                                                  schema_mode=(
                                                      args.schema_mode),
                                                  target_file_bytes=(
                                                      args.target_file_mb
                                                      * 1024 * 1024
                                                      if args.target_file_mb
                                                      is not None else None))
            # every post-merge row is exactly one of matched / upserted /
            # untouched, so the total comes free from the merge's own
            # Observation — no second scan of the written table
            rec.update(counts)
            rec["rows"] = (counts["n_matched"] + counts["n_upserted"]
                           + counts["n_untouched"])
        print(f"keyed table {args.table}: {rec['rows']} rows "
              f"(matched={counts['n_matched']} upserted={counts['n_upserted']} "
              f"untouched={counts['n_untouched']})")
    return 0


def cmd_reconcile(args: argparse.Namespace) -> int:
    """Verify the keyed-table sink holds exactly the source snapshot —
    the validation step the reference pipeline never runs after its
    bulk writes. The source goes through the SAME normalization as the
    upsert path (`prepare_source`: null-key drop + latest-per-key), so
    a clean full-snapshot load reconciles clean; null-skip partial
    updates are out of scope (a null payload intentionally preserves
    the sink's older value) and are reported as diffs.

    Exit codes: 0 = clean, 1 = mismatched groups found, 2 = usage.
    """
    from .observability import StructuredLog
    from .operators.merge import prepare_source
    from .operators.reconcile import checksum_diff
    from .sinks.keyed_table import read_keyed_table
    spark = get_spark("reconcile")
    src = prepare_source(
        spark.read.schema(PIPELINE_SCHEMA).parquet(args.path), args.key)
    sink = read_keyed_table(spark, args.table)
    from pyspark.sql import functions as F
    bucket = F.pmod(F.crc32(F.col(args.key).cast("string")),
                    F.lit(args.n_buckets)).alias("bucket")
    diffs = checksum_diff(src.withColumn("bucket", bucket),
                          sink.withColumn("bucket", bucket),
                          ["bucket"], cols=src.columns).collect()
    log = StructuredLog()
    log.event("reconcile_complete", source=args.path, table=args.table,
              n_buckets=args.n_buckets, n_mismatched=len(diffs))
    if not diffs:
        print(f"reconcile clean: {args.table} matches {args.path} "
              f"across {args.n_buckets} buckets")
        return 0
    for r in diffs[:20]:
        print(f"bucket {r.bucket}: source(n={r.left_n_rows}) "
              f"sink(n={r.right_n_rows})", file=sys.stderr)
    print(f"reconcile FAILED: {len(diffs)}/{args.n_buckets} buckets "
          f"mismatched", file=sys.stderr)
    return 1


def cmd_audit(args: argparse.Namespace) -> int:
    """Declarative data-quality gate over any parquet table: the
    constraint flags compile to one aggregation pass (+ one broadcast
    anti-join per --fk) via operators/constraints.py — the check a
    load pipeline runs between landing and publish.

    Exit codes: 0 = all constraints pass, 1 = violations, 2 = usage.
    """
    from .observability import StructuredLog
    from .operators import constraints as C
    spark = get_spark("audit")
    df = spark.read.parquet(args.path)
    spec: list[C.Constraint] = []
    for col in args.not_null or []:
        spec.append(C.not_null(col))
    for col in args.unique or []:
        spec.append(C.unique(*col.split(",")))
    for s in args.accepted or []:
        col, vals = s.split("=", 1)
        spec.append(C.accepted_values(col, vals.split(",")))
    for s in args.range or []:
        col, bounds = s.split("=", 1)
        lo, hi = (float(x) for x in bounds.split(",", 1))
        spec.append(C.in_range(col, lo, hi))
    for s in args.fk or []:
        col, ref = s.split("=", 1)
        dim_path, dim_col = ref.rsplit(":", 1)
        spec.append(C.foreign_key(col, spark.read.parquet(dim_path),
                                  dim_col))
    if not spec:
        print("no constraints given", file=sys.stderr)
        return 2
    rows = C.audit(df, spec).collect()
    log = StructuredLog()
    failed = [r for r in rows if not r.passed]
    for r in rows:
        status = "PASS" if r.passed else f"FAIL ({r.n_violations})"
        print(f"{r['constraint']:40s} {status}")
    log.event("audit_complete", path=args.path, n_constraints=len(rows),
              n_failed=len(failed))
    return 1 if failed else 0


def cmd_query(args: argparse.Namespace) -> int:
    from .observability import StructuredLog, run_query_logged
    from .plans import all_queries
    if args.list:
        from .plans.catalog import CATALOG
        all_queries()
        for q in CATALOG.values():
            kind = "oracle" if q.oracle else "rows-only"
            print(f"{q.name:32s} [{kind}] {q.doc}")
        return 0
    qs = all_queries()
    if args.name not in qs:
        print(f"unknown query {args.name!r}; available: {', '.join(sorted(qs))}",
              file=sys.stderr)
        return 2
    spark = get_spark("query")
    # structured query_complete record (name/rows/duration) on stdout —
    # the reference's per-slice timing events, per-query here
    df = run_query_logged(spark, args.name, qs[args.name], args.sf_dir,
                          log=StructuredLog())
    if args.cache_dir:
        from .operators.result_cache import cached
        df, hit = cached(df, args.cache_dir, spark)
        print(f"result cache: {'HIT' if hit else 'MISS'} ({args.cache_dir})")
    if args.explain:
        df.explain("formatted")
    df.show(args.limit, truncate=False)
    return 0


def cmd_sql(args: argparse.Namespace) -> int:
    """Arbitrary SQL text over registered keyed tables and parquet
    directories (r14) — the `register_sql_view` surface as a CLI
    verb: a dashboard keeps its SQL and swaps only the registration
    flags. `--keyed NAME=PATH:KEY` registers a keyed table's merged
    state (snapshot-consistent: resolved once at registration);
    `--view NAME=DIR` a plain parquet directory; `--keyed-root
    DIR[:PREFIX]` registers every keyed table under DIR (r15). The
    result shows (default) or lands as parquet with --out. A write
    statement (MERGE INTO r15; UPDATE / DELETE FROM / INSERT INTO /
    TRUNCATE / COPY INTO / OPTIMIZE / VACUUM r16) routes through the
    write path (`sinks/sql_merge`) against the same
    registrations."""
    from .sinks.keyed_table import register_sql_catalog, register_sql_view
    spark = get_spark("sql")
    keyed_reg: dict[str, tuple[str, str]] = {}
    if args.changes_prefix and not args.keyed_root:
        print("--changes-prefix registers change feeds for a "
              "--keyed-root sweep; pass --keyed-root (single tables: "
              "the changes verb)", file=sys.stderr)
        return 2
    if args.keyed_root:
        # the PREFIX suffix sits after the LAST colon; a URI scheme's
        # colon (s3a://...) never qualifies because its remainder
        # carries '/' (same parse discipline as --keyed)
        root, _, kprefix = args.keyed_root.rpartition(":")
        if not root or "/" in kprefix:
            root, kprefix = args.keyed_root, ""
        try:
            reg = register_sql_catalog(
                spark, root, prefix=kprefix,
                changes_prefix=args.changes_prefix)
        except Exception as exc:  # noqa: BLE001 - surface as usage
            print(f"cannot register catalog at {root!r}: {exc}",
                  file=sys.stderr)
            return 2
        if not reg:
            print(f"no keyed tables with recorded merge keys under "
                  f"{root!r} (pre-r15 tables record one on their "
                  f"next upsert/compact)", file=sys.stderr)
            return 2
        keyed_reg.update(reg)
    for spec in args.keyed or []:
        # the ':KEY' suffix must be found AFTER any URI scheme colon:
        # NAME=s3a://bucket/tbl (missing :KEY) would otherwise satisfy
        # the ':' check and rsplit into path 's3a', key '//bucket/tbl'
        # (ADVICE r15) — a parsed key containing '/' is never a column
        name, _, rest = spec.partition("=")
        path, _, key = rest.rpartition(":")
        if not name or not path or not key or "/" in key:
            print(f"--keyed takes NAME=PATH:KEY (KEY may carry a "
                  f"@N time-travel suffix), got {spec!r}",
                  file=sys.stderr)
            return 2
        version = None
        if "@" in key:                     # NAME=PATH:KEY@N time travel
            key, v = key.split("@", 1)
            try:
                version = int(v)
            except ValueError:
                print(f"--keyed version suffix must be an integer, "
                      f"got {v!r} in {spec!r}", file=sys.stderr)
                return 2
        try:
            register_sql_view(spark, path, key, name, version=version)
        except FileNotFoundError as exc:
            print(f"cannot register {name!r}: {exc}", file=sys.stderr)
            return 2
        if version is None:          # MERGE targets the live head only
            keyed_reg[name] = (path, key)
    for spec in args.view or []:
        if "=" not in spec:
            print(f"--view takes NAME=DIR, got {spec!r}",
                  file=sys.stderr)
            return 2
        name, d = spec.split("=", 1)
        try:
            spark.read.parquet(d).createOrReplaceTempView(name)
        except Exception as exc:  # noqa: BLE001 - surface as usage
            print(f"cannot register {name!r}: {exc}", file=sys.stderr)
            return 2
    from .sinks.sql_merge import (MergeSyntaxError, sql_write,
                                  write_statement_kind)
    if write_statement_kind(args.text):
        # write path (r15; UPDATE/DELETE r16): the SAME --keyed
        # registration that powers reads powers the write statements —
        # a dashboard migrates its upsert SQL by swapping only the
        # registration flags. The dispatch is word-boundary-safe and
        # sees through leading -- comments (ADVICE r15: the old
        # text[:5] == 'MERGE' prefix test was neither).
        import json as _json
        if args.out or args.explain:
            # silently ignoring them would misreport what happened:
            # a write statement returns a result JSON, not a frame
            print("--out/--explain apply to read statements only "
                  "(a write statement prints its result counts as "
                  "JSON)", file=sys.stderr)
            return 2
        from .sinks.keyed_table import ConcurrentWriteError
        try:
            out = sql_write(spark, args.text, tables=keyed_reg)
        except (MergeSyntaxError, ConcurrentWriteError) as exc:
            # ConcurrentWriteError: a clean loss to a racing writer —
            # retryable, reported as a usage-style error, never a
            # traceback
            print(f"{write_statement_kind(args.text)} error: {exc}",
                  file=sys.stderr)
            return 2
        print(_json.dumps(out, sort_keys=True))
        return 0
    df = spark.sql(args.text)
    if args.explain:
        df.explain("formatted")
    if args.out:
        df.write.mode("errorifexists").parquet(args.out)
        print(f"wrote result to {args.out}")
    else:
        df.show(args.limit, truncate=False)
    return 0


def cmd_compact(args: argparse.Namespace) -> int:
    """Fold the LSM keyed table's base + deltas into one new versioned
    base (single write + atomic manifest flip) and drop the deltas —
    the scheduled half of the `upsert --lsm` / `delete --tombstone`
    write paths. Tombstoned keys are purged physically here.

    `--pruned` (range-layout tables, r12): surgical fold — rewrite
    only the base files whose zone-map key span the deltas touch and
    carry the rest by filesystem copy, so a small fold on a huge base
    costs O(touched files), not O(table). Incompatible with the
    re-layout flags (a re-layout is by definition a full rewrite)."""
    from .sinks.keyed_table import compact, compact_pruned
    spark = get_spark("compact")
    if args.buckets and args.target_file_mb:
        print("--target-file-mb sizes the RANGE layout's files — it "
              "contradicts --buckets (hash layout); choose one per "
              "table", file=sys.stderr)
        return 2
    if args.pruned:
        if (args.n_files or args.buckets or args.range_files
                or args.target_file_mb is not None
                or args.bloom_cols is not None):
            print("--pruned folds in place; re-layout flags "
                  "(--n-files/--buckets/--range-files/--target-file-mb) "
                  "need a full compact (an inherited byte target still "
                  "sizes the pruned rewrite)", file=sys.stderr)
            return 2
        out, stats = compact_pruned(spark, args.table, args.key,
                                    materialize=args.materialize)
        import json as _json
        print(_json.dumps({"rows": out.count(), **stats},
                          sort_keys=True))
        return 0
    out = compact(spark, args.table, args.key, n_files=args.n_files,
                  buckets=args.buckets, range_files=args.range_files,
                  zorder_col=args.zorder_col,
                  bloom_cols=([c for c in args.bloom_cols.split(",") if c]
                              if args.bloom_cols is not None else None),
                  target_file_bytes=(args.target_file_mb * 1024 * 1024
                                     if args.target_file_mb is not None
                                     else None))
    print(f"compacted {args.table}: {out.count()} rows")
    return 0


def cmd_table_info(args: argparse.Namespace) -> int:
    """One-look observability for a keyed table (r12): committed
    version, layout (hash/range/plain with its spec), folded-through
    watermark, pending deltas, retained history versions, base file
    count, and the zone-map summary when present — everything a user
    needs to decide between `compact`, `vacuum`, re-layout, or
    nothing, without reading the table."""
    import json as _json

    from .sinks import fs as hfs
    from .sinks import zonemap as zm
    from .sinks.keyed_table import snapshot

    spark = get_spark("table-info")
    snap = snapshot(spark, args.table)
    version, meta, floor = snap.version, snap.meta, snap.floor
    if not version:
        print(f"no versioned keyed table at {args.table}",
              file=sys.stderr)
        return 2
    base = snap.base.dir
    files = sorted(snap.base.file_map)
    deltas = list(snap.listed)
    if meta.get("buckets"):
        layout = (f"hash ({meta['buckets']} buckets on "
                  f"{meta.get('bucket_key')})")
    elif meta.get("range_files"):
        layout = (f"range ({meta['range_files']} files on "
                  f"{meta.get('range_key')}, zone map over "
                  f"{meta.get('zonemap_cols')})")
        if meta.get("zorder_col"):
            layout += f" z-ordered with {meta['zorder_col']}"
        if meta.get("target_file_bytes"):
            layout += (f", auto-sized at "
                       f"{meta['target_file_bytes']} bytes/file")
        if meta.get("bloom_cols"):
            layout += f", bloom-indexed on {meta['bloom_cols']}"
    else:
        layout = "plain"
    info = {
        "table": args.table,
        "version": version,
        "layout": layout,
        # the manifest-recorded merge key (r15): what
        # register_sql_catalog discovers tables by; absent on
        # pre-r15 tables until their next commit
        **({"merge_key": meta["merge_key"]}
           if meta.get("merge_key") else {}),
        "base_files": len(files),
        "base_files_carried": len(snap.base.refs),
        "retained_versions": list(snap.bases),
        "manifest_pointers": list(snap.pointers),
        "folded_through": floor,
        "deltas_on_disk": deltas,
        "deltas_pending": list(snap.deltas),
        "deltas_folded_awaiting_gc": [v for v in deltas if v <= floor],
        # claim debris: unpublished base dirs, and base/delta dirs
        # without _SUCCESS, which only a writer from before the staged
        # claims leaves (MIGRATION.md). Writers skip stale unpublished
        # bases after the grace window; a SINGLE owner (a restarting
        # stream) clears all of it via recover_dead_claims — this line
        # is how an operator sees there is anything to decide about
        "claim_debris": sorted(
            d for d in ([f"base_v{v:05d}" for v in snap.bases]
                        + [f"delta_{v:05d}" for v in snap.listed])
            if not hfs.exists(spark, hfs.join(args.table, d, "_SUCCESS"))
            or (d.startswith("base_v") and int(d[6:]) not in snap.pointers
                and int(d[6:]) != version)),
    }
    props = {k: v for k, v in meta.items() if k.startswith("user.")}
    if props:
        # user table properties (feed offset, recover count, caller
        # tags) — how an operator sees a maintained view's progress
        # and recovery cadence at a glance (r15)
        info["table_props"] = props
    from .sinks.lease import LEASE_DIR, _holder
    holder, ttl = _holder(spark, args.table)
    if holder is not None:
        # who owns the exclusive-writer lease and how fresh its
        # heartbeat looks — the thing that decides whether
        # claim_debris may be force-cleared. READ-ONLY on purpose: an
        # inspection command must not write probe files into a
        # production table (and must work on read-only mounts), so
        # the age is driver-clock based and labeled a HINT — the
        # authoritative skew-proof check runs inside acquire/recover
        # (review r14)
        import time as _time
        newest, _trunc = hfs.newest_mtime(
            spark, hfs.join(args.table, LEASE_DIR))
        age = (int(_time.time() * 1000) - newest
               if newest is not None else None)
        info["writer_lease"] = {
            "owner": holder, "ttl_ms": ttl, "hb_age_ms": age,
            "live_hint": (age is not None and age <= ttl)}
    zmap = zm.read_zone_map(spark, base)
    if zmap is not None:
        spans = {}
        for c in zmap["cols"]:
            mins = [e.get(f"min_{c}") for e in zmap["files"]]
            maxs = [e.get(f"max_{c}") for e in zmap["files"]]
            if all(v is not None for v in mins + maxs):
                spans[c] = {"min": min(mins), "max": max(maxs)}
        info["zonemap"] = {
            "files": len(zmap["files"]),
            "rows": sum(e["rows"] for e in zmap["files"]),
            "cols": zmap["cols"],
            "spans": spans,
        }
    print(_json.dumps(info, indent=1, sort_keys=True, default=str))
    return 0


def cmd_changes(args: argparse.Namespace) -> int:
    """Change-data-feed read (r13, `sinks/changes.py`): the keyed
    table's LSM delta files served back as versioned, op-typed change
    rows — the downstream half of the arrival loop. Batch form prints
    or writes the requested window; `--follow` runs the checkpointed
    streaming form (availableNow: drains whatever landed since the
    last run, exactly once per file)."""
    from .sinks.changes import (ChangeHistoryUnavailable,
                                read_table_changes, stream_table_changes)
    spark = get_spark("changes")
    if args.follow:
        if not (args.out and args.checkpoint):
            print("--follow needs --out and --checkpoint (a feed "
                  "without a durable sink and offset log re-reads "
                  "everything every run)", file=sys.stderr)
            return 2
        try:
            stream = stream_table_changes(spark, args.table)
        except ValueError as exc:
            # e.g. the table does not exist — a usage error, not a
            # traceback (ADVICE r13)
            print(f"cannot follow changes: {exc}", file=sys.stderr)
            return 2
        q = (stream
             .writeStream.format("parquet")
             .option("checkpointLocation", args.checkpoint)
             .option("path", args.out)
             .trigger(availableNow=True).start())
        q.awaitTermination()
        print(f"changes of {args.table} drained into {args.out} "
              f"(checkpoint {args.checkpoint})")
        return 0
    try:
        out = read_table_changes(spark, args.table, after=args.after,
                                 until=args.until)
    except ChangeHistoryUnavailable as exc:
        print(f"change history unavailable: {exc}", file=sys.stderr)
        return 2
    if args.out:
        out.write.mode("errorifexists").parquet(args.out)
        print(f"wrote changes of {args.table} (after={args.after}) "
              f"to {args.out}")
    else:
        out.show(args.limit, truncate=False)
    return 0


def cmd_maintain_view(args: argparse.Namespace) -> int:
    """Incremental materialized-view maintenance (r13,
    `sinks/views.py`): apply the source table's changes since the
    view's recorded offset to a grouped COUNT/SUM view — snapshot
    bootstrap on first run, differential increments after (pre-image
    retractions; decimal-exact). Run it on the drain-then-fold
    cadence: pre-images need unfolded deltas, so maintain BEFORE
    `compact` (the feed errors with guidance otherwise)."""
    from .sinks.changes import ChangeHistoryUnavailable
    from .sinks.views import maintain_grouped_view, stream_maintain_view
    spark = get_spark("maintain-view")
    import json as _json
    sc = [c for c in args.sum_col.split(",") if c]
    # any comma means LIST semantics (suffixed column names), so a
    # view bootstrapped with sum_col=['val'] stays maintainable
    # from the CLI as '--sum-col val,' (review r14)
    sum_col = sc if ("," in args.sum_col or len(sc) > 1) else sc[0]
    if args.follow:
        if not args.checkpoint:
            print("--follow needs --checkpoint (the stream's identity "
                  "across restarts)", file=sys.stderr)
            return 2
        q = stream_maintain_view(
            spark, table_path=args.table, key=args.key,
            view_path=args.view, group_col=args.group_col,
            sum_col=sum_col, checkpoint=args.checkpoint,
            track_minmax=args.minmax, auto_recover=args.auto_recover,
            processing_time=args.interval)
        if q is not None:                # continuous: run until killed
            q.awaitTermination()
        print(_json.dumps({"followed": True, "view": args.view},
                          sort_keys=True))
        return 0
    try:
        st = maintain_grouped_view(spark, table_path=args.table,
                                   key=args.key, view_path=args.view,
                                   group_col=args.group_col,
                                   sum_col=sum_col,
                                   track_minmax=args.minmax,
                                   auto_recover=args.auto_recover)
    except (ChangeHistoryUnavailable, ValueError) as exc:
        print(f"cannot maintain incrementally: {exc}", file=sys.stderr)
        return 2
    print(_json.dumps(st, sort_keys=True))
    return 0


def cmd_lookup(args: argparse.Namespace) -> int:
    """Point/range read of a keyed table through its data-skipping
    index (r12): the range layout's zone map or the hash layout's
    bucket placement prunes the base scan; pending deltas and
    tombstones merge on top. Reports how many base files the probe
    actually touched."""
    import datetime

    from pyspark.sql import types as T

    from .sinks.keyed_table import (lookup_join_keyed_table,
                                    lookup_keyed_table, table_key_dtype)

    n_forms = sum(x is not None for x in
                  (args.values, args.probes,
                   args.lo if args.lo is not None or args.hi is not None
                   else None))
    if args.values is None and args.probes is None \
            and args.lo is None and args.hi is None:
        print("lookup needs --values, --probes, or at least one of "
              "--lo/--hi", file=sys.stderr)
        return 2
    if n_forms > 1 or (args.probes and (args.lo or args.hi)):
        print("pass exactly one probe form: --values, --probes, or a "
              "--lo/--hi range", file=sys.stderr)
        return 2
    spark = get_spark("lookup")
    dt = table_key_dtype(spark, args.table, args.key)
    if dt is None:
        print(f"no keyed table at {args.table} (or no column "
              f"'{args.key}')", file=sys.stderr)
        return 2

    def conv(s: str):
        # probe values arrive as CLI strings; compare them in the
        # key's own type or the zone-map prune is apples-to-oranges
        if isinstance(dt, (T.ByteType, T.ShortType,
                           T.IntegerType, T.LongType)):
            return int(s)
        if isinstance(dt, (T.FloatType, T.DoubleType)):
            return float(s)
        if isinstance(dt, T.DateType):
            return datetime.date.fromisoformat(s)
        if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
            return datetime.datetime.fromisoformat(s)
        return s

    try:
        if args.probes is not None:
            # bulk form: a parquet of keys enriches from the merged
            # view without collecting the key set to the driver
            probes = spark.read.parquet(args.probes)
            out, stats = lookup_join_keyed_table(
                spark, args.table, args.key, probes, with_stats=True)
        else:
            kwargs = {}
            if args.values is not None:
                kwargs["values"] = [conv(v) for v in args.values.split(",")]
            if args.lo is not None:
                kwargs["lo"] = conv(args.lo)
            if args.hi is not None:
                kwargs["hi"] = conv(args.hi)
            out, stats = lookup_keyed_table(spark, args.table, args.key,
                                            with_stats=True, **kwargs)
        if args.out:
            out.write.mode(args.write_mode).parquet(args.out)
        else:
            out.show(args.limit, truncate=False)
    except (ValueError, FileNotFoundError) as exc:
        print(str(exc), file=sys.stderr)
        return 2
    print(f"lookup {args.table}: read {stats['files_read']}/"
          f"{stats['files_total']} base files + {stats['deltas']}/"
          f"{stats['deltas_total']} pending deltas")
    return 0


def _parse_where_specs(spark, table: str, specs) -> dict | int:
    """`col:lo:hi` specs (cmd_scan / cmd_delete --where) -> the
    scan_keyed_table `where` dict, values cast to each column's own
    dtype; returns an exit code int on user error."""
    import datetime

    from pyspark.sql import types as T

    from .sinks.keyed_table import table_key_dtype

    def conv(v: str, dt):
        if isinstance(dt, (T.ByteType, T.ShortType,
                           T.IntegerType, T.LongType)):
            return int(v)
        if isinstance(dt, (T.FloatType, T.DoubleType)):
            return float(v)
        if isinstance(dt, T.DateType):
            return datetime.date.fromisoformat(v)
        if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
            return datetime.datetime.fromisoformat(v)
        return v

    where = {}
    for spec in specs:
        col, sep, bounds = spec.partition(":")
        lo_s, sep2, hi_s = bounds.partition(":")
        if not sep or not sep2:
            print(f"--where wants col:lo:hi, got {spec!r}",
                  file=sys.stderr)
            return 2
        dt = table_key_dtype(spark, table, col)
        if dt is None:
            print(f"no keyed table at {table} (or no column "
                  f"{col!r})", file=sys.stderr)
            return 2
        where[col] = (conv(lo_s, dt) if lo_s else None,
                      conv(hi_s, dt) if hi_s else None)
    return where


def cmd_scan(args: argparse.Namespace) -> int:
    """Zone-map-accelerated range scan of a keyed table on any stats
    column (r12): `--where col:lo:hi` (repeatable, ANDed; leave lo or
    hi empty for an open bound). Values are compared in the column's
    own dtype. r13: tables WITH pending deltas are served by the
    delta-aware decomposition (pruned base minus delta keys, union
    the merged delta view) — no fold needed; only a table whose
    manifest records no merge key still refuses."""
    from .sinks.keyed_table import scan_keyed_table

    spark = get_spark("scan")
    where = _parse_where_specs(spark, args.table, args.where)
    if isinstance(where, int):
        return where
    try:
        out, stats = scan_keyed_table(spark, args.table, where=where,
                                      with_stats=True)
        if args.out:
            out.write.mode(args.write_mode).parquet(args.out)
        else:
            out.show(args.limit, truncate=False)
    except (ValueError, FileNotFoundError) as exc:
        print(str(exc), file=sys.stderr)
        return 2
    extra = (f" + {stats['deltas']} pending deltas merged"
             if stats.get("deltas") else "")
    print(f"scan {args.table}: read {stats['files_read']}/"
          f"{stats['files_total']} base files{extra}")
    return 0


def cmd_delete(args: argparse.Namespace) -> int:
    """Row deletes against the keyed table — the DELETE half of MERGE
    (the reference's upsert-only pipeline can never remove a
    document). `--tombstone` appends an LSM tombstone delta
    (O(deleted keys) write, purged at compaction); the default
    rewrites the base as a new version (atomic flip, time travel
    keeps history)."""
    from pyspark.sql import functions as F

    from .sinks.keyed_table import (append_delete_delta,
                                    delete_from_keyed_table,
                                    table_key_dtype)
    n_src = sum(bool(x) for x in (args.keys, args.keys_path,
                                  args.where))
    if n_src != 1:
        print("delete requires exactly one of --keys, --keys-path, "
              "--where", file=sys.stderr)
        return 2
    spark = get_spark("delete")
    if args.where:
        # predicate delete (retention/GDPR sweeps): derive the victim
        # keys through the data-skipping scan — zone map + bloom prune
        # the base, pending deltas merge in — then delete by key
        # through the chosen path. O(admissible files + delta bytes)
        # to find victims, never a full-table scan on a laid-out table.
        from .sinks.keyed_table import scan_keyed_table
        where = _parse_where_specs(spark, args.table, args.where)
        if isinstance(where, int):
            return where
        try:
            matched = scan_keyed_table(spark, args.table, where=where)
        except (ValueError, FileNotFoundError) as exc:
            print(str(exc), file=sys.stderr)
            return 2
        if args.key not in matched.columns:
            print(f"table rows carry no key column {args.key!r}",
                  file=sys.stderr)
            return 2
        keys = matched.select(args.key)
    elif args.keys_path:
        keys = spark.read.parquet(args.keys_path).select(args.key)
    else:
        vals = [(v,) for v in args.keys.split(",")]
        keys = (spark.createDataFrame(vals, f"{args.key} string")
                .select(F.col(args.key).cast(args.key_type)))
    # refuse a mistyped key batch before it lands: a string tombstone
    # on a long-keyed table would make every later read_merged fail at
    # type resolution until the delta is removed by hand (ADVICE r8)
    table_dtype = table_key_dtype(spark, args.table, args.key)
    if table_dtype is not None \
            and keys.schema[args.key].dataType != table_dtype:
        # --key-type only casts inline --keys values; a mistyped
        # --keys-path batch needs its parquet column fixed (ADVICE r9)
        hint = (f"fix the '{args.key}' column of {args.keys_path} (cast "
                f"it to {table_dtype.simpleString()} when writing the "
                f"key batch)" if args.keys_path
                else f"pass --key-type {table_dtype.simpleString()}")
        print(f"key type mismatch: table '{args.table}' keys '{args.key}' "
              f"as {table_dtype.simpleString()}, but the delete batch is "
              f"{keys.schema[args.key].dataType.simpleString()} — {hint}",
              file=sys.stderr)
        return 2
    if args.tombstone and args.pruned:
        print("--tombstone defers the physical delete (fold it later "
              "with compact --pruned); --pruned deletes now — pick one",
              file=sys.stderr)
        return 2
    if args.tombstone:
        v = append_delete_delta(spark, keys, path=args.table, key=args.key)
        print(f"tombstone delta_{v:05d} appended to {args.table}")
        return 0
    if args.pruned:
        # surgical delete on a range-layout table: tombstone the keys
        # (O(keys) append) and fold immediately through the pruned
        # compaction — only the files holding victims are rewritten,
        # the rest carry by reference. Two commits; time travel shows
        # the intermediate tombstoned state, same end state as the
        # full rewrite.
        import json as _json

        from .sinks.keyed_table import compact_pruned
        append_delete_delta(spark, keys, path=args.table, key=args.key)
        _, stats = compact_pruned(spark, args.table, args.key)
        print(_json.dumps({"deleted_via": "pruned fold", **stats},
                          sort_keys=True))
        return 0
    _, n = delete_from_keyed_table(spark, keys, path=args.table,
                                   key=args.key, return_counts=True)
    print(f"deleted {n} row(s) from {args.table}")
    return 0


def cmd_changefeed(args: argparse.Namespace) -> int:
    """Drain an op-typed parquet changefeed ('U' upserts / 'D' deletes
    in --op-col) into the LSM keyed table: one availableNow streaming
    run appends O(batch) upsert + tombstone deltas per micro-batch (no
    base rewrite — `compact` folds them on a schedule). Checkpointed:
    re-running after new files arrive processes only the new ones."""
    from .sinks.keyed_table import table_key_dtype
    from .streaming.upsert import stream_apply_changefeed
    spark = get_spark("changefeed")
    try:
        # mergeSchema: a feed whose LATER files add a column must not
        # lose it to single-footer inference (schema evolution mid-feed
        # is the normal case for a long-lived changefeed — r10 verdict
        # item 4); old files read the new column as NULL
        schema = (spark.read.option("mergeSchema", "true")
                  .parquet(args.source).schema)
    except Exception as exc:
        print(f"cannot read changefeed source {args.source}: {exc}",
              file=sys.stderr)
        return 2
    for col, what in ((args.key, "key"), (args.op_col, "op")):
        if col not in schema.names:
            print(f"changefeed source {args.source} has no {what} column "
                  f"'{col}' (columns: {', '.join(schema.names)})",
                  file=sys.stderr)
            return 2
    # same guard as `delete`: a mistyped key batch would poison every
    # later read_merged at the unionByName type-resolution step
    table_dtype = table_key_dtype(spark, args.table, args.key)
    if table_dtype is not None \
            and schema[args.key].dataType != table_dtype:
        print(f"key type mismatch: table '{args.table}' keys '{args.key}' "
              f"as {table_dtype.simpleString()}, but the changefeed "
              f"carries {schema[args.key].dataType.simpleString()} — fix "
              f"the feed's '{args.key}' column", file=sys.stderr)
        return 2
    stream_apply_changefeed(spark, args.source, schema=schema,
                            table_path=args.table, key=args.key,
                            op_col=args.op_col, checkpoint=args.checkpoint)
    print(f"changefeed {args.source} applied to {args.table}")
    if args.compact_pending:
        from .sinks.keyed_table import compact_pruned, snapshot
        pending = snapshot(spark, args.table).deltas
        if len(pending) >= args.compact_pending:
            _, stats = compact_pruned(spark, args.table, args.key)
            print(f"auto-fold: {len(pending)} pending deltas >= "
                  f"{args.compact_pending} threshold — "
                  + ("pruned fold rewrote "
                     f"{stats['files_rewritten']}/{stats['files_total']}"
                     " base files"
                     if stats["pruned"] else "full fold (no range "
                     "layout on this table)"))
        else:
            print(f"auto-fold: {len(pending)} pending deltas < "
                  f"{args.compact_pending} threshold — skipped")
    return 0


def cmd_vacuum(args: argparse.Namespace) -> int:
    """Reclaim folded delta files AND dead-writer orphan base dirs on
    a dormant keyed table: the regular GC runs at the next commit,
    which never arrives for a table that stopped receiving writes.
    Age-gated against the filesystem clock
    (sinks/keyed_table.py::vacuum / vacuum_orphan_bases)."""
    from .sinks.keyed_table import vacuum, vacuum_orphan_bases
    spark = get_spark("vacuum")
    ms = int(args.older_than_hours * 3600 * 1000)
    removed = vacuum(spark, args.table, older_than_ms=ms)
    orphans = vacuum_orphan_bases(spark, args.table, older_than_ms=ms)
    if removed:
        print(f"vacuumed {len(removed)} folded delta(s) from "
              f"{args.table}: {', '.join(f'delta_{v:05d}' for v in removed)}")
    if orphans:
        print(f"vacuumed {len(orphans)} orphan base dir(s) from "
              f"{args.table}: "
              f"{', '.join(f'base_v{v:05d}' for v in orphans)}")
    if not removed and not orphans:
        print(f"nothing to vacuum in {args.table} (no folded deltas "
              f"or orphan bases older than {args.older_than_hours}h)")
    return 0


def cmd_restore(args: argparse.Namespace) -> int:
    """Roll the keyed table back to a retained historical base
    version — the CLI form of `RESTORE TABLE … TO VERSION AS OF n`
    (sinks/keyed_table.py::restore_table): a METADATA-ONLY commit
    that carries the snapshot's files by reference and flips the
    manifest; refuses while a delta appender is in flight."""
    import json as _json

    from .sinks.keyed_table import ConcurrentWriteError, restore_table
    spark = get_spark("restore")
    try:
        out = restore_table(spark, args.table, args.key,
                            version=args.version)
    except (FileNotFoundError, ConcurrentWriteError) as exc:
        print(str(exc), file=sys.stderr)
        return 2
    print(_json.dumps({"action": "restore", **out}, sort_keys=True))
    return 0


def cmd_dedup_incremental(args: argparse.Namespace) -> int:
    """Cross-batch dedup arrival step, productized (r10 verdict #2):
    probe one arriving document batch against the PERSISTED dedup
    index (a keyed parquet table), emit per-document verdicts
    (`--mode near`, plans/incremental_dedup.py) or maximal duplicated
    spans (`--mode spans`, plans/incremental_spans.py), and — with
    `--update-index` — upsert the batch's index rows back so the next
    arrival sees this one as history. History is never re-hashed: the
    index holds a few dozen bytes per document (band signatures) or
    one 16-byte hash per distinct k-gram window, and the probe join
    shuffles the batch side only (store the index with `--buckets` to
    keep the index side exchange-free round over round).

    Index update rule per mode: `near` indexes only the batch's
    SURVIVORS (verdict `unique` — bucket-min winners; `dup_vs_index` /
    `dup_in_batch` losers are dropped, so the index never grows with
    duplicates). `spans` indexes every batch document's grams:
    span-level dedup trims content rather than dropping documents, so
    later batches must match against the retained copies.
    """
    from pyspark.sql import functions as F

    from .plans.incremental_dedup import incremental_near_dup_flags
    from .plans.incremental_spans import incremental_dup_spans
    from .sinks.keyed_table import (_read_current, _read_pending, snapshot,
                                    upsert_into_keyed_table)

    if args.mode == "vec" and not args.vectors:
        print("--mode vec needs --vectors (the keyed vector store "
              "verification reads colliding members from)",
              file=sys.stderr)
        return 2
    if args.mode == "vec" and args.index_lsm:
        print("--index-lsm supports modes near/spans (vec maintains "
              "two stores via point lookups; its bases rewrite "
              "bucketed, which is already exchange-free)",
              file=sys.stderr)
        return 2
    spark = get_spark("dedup-incremental")
    try:
        batch = spark.read.parquet(args.source)
    except Exception as exc:
        print(f"cannot read batch source {args.source}: {exc}",
              file=sys.stderr)
        return 2
    content_col = args.vec_col if args.mode == "vec" else args.text_col
    content_kind = "vector" if args.mode == "vec" else "text"
    for col, what in ((args.id_col, "id"), (content_col, content_kind)):
        if col not in batch.columns:
            print(f"batch source {args.source} has no {what} column "
                  f"'{col}' (columns: {', '.join(batch.columns)})",
                  file=sys.stderr)
            return 2
    if args.mode == "vec":
        return _dedup_incremental_vec(spark, args, batch)
    docs = batch.select(F.col(args.id_col).alias("doc_id"),
                        F.col(args.text_col).alias("text"))

    # one resolution of the index serves its base read and its tail.
    # No index yet (first arrival): probe against an empty index
    # (in-batch dedup still applies), then seed it if --update-index
    index_snap = snapshot(spark, args.index)
    seeded = bool(index_snap.version)
    # honor_buckets: a --buckets index stored on the probe key
    # (spans mode: h) feeds the probe join exchange-free on the
    # index side — only the batch shuffles
    index = _read_current(index_snap, honor_buckets=True) if seeded \
        else None
    # LSM tail: signatures appended since the last fold live in
    # pending deltas, invisible to the committed-base read — probe
    # them as a SEPARATE small join so the base scan stays bucketed
    # (read_pending_deltas docstring; sound here because the index is
    # append-only, never merge-semantics)
    pending = _read_pending(index_snap) if seeded else None

    if args.mode == "near":
        # the store's single merge key: a bucket_key-bucketed index
        # feeds the probe join exchange-free (index side never
        # re-shuffles, the win when the index is the big side); rep_id
        # rides along for replay self-exclusion: re-running an
        # already-folded batch classifies as the first run did
        idx_bands = (index.select("bucket_key", "rep_id") if seeded
                     else spark.createDataFrame(
                         [], "bucket_key string, rep_id long"))
        # sign the batch ONCE: the same band frame drives the probe
        # and (filtered to survivors) the index fold — shingling and
        # minhashing are the dominant batch cost (code-review r11)
        from .plans.incremental_dedup import (
            batch_bands, signature_index_rows_from_bands)
        bands = batch_bands(docs, "doc_id").localCheckpoint(eager=False)
        pend_bands = (pending.select("bucket_key", "rep_id")
                      if pending is not None else None)
        out = incremental_near_dup_flags(docs, idx_bands, "doc_id",
                                         new_bands=bands,
                                         pending_index_bands=pend_bands)
        out = out.persist()
        counts = {r["verdict"]: r["n"]
                  for r in out.groupBy("verdict")
                  .agg(F.count(F.lit(1)).alias("n")).collect()}
        survivor_ids = out.filter(
            F.col("verdict") == "unique").select("doc_id")
        index_rows, index_key = signature_index_rows_from_bands(
            bands.join(survivor_ids, "doc_id"), "doc_id"), "bucket_key"
        summary = ", ".join(f"{k}={counts.get(k, 0)}" for k in
                            ("unique", "dup_vs_index", "dup_in_batch"))
    else:
        gram_idx = (index.select("h", "rep_id") if seeded
                    else spark.createDataFrame([], "h string, rep_id long"))
        # hash the batch's windows ONCE for both the probe and the fold
        from .plans.dup_spans import gram_windows
        from .plans.incremental_spans import gram_index_rows_from_grams
        grams = gram_windows(docs)[0].localCheckpoint(eager=False)
        pend_grams = (pending.groupBy("h")
                      .agg(F.min("rep_id").alias("rep_id"))
                      if pending is not None else None)
        out = incremental_dup_spans(docs, gram_idx, new_grams=grams,
                                    pending_gram_index=pend_grams) \
            .persist()
        stats = out.agg(
            F.count(F.lit(1)).alias("spans"),
            F.countDistinct("doc_id").alias("docs"),
            F.coalesce(F.sum("span_tokens"), F.lit(0)).alias("tokens")
        ).collect()[0]
        index_rows, index_key = gram_index_rows_from_grams(grams), "h"
        summary = (f"spans={stats['spans']}, docs_affected={stats['docs']}, "
                   f"dup_tokens={stats['tokens']}")

    if args.out:
        out.write.mode(args.write_mode).parquet(args.out)
    else:
        out.show(args.limit, truncate=False)
    if args.update_index and args.index_lsm and seeded:
        from .sinks.keyed_table import append_delta, compact, snapshot
        append_delta(spark, index_rows, path=args.index, key=index_key)
        action = "appended (LSM)"
        if args.compact_pending:
            n_pend = len(snapshot(spark, args.index).deltas)
            if n_pend >= args.compact_pending:
                # the index is hash-layout (bucketed): the fold itself
                # is the exchange-free bucketed rewrite
                compact(spark, args.index, index_key)
                action = f"appended + folded ({n_pend} pending)"
    elif args.update_index:
        # first arrival always writes the base (the LSM tail needs a
        # committed base to append against); plain mode rewrites it
        # every round — bucketed, so the merge is exchange-free
        upsert_into_keyed_table(spark, index_rows, path=args.index,
                                key=index_key, updated_at_col=None,
                                buckets=args.buckets)
        action = "updated" if seeded else "seeded"
    else:
        action = "unchanged (--update-index to maintain it)"
    out.unpersist()
    print(f"dedup-incremental mode={args.mode}: {summary}; "
          f"index {args.index} {action}")
    return 0


def cmd_dedup_stream(args: argparse.Namespace) -> int:
    """`dedup-incremental` as a Structured Streaming drain (r12): one
    availableNow sweep of every not-yet-consumed parquet file under
    the landing pattern, per-micro-batch probe → verdicts →
    fold-survivors, with the stream checkpoint tracking consumption —
    rerun (or schedule) the same command as new files land. The
    schema is inferred once from the files currently present."""
    from .streaming.dedup_stream import stream_dedup_parquet

    if args.mode == "vec" and not args.vectors:
        print("--mode vec needs --vectors (the keyed vector store "
              "verification reads colliding members from)",
              file=sys.stderr)
        return 2
    if args.mode == "vec" and args.index_lsm:
        print("--index-lsm supports modes near/spans only",
              file=sys.stderr)
        return 2
    spark = get_spark("dedup-stream")
    try:
        schema = spark.read.parquet(args.source).schema
    except Exception as exc:
        print(f"cannot infer schema from {args.source}: {exc}",
              file=sys.stderr)
        return 2
    content = (args.vec_col, "vector") if args.mode == "vec" \
        else (args.text_col, "text")
    for col, what in ((args.id_col, "id"), content):
        if col not in schema.names:
            print(f"source {args.source} has no {what} column '{col}' "
                  f"(columns: {', '.join(schema.names)})", file=sys.stderr)
            return 2
    stream_dedup_parquet(
        spark, args.source, schema=schema, index_path=args.index,
        verdicts_dir=args.out, checkpoint=args.checkpoint,
        mode=args.mode, id_col=args.id_col, text_col=args.text_col,
        vec_col=args.vec_col, vectors_path=args.vectors,
        threshold=args.threshold,
        buckets=args.buckets, update_index=not args.no_update_index,
        max_files_per_trigger=args.max_files_per_trigger,
        index_lsm=args.index_lsm, compact_pending=args.compact_pending)
    stores = (f"index {args.index} + vector store {args.vectors}"
              if args.mode == "vec" else f"index {args.index}")
    print(f"dedup-stream mode={args.mode}: drained {args.source}; "
          f"verdicts under {args.out} (epoch-partitioned), {stores} "
          + ("left unchanged (--no-update-index)" if args.no_update_index
             else "maintained"))
    return 0


def cmd_curate(args: argparse.Namespace) -> int:
    """End-to-end corpus curation (r10 verdict #3): exact dedup →
    substring-level trim → quality gate → deterministic split →
    sequence packing, over any (doc_id, text[, lang]) parquet. Writes
    the curated corpus partitioned by split plus `manifest.json` — the
    corpus card and per-stage survivor accounting — so a run is
    auditable without re-reading the data. The DAG is the composed
    form of q_dedup_keep_one / q_dedup_trim / q_training_pipeline /
    q_doc_packing / q_corpus_card (plans/curate.py)."""
    import json as _json

    from pyspark.sql import functions as F
    from pyspark.storagelevel import StorageLevel

    from .plans.curate import corpus_card_frame, curate_stages

    if (len(args.splits) != 3 or sum(args.splits) != 100
            or any(not 0 <= w <= 100 for w in args.splits)):
        print(f"--splits must be three integer percents in 0..100 summing "
              f"to 100, got {args.splits}", file=sys.stderr)
        return 2
    spark = get_spark("curate")
    try:
        docs = spark.read.parquet(args.source)
    except Exception as exc:
        print(f"cannot read corpus source {args.source}: {exc}",
              file=sys.stderr)
        return 2
    for col, what in ((args.id_col, "id"), (args.text_col, "text")):
        if col not in docs.columns:
            print(f"corpus source {args.source} has no {what} column "
                  f"'{col}' (columns: {', '.join(docs.columns)})",
                  file=sys.stderr)
            return 2
    cols = [F.col(args.id_col).alias("doc_id"),
            F.col(args.text_col).alias("text")]
    if "lang" in docs.columns:
        cols.append(F.col("lang"))
    stages = curate_stages(docs.select(*cols),
                           min_tokens=args.min_tokens, k=args.k,
                           weights=tuple(args.splits),
                           pack_budget=args.pack_budget,
                           near_dup=args.near_dup)
    n_input = docs.count()
    # the trim stage feeds both the curated output and the stage
    # accounting — persist it once rather than re-running the k-gram
    # pass (disk-allowed: the trimmed corpus can exceed memory)
    trimmed = stages["trimmed"].persist(StorageLevel.MEMORY_AND_DISK)
    curated = stages["curated"].persist(StorageLevel.MEMORY_AND_DISK)
    n_dedup = stages["deduped"].count()
    n_trim = trimmed.count()
    out_corpus = args.out.rstrip("/") + "/corpus"
    # partitionBy WITHOUT a repartition("split"): each task writes its
    # rows into per-split files, so a 3-value split column never
    # concentrates a whole split into one reducer
    (curated.write.mode(args.write_mode)
            .partitionBy("split").parquet(out_corpus))
    per_split = {r["split"]: {"n_docs": r["n_docs"],
                              "total_tokens": r["total_tokens"],
                              "n_sequences": r["n_sequences"]}
                 for r in curated.groupBy("split")
                 .agg(F.count(F.lit(1)).alias("n_docs"),
                      F.sum("n_tok").cast("long").alias("total_tokens"),
                      F.countDistinct("lang", "seq_id")
                       .alias("n_sequences")).collect()}
    card = corpus_card_frame(curated).collect()[0].asDict()
    n_curated = sum(s["n_docs"] for s in per_split.values())
    manifest = {
        "source": args.source,
        "params": {"min_tokens": args.min_tokens, "k": args.k,
                   "splits": args.splits,
                   "pack_budget": args.pack_budget},
        "stages": {
            "input_docs": n_input,
            "after_dedup" if args.near_dup else "after_exact_dedup":
                n_dedup,
            "after_substring_trim": n_trim,
            "after_quality_gate": n_curated,
        },
        "splits": per_split,
        "corpus_card": card,
    }
    trimmed.unpersist()
    curated.unpersist()
    # through the Hadoop FS layer, not driver-local open(): on s3a://
    # or hdfs:// the corpus lands remotely via Spark while a local
    # open() would silently write the manifest to the driver's own
    # disk (code-review r11; sinks/fs.py exists for exactly this)
    from .sinks import fs as hfs
    hfs.write_text_atomic(spark, hfs.join(args.out, "manifest.json"),
                          _json.dumps(manifest, indent=1, sort_keys=True,
                                      default=str))
    print(f"curated {n_curated}/{n_input} docs into {out_corpus} "
          f"(exact-dup removed {n_input - n_dedup}, trim dropped "
          f"{n_dedup - n_trim}, quality dropped {n_trim - n_curated}); "
          f"manifest.json written")
    return 0


def _dedup_incremental_vec(spark, args: argparse.Namespace, batch) -> int:
    """`dedup-incremental --mode vec`: the embedding-space arrival
    step (plans/incremental_vec.py). The batch is LSH-signed once,
    probed against the persisted RHP bucket index, and exact-cosine
    verified ONLY against colliding members fetched from the keyed
    vector store (--vectors) by id — a point-lookup join bounded by
    the collision count. The report carries DISJOINT verdicts:
    `dup_vs_index` (verified against history) and `dup_in_batch`
    (verified against a smaller-id batch sibling — the keep-smallest
    rule near mode applies); everything absent from the report is a
    survivor. --update-index folds exactly the survivors' index rows
    AND vectors, so k identical vectors arriving together index one
    copy. (Corpus-wide in-place dedup of an EXISTING table is
    q_semdedup / q_vector_lsh_verified territory.)"""
    from pyspark.sql import functions as F

    from .plans.incremental_vec import vec_batch_verdicts
    from .sinks.keyed_table import read_keyed_table, upsert_into_keyed_table

    emb = batch.select(F.col(args.id_col).alias("vec_id"),
                       F.col(args.vec_col).alias("embedding"))
    # the two stores are read SEPARATELY: one try around both would
    # let a mistyped --vectors path silently discard a REAL index
    # (every dup reported unique, false survivors upserted) — a
    # missing half is a hard usage error, only the both-absent case
    # is a legitimate first arrival (code-review r11)
    try:
        index = read_keyed_table(spark, args.index, honor_buckets=True) \
            .select("band", "bucket", "member_id")
    except FileNotFoundError:
        index = None
    try:
        store = read_keyed_table(spark, args.vectors, honor_buckets=True)
    except FileNotFoundError:
        store = None
    if (index is None) != (store is None):
        if store is None:
            msg = (f"--index {args.index} exists but --vectors "
                   f"{args.vectors} does not")
        else:
            msg = (f"--vectors {args.vectors} exists but --index "
                   f"{args.index} does not")
        print(f"inconsistent vec stores: {msg} — check the path "
              f"(a first arrival seeds BOTH)", file=sys.stderr)
        return 2
    seeded = index is not None
    # the shared per-batch core (plans/incremental_vec.py): batch
    # signed ONCE, disjoint dup_vs_index/dup_in_batch verdicts,
    # survivors feeding both store-update frames — the same function
    # the streaming drain runs per micro-batch
    out, index_rows, store_rows = vec_batch_verdicts(
        emb, index, store, threshold=args.threshold)
    out = out.persist()
    counts = {r["verdict"]: r["n"]
              for r in out.groupBy("verdict")
              .agg(F.count(F.lit(1)).alias("n")).collect()}
    n_dup_vecs = counts.get("dup_vs_index", 0)
    n_batch_dups = counts.get("dup_in_batch", 0)
    if args.out:
        out.write.mode(args.write_mode).parquet(args.out)
    else:
        out.show(args.limit, truncate=False)
    if args.update_index:
        upsert_into_keyed_table(spark, index_rows, path=args.index,
                                key="idx_key", updated_at_col=None,
                                buckets=args.buckets)
        upsert_into_keyed_table(spark, store_rows, path=args.vectors,
                                key="member_id", updated_at_col=None)
        action = "updated" if seeded else "seeded"
    else:
        action = "unchanged (--update-index to maintain them)"
    out.unpersist()
    print(f"dedup-incremental mode=vec: dup_vs_index={n_dup_vecs}, "
          f"dup_in_batch={n_batch_dups}; "
          f"index {args.index} + vector store {args.vectors} {action}")
    return 0


def cmd_topk(args: argparse.Namespace) -> int:
    """Grouped top-k over arbitrary parquet via operators/topk.py —
    the two-stage prune (per-batch local top-k, bounded re-rank), so a
    handful of group values over a huge fact table never concentrates
    a full per-group sort on one reducer the way the row_number
    window idiom does."""
    from .operators.topk import grouped_topk
    spark = get_spark("topk")
    df = spark.read.parquet(args.path)
    out = grouped_topk(df, args.group.split(","), args.order, args.k,
                       tie_cols=args.tie.split(",") if args.tie else None,
                       ascending=args.ascending)
    out.show(args.limit, truncate=False)
    return 0


def cmd_percentile(args: argparse.Namespace) -> int:
    """Exact grouped percentiles over arbitrary parquet via
    operators/percentiles.py — GK bracket + strict-below anchor +
    bracket-only refinement window: exact results (bit-matching
    Spark's holistic `percentile`) with bounded per-task state at any
    group size. NULL values are ignored, like the built-ins."""
    from .operators.percentiles import exact_grouped_percentile
    spark = get_spark("percentile")
    df = spark.read.parquet(args.path)
    out = exact_grouped_percentile(df, args.group, args.value, args.probs)
    out.show(args.limit, truncate=False)
    return 0


def cmd_plan_audit(args: argparse.Namespace) -> int:
    """Mechanical scale-hazard audit of catalog queries' plans: the
    pinned test-suite sweep (unpartitioned windows, tiny-key windows,
    cartesians, row-Python), runnable pre-ship on any query. Exit 1
    when an undocumented hazard is found."""
    from .operators.plan_audit import (DOCUMENTED_TINY_WINDOWS,
                                       non_arrow_datasource_readers,
                                       plan_hazards)
    from .plans import all_queries
    qs = all_queries()
    # repo-level check first: a per-row Python DataSource parse loop
    # hides BELOW its BatchScan node where no plan string shows it
    bad_readers = non_arrow_datasource_readers()
    for cls in bad_readers:
        print(f"datasource {cls}: read() has no Arrow-batch path "
              "(per-row tuples below BatchScan)")
    names = args.name or sorted(n for n in qs
                                if not n.startswith("q_stream_"))
    unknown = [n for n in names if n not in qs]
    if unknown:
        print(f"unknown queries: {', '.join(unknown)}", file=sys.stderr)
        return 2
    spark = get_spark("plan-audit")
    n_flagged = 0
    for name in names:
        probs = plan_hazards(qs[name](spark, args.sf_dir))
        documented = name in DOCUMENTED_TINY_WINDOWS
        if probs and not documented:
            n_flagged += 1
            for p in probs:
                print(f"{name}: {p}")
        elif probs:
            for p in probs:
                print(f"{name}: [documented-inherent] {p}")
        elif args.verbose:
            print(f"{name}: clean")
    print(f"{len(names)} plans audited, {n_flagged} flagged "
          f"(documented-inherent windows excluded)")
    if bad_readers:
        # repo-level finding, reported on its own line so a targeted
        # --name audit doesn't attribute it to the audited plan
        print(f"{len(bad_readers)} datasource reader(s) without an "
              f"Arrow-batch read path")
    return 1 if (n_flagged or bad_readers) else 0


def _bounded_int(lo: int, hi: int | None = None):
    """argparse type mirroring the reference CLI's click.IntRange
    validation (/root/reference/src/cli/mongo_update.py:17-43 bounds
    batch-size to 1000..1e8 and concurrent-tasks to 1..100) — bad
    knob values fail at parse time, not mid-job."""
    def parse(s: str) -> int:
        v = int(s)
        if v < lo or (hi is not None and v > hi):
            top = hi if hi is not None else "∞"
            raise argparse.ArgumentTypeError(
                f"{v} outside allowed range [{lo}, {top}]")
        return v
    return parse


def _fraction(s: str) -> float:
    try:
        v = float(s)
    except ValueError:
        raise argparse.ArgumentTypeError(f"{s!r} is not a number")
    if not 0.0 <= v <= 1.0:
        raise argparse.ArgumentTypeError(f"{v} is not a fraction in [0, 1]")
    return v


def _fraction_list(s: str) -> list[float]:
    """Comma-separated fractions, each validated like _fraction —
    parse-time usage errors (exit 2), never a runtime traceback."""
    return [_fraction(p) for p in s.split(",")]


def _int_list(s: str) -> list[int]:
    try:
        return [int(p) for p in s.split(",")]
    except ValueError:
        raise argparse.ArgumentTypeError(
            f"{s!r} is not a comma-separated integer list")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="howto_mongo_bulk_update_from_parquet_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    g = sub.add_parser("generate", help="write synthetic pipeline parquet")
    g.add_argument("--path", required=True)
    g.add_argument("--n-rows", type=_bounded_int(1), default=10_000)
    g.add_argument("--n-files", type=_bounded_int(1, 100_000), default=10)
    g.add_argument("--seed", type=int, default=42)
    g.add_argument("--null-fraction", type=_fraction, default=0.0)
    g.set_defaults(fn=cmd_generate)

    u = sub.add_parser("upsert", help="bulk-upsert parquet into a keyed sink")
    u.add_argument("--path", required=True, help="source parquet dir")
    u.add_argument("--table", help="keyed parquet table path (internal sink)")
    u.add_argument("--config", help="config file (flag > env > file > default; "
                                    "also $BULK_UPDATE_CONFIG)")
    # sink flags default to None so config-file/env values apply when
    # the flag is absent (EngineConfig carries the real defaults)
    u.add_argument("--mongo-uri", help="MongoDB URI (external sink; "
                                       "or $MONGO_CONNECTION_STRING)")
    u.add_argument("--database")
    u.add_argument("--collection")
    u.add_argument("--key", help=f"merge key (default {PIPELINE_KEY})")
    u.add_argument("--n-partitions", type=_bounded_int(1, 100_000),
                   help="write parallelism (replaces --concurrent-tasks)")
    u.add_argument("--buckets", type=_bounded_int(0, 100_000),
                   help="write the keyed-table base bucketed on the "
                        "merge key (inherited by later rounds; 0 "
                        "un-buckets) — repeated upsert rounds then "
                        "merge with no exchange on the base side")
    u.add_argument("--range-files", type=_bounded_int(0, 100_000),
                   help="write the keyed-table base range-clustered on "
                        "the merge key with a per-file min/max zone map "
                        "(inherited; 0 drops it) — `lookup` point/range "
                        "reads then touch only the admissible files; "
                        "alternative to --buckets")
    u.add_argument("--zorder-col", dest="zorder_col",
                   help="secondary clustering column for a "
                        "--range-files base: files cover bounded "
                        "(key, col) z-rectangles so `scan` prunes on "
                        "this column too (inherited; '' drops back to "
                        "key-only sort)")
    u.add_argument("--schema-mode", dest="schema_mode",
                   choices=["merge", "strict", "unpin"],
                   help="strict: refuse write batches introducing "
                        "columns the table lacks (Delta schema "
                        "enforcement; recorded + inherited); merge "
                        "(default): widen, old rows read the new "
                        "column as NULL — on a strict table an "
                        "explicit merge evolves THIS batch only, the "
                        "pin survives; unpin: widen and remove the "
                        "recorded strict pin")
    u.add_argument("--check", action="append", metavar="NAME=EXPR",
                   help="write-time CHECK constraint on the keyed "
                        "table (repeatable; recorded in the manifest, "
                        "enforced on every later write batch before "
                        "commit; NAME= drops it). SQL CHECK semantics: "
                        "NULL passes")
    u.add_argument("--bloom-cols", dest="bloom_cols",
                   help="comma-separated columns to bloom-index on a "
                        "range base: equality `scan` probes then skip "
                        "files the value cannot be in — the zone "
                        "map's complement for high-cardinality "
                        "unsorted columns (inherited; '' drops it)")
    u.add_argument("--target-file-mb", type=_bounded_int(0, 10_240),
                   help="size range-layout files by BYTES instead of a "
                        "pinned count: each write re-plans the file "
                        "count from the table's observed size, so a "
                        "growing table grows files in NUMBER, not in "
                        "size (inherited; 0 drops back to the pinned "
                        "--range-files count); alternative to --buckets")
    u.add_argument("--lsm", action="store_true",
                   help="append a merge-on-read delta to the keyed "
                        "table instead of rewriting the base "
                        "(pair with the `compact` subcommand)")
    u.add_argument("--permissive", action="store_true",
                   help="log-and-continue on bulk-write errors "
                        "(reference error ladder) instead of fail-fast")
    u.set_defaults(fn=cmd_upsert)

    r = sub.add_parser("reconcile",
                       help="checksum-verify a keyed table against its "
                            "source parquet snapshot")
    r.add_argument("--path", required=True, help="source parquet dir")
    r.add_argument("--table", required=True, help="keyed table path")
    r.add_argument("--key", default=PIPELINE_KEY)
    r.add_argument("--n-buckets", type=_bounded_int(1, 1_000_000),
                   default=64,
                   help="hash buckets for mismatch localization")
    r.set_defaults(fn=cmd_reconcile)

    a = sub.add_parser("audit", help="declarative data-quality gate "
                                     "over a parquet table")
    a.add_argument("--path", required=True, help="parquet dir to audit")
    a.add_argument("--not-null", action="append", metavar="COL")
    a.add_argument("--unique", action="append", metavar="COL[,COL…]")
    a.add_argument("--accepted", action="append", metavar="COL=V1,V2")
    a.add_argument("--range", action="append", metavar="COL=LO,HI")
    a.add_argument("--fk", action="append", metavar="COL=DIMPATH:DIMCOL")
    a.set_defaults(fn=cmd_audit)

    pa = sub.add_parser("plan-audit",
                        help="mechanical scale-hazard audit of query "
                             "plans (windows/cartesians/row-Python)")
    pa.add_argument("--name", action="append",
                    help="query name (repeatable; default: all batch "
                         "queries)")
    pa.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    pa.add_argument("--verbose", action="store_true")
    pa.set_defaults(fn=cmd_plan_audit)

    q = sub.add_parser("query", help="run a catalog query")
    q.add_argument("--list", action="store_true",
                   help="list catalog queries and exit")
    q.add_argument("--name")
    q.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    q.add_argument("--limit", type=int, default=20)
    q.add_argument("--explain", action="store_true")
    q.add_argument("--cache-dir",
                   help="content-addressed result cache: serve a "
                        "logically-identical query from its "
                        "materialized result until an input changes")
    q.set_defaults(fn=cmd_query)

    sq = sub.add_parser(
        "sql", help="run SQL text over registered keyed tables / "
                    "parquet dirs (snapshot-consistent temp views)")
    sq.add_argument("--text", required=True, help="the SQL to run")
    sq.add_argument("--keyed", action="append", metavar="NAME=PATH:KEY",
                    help="register a keyed table's merged state as "
                         "view NAME (repeatable; KEY@N time-travels "
                         "to retained base version N)")
    sq.add_argument("--view", action="append", metavar="NAME=DIR",
                    help="register a parquet directory as view NAME "
                         "(repeatable)")
    sq.add_argument("--keyed-root", metavar="DIR[:PREFIX]",
                    help="register EVERY keyed table directly under "
                         "DIR as view [PREFIX]dirname (merge keys "
                         "from their manifests); the views serve "
                         "reads and MERGE INTO writes alike")
    sq.add_argument("--changes-prefix", metavar="PREFIX",
                    help="with --keyed-root: ALSO register each "
                         "discovered table's change feed as view "
                         "PREFIXdirname (state + CDC in one sweep)")
    sq.add_argument("--limit", type=int, default=20)
    sq.add_argument("--explain", action="store_true")
    sq.add_argument("--out", help="write the result as parquet "
                                  "instead of showing it")
    sq.set_defaults(fn=cmd_sql)

    cp = sub.add_parser(
        "compact", help="fold the keyed table's deltas into a new "
                        "versioned base and purge tombstones")
    cp.add_argument("--table", required=True)
    cp.add_argument("--key", default=PIPELINE_KEY)
    cp.add_argument("--n-files", type=_bounded_int(1, 100_000))
    cp.add_argument("--buckets", type=_bounded_int(0, 100_000),
                    help="(re-)bucket the folded base on the key "
                         "(inherited afterwards; 0 un-buckets)")
    cp.add_argument("--range-files", type=_bounded_int(0, 100_000),
                    help="(re-)range-cluster the folded base with a "
                         "zone map (inherited afterwards; 0 drops it); "
                         "alternative to --buckets")
    cp.add_argument("--zorder-col", dest="zorder_col",
                    help="secondary clustering column for the folded "
                         "range base (see upsert --zorder-col)")
    cp.add_argument("--bloom-cols", dest="bloom_cols",
                    help="comma-separated bloom-index columns for the "
                         "folded range base (see upsert --bloom-cols; "
                         "inherited; '' drops it)")
    cp.add_argument("--target-file-mb", type=_bounded_int(0, 10_240),
                    help="size the folded range base's files by bytes "
                         "(see upsert --target-file-mb; inherited "
                         "afterwards; 0 drops it)")
    cp.add_argument("--pruned", action="store_true",
                    help="surgical fold (range layout): rewrite only "
                         "the zone-map-touched base files, carry the "
                         "rest by reference — O(touched), not O(table)")
    cp.add_argument("--materialize", action="store_true",
                    help="with --pruned: carry untouched files by "
                         "filesystem copy instead of reference, "
                         "keeping the base dir self-contained for "
                         "plain spark.read.parquet consumers")
    cp.set_defaults(fn=cmd_compact)

    lk = sub.add_parser(
        "lookup", help="point/range read of a keyed table through its "
                       "data-skipping index (zone map / bucket "
                       "pruning); reports files touched")
    lk.add_argument("--table", required=True, help="keyed table path")
    lk.add_argument("--key", default=PIPELINE_KEY)
    lk.add_argument("--values",
                    help="comma-separated key values (equality probe)")
    lk.add_argument("--probes",
                    help="parquet path of probe keys (bulk form: the "
                         "key batch enriches from the merged view via "
                         "a span-pruned broadcast semi join — keys "
                         "never collect to the driver)")
    lk.add_argument("--lo", help="range lower bound (inclusive)")
    lk.add_argument("--hi", help="range upper bound (inclusive)")
    lk.add_argument("--out", help="write result parquet here "
                                  "(default: show)")
    lk.add_argument("--write-mode", default="errorifexists",
                    choices=["errorifexists", "overwrite"])
    lk.add_argument("--limit", type=int, default=20)
    lk.set_defaults(fn=cmd_lookup)

    sc = sub.add_parser(
        "scan", help="zone-map range scan of a fully folded keyed "
                     "table on any stats column (--where col:lo:hi, "
                     "repeatable, ANDed)")
    sc.add_argument("--table", required=True, help="keyed table path")
    sc.add_argument("--where", action="append", required=True,
                    help="col:lo:hi (inclusive; leave lo or hi empty "
                         "for an open bound)")
    sc.add_argument("--out", help="write result parquet here "
                                  "(default: show)")
    sc.add_argument("--write-mode", default="errorifexists",
                    choices=["errorifexists", "overwrite"])
    sc.add_argument("--limit", type=int, default=20)
    sc.set_defaults(fn=cmd_scan)

    ti = sub.add_parser(
        "table-info", help="keyed-table state at a glance: version, "
                           "layout, watermark, pending deltas, zone "
                           "map (JSON)")
    ti.add_argument("--table", required=True, help="keyed table path")
    ti.set_defaults(fn=cmd_table_info)

    ch = sub.add_parser(
        "changes", help="change-data-feed read: the table's LSM "
                        "deltas as versioned, op-typed change rows — "
                        "O(changes), never O(table)")
    ch.add_argument("--table", required=True, help="keyed table path")
    ch.add_argument("--after", type=int, default=0,
                    help="emit changes ABOVE this delta version "
                         "(default 0 = everything still on disk)")
    ch.add_argument("--until", type=int,
                    help="inclusive upper version (default: newest "
                         "complete delta)")
    ch.add_argument("--out", help="write the change rows to this "
                                  "parquet dir instead of printing")
    ch.add_argument("--follow", action="store_true",
                    help="streaming form: availableNow drain of new "
                         "deltas through a checkpointed file stream "
                         "into --out (requires --out + --checkpoint)")
    ch.add_argument("--checkpoint", help="checkpoint dir for --follow")
    ch.add_argument("--limit", type=int, default=20)
    ch.set_defaults(fn=cmd_changes)

    mv = sub.add_parser(
        "maintain-view", help="apply a table's new changes to a "
                              "grouped COUNT/SUM materialized view "
                              "(bootstrap, then O(changes) increments)")
    mv.add_argument("--table", required=True, help="source keyed table")
    mv.add_argument("--key", default=PIPELINE_KEY)
    mv.add_argument("--view", required=True, help="view keyed table path")
    mv.add_argument("--group-col", required=True, dest="group_col")
    mv.add_argument("--sum-col", required=True, dest="sum_col",
                    help="value column to SUM (comma-list maintains "
                         "one total — and minmax pair — per column, "
                         "all through one feed read; a trailing "
                         "comma forces one-column LIST naming, "
                         "total_<col>)")
    mv.add_argument("--minmax", action="store_true",
                    help="also track per-group MIN/MAX (monotone "
                         "tightening is free; a retracted extremum "
                         "recomputes only the flagged groups)")
    mv.add_argument("--auto-recover", action="store_true",
                    dest="auto_recover",
                    help="when feed history was vacuumed past the "
                         "view's offset, re-bootstrap from a snapshot "
                         "(one O(table) rebuild, fresh offset) instead "
                         "of erroring")
    mv.add_argument("--follow", action="store_true",
                    help="continuous maintenance: the change feed's "
                         "file stream triggers a maintenance round "
                         "per arrival (lease-held for the stream's "
                         "life); without --interval, drains the "
                         "backlog once and exits")
    mv.add_argument("--checkpoint",
                    help="stream checkpoint dir (required with "
                         "--follow; same checkpoint = same logical "
                         "maintainer across restarts)")
    mv.add_argument("--interval",
                    help="processing-time trigger for --follow (e.g. "
                         "'5 seconds'); omit for a one-shot "
                         "availableNow drain")
    mv.set_defaults(fn=cmd_maintain_view)

    dl = sub.add_parser(
        "delete", help="delete rows from a keyed table by key "
                       "(versioned rewrite, or --tombstone LSM delta)")
    dl.add_argument("--table", required=True, help="keyed table path")
    dl.add_argument("--key", default=PIPELINE_KEY)
    dl.add_argument("--keys", help="comma-separated key values")
    dl.add_argument("--keys-path", help="parquet of keys (overrides --keys)")
    dl.add_argument("--where", action="append", metavar="COL:LO:HI",
                    help="predicate delete: victims found through the "
                         "data-skipping scan (zone map + bloom prune; "
                         "pending deltas merged), then deleted by key "
                         "(repeatable, ANDed; empty LO/HI = open "
                         "bound; COL:V:V = equality). Alternative to "
                         "--keys/--keys-path")
    dl.add_argument("--key-type", default="string",
                    help="cast for --keys values (e.g. long)")
    dl.add_argument("--tombstone", action="store_true",
                    help="append an LSM tombstone delta instead of "
                         "rewriting the base")
    dl.add_argument("--pruned", action="store_true",
                    help="surgical delete (range layout): tombstone + "
                         "immediate pruned fold — only the files "
                         "holding victims are rewritten")
    dl.set_defaults(fn=cmd_delete)

    cf = sub.add_parser(
        "changefeed", help="drain an op-typed parquet changefeed "
                           "('U'/'D' rows) into the LSM keyed table as "
                           "upsert + tombstone deltas (checkpointed)")
    cf.add_argument("--source", required=True,
                    help="changefeed landing directory (parquet)")
    cf.add_argument("--table", required=True, help="keyed table path")
    cf.add_argument("--key", default=PIPELINE_KEY)
    cf.add_argument("--op-col", default="op",
                    help="column carrying 'U' (upsert) / 'D' (delete)")
    cf.add_argument("--checkpoint", required=True,
                    help="streaming checkpoint dir (reuse across runs "
                         "to process only newly-arrived files)")
    cf.add_argument("--compact-pending", type=_bounded_int(1, 100_000),
                    help="auto-fold after the drain when this many "
                         "pending deltas accumulated (pruned fold on "
                         "range-layout tables) — the closed arrival "
                         "loop: drain O(batch), fold O(touched)")
    cf.set_defaults(fn=cmd_changefeed)

    tk = sub.add_parser(
        "topk", help="grouped top-k over any parquet (window-free "
                     "two-stage prune, operators/topk.py)")
    tk.add_argument("--path", required=True, help="parquet file or dir")
    tk.add_argument("--group", required=True,
                    help="comma-separated group columns")
    tk.add_argument("--order", required=True, help="ranking column")
    tk.add_argument("--k", type=_bounded_int(1, 1_000_000), default=3)
    tk.add_argument("--tie", help="comma-separated tie-break columns "
                                  "(make the order total for "
                                  "deterministic ranks)")
    tk.add_argument("--ascending", action="store_true",
                    help="rank smallest first (default: largest)")
    tk.add_argument("--limit", type=int, default=20)
    tk.set_defaults(fn=cmd_topk)

    pc = sub.add_parser(
        "percentile", help="exact grouped percentiles over any parquet "
                           "(bracket-refined, bounded state, "
                           "operators/percentiles.py)")
    pc.add_argument("--path", required=True, help="parquet file or dir")
    pc.add_argument("--group", required=True, help="group column")
    pc.add_argument("--value", required=True, help="value column")
    pc.add_argument("--probs", type=_fraction_list, default=[0.5],
                    help="comma-separated probabilities in [0,1]")
    pc.add_argument("--limit", type=int, default=20)
    pc.set_defaults(fn=cmd_percentile)

    di = sub.add_parser(
        "dedup-incremental",
        help="probe one arriving batch against the persisted dedup "
             "index (near-dup verdicts or substring spans) and "
             "optionally fold the batch into the index")
    di.add_argument("--mode", choices=["near", "spans", "vec"],
                    default="near",
                    help="near: per-doc MinHash-LSH verdicts vs the "
                         "band-signature index; spans: maximal "
                         "duplicated k-gram spans vs the gram index; "
                         "vec: embedding near-dups vs the RHP bucket "
                         "index, exact-cosine verified against the "
                         "keyed vector store (--vectors)")
    di.add_argument("--index", required=True,
                    help="keyed-table path of the persisted index "
                         "(created on first --update-index run)")
    di.add_argument("--source", required=True,
                    help="parquet file/dir of the arriving batch")
    di.add_argument("--id-col", default="doc_id")
    di.add_argument("--text-col", default="text")
    di.add_argument("--vec-col", default="embedding",
                    help="embedding column (mode vec)")
    di.add_argument("--vectors",
                    help="keyed vector store path (mode vec): colliding "
                         "members' vectors are point-looked-up here for "
                         "exact-cosine verification")
    di.add_argument("--threshold", type=float, default=0.45,
                    help="cosine verification threshold (mode vec)")
    di.add_argument("--out", help="write results as parquet here "
                                  "(default: show)")
    di.add_argument("--write-mode", default="errorifexists",
                    choices=["errorifexists", "overwrite"])
    di.add_argument("--update-index", action="store_true",
                    help="after probing, upsert this batch's index "
                         "rows (near: unique survivors only; spans: "
                         "the whole batch)")
    di.add_argument("--buckets", type=_bounded_int(0, 100_000),
                    help="bucket the index table's base on the merge "
                         "key (exchange-free probe/upsert rounds)")
    di.add_argument("--index-lsm", action="store_true",
                    help="maintain the index by O(batch) delta appends "
                         "instead of per-arrival base rewrites; probes "
                         "read base (bucketed) + pending tail; fold "
                         "with --compact-pending or `compact`")
    di.add_argument("--compact-pending", type=_bounded_int(1, 100_000),
                    help="with --index-lsm: fold the index once this "
                         "many deltas accumulated")
    di.add_argument("--limit", type=int, default=20)
    di.set_defaults(fn=cmd_dedup_incremental)

    ds = sub.add_parser(
        "dedup-stream",
        help="dedup-incremental as a streaming drain: availableNow "
             "sweep of a landing dir, probe each micro-batch against "
             "the persisted index, write epoch-partitioned verdicts, "
             "fold survivors (streaming/dedup_stream.py)")
    ds.add_argument("--mode", choices=["near", "spans", "vec"],
                    default="near")
    ds.add_argument("--source", required=True,
                    help="landing path/glob of arriving parquet files")
    ds.add_argument("--index", required=True,
                    help="keyed-table path of the persisted index "
                         "(seeded on first run)")
    ds.add_argument("--out", required=True,
                    help="verdict output dir (epoch-partitioned parquet)")
    ds.add_argument("--checkpoint", required=True,
                    help="stream checkpoint dir (tracks consumed files)")
    ds.add_argument("--id-col", default="doc_id")
    ds.add_argument("--text-col", default="text")
    ds.add_argument("--vec-col", default="embedding",
                    help="embedding column (mode vec)")
    ds.add_argument("--vectors",
                    help="keyed vector store path (mode vec)")
    ds.add_argument("--threshold", type=float,
                    help="cosine verification threshold (mode vec)")
    ds.add_argument("--buckets", type=_bounded_int(0, 100_000),
                    help="bucket the index base on its merge key")
    ds.add_argument("--no-update-index", action="store_true",
                    help="probe only; do not fold the batches in")
    ds.add_argument("--index-lsm", action="store_true",
                    help="fold each epoch as an O(batch) delta append "
                         "(near/spans); probes read base + pending "
                         "tail")
    ds.add_argument("--compact-pending", type=_bounded_int(1, 100_000),
                    help="with --index-lsm: fold the index once this "
                         "many deltas accumulated")
    ds.add_argument("--max-files-per-trigger", type=_bounded_int(1),
                    help="cap files per micro-batch")
    ds.set_defaults(fn=cmd_dedup_stream)

    cu = sub.add_parser(
        "curate",
        help="end-to-end corpus curation: exact dedup → substring "
             "trim → quality gate → split → pack, with a corpus-card "
             "manifest (plans/curate.py)")
    cu.add_argument("--source", required=True,
                    help="parquet file/dir of raw documents")
    cu.add_argument("--out", required=True,
                    help="output dir: corpus/ (partitioned by split) "
                         "+ manifest.json")
    cu.add_argument("--id-col", default="doc_id")
    cu.add_argument("--text-col", default="text")
    cu.add_argument("--min-tokens", type=_bounded_int(1), default=20,
                    help="quality gate: min tokens AFTER trimming")
    cu.add_argument("--k", type=_bounded_int(2, 1000), default=8,
                    help="duplicated-span window length in tokens")
    cu.add_argument("--pack-budget", type=_bounded_int(1), default=512,
                    help="tokens per packed training sequence")
    cu.add_argument("--splits", type=_int_list, default=[80, 10, 10],
                    help="train,val,test integer percents (sum 100)")
    cu.add_argument("--near-dup", action="store_true",
                    help="also drop MinHash-LSH near-duplicates "
                         "(bucket-min keep-one) after exact dedup")
    cu.add_argument("--write-mode", default="errorifexists",
                    choices=["errorifexists", "overwrite"])
    cu.set_defaults(fn=cmd_curate)

    va = sub.add_parser(
        "vacuum", help="reclaim folded delta files on a dormant keyed "
                       "table (age-gated; regular GC runs at the next "
                       "commit, which a dormant table never gets)")
    va.add_argument("--table", required=True, help="keyed table path")
    va.add_argument("--older-than-hours", type=float, default=24.0,
                    help="only deltas untouched this long are removed")
    va.set_defaults(fn=cmd_vacuum)

    rs = sub.add_parser(
        "restore", help="roll a keyed table back to a retained "
                        "historical base version (metadata-only: the "
                        "new version carries the snapshot's files by "
                        "reference — zero bytes moved)")
    rs.add_argument("--table", required=True, help="keyed table path")
    rs.add_argument("--key", required=True, help="merge key column")
    rs.add_argument("--version", required=True, type=int,
                    help="retained base version to restore to")
    rs.set_defaults(fn=cmd_restore)

    args = ap.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    raise SystemExit(main())
