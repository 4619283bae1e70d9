"""The benchmark's four parts and the two workloads built from them:
`keyed` (upsert_rounds + lsm_serve) and `catalog` (analytics_catalog +
stream_state).

Each is a closed loop with one client: the driver issues the next call
only after the previous one returned. A part has

- `setup(rep_dir)`: input generation (timed as `sources.generate_s`) and
  the pre-built tables or views. Run several times; the last is used.
- `warmup()`: untimed. Where one pass can be checked against its model
  it is checked here.
- `iteration(i)`: one timed unit of work; returns its `op_s` samples.
- `exhausted()`: true once the staged inputs are used up; the timed
  loop stops there.
- `check()`: the correctness gate on what the timed loop produced.
- `detail()`: the workload's own figures, printed by name.
- `layers(tracer)`: per-layer figures from the traced iterations.

All calls into the package go through `self.tracer.call(...)`, which is
a no-op unless the run is traced.
"""

from __future__ import annotations

import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass

import datagen as g
import models
from spans import FS_FUNCS, median

PKG = "howto_mongo_bulk_update_from_parquet_spark"
# point lookups per lsm_serve cycle, a fixed mix: keys no pending delta
# touched, keys a pending delta updated, keys a pending delta inserted
LSM_LOOKUP_KINDS = ("untouched", "updated", "new") * 4
LSM_SCAN_WIDTH = 0.02     # score range of the range scan


@dataclass(frozen=True)
class Sizes:
    upsert_base: int
    upsert_rows: int
    lsm_base: int
    lsm_rows: int
    tpch_scale: float
    events: int

    @classmethod
    def named(cls, name: str) -> "Sizes":
        if name == "tiny":
            return cls(2_000, 200, 2_000, 50, 0.05, 1_000)
        return cls(g.UPSERT_BASE_ROWS, g.UPSERT_MIX.rows, g.LSM_BASE_ROWS,
                   g.LSM_MIX.rows, 1.0, g.EVENT_ROWS)


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def file_sizes(path: str) -> dict[str, int]:
    return {os.path.join(d, f): os.path.getsize(os.path.join(d, f))
            for d, _, fs in os.walk(path) for f in fs}


def new_bytes(before: dict[str, int], path: str) -> int:
    return sum(s for p, s in file_sizes(path).items() if p not in before)


class Workload:
    name = ""
    excluded_s = 0.0       # time in the last iteration that is not part of its cycle

    def __init__(self, spark, seed: int, sizes: Sizes, tracer):
        self.spark, self.seed, self.sizes, self.tracer = spark, seed, sizes, tracer
        self.input_bytes = 0
        self.input_rows = 0
        self.failed_ops = 0
        self.attempted_ops = 0

    @contextmanager
    def excluded(self):
        """Untimed gate collects inside an iteration."""
        t = time.perf_counter()
        try:
            yield
        finally:
            self.excluded_s += time.perf_counter() - t

    def warmup(self) -> list[str]:
        return []

    def exhausted(self) -> bool:
        return False

    def layers(self, tracer) -> dict[str, float]:
        return {}


def fs_layer(tracer) -> dict[str, float]:
    """`sinks.fs` calls and seconds per keyed-table call (means)."""
    tops = [sp for sp in tracer.spans if sp.parent is None
            and sp.name.startswith(("keyed.", "views."))]
    if not tops:
        return {}
    calls = defaultdict(int)
    for top in tops:
        for sp in tracer.inner(top, "fs."):
            calls[sp.name[3:]] += 1
    n = len(tops)
    out = {"fs.calls": sum(calls.values()) / n,
           "fs.s": sum(tracer.covered_s(top, "fs.") for top in tops) / n}
    out.update({f"fs.{fn}.calls": calls[fn] / n for fn in FS_FUNCS})
    return out


def _stat(spans, key):
    return median(sp.attrs[key] for sp in spans)


def _dur(spans):
    return median(sp.end - sp.start for sp in spans)


# ---------------------------------------------------------------------------


class UpsertRounds(Workload):
    """Parquet change batches merged into a plain-layout keyed table."""
    name = "upsert_rounds"
    STAGED = 8

    def setup(self, d: str) -> float:
        from howto_mongo_bulk_update_from_parquet_spark.sinks.keyed_table import \
            upsert_into_keyed_table
        from howto_mongo_bulk_update_from_parquet_spark.sources.generate import \
            generate_pipeline_data
        t = time.perf_counter()
        self.base = os.path.join(d, "base")
        generate_pipeline_data(self.spark, self.sizes.upsert_base, seed=self.seed) \
            .write.mode("overwrite").parquet(self.base)
        mix = g.BatchMix(self.sizes.upsert_rows, g.UPSERT_MIX.existing,
                         g.UPSERT_MIX.dup, g.UPSERT_MIX.null)
        self.rounds, nb = g.upsert_batches(self.seed, os.path.join(d, "rounds"),
                                           self.sizes.upsert_base, self.STAGED, mix)
        gen_s = time.perf_counter() - t
        self.input_bytes = dir_bytes(self.base) + nb
        self.input_rows = self.sizes.upsert_base + sum(r["rows"] for r in self.rounds)
        self.table = os.path.join(d, "table")
        upsert_into_keyed_table(self.spark, self.spark.read.parquet(self.base),
                                path=self.table, key="_id")
        self.applied: list[dict] = []
        self.counts: list[tuple] = []
        self.lat: list[tuple[float, int]] = []     # (seconds, source rows) per timed round
        return gen_s

    def warmup(self) -> list[str]:
        self.iteration(-1)      # first round, untimed; still checked
        self.lat.clear()
        return []

    def exhausted(self) -> bool:
        return len(self.applied) >= len(self.rounds)

    def iteration(self, i: int) -> list[float]:
        from howto_mongo_bulk_update_from_parquet_spark.sinks.keyed_table import \
            upsert_into_keyed_table
        if len(self.applied) >= len(self.rounds):
            raise RuntimeError("staged change batches exhausted")
        r = self.rounds[len(self.applied)]
        before = file_sizes(self.table) if self.tracer.enabled else None
        t = time.perf_counter()
        with self.tracer.call("keyed.upsert") as sp:
            _, counts = upsert_into_keyed_table(
                self.spark, self.spark.read.parquet(r["path"]), path=self.table,
                key="_id", payload=g.PAYLOAD, dedup_order_by=["seq"],
                return_counts=True)
        dt = time.perf_counter() - t
        if sp is not None:
            sp.attrs["bytes_written"] = new_bytes(before, self.table)
            sp.attrs["source_bytes"] = os.path.getsize(r["path"])
        self.attempted_ops += 1
        self.applied.append(r)
        self.counts.append((counts["n_matched"], counts["n_upserted"],
                            counts["n_untouched"]))
        self.lat.append((dt, r["rows"]))
        return []       # op_s samples the interactive calls: lookups and queries

    def check(self) -> list[str]:
        from howto_mongo_bulk_update_from_parquet_spark.sinks.keyed_table import \
            read_keyed_table
        problems = []
        for r, got in zip(self.applied, self.counts):
            want = (r["matched"], r["upserted"], r["untouched"])
            if got != want:
                self.failed_ops += 1
                problems.append(f"{os.path.basename(r['path'])}: counts {got} != {want}")
        model = models.keyed_state(os.path.join(self.base, "*.parquet"),
                                   [r["path"] for r in self.applied])
        got = read_keyed_table(self.spark, self.table).select("_id", *g.PAYLOAD).toPandas()
        diff = models.compare("upsert_rounds.table", got, model)
        if diff:
            self.failed_ops += len(self.applied) - len(problems)
            problems += diff
        self.live_bytes = models.live_parquet_bytes(
            model, os.path.join(os.path.dirname(self.table), "live.parquet"))
        self.table_bytes = dir_bytes(self.table)
        return problems

    def detail(self) -> dict[str, tuple[float, str]]:
        return {"upsert_rows_per_s": (sum(n for _, n in self.lat)
                                      / sum(s for s, _ in self.lat), "rows/s"),
                "upsert_round_s.p50": (median(s for s, _ in self.lat), "s"),
                "upsert_table_bytes_per_live_byte": (self.table_bytes / self.live_bytes,
                                                     "ratio")}

    def layers(self, tracer) -> dict[str, float]:
        ups = tracer.calls("keyed.upsert")
        if not ups:
            return {}
        out = {"keyed.upsert.s": _dur(ups), "keyed.upsert.jobs": _stat(ups, "jobs"),
               "keyed.upsert.tasks": _stat(ups, "tasks"),
               "keyed.upsert.bytes_written_per_source_byte":
                   sum(sp.attrs["bytes_written"] for sp in ups)
                   / sum(sp.attrs["source_bytes"] for sp in ups),
               "merge.build_s": median(tracer.covered_s(sp, "merge.") for sp in ups),
               "keyed.upsert.table_bytes_per_live_byte": self.table_bytes / self.live_bytes}
        return out


# ---------------------------------------------------------------------------


class LsmServe(Workload):
    """Range-layout table served by point lookups and a zone-map range scan
    while small partial-update deltas arrive and a grouped view follows."""
    name = "lsm_serve"
    STAGED = 8

    def setup(self, d: str) -> float:
        from howto_mongo_bulk_update_from_parquet_spark.sinks.keyed_table import \
            upsert_into_keyed_table
        from howto_mongo_bulk_update_from_parquet_spark.sinks.views import \
            maintain_grouped_view
        t = time.perf_counter()
        mix = g.BatchMix(self.sizes.lsm_rows, g.LSM_MIX.existing, g.LSM_MIX.dup,
                         g.LSM_MIX.null)
        self.base, self.deltas, nb = g.lsm_inputs(
            self.seed, os.path.join(d, "in"), self.sizes.lsm_base, self.STAGED, mix)
        gen_s = time.perf_counter() - t
        self.input_bytes = nb
        self.input_rows = self.sizes.lsm_base + sum(x["rows"] for x in self.deltas)
        self.table = os.path.join(d, "table")
        self.view = os.path.join(d, "view")
        upsert_into_keyed_table(self.spark, self.spark.read.parquet(self.base),
                                path=self.table, key="_id", updated_at_col=None,
                                range_files=8, stats_cols=["score"])
        maintain_grouped_view(self.spark, table_path=self.table, key="_id",
                              view_path=self.view, group_col="grp", sum_col="score")
        import numpy as np
        self.rng = np.random.default_rng([self.seed, 5])
        self.applied = 0
        self.pending = {"updated": set(), "new": set()}
        self.lookups: list[tuple[int, str, list]] = []     # (deltas applied, key, rows)
        self.scans: list[tuple[int, tuple, object]] = []
        self.lat = defaultdict(list)
        return gen_s

    def warmup(self) -> list[str]:
        """One arrival, left pending for the first timed cycle to fold;
        one lookup and one scan."""
        from howto_mongo_bulk_update_from_parquet_spark.sinks import keyed_table as kt
        self._arrive()
        k = f"id-{int(self.rng.integers(self.sizes.lsm_base)):012d}"
        kt.lookup_keyed_table(self.spark, self.table, "_id", values=[k]).collect()
        kt.scan_keyed_table(self.spark, self.table, where={"score": (0.5, 0.52)}) \
            .write.format("noop").mode("overwrite").save()
        self.lat.clear()
        return []

    def exhausted(self) -> bool:
        return self.applied >= len(self.deltas)

    def _arrive(self) -> None:
        """append_delta + maintain_grouped_view of the next staged delta."""
        from howto_mongo_bulk_update_from_parquet_spark.sinks import keyed_table as kt
        from howto_mongo_bulk_update_from_parquet_spark.sinks.views import \
            maintain_grouped_view
        if self.applied >= len(self.deltas):
            raise RuntimeError("staged deltas exhausted")
        delta = self.deltas[self.applied]
        t = time.perf_counter()
        with self.tracer.call("keyed.append"):
            kt.append_delta(self.spark, self.spark.read.parquet(delta["path"]).drop("seq"),
                            path=self.table, key="_id")
        with self.tracer.call("views.maintain") as sp:
            st = maintain_grouped_view(self.spark, table_path=self.table, key="_id",
                                       view_path=self.view, group_col="grp",
                                       sum_col="score")
        if sp is not None:
            sp.attrs.update(groups_touched=st["groups_touched"], changes=st["changes"])
        self.lat["arrival"].append(time.perf_counter() - t)
        self.applied += 1
        for kind in self.pending:
            self.pending[kind].update(delta[kind])
        self.pending["updated"] -= self.pending["new"]
        self.attempted_ops += 2

    def iteration(self, i: int) -> list[float]:
        """Fold the delta the previous cycle left pending, then one arrival,
        the lookups (one pending delta to merge) and the scan. Every cycle
        does the same work."""
        from howto_mongo_bulk_update_from_parquet_spark.sinks import keyed_table as kt
        tr = self.tracer
        self.excluded_s = 0.0
        before = file_sizes(self.table) if tr.enabled else None
        with tr.call("keyed.fold") as sp:
            kt.compact_pruned(self.spark, self.table, "_id")
        if sp is not None:
            sp.attrs["bytes_rewritten"] = new_bytes(before, self.table)
        self.pending = {"updated": set(), "new": set()}
        self.attempted_ops += 1
        self._arrive()
        ops = []

        pending = {kind: sorted(keys) for kind, keys in self.pending.items()}
        for kind in LSM_LOOKUP_KINDS:
            if kind == "untouched":
                k = f"id-{int(self.rng.integers(self.sizes.lsm_base)):012d}"
                while k in self.pending["updated"]:
                    k = f"id-{int(self.rng.integers(self.sizes.lsm_base)):012d}"
            else:
                k = pending[kind][int(self.rng.integers(len(pending[kind])))]
            t = time.perf_counter()
            with tr.call("keyed.lookup") as sp:
                df, stats = kt.lookup_keyed_table(self.spark, self.table, "_id",
                                                  values=[k], with_stats=True)
                rows = [r.asDict() for r in df.collect()]
            dt = time.perf_counter() - t
            if sp is not None:
                sp.attrs.update(stats)
            self.lookups.append((self.applied, k, rows))
            self.lat["lookup"].append(dt)
            ops.append(dt)

        lo = float(self.rng.uniform(0.05, 0.9))
        where = {"score": (lo, lo + LSM_SCAN_WIDTH)}
        t = time.perf_counter()
        with tr.call("keyed.scan") as sp:
            df, stats = kt.scan_keyed_table(self.spark, self.table, where=where,
                                            with_stats=True)
            df.write.format("noop").mode("overwrite").save()
        self.lat["scan"].append(time.perf_counter() - t)
        if sp is not None:
            sp.attrs.update(files_total=stats["files_total"],
                            files_read=stats["files_read"])
        with self.excluded():                       # the scan's rows, for the gate
            cols = ["_id"] + g.PAYLOAD + ["grp"]
            self.scans.append((self.applied, where["score"], df.select(*cols).toPandas()))
        self.attempted_ops += 1 + len(LSM_LOOKUP_KINDS)
        return ops

    def _model(self, n_deltas: int):
        return models.keyed_state(self.base, [d["path"] for d in self.deltas[:n_deltas]],
                                  g.PAYLOAD + ["grp"])

    def check(self) -> list[str]:
        from howto_mongo_bulk_update_from_parquet_spark.sinks.keyed_table import read_merged
        from howto_mongo_bulk_update_from_parquet_spark.sinks.views import \
            read_grouped_view
        import pandas as pd
        problems = []
        states = {}

        def state(n):
            if n not in states:
                states[n] = self._model(n).set_index("_id", drop=False)
            return states[n]

        cols = ["_id"] + g.PAYLOAD + ["grp"]
        for n, k, rows in self.lookups:
            s = state(n)
            want = s.loc[[k], cols] if k in s.index else s.iloc[0:0][cols]
            got = pd.DataFrame(rows, columns=cols).astype(want.dtypes.to_dict())
            if models.compare(f"lookup {k}@{n}", got, want.reset_index(drop=True)):
                self.failed_ops += 1
                problems.append(f"lookup {k} after {n} deltas differs from the model")
        for n, (lo, hi), got in self.scans:
            s = state(n)
            want = s[(s.score >= lo) & (s.score <= hi)][cols].reset_index(drop=True)
            if models.compare("scan", got, want):
                self.failed_ops += 1
                problems.append(f"scan [{lo:.4f}, {hi:.4f}] differs from the model")
        final = state(self.applied)
        got = read_merged(self.spark, self.table, "_id").select(*cols).toPandas()
        diff = models.compare("lsm_serve.table", got, final.reset_index(drop=True))
        if diff:
            self.failed_ops += 1
            problems += diff
        view = read_grouped_view(self.spark, self.view, "grp").toPandas()
        diff = models.compare_totals(view, models.group_totals(final, "grp", "score"), "grp")
        if diff:
            self.failed_ops += 1
            problems += [f"view: {p}" for p in diff]
        self.live_bytes = models.live_parquet_bytes(
            final.reset_index(drop=True),
            os.path.join(os.path.dirname(self.table), "live.parquet"))
        self.table_bytes = dir_bytes(self.table)
        return problems

    def detail(self) -> dict[str, tuple[float, str]]:
        look = sorted(self.lat["lookup"])
        p90 = look[min(len(look) - 1, int(0.9 * len(look)))]
        return {"arrival_s.p50": (median(self.lat["arrival"]), "s"),
                "point_lookup_s.p50": (median(look), "s"),
                "point_lookup_s.p90": (p90, "s"),
                "range_scan_s.p50": (median(self.lat["scan"]), "s"),
                "lsm_table_bytes_per_live_byte": (self.table_bytes / self.live_bytes, "ratio")}

    def layers(self, tracer) -> dict[str, float]:
        out: dict[str, float] = {}
        app, look = tracer.calls("keyed.append"), tracer.calls("keyed.lookup")
        scan, fold = tracer.calls("keyed.scan"), tracer.calls("keyed.fold")
        view = tracer.calls("views.maintain")
        if app:
            out.update({"keyed.append.s": _dur(app), "keyed.append.jobs": _stat(app, "jobs")})
        if look:
            out.update({"keyed.lookup.s": _dur(look), "keyed.lookup.jobs": _stat(look, "jobs"),
                        "keyed.lookup.deltas_read_ratio":
                            sum(sp.attrs["deltas"] for sp in look)
                            / max(1, sum(sp.attrs["deltas_total"] for sp in look))})
        if scan:
            out.update({"keyed.scan.s": _dur(scan), "keyed.scan.jobs": _stat(scan, "jobs")})
        if fold:
            out.update({"keyed.fold.s": _dur(fold), "keyed.fold.jobs": _stat(fold, "jobs"),
                        "keyed.fold.bytes_rewritten": _stat(fold, "bytes_rewritten")})
        if look or scan:
            pruned = look + scan
            out["zonemap.files_read_ratio"] = (
                sum(sp.attrs["files_read"] for sp in pruned)
                / max(1, sum(sp.attrs["files_total"] for sp in pruned)))
            out["zonemap.plan_s"] = median(
                tracer.covered_s(sp, "zonemap.", "bloom.") for sp in pruned)
        if view:
            out.update({"views.maintain.s": _dur(view),
                        "views.maintain.jobs": _stat(view, "jobs"),
                        "views.groups_touched_per_change":
                            sum(sp.attrs["groups_touched"] for sp in view)
                            / max(1, sum(sp.attrs["changes"] for sp in view))})
        out["keyed.lsm.table_bytes_per_live_byte"] = self.table_bytes / self.live_bytes
        return out


# ---------------------------------------------------------------------------

CATALOG_QUERIES = [
    "q1_pricing_summary", "q_tpch_q3_shipping", "q_window_topk",      # relational
    "q_weighted_median",                                              # percentiles
    "q_dedup_exact", "q_minhash_lsh_pairs", "q_sparse_cosine_pairs",  # dedup / text
    "q_ann_ivf_search",                                               # vector
    "q_shortest_paths",                                               # graph
]
ORACLE_TABLES = ["customer", "orders", "lineitem", "documents", "embeddings", "events"]


def _oracle_con(sf_dir: str):
    import duckdb
    con = duckdb.connect()
    for t in ORACLE_TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


class AnalyticsCatalog(Workload):
    """A fixed, ordered list of analytics-lane catalog queries into `noop`."""
    name = "analytics_catalog"

    def setup(self, d: str) -> float:
        t = time.perf_counter()
        rows = {k: max(10, int(v * self.sizes.tpch_scale)) for k, v in g.TPCH_ROWS.items()}
        self.sf_dir = os.path.join(d, "sf")
        self.input_rows, self.input_bytes = g.analytics_tables(self.seed, self.sf_dir, rows)
        self.pass_s: list[float] = []
        return time.perf_counter() - t

    def warmup(self) -> list[str]:
        from howto_mongo_bulk_update_from_parquet_spark.plans import all_queries
        from howto_mongo_bulk_update_from_parquet_spark.plans.catalog import CATALOG
        self.fns = all_queries()
        con = _oracle_con(self.sf_dir)
        problems = []
        self.attempted_ops += len(CATALOG_QUERIES)
        for name in CATALOG_QUERIES:
            got = self.fns[name](self.spark, self.sf_dir).toPandas()
            diff = models.compare(name, got, con.execute(CATALOG[name].oracle).fetchdf())
            if diff:
                self.failed_ops += 1
                problems.append(f"{name}: {diff}")
        return problems

    def iteration(self, i: int) -> list[float]:
        tr = self.tracer
        t_pass = time.perf_counter()
        for name in CATALOG_QUERIES:
            with tr.call(f"plans.build.{name}"):
                df = self.fns[name](self.spark, self.sf_dir)
            if tr.enabled:
                with tr.span(f"catalyst.{name}") as sp:
                    sp.attrs.update(catalyst_phases(df))
            with tr.call(f"exec.{name}"):
                df.write.format("noop").mode("overwrite").save()
        self.attempted_ops += len(CATALOG_QUERIES)
        self.pass_s.append(time.perf_counter() - t_pass)
        return [self.pass_s[-1] / len(CATALOG_QUERIES)]     # mean query latency

    def check(self) -> list[str]:
        return []

    def detail(self) -> dict[str, tuple[float, str]]:
        return {"catalog_s": (median(self.pass_s), "s")}

    def layers(self, tracer) -> dict[str, float]:
        by_iter = defaultdict(lambda: defaultdict(float))
        for sp in tracer.spans:
            if sp.parent is not None or sp.iteration is None:
                continue
            acc = by_iter[sp.iteration]
            if sp.name.startswith("plans.build."):
                acc["plans.build_s"] += sp.end - sp.start
            elif sp.name.startswith("catalyst."):
                for ph in ("analysis", "optimization", "planning"):
                    acc[f"catalyst.{ph}_ms"] += sp.attrs.get(ph, 0.0)
            elif sp.name.startswith("exec."):
                acc["exec.s"] += sp.end - sp.start
                for k in ("jobs", "tasks", "spill_bytes"):
                    acc[f"exec.{k}"] += sp.attrs[k]
        if not by_iter:
            return {}
        keys = {k for acc in by_iter.values() for k in acc}
        return {k: median(acc[k] for acc in by_iter.values()) for k in keys}


def catalyst_phases(df) -> dict[str, float]:
    """Analysis / optimization / planning ms of the frame's own query
    execution, read from its QueryPlanningTracker after forcing the plan."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for ph in ("analysis", "optimization", "planning"):
        opt = phases.get(ph)
        out[ph] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


# ---------------------------------------------------------------------------

STREAM_WARM_EVENTS = 1_000
STREAM_FUNCS = [
    # (span name, module, function, catalog query whose oracle checks it)
    ("first_seen", f"{PKG}.streaming.stateful", "stream_first_seen", "q_stream_first_seen"),
    ("first_seen_ttl", f"{PKG}.streaming.stateful", "stream_first_seen_ttl",
     "q_stream_first_seen"),
    ("dedup", f"{PKG}.streaming.jobs", "stream_dedup_events", "q_stream_dedup"),
]


class StreamState(Workload):
    """The events feed drained through Python (applyInPandasWithState) and
    JVM (dropDuplicatesWithinWatermark) streaming state."""
    name = "stream_state"

    def setup(self, d: str) -> float:
        t = time.perf_counter()
        self.sf_dir = os.path.join(d, "sf")
        self.input_rows, self.input_bytes = g.events_table(self.seed, self.sf_dir,
                                                           self.sizes.events)
        # a small feed of its own that warms the streaming code paths
        self.warm_dir = os.path.join(d, "warm")
        g.events_table(self.seed + 1_000_003, self.warm_dir, STREAM_WARM_EVENTS)
        self.drain_s: list[float] = []
        self.outputs: dict[str, list] = defaultdict(list)
        return time.perf_counter() - t

    def _fn(self, mod: str, fn: str):
        import importlib
        return getattr(importlib.import_module(mod), fn)

    def warmup(self) -> list[str]:
        """Drain the small warm-up feed through each function (unchecked)."""
        for _, mod, fn, _ in STREAM_FUNCS:
            self._fn(mod, fn)(self.spark, self.warm_dir).count()
        return []

    def iteration(self, i: int) -> list[float]:
        drain = 0.0
        self.excluded_s = 0.0
        for short, mod, fn, _ in STREAM_FUNCS:
            t = time.perf_counter()
            with self.tracer.call(f"stream.{short}"):
                out = self._fn(mod, fn)(self.spark, self.sf_dir)
            drain += time.perf_counter() - t
            with self.excluded():
                self.outputs[short].append(out.toPandas())
        self.attempted_ops += len(STREAM_FUNCS)
        self.drain_s.append(drain)
        return []       # op_s samples the catalog queries; the drain is in the cycle

    def check(self) -> list[str]:
        """Every drained output equals its catalog query's DuckDB oracle."""
        from howto_mongo_bulk_update_from_parquet_spark.plans import all_queries
        from howto_mongo_bulk_update_from_parquet_spark.plans.catalog import CATALOG
        all_queries()
        con = _oracle_con(self.sf_dir)
        problems = []
        for short, _, _, q in STREAM_FUNCS:
            want = con.execute(CATALOG[q].oracle).fetchdf()
            for got in self.outputs[short]:
                diff = models.compare(short, got, want)
                if diff:
                    self.failed_ops += 1
                    problems.append(f"{short}: {diff}")
        return problems

    def detail(self) -> dict[str, tuple[float, str]]:
        return {"stream_drain_s": (median(self.drain_s), "s")}

    def layers(self, tracer) -> dict[str, float]:
        out = {}
        for short, *_ in STREAM_FUNCS:
            spans = tracer.calls(f"stream.{short}")
            if spans:
                out[f"stream.{short}.s"] = _dur(spans)
                out[f"stream.{short}.jobs"] = _stat(spans, "jobs")
                out[f"stream.{short}.tasks"] = _stat(spans, "tasks")
        return out


# ---------------------------------------------------------------------------


class Composite(Workload):
    """Parts run one after another inside each phase; one iteration runs
    one iteration of every part."""
    part_types: tuple = ()

    def __init__(self, spark, seed: int, sizes: Sizes, tracer):
        super().__init__(spark, seed, sizes, tracer)
        self.parts = [p(spark, seed, sizes, tracer) for p in self.part_types]

    def setup(self, d: str) -> float:
        gen_s = sum(p.setup(os.path.join(d, p.name)) for p in self.parts)
        self.input_rows = sum(p.input_rows for p in self.parts)
        self.input_bytes = sum(p.input_bytes for p in self.parts)
        return gen_s

    def warmup(self) -> list[str]:
        return [x for p in self.parts for x in p.warmup()]

    def exhausted(self) -> bool:
        return any(p.exhausted() for p in self.parts)

    def iteration(self, i: int) -> list[float]:
        ops = [x for p in self.parts for x in p.iteration(i)]
        self.excluded_s = sum(p.excluded_s for p in self.parts)
        return ops

    def check(self) -> list[str]:
        problems = [x for p in self.parts for x in p.check()]
        self.failed_ops = sum(p.failed_ops for p in self.parts)
        self.attempted_ops = sum(p.attempted_ops for p in self.parts)
        return problems

    def detail(self) -> dict[str, tuple[float, str]]:
        return {k: v for p in self.parts for k, v in p.detail().items()}

    def layers(self, tracer) -> dict[str, float]:
        return {k: v for p in self.parts for k, v in p.layers(tracer).items()}


class Keyed(Composite):
    """upsert_rounds + lsm_serve: the keyed table's write and read paths."""
    name = "keyed"
    part_types = (UpsertRounds, LsmServe)

    def layers(self, tracer) -> dict[str, float]:
        return {**super().layers(tracer), **fs_layer(tracer)}


class Catalog(Composite):
    """analytics_catalog + stream_state: plans, operators and streaming;
    the keyed table is never touched."""
    name = "catalog"
    part_types = (AnalyticsCatalog, StreamState)


WORKLOADS = {w.name: w for w in (Keyed, Catalog)}
