"""Benchmark harness: run the full query catalog at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print one
JSON line with per-query and total wall-clock seconds.

Each Spark query executes fully via the `noop` sink (computes every
column, no write cost, no driver-side materialization). Because the
reference publishes no benchmark numbers (BASELINE.md), each query's
DuckDB oracle is ALSO timed on the same parquet at the same SF — that
single-node columnar engine is the concrete yardstick for the "within
2×" budget: `duck` holds oracle seconds, `ratio` spark/duck per query,
and `over_2x` lists the queries above budget (streaming queries carry
the engine's micro-batch/state-store fixed cost and are expected
there; `no_oracle`/unmeasurable entries are excluded).

Layout (r7): the driver's fixtures are SINGLE-file/single-row-group
parquet, which caps every scan at one core by layout — BENCH_NOTES
measured the identical plan 11× faster on a 32-file copy.
`SPARK_GRAFT_LAYOUT=multifile32` stages a 32-file copy of each table
once (mtime-keyed, excluded from timings, TIMESTAMP_MICROS pinned)
and runs BOTH engines against it; the committed BENCH_MULTIFILE.json
records that mode's full detail each round. The DEFAULT stays the raw
single-file fixture so BENCH_r{N}.json remains comparable across
rounds and against the recorded baseline ratios — the measured
asymmetry (BENCH_NOTES r7): the multi-file layout speeds DuckDB's
5-100 ms scan-bound oracles ~2× while Spark's totals are dominated by
the ~0.3-0.5 s/query scheduler floor, so flipping the headline would
inflate the aggregate ratio without any query getting slower.

Noise sentinel (r7): this host suffers CPU-steal spikes that have
swung same-commit totals 1.5-2× between runs. DuckDB runs in-process
on the same box, so its per-oracle mean is a co-measured probe: the
printed line carries `noise` = observed-mean / calibrated-mean, and
`noisy: true` when it exceeds 1.5× — a self-describing flag that the
artifact was taken on a degraded box (rerun, or compare per-query
ratios rather than totals).

Spark-side sentinel + auto-re-measure (r10, closing the r8/r9 verdict
item): the DuckDB probe runs single-threaded in-process and has missed
steal spikes that hit only the 32-thread Spark phase — BENCH_r08/r09
committed phantom per-query regressions under `noisy: false`. Two
fixes: (1) a fixed Spark calibration job (hash-agg over a generated
range, no I/O) is timed before and after the catalog pass;
`spark_noise` = best observed / calibrated steady, and `noisy` now
raises on EITHER probe. (2) Any query whose timed slot moved >2× in
either direction vs the prior committed BENCH_FULL.json (same layout,
same sf, absolute slot ≥ 1 s) is automatically re-run under the
BENCH_NOTES 4-repeat protocol before the artifact is written; the
recorded slot is the steady state (min of the 4 — work is
deterministic, so spikes only ever inflate), and `remeasured` keeps
every repeat so the adjudication is in the artifact itself.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
import sys
import time

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
SMALL_DIMS = {"region", "nation"}          # stay single-file when staged

# Calibrated DuckDB per-oracle mean at sf0.1 on an idle box, PER
# LAYOUT (recalibrate when the catalog's query mix shifts materially:
# value = duck_total / n_oracles from a quiet-box BENCH_FULL.json —
# r7 calibration: single 47.8 s / 188 oracles; multifile 21.3 s / 189).
DUCK_REF_MEAN_SEC = {"single": 0.254, "multifile32": 0.113}
NOISE_THRESHOLD = 1.5

# Calibrated steady time of the Spark-side probe (below) on an idle
# box — min over repeated runs, local[32] (r10 calibration: [0.213,
# 0.165, 0.129, 0.127, 0.121] after the one-time codegen warm-up).
# Recalibrate alongside DUCK_REF_MEAN_SEC.
SPARK_PROBE_REF_SEC = 0.13
# Re-measure movers: >2x vs the prior committed artifact, >=1 s slot.
REMEASURE_FACTOR = 2.0
REMEASURE_MIN_SEC = 1.0
REMEASURE_REPEATS = 3          # +1 first-pass measurement = 4 total
REMEASURE_CAP = 15             # bound the extra wall-clock per run


def spark_probe(spark) -> float:
    """Fixed CPU-bound Spark job (no I/O, no Python workers): hash-agg
    over a generated 20M range across 32 partitions. Its wall-clock
    moves with exactly the executor-side CPU steal the DuckDB probe
    can't see."""
    t0 = time.perf_counter()
    spark.range(0, 20_000_000, 1, 32).selectExpr(
        "sum(hash(id)) AS h", "count(1) AS n").collect()
    return time.perf_counter() - t0


def prior_artifact(layout: str, sf) -> dict[str, float]:
    """Per-query slots from the committed artifact of the prior round
    (per layout: BENCH_FULL.json for the default single-file run,
    BENCH_MULTIFILE.json for the multifile experiment), used as the
    re-measure reference — only when layout and sf match (cross-layout
    slots aren't comparable) and the artifact is not itself flagged
    `noisy` (a slot measured under CPU steal is no reference)."""
    fname = ("BENCH_MULTIFILE.json" if layout == "multifile32"
             else "BENCH_FULL.json")
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)), fname)
    try:
        with open(path) as fh:
            prior = json.load(fh)
    except (OSError, json.JSONDecodeError):
        return {}
    if (prior.get("layout") != layout or prior.get("sf") != sf
            or prior.get("noisy")):
        return {}
    return {n: v for n, v in prior.get("queries", {}).items()
            if isinstance(v, (int, float)) and v > 0}


def stage_multifile(spark, sf_dir: str, n_files: int = 32) -> str:
    """One-time 32-file restaging of the fixture tables, keyed on the
    sources' (size, mtime_ns) so regeneration re-stages. Values pass
    through load_table (same ns→µs events handling as every query),
    so the staged copy is semantically identical to what the engine
    reads from the raw fixture."""
    from howto_mongo_bulk_update_from_parquet_spark.sources.parquet import load_table

    ident = {}
    for t in TABLES:
        st = os.stat(os.path.join(sf_dir, f"{t}.parquet"))
        ident[t] = [st.st_size, st.st_mtime_ns]
    key = hashlib.sha256(
        json.dumps(ident, sort_keys=True).encode()).hexdigest()[:12]
    base = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        ".bench_layout")
    dest = os.path.join(
        base, f"{os.path.basename(sf_dir.rstrip('/'))}-{n_files}f-{key}")
    if os.path.exists(os.path.join(dest, "_STAGED")):
        return dest
    tmp = f"{dest}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    # INT96 (the legacy default on some sessions) reads back as ns in
    # pyarrow and would misroute events through the raw-int64 path —
    # pin the staged copy to plain TIMESTAMP_MICROS
    prev_tt = spark.conf.get("spark.sql.parquet.outputTimestampType", None)
    spark.conf.set("spark.sql.parquet.outputTimestampType",
                   "TIMESTAMP_MICROS")
    try:
        for t in TABLES:
            n = 1 if t in SMALL_DIMS else n_files
            (load_table(spark, sf_dir, t).repartition(n)
             .write.mode("overwrite")
             .parquet(os.path.join(tmp, f"{t}.parquet")))
    finally:
        if prev_tt is not None:
            spark.conf.set("spark.sql.parquet.outputTimestampType", prev_tt)
    with open(os.path.join(tmp, "_STAGED"), "w") as fh:
        fh.write(key)
    try:
        os.rename(tmp, dest)
    except OSError:                       # concurrent stager won
        shutil.rmtree(tmp, ignore_errors=True)
    # stale generations of THIS sf_dir (older fixture versions);
    # other SFs' staged copies stay
    prefix = f"{os.path.basename(sf_dir.rstrip('/'))}-{n_files}f-"
    for e in os.scandir(base):
        if (e.is_dir() and e.name.startswith(prefix)
                and e.name != os.path.basename(dest)):
            shutil.rmtree(e.path, ignore_errors=True)
    return dest


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    layout = os.environ.get("SPARK_GRAFT_LAYOUT", "single")
    m = re.search(r"sf([\d.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else None

    from howto_mongo_bulk_update_from_parquet_spark.plans import all_queries
    from howto_mongo_bulk_update_from_parquet_spark.plans.catalog import CATALOG
    from howto_mongo_bulk_update_from_parquet_spark.session import get_spark

    spark = get_spark("bench")
    queries = all_queries()

    stage_sec = 0.0
    if layout == "multifile32":
        t0 = time.perf_counter()
        sf_dir = stage_multifile(spark, sf_dir)
        stage_sec = round(time.perf_counter() - t0, 3)

    # warm the JVM/session + file-listing caches so fixed startup cost
    # isn't charged to whichever query happens to run first
    spark.range(1).count()
    try:
        queries["q1_pricing_summary"](spark, sf_dir).write.format("noop").mode("overwrite").save()
    except Exception:  # noqa: BLE001 - warm-up failures surface in the timed run
        pass
    # pre-stage the one-time layout materializations (partitioned /
    # bucketed / jsonl / csv copies, written once per fixture
    # generation) AND run each staged query once: their timed slots
    # should measure the QUERY, not the layout step or the one-time
    # session warm-up (Python DataSource worker fork, Arrow codepath
    # JIT) a real deployment amortizes across every run — the same
    # class of cost the q1 warm-up above removes for the JVM side.
    for staged in ["q_dpp_partition_pruned_join", "q_bucketed_colocated_join",
                   "q_jsonl_ingest", "q_csv_ingest", "q_xml_ingest",
                   "q_fixedwidth_ingest",
                   "q_schema_evolution_read"]:
        try:
            queries[staged](spark, sf_dir).write.format("noop") \
                .mode("overwrite").save()
        except Exception:  # noqa: BLE001
            pass

    # read the prior round's per-query detail BEFORE this run
    # overwrites the file
    prior = prior_artifact(layout, sf)

    spark_probe(spark)                # untimed: one-time codegen warm-up
    probe_runs = [round(spark_probe(spark), 3)]   # pre-pass calibration

    timings: dict[str, float] = {}
    t_total0 = time.perf_counter()
    for name, fn in queries.items():
        t0 = time.perf_counter()
        try:
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            timings[name] = round(time.perf_counter() - t0, 3)
        except Exception as exc:  # noqa: BLE001
            timings[name] = -1.0
            print(f"bench error in {name}: {exc}", file=sys.stderr)
    total = round(time.perf_counter() - t_total0, 3)

    probe_runs.append(round(spark_probe(spark), 3))  # post-pass

    # --- auto-re-measure movers (4-repeat protocol, r10) ----------------
    def _is_mover(name: str) -> bool:
        cur, ref = timings.get(name, -1.0), prior.get(name, 0.0)
        if cur <= 0 or ref <= 0 or max(cur, ref) < REMEASURE_MIN_SEC:
            return False
        return cur / ref > REMEASURE_FACTOR or ref / cur > REMEASURE_FACTOR
    movers = sorted((n for n in timings if _is_mover(n)),
                    key=lambda n: -abs(timings[n] - prior[n]))
    if len(movers) > REMEASURE_CAP:
        print(f"bench: {len(movers)} movers exceed the re-measure cap "
              f"({REMEASURE_CAP}); largest absolute movers re-measured, "
              f"dropped: {movers[REMEASURE_CAP:]}", file=sys.stderr)
    remeasured: dict[str, dict] = {}
    for name in movers[:REMEASURE_CAP]:
        repeats = [timings[name]]
        for _ in range(REMEASURE_REPEATS):
            t0 = time.perf_counter()
            try:
                queries[name](spark, sf_dir).write.format("noop") \
                    .mode("overwrite").save()
            except Exception:  # noqa: BLE001
                break
            repeats.append(round(time.perf_counter() - t0, 3))
        # median over ALL observations (cold first-pass included), not
        # min: min over warm repeats measures a systematically more
        # favorable protocol than the single cold pass every other slot
        # gets, which could adjudicate away a real cache-sensitive
        # regression (ADVICE r10). The artifact records the substituted
        # slots and their protocol so readers can tell them apart.
        import statistics
        steady = round(statistics.median(repeats), 3)
        remeasured[name] = {"prior": prior[name], "first": timings[name],
                            "repeats": repeats, "steady": steady,
                            "protocol": "median_of_first+%d_warm"
                                        % REMEASURE_REPEATS}
        timings[name] = steady           # record the steady state
    if remeasured:
        # the re-measured steady values replace the noisy first-pass
        # slots in the total as well, so totals stay comparable
        total = round(total - sum(r["first"] - r["steady"]
                                  for r in remeasured.values()), 3)

    # --- DuckDB oracle timings: the single-node yardstick ---------------
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        src = f"{p}/*.parquet" if os.path.isdir(p) else p
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{src}')")
    duck: dict[str, float] = {}
    for name, q in CATALOG.items():
        if q.oracle is None:
            continue
        t0 = time.perf_counter()
        try:
            con.execute(q.oracle).fetchall()
            duck[name] = round(time.perf_counter() - t0, 3)
        except Exception as exc:  # noqa: BLE001
            print(f"bench duck error in {name}: {exc}", file=sys.stderr)

    ratio = {n: round(timings[n] / duck[n], 2)
             for n in duck if timings.get(n, -1) > 0 and duck[n] > 0}
    over_2x = sorted(n for n, r in ratio.items() if r > 2.0)
    slowest = {n: round(v, 2)
               for n, v in sorted(timings.items(), key=lambda kv: -kv[1])[:10]}

    # --- per-lane reporting (r12 verdict #3): single-DAG analytics vs
    # multi-job storage/pipeline cycles vs streaming micro-batch, each
    # with its own totals and over-2x count, plus the overlapping-set
    # round-over-round delta — the composition-insensitive numbers.
    from howto_mongo_bulk_update_from_parquet_spark.plans.lanes import (
        LANES, lane_of)
    lanes: dict[str, dict] = {}
    for lane in LANES:
        names = [n for n in timings if lane_of(n) == lane]
        lane_spark = round(sum(timings[n] for n in names
                               if timings[n] > 0), 3)
        lane_duck = round(sum(duck[n] for n in names if n in duck), 3)
        overlap = [n for n in names
                   if timings.get(n, -1) > 0 and prior.get(n, 0) > 0]
        lanes[lane] = {
            "n": len(names),
            "spark": lane_spark,
            "duck": lane_duck,
            "ratio": (round(lane_spark / lane_duck, 2)
                      if lane_duck > 0 else None),
            "n_over_2x": sum(1 for n in names if n in ratio
                             and ratio[n] > 2.0),
            # same-query set present in BOTH this and the prior
            # committed artifact: the comparable round-over-round move
            "overlap_n": len(overlap),
            "overlap_spark": round(sum(timings[n] for n in overlap), 3),
            "overlap_prior": round(sum(prior[n] for n in overlap), 3),
        }

    duck_total = round(sum(duck.values()), 3)
    ref_mean = DUCK_REF_MEAN_SEC.get(layout, DUCK_REF_MEAN_SEC["single"])
    noise = round((duck_total / max(len(duck), 1)) / ref_mean, 2)
    # Spark-side steal probe: the best (least-disturbed) observation
    # vs the calibrated steady — a degraded 32-thread phase shows here
    # even when the single-threaded DuckDB probe stayed clean
    spark_noise = round(min(probe_runs) / SPARK_PROBE_REF_SEC, 2)
    noisy = noise > NOISE_THRESHOLD or spark_noise > NOISE_THRESHOLD

    # Full per-query detail goes to disk; the printed line stays compact.
    # The driver's log-tail capture window is 2,000 chars — a line longer
    # than that is truncated mid-JSON and recorded as parsed:null — so the
    # printed summary carries only totals + the slowest-10 (~0.7 KB) and
    # the complete per-query timing/oracle detail lives in BENCH_FULL.json.
    # write the layout-appropriate artifact: a multifile experiment
    # must not overwrite the committed single-layout detail (the
    # mover-adjudication baseline reads per layout too)
    out_name = ("BENCH_MULTIFILE.json" if layout == "multifile32"
                else "BENCH_FULL.json")
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           out_name), "w") as fh:
        json.dump({
            "metric": "catalog_total_wall_clock",
            "value": total,
            "unit": "sec",
            "queries": timings,
            "duck": duck,
            "ratio": ratio,
            "over_2x": over_2x,
            "lanes": lanes,
            "duck_total": duck_total,
            "sf": sf,
            "layout": layout,
            "stage_sec": stage_sec,
            "noise": noise,
            "spark_noise": spark_noise,
            "probe_runs": probe_runs,
            "remeasured": remeasured,
            "remeasure_protocol": "median of first-pass + warm repeats "
                                  "(substituted slots only; all other "
                                  "slots are single cold-pass)",
            "noisy": noisy,
        }, fh, indent=1, sort_keys=True)

    line = json.dumps({
        "metric": "catalog_total_wall_clock",
        "value": total,
        "unit": "sec",
        "queries": slowest,  # slowest-10 only; full detail in BENCH_FULL.json
        "sf": sf,
        "n_queries": len(timings),
        "n_errors": sum(1 for v in timings.values() if v < 0),
        "duck_total": duck_total,
        "n_over_2x": len(over_2x),
        # compact per-lane summary; full lane detail in BENCH_FULL.json.
        # "analytics" is the comparable headline (single-DAG queries);
        # "cycle"/"streaming" are multi-job / micro-batch slots whose
        # DuckDB "ratio" is structural, not a plan property.
        "lanes": {ln: {"n": d["n"], "spark": d["spark"],
                       "duck": d["duck"], "o2x": d["n_over_2x"]}
                  for ln, d in lanes.items()},
        "layout": layout,
        "noise": noise,
        "spark_noise": spark_noise,
        "n_remeasured": len(remeasured),
        "noisy": noisy,
    }, separators=(",", ":"))
    assert len(line) <= 1900, f"bench summary line too long: {len(line)}"
    print(line)


if __name__ == "__main__":
    main()
