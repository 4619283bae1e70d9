"""Benchmark entry point: one workload, one seed, one result line.

    python3 perfbench/run.py --workload upsert_rounds --seed 1 --seconds 10 --trace 0

Run from the repository root. Everything the run writes (inputs,
tables, Spark scratch, the span dump and the run-quality record) goes
under `.perfbench/` there. The last line of standard output is one JSON
object: `correct`, `attempted`, `failed` and `metrics`, where metrics
are the end-to-end metrics of BENCHMARK.json (`--trace 0`) or its
per-layer metrics (`--trace 1`). Lines before it print the workload's
own figures by name. A failed correctness gate exits 1.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def reset_rss_peaks(pids) -> None:
    """Reset VmHWM to the current RSS, so the peak read later covers only
    what ran in between."""
    for pid in pids:
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as fh:
                fh.write("5")
        except OSError:
            pass


def rss_peak_mb(pids) -> float:
    """Sum of VmHWM (peak resident set) over the given processes."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            pass
    return total / 1024.0


def calibration_s(spark) -> float:
    """Fixed CPU-bound job with no I/O and no Python workers: the same
    hash-aggregate over a generated 20M range that `bench.py::spark_probe`
    times. It moves with CPU steal, not with the code under test."""
    t = time.perf_counter()
    spark.range(0, 20_000_000, 1, 32).selectExpr(
        "sum(hash(id)) AS h", "count(1) AS n").collect()
    return time.perf_counter() - t


def configure(work: str) -> None:
    """Keep every file the run (and Spark) writes inside the checkout."""
    import tempfile
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    # every JVM spark-submit starts: temp files here, no /tmp/hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)


def start_session(work: str):
    from howto_mongo_bulk_update_from_parquet_spark.session import get_spark
    return get_spark("perfbench", extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    })


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run(workload: str, seed: int, seconds: float, trace: bool,
        size: str = "full") -> tuple[dict, dict]:
    """Run one workload. Returns (result line, run record)."""
    work = os.path.join(ROOT, ".perfbench", f"{workload}-s{seed}-t{int(trace)}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench", "out")
    os.makedirs(out_dir, exist_ok=True)
    configure(work)
    sys.path.insert(0, HERE)
    import workloads as W
    from spans import Tracer, median

    t0 = t = time.perf_counter()
    spark = start_session(work)
    session_s = time.perf_counter() - t
    phases = {}

    def phase(name):
        phases[name] = round(time.perf_counter() - t0, 3)

    record: dict = {
        "workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
        "size": size, "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "spark_version": spark.version, "python_version": platform.python_version(),
        "default_parallelism": spark.sparkContext.defaultParallelism,
    }
    jvm_pid = getattr(spark.sparkContext._gateway, "proc", None)
    pids = [os.getpid()] + ([jvm_pid.pid] if jvm_pid is not None else [])
    try:
        tracer = Tracer(spark, workload, enabled=False)
        wl = W.WORKLOADS[workload](spark, seed, W.Sizes.named(size), tracer)

        setup_s, gen_s = [], []
        for rep in range(SETUP_REPS):
            rep_dir = os.path.join(work, f"setup{rep}")
            if rep:
                shutil.rmtree(os.path.join(work, f"setup{rep - 1}"), ignore_errors=True)
            t = time.perf_counter()
            gen_s.append(wl.setup(rep_dir))
            setup_s.append(time.perf_counter() - t)
        phase("set_up")
        problems = wl.warmup()
        phase("warmed_up")

        if trace:
            tracer.enabled = True
            tracer.install()
        iter_s = {True: [], False: []}
        ops: list[float] = []
        error = None
        record["calibration_before_s"] = calibration_s(spark)
        reset_rss_peaks(pids)
        t_loop = time.perf_counter()
        i = 0
        # traced runs alternate untraced and traced iterations, so the
        # overhead is measured within one run; at least one of each
        while not wl.exhausted() and (time.perf_counter() - t_loop < seconds
                                      or (trace and i < 2)):
            traced = trace and i % 2 == 1
            tracer.enabled = traced
            tracer.iteration = i
            t = time.perf_counter()
            try:
                ops += wl.iteration(i)
            except Exception as exc:  # noqa: BLE001 - a failed call is a failed op
                error = f"iteration {i}: {type(exc).__name__}: {exc}"
                break
            # gate collects are not part of the cycle
            iter_s[traced].append(time.perf_counter() - t - wl.excluded_s)
            i += 1
        tracer.enabled = False
        tracer.uninstall()
        record["peak_rss_mb"] = rss_peak_mb(pids)
        record["inputs_exhausted"] = wl.exhausted()
        phase("measured")
        problems += wl.check()
        phase("checked")
        if error:
            problems.append(error)
        record["calibration_after_s"] = calibration_s(spark)
        record["iterations"] = i
    finally:
        stop_session(spark)
    phase("stopped")
    record["phases_s"] = phases
    shutil.rmtree(work, ignore_errors=True)

    e2e = {"setup_s": session_s + median(setup_s),
           "op_s.p50": median(ops),
           "cycle_s.p50": median(iter_s[False] + iter_s[True])}
    detail = wl.detail() if not error else {}
    detail["peak_rss_mb"] = (record["peak_rss_mb"], "MB")
    failed = wl.failed_ops + bool(error)
    attempted = max(1, wl.attempted_ops + bool(error))
    detail["ops_failed_frac"] = (failed / attempted, "ratio")

    layers = {"session.start_s": session_s, "sources.generate_s": median(gen_s),
              "sources.input_bytes": wl.input_bytes, "peak_rss_mb": record["peak_rss_mb"]}
    if trace:
        layers.update(wl.layers(tracer))
        if iter_s[True] and iter_s[False]:
            layers["trace.overhead_frac"] = median(iter_s[True]) / median(iter_s[False]) - 1
        with open(os.path.join(out_dir, f"spans-{workload}-s{seed}.json"), "w") as fh:
            json.dump({"spans": tracer.dump(), "self_s": tracer.self_times()}, fh)
    b = spec()
    unknown = set(layers) - {m["name"] for m in b["per_layer"]}
    if unknown:
        raise RuntimeError(f"per-layer metrics missing from BENCHMARK.json: {sorted(unknown)}")
    values = layers if trace else e2e
    # a layer the workload bypasses reports 0: no call reached it
    metrics = {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]}
               for m in b["per_layer" if trace else "end_to_end"]}
    result = {"correct": not problems, "attempted": attempted, "failed": failed,
              "metrics": metrics}

    record.update(setup_reps_s=setup_s, problems=problems,
                  input_rows=wl.input_rows, input_bytes=wl.input_bytes,
                  detail={k: v for k, (v, _) in detail.items()},
                  emitted=sorted(values), result=result)
    with open(os.path.join(out_dir, f"run-{workload}-s{seed}-t{int(trace)}.json"), "w") as fh:
        json.dump(record, fh, indent=1)
    return result, {"record": record, "detail": detail, "problems": problems}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=spec()["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    args = ap.parse_args(argv)

    try:
        import howto_mongo_bulk_update_from_parquet_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the package is not importable from {ROOT}: {exc}",
              file=sys.stderr)
        return 2
    names = [w["name"] for w in spec()["workloads"]]
    if args.workload not in names:
        print(f"perfbench: unknown workload {args.workload!r}; one of {names}",
              file=sys.stderr)
        return 2

    result, info = run(args.workload, args.seed, args.seconds, bool(args.trace),
                       args.size)
    for name, (value, unit) in info["detail"].items():
        print(f"{name} {value:.6g} {unit}")
    rec = info["record"]
    print("run_quality " + json.dumps({k: rec.get(k) for k in (
        "nproc", "SPARK_GRAFT_CPUS", "spark_version", "python_version",
        "calibration_before_s", "calibration_after_s", "iterations")}))
    for p in info["problems"]:
        print(f"FAILED {p}")
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    raise SystemExit(main())
