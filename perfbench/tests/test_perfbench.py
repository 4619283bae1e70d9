"""The benchmark's own tests.

    python3 -m pytest perfbench/tests -q

The smoke tests start one Spark JVM per run (tiny inputs, ~50 s each).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import workloads as W  # noqa: E402
from spans import FS_FUNCS  # noqa: E402


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def run_tiny(workload: str, trace: int, seed: int = 7, prelude: str = "",
             seconds: int = 2):
    """Run one tiny workload in its own process; returns (exit code, result
    line, run record, completed process)."""
    code = (f"import sys; sys.path[:0] = [{BENCH!r}, {ROOT!r}]\n{prelude}\n"
            f"import run; raise SystemExit(run.main(['--workload', {workload!r}, "
            f"'--seed', '{seed}', '--seconds', '{seconds}', '--trace', '{trace}', "
            f"'--size', 'tiny']))")
    p = subprocess.run([sys.executable, "-c", code], cwd=ROOT, capture_output=True,
                       text=True, timeout=600)
    last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else "{}"
    rec_path = os.path.join(ROOT, ".perfbench", "out",
                            f"run-{workload}-s{seed}-t{trace}.json")
    with open(rec_path) as fh:
        record = json.load(fh)
    return p.returncode, json.loads(last), record, p


def test_workload_names_match_spec():
    assert set(W.WORKLOADS) == {w["name"] for w in spec()["workloads"]}


def test_spec_shape():
    b = spec()
    assert set(b) == {"command", "paths", "run_seconds", "workloads",
                      "end_to_end", "per_layer"}
    names = [m["name"] for m in b["end_to_end"] + b["per_layer"]]
    assert len(names) == len(set(names))
    e2e = {m["name"]: m for m in b["end_to_end"]}
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in b["end_to_end"])
    assert all(0 < m["bound"] <= 0.25 for m in b["end_to_end"])
    assert {f"fs.{fn}.calls" for fn in FS_FUNCS} <= {m["name"] for m in b["per_layer"]}


@pytest.fixture(scope="module")
def traced_runs():
    return {w: run_tiny(w, trace=1) for w in W.WORKLOADS}


def test_smoke_runs_are_correct(traced_runs):
    for w, (rc, result, record, p) in traced_runs.items():
        assert rc == 0, (w, p.stdout[-2000:], p.stderr[-2000:])
        assert result["correct"] and result["failed"] == 0, w
        assert record["detail"]["ops_failed_frac"] == 0, w


def test_emitted_layer_metrics_match_spec(traced_runs):
    """Every per-layer name some workload computes is in BENCHMARK.json,
    and every name in BENCHMARK.json is computed by some workload."""
    emitted = set()
    for w, (_, result, record, _) in traced_runs.items():
        assert set(result["metrics"]) == {m["name"] for m in spec()["per_layer"]}, w
        emitted |= set(record["emitted"])
    assert emitted == {m["name"] for m in spec()["per_layer"]}


def test_untraced_run_prints_end_to_end_metrics():
    rc, result, record, p = run_tiny("catalog", trace=0)
    assert rc == 0, p.stderr[-2000:]
    want = {m["name"]: m["unit"] for m in spec()["end_to_end"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert all(v["value"] > 0 for v in result["metrics"].values())
    assert set(record["emitted"]) == set(want)
    assert "catalog_s" in p.stdout and "stream_drain_s" in p.stdout


def test_corrupted_model_fails_the_gate():
    prelude = ("import models\n"
               "_orig = models.keyed_state\n"
               "def _bad(*a, **k):\n"
               "    df = _orig(*a, **k)\n"
               "    df.loc[df.index[0], 'score'] += 1.0\n"
               "    return df\n"
               "models.keyed_state = _bad\n")
    rc, result, record, p = run_tiny("keyed", trace=0, prelude=prelude)
    assert rc == 1
    assert result["correct"] is False and result["failed"] > 0
    assert record["detail"]["ops_failed_frac"] > 0


def test_loop_stops_when_staged_inputs_run_out():
    """A --seconds longer than the staged inputs last ends the timed loop
    early instead of failing: every staged round but the warm-up's runs."""
    rc, result, record, p = run_tiny("keyed", trace=0, seed=8, seconds=900)
    assert rc == 0, p.stderr[-2000:]
    assert result["correct"] and record["inputs_exhausted"]
    assert record["iterations"] == W.LsmServe.STAGED - 1
