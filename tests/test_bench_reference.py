"""`bench.py::prior_artifact`: the committed per-query reference is used
only when its layout and scale factor match and it was not itself
measured on a noisy host."""

import importlib.util
import json
import pathlib

import pytest

ROOT = pathlib.Path(__file__).resolve().parents[1]


@pytest.fixture
def bench(tmp_path, monkeypatch):
    spec = importlib.util.spec_from_file_location("bench", ROOT / "bench.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    # the reference is read next to the module file
    monkeypatch.setattr(mod, "__file__", str(tmp_path / "bench.py"))
    return mod


def _write(tmp_path, **doc):
    base = {"layout": "single", "sf": 0.1, "queries": {"q1": 1.5}}
    base.update(doc)
    (tmp_path / "BENCH_FULL.json").write_text(json.dumps(base))


def test_clean_reference_is_used(bench, tmp_path):
    _write(tmp_path, noisy=False)
    assert bench.prior_artifact("single", 0.1) == {"q1": 1.5}


def test_noisy_reference_is_ignored(bench, tmp_path):
    _write(tmp_path, noisy=True)
    assert bench.prior_artifact("single", 0.1) == {}


def test_mismatched_scale_is_ignored(bench, tmp_path):
    _write(tmp_path)
    assert bench.prior_artifact("single", 1) == {}
