"""Tiny-scale smoke test of the workloads and their checks.

    python -m pytest perfbench/test_smoke.py -q

Each workload runs once traced at a tiny scale through ``run.main``:
the inputs, the correctness checks, the event-log parsing and the
result line are all exercised; only the sizes shrink.
"""

from __future__ import annotations

import json
import os
import tempfile

import pytest

from perfbench import audit, common, esb, registry, run

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


@pytest.fixture
def tiny(monkeypatch):
    # run.main points these at its work directory; restore them after
    for var in ("TMPDIR", "SPARK_LOCAL_DIRS", "TZ", "PYTHONPATH",
                "SPARK_DRIVER_MEM", "PYSPARK_PYTHON"):
        if var in os.environ:
            monkeypatch.setenv(var, os.environ[var])
        else:
            monkeypatch.delenv(var, raising=False)
    monkeypatch.setattr(tempfile, "tempdir", tempfile.tempdir)
    monkeypatch.chdir(ROOT)
    monkeypatch.setattr(common, "SETUP_REPS", 1)
    monkeypatch.setattr(esb, "BATCH", 100)
    monkeypatch.setattr(esb, "WARM_BATCH", 100)
    monkeypatch.setattr(esb, "N_BATCHES", 2)
    monkeypatch.setattr(audit, "N_MSGS", 500)
    monkeypatch.setattr(audit, "N_CYCLES", 2)
    monkeypatch.setattr(registry, "SF", 0.001)


def _run(capsys, workload: str, trace: int) -> dict:
    code = run.main(["--workload", workload, "--seed", "7",
                     "--seconds", "0", "--trace", str(trace)])
    assert code == 0
    return json.loads(capsys.readouterr().out.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", sorted(run.WORKLOADS))
def test_workload_runs_and_checks(tiny, capsys, workload):
    out = _run(capsys, workload, trace=1)
    assert out["correct"] is True
    assert out["failed"] == 0 and out["attempted"] >= 2
    names = [m["name"] for m in SPEC["per_layer"]]
    assert list(out["metrics"]) == names
    assert all(isinstance(m["value"], (int, float))
               for m in out["metrics"].values())


def test_end_to_end_metrics(tiny, capsys):
    out = _run(capsys, "audit_search", trace=0)
    assert out["correct"] is True
    for m in SPEC["end_to_end"]:
        got = out["metrics"][m["name"]]
        assert got["unit"] == m["unit"] and got["value"] > 0


def test_refuses_outside_a_checkout(tmp_path, monkeypatch, capsys):
    monkeypatch.chdir(tmp_path)
    assert run.main(["--workload", "esb_channel", "--seed", "1",
                     "--seconds", "1"]) == 2
    assert capsys.readouterr().out == ""


def test_per_layer_metrics_must_match_the_declared_ones():
    declared = ("esb.jobs_per_batch",)
    got = run._per_layer(SPEC, declared, {"esb.jobs_per_batch": 3.0})
    assert got["esb.jobs_per_batch"] == 3.0 and got["registry.jobs"] == 0.0
    with pytest.raises(KeyError):  # a misspelled key
        run._per_layer(SPEC, declared, {"esb.jobs_per_btach": 3.0})
    with pytest.raises(KeyError):  # a declared metric not reported
        run._per_layer(SPEC, declared, {})


def test_workloads_declare_only_named_metrics():
    names = {m["name"] for m in SPEC["per_layer"]}
    for module in (esb, audit):
        assert set(module.LAYER_METRICS) <= names
