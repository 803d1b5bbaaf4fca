"""Smoke test of the benchmark with its shortest settings.

    python3 -m pytest perfbench/test_smoke.py -q

One traced run per workload (``--seconds 1 --trace 1``; about a minute each
on 4 cores), ``tpch`` included although BENCHMARK.json does not list it: it is
the workload that bypasses the staging, UDF and connector layers.  Checks
that every metric named in BENCHMARK.json prints with its unit, that every
op's output is correct, and the layer predictions: staged artifacts are built
on the cold LLM pass and served on the warm one, and staging, UDF and
connector metrics are 0 where no op reaches those layers.
"""

from __future__ import annotations

import json
import re
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
WORKLOADS = ("tpch", *(w["name"] for w in SPEC["workloads"]))


def _run(*args: str, cwd: Path = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                          capture_output=True, text=True, timeout=600)


@pytest.fixture(scope="module")
def traced():
    out = {}
    for name in WORKLOADS:
        p = _run("--workload", name, "--seed", "3", "--seconds", "1", "--trace", "1")
        assert p.returncode == 0, p.stderr[-3000:]
        lines = p.stdout.strip().splitlines()
        summary = next(x for x in lines if x.startswith("end_to_end "))
        fields = [re.fullmatch(r"([\w.]+)=(\S+)\[(.+)\]", kv).groups()
                  for kv in summary.split()[1:]]
        out[name] = (json.loads(lines[-1]), {k: u for k, _v, u in fields},
                     {k: float(v) for k, v, _u in fields})
    return out


def test_every_metric_prints_with_its_unit(traced):
    for name, (result, e2e_units, _values) in traced.items():
        for m in SPEC["end_to_end"]:
            assert e2e_units.get(m["name"]) == m["unit"], (name, m)
        assert "fail_frac" in e2e_units
        assert set(result["metrics"]) == {m["name"] for m in SPEC["per_layer"]}, name
        for m in SPEC["per_layer"]:
            assert result["metrics"][m["name"]]["unit"] == m["unit"], (name, m)


def test_outputs_correct(traced):
    for name, (result, _units, values) in traced.items():
        assert result["correct"] and result["failed"] == 0, name
        assert result["attempted"] >= 3
        assert values["fail_frac"] == 0.0, name


def _zero(metrics: dict, prefixes: tuple[str, ...]) -> dict:
    return {k: v["value"] for k, v in metrics.items()
            if k.removeprefix("cold.").startswith(prefixes) and v["value"] != 0}


def test_layer_predictions(traced):
    tpch = traced["tpch"][0]["metrics"]
    llm = traced["llm_curation"][0]["metrics"]
    etl = traced["engine_etl"][0]["metrics"]
    # staging: built on the cold LLM pass, served on the warm one, else unused
    assert llm["cold.sources.stage_builds"]["value"] > 0
    assert llm["sources.stage_builds"]["value"] == 0
    assert llm["sources.stage_serves"]["value"] > 0
    assert _zero(tpch, ("sources.", "llm.", "self_s.sources")) == {}
    assert _zero(etl, ("sources.", "self_s.sources")) == {}
    # the HTTP/engine/connector layers only run on engine_etl
    layer_prefixes = ("connect.", "pipelines.", "api.", "engine.")
    assert _zero(tpch, layer_prefixes) == {}
    assert _zero(llm, layer_prefixes) == {}
    for k in ("connect.write_s", "connect.files_written", "connect.write_mb",
              "pipelines.docs_in", "pipelines.docs_out", "engine.run_s"):
        assert etl[k]["value"] > 0, k
    # tracing reported its own cost and spans
    for r in traced.values():
        assert r[0]["metrics"]["trace.spans"]["value"] > 0


def test_spans_written(traced):
    spans = sorted((ROOT / ".perfbench_out").glob("spans-*.jsonl"))
    assert spans
    first = json.loads(spans[-1].read_text().splitlines()[0])
    assert {"id", "parent", "name", "start", "end", "run"} <= set(first)


def test_bare_directory_fails_without_result(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    for d in SPEC["paths"]:
        shutil.copytree(ROOT / d, tmp_path / d,
                        ignore=shutil.ignore_patterns("__pycache__"))
    p = _run("--workload", "tpch", "--seed", "1", "--seconds", "1", "--trace", "0",
             cwd=tmp_path)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
