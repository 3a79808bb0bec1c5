"""The benchmark's own tests: seeded inputs are byte-identical, metric
names are well formed and match BENCHMARK.json, a directory without the
program fails cleanly, and a tiny-size run of each workload emits every
named metric.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
import subprocess
import sys

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import run  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
SMALL = gen.CorpusShape(tenants=2, series_per_tenant=5, days=4, interval_ms=60 * gen.MIN_MS, events_per_tenant=20)


def _digests(paths) -> dict[str, str]:
    return {os.path.basename(p): hashlib.sha256(open(p, "rb").read()).hexdigest() for p in paths}


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a = gen.write_metric_corpus(7, str(tmp_path / "a"), SMALL)
    b = gen.write_metric_corpus(7, str(tmp_path / "b"), SMALL)
    c = gen.write_metric_corpus(8, str(tmp_path / "c"), SMALL)
    assert _digests(a.values()) == _digests(b.values())
    assert _digests(a.values()) != _digests(c.values())

    base = 1_700_000_000_000
    pa = gen.render_payloads(7, str(tmp_path / "pa"), 6, base)
    pb = gen.render_payloads(7, str(tmp_path / "pb"), 6, base)
    pc = gen.render_payloads(8, str(tmp_path / "pc"), 6, base)
    assert _digests(pa["files"]) == _digests(pb["files"])
    assert _digests(pa["files"]) != _digests(pc["files"])
    assert pa["rows"] == 6 * gen.IngestShape().rows_per_file


def test_metric_names_are_well_formed_and_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]] + [w["name"] for w in spec["workloads"]]
    assert all(NAME.fullmatch(n) for n in names), [n for n in names if not NAME.fullmatch(n)]
    assert len(names) == len(set(names))
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.LAYERS
    assert tuple(w["name"] for w in spec["workloads"]) == run.WORKLOADS


def test_exits_nonzero_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", run.WORKLOADS[0], "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_tiny_run_emits_every_named_metric(workload, trace):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3", "--seconds", "4",
         "--trace", str(trace), "--tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stdout[-2000:] + p.stderr[-4000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    want = run.LAYERS if trace else run.E2E
    assert out["metrics"].keys() == want.keys()
    for name, m in out["metrics"].items():
        assert m["unit"] == want[name]
        assert isinstance(m["value"], float)
        if not trace:
            assert m["value"] > 0, name
    for name in want:
        assert f"\n{name} " in p.stdout, f"{name} not printed with its unit"
