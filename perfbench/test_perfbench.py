"""Tests of the benchmark itself.

    python -m pytest perfbench/test_perfbench.py -q

The end-to-end test starts Spark once per (workload, trace) pair, so the
file takes a few minutes.
"""

from __future__ import annotations

import hashlib
import json
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(ROOT))

import common  # noqa: E402
import gen  # noqa: E402

BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())


def _digest(root: Path) -> dict[str, str]:
    return {
        str(p.relative_to(root)): hashlib.sha256(p.read_bytes()).hexdigest()
        for p in sorted(root.rglob("*.parquet"))
        if p.is_file()
    }


@pytest.mark.parametrize("write", [gen.write_lexam, gen.write_corpus])
def test_generator_is_a_function_of_the_seed(tmp_path, write):
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    write(7, str(a))
    write(7, str(b))
    write(8, str(c))
    assert _digest(a) and _digest(a) == _digest(b)
    assert _digest(a) != _digest(c)


def test_corpus_plants_the_stated_shares(tmp_path):
    out = gen.write_corpus(3, str(tmp_path))
    kinds = [k for k, _ in out["planted"].values()]
    n = out["docs"]
    for kind in ("exact", "near"):
        share = kinds.count(kind) / n
        assert abs(share - gen.CORPUS[f"{kind}_share"]) < 0.03, (kind, share)
    assert all(orig < copy for copy, (_, orig) in out["planted"].items())


def test_benchmark_json_matches_the_code():
    assert [w["name"] for w in BENCH["workloads"]] == ["serve", "curate"]
    assert {m["name"]: m["unit"] for m in BENCH["end_to_end"]} == common.END_TO_END
    assert {m["name"]: m["unit"] for m in BENCH["per_layer"]} == common.LAYER_METRICS


def test_serve_requests_follow_their_action():
    """Every endpoint of the mix has its CPU metric, and the requests of
    one action share its parameters, as the client sends them."""
    import wl_serve

    assert {wl_serve.endpoint(s) for s in wl_serve.CYCLE} == set(common.SERVE_ENDPOINTS)
    pools = wl_serve.make_pools(3)
    for action, slots in wl_serve.ACTIONS:
        assert len(pools[action]) == wl_serve.POOL
        for entry in pools[action]:
            assert set(entry) == set(slots)
            if "facets" in slots:
                assert entry["facets"]["fc"] is entry[slots[0]]["fc"]
            if "suggest" in slots:
                assert entry["suggest"]["search"] == entry[slots[0]]["search"]


@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_every_metric_is_emitted_with_its_unit(workload, trace):
    proc = subprocess.run(
        [*BENCH["command"], "--workload", workload, "--seed", "5", "--seconds", "1",
         "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    info, result = json.loads(lines[-2])["info"], json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    want = BENCH["per_layer"] if trace else BENCH["end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {m["name"]: m["unit"] for m in want}
    assert all(isinstance(v["value"], float) for v in result["metrics"].values())
    assert info["error_rate"] == 0.0 and info["nproc"] >= 1


def test_refuses_ab_knobs():
    import os

    env = dict(os.environ, SPARK_GRAFT_QOPT="0")
    proc = subprocess.run(
        [*BENCH["command"], "--workload", "serve", "--seed", "1", "--seconds", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=120, env=env,
    )
    assert proc.returncode != 0
    assert "SPARK_GRAFT_QOPT" in proc.stderr
    assert proc.stdout.strip() == ""
