"""The benchmark's own tests.

    python3 -m pytest perfbench -q

The last test runs the traced benchmark once per workload (a few minutes).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import run  # noqa: E402
from gen import Sizes, generate  # noqa: E402

SMALL = Sizes(events=2_000, docs=1_000, vectors=200)


def _files(d: str) -> dict[str, bytes]:
    out = {}
    for root, _, names in os.walk(d):
        for n in names:
            p = os.path.join(root, n)
            with open(p, "rb") as f:
                out[os.path.relpath(p, d)] = f.read()
    return out


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    generate(7, str(tmp_path / "a"), SMALL)
    generate(7, str(tmp_path / "b"), SMALL)
    a, b = _files(str(tmp_path / "a")), _files(str(tmp_path / "b"))
    assert a.keys() == b.keys() and len(a) > 4
    assert all(a[k] == b[k] for k in a)


def test_other_seed_gives_other_ids_at_same_sizes(tmp_path):
    pa_ = generate(7, str(tmp_path / "a"), SMALL)
    pb_ = generate(8, str(tmp_path / "b"), SMALL)
    for name in ("events.parquet", "documents.parquet", "embeddings.parquet"):
        ta = pq.read_table(str(tmp_path / "a" / name))
        tb = pq.read_table(str(tmp_path / "b" / name))
        assert ta.num_rows == tb.num_rows and ta.schema == tb.schema
        assert ta != tb
    # which user (so which conversation) each event belongs to
    users = [pq.read_table(str(tmp_path / d / "events.parquet"))["user_id"] for d in ("a", "b")]
    assert users[0] != users[1]
    assert pa_["doc_near"] != pb_["doc_near"] and pa_["doc_exact"] != pb_["doc_exact"]
    assert len(pa_["doc_near"]) == len(pb_["doc_near"])


def test_metric_names_and_units_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    for metrics, workload, moves in run.LAYERS.values():
        assert set(metrics) <= run.PER_LAYER.keys()
        assert workload in run.WORKLOADS and moves in run.END_TO_END


def _last_json(cmd: list[str]) -> dict:
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", list(run.WORKLOADS))
def test_traced_run_measures_own_layers(workload):
    res = _last_json([sys.executable, "perfbench/run.py", "--workload", workload,
                      "--seed", "5", "--seconds", "1", "--trace", "1"])
    assert res["correct"] and res["failed"] == 0 and res["attempted"] > 0
    m = res["metrics"]
    assert {k: v["unit"] for k, v in m.items()} == run.PER_LAYER
    own = [name for metrics, w, _ in run.LAYERS.values() if w == workload for name in metrics]
    assert own and all(m[k]["value"] > 0 for k in own), {k: m[k]["value"] for k in own}
    assert m["trace.overhead_ratio"]["value"] > 0
