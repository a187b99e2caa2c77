"""Self-tests of the benchmark: seeded inputs are reproducible, metrics
print with their units, and a tiny run of every workload passes its
correctness checks.

Run from the checkout root: ``python3 -m pytest elt_bench/tests -q``.
The smoke runs start Spark, one process at a time (~40 s each).
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from elt_bench import gen  # noqa: E402
from elt_bench.run import END_TO_END, PER_LAYER  # noqa: E402
from elt_bench.workloads import WORKLOADS  # noqa: E402


def _digest(tables: dict, tmp_path, tag: str) -> dict[str, str]:
    out = {}
    for name, t in tables.items():
        p = tmp_path / f"{tag}-{name}.parquet"
        pq.write_table(t, p)
        out[name] = hashlib.sha256(p.read_bytes()).hexdigest()
    return out


def _inputs(seed: int) -> dict:
    tabs = dict(gen.tpch_tables(seed, 0.001))
    tabs.update({f"jdbc_{n}": t for n, (t, _) in gen.jdbc_tables(seed, 500).items()})
    docs, emb, _ = gen.corpus(seed, 2, 60)
    tabs.update(documents=docs, embeddings=emb)
    return tabs


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    assert _digest(_inputs(7), tmp_path, "a") == _digest(_inputs(7), tmp_path, "b")


def test_different_seed_gives_different_inputs(tmp_path):
    a, b = _digest(_inputs(7), tmp_path, "a"), _digest(_inputs(8), tmp_path, "b")
    # the fixed dimension tables are the same for every seed
    differ = {n for n in a if a[n] != b[n]}
    assert differ == set(a) - {"region", "nation"}


def test_metric_lists_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
    assert sorted(w["name"] for w in spec["workloads"]) == sorted(WORKLOADS)


def _run(workload: str, trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, "elt_bench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--small"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_smoke_run_is_correct_and_prints_every_metric_with_unit(workload):
    out = _run(workload, 0)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["attempted"] >= 1
    assert {k: v["unit"] for k, v in out["metrics"].items()} == END_TO_END
    assert all(isinstance(v["value"], float | int) for v in out["metrics"].values())
    assert out["metrics"]["quality"]["value"] == 1.0
    if workload == "elt_extract":
        # the stale-introspection defect fails every lake append round:
        # five of a cycle's 3 JDBC requests and 10 lake rounds
        assert out["attempted"] % 13 == 0
        assert out["failed"] == 5 * out["attempted"] // 13
    else:
        assert out["failed"] == 0


def test_traced_smoke_run_prints_every_layer_metric_with_unit():
    out = _run("elt_extract", 1)
    assert out["correct"] is True
    assert {k: v["unit"] for k, v in out["metrics"].items()} == PER_LAYER
    m = {k: v["value"] for k, v in out["metrics"].items()}
    assert m["jdbc.introspect_s"] > 0 and m["sink.write_s.ndjson"] > 0
    assert m["planner.strategy.predicates"] > 0
    assert m["pipeline.run_s"] > 0 and m["sink.write_s.parquet"] > 0
