"""Tiny traced run of each workload, and the metric lists against
``BENCHMARK.json``.

The smoke runs start and stop a Spark JVM each (about 20-40 s apiece).
"""

import json
import os

import pytest

from perfbench import run

TINY = {
    "dimensional_query": {"hours": 24},
    "index_lifecycle": {"n_base": 400, "batch_size": 100},
    "dedup_ingest": {"n_store": 60, "batch_size": 20},
}
# spans every workload must produce, with at least one Spark job each
SPANS = {
    "dimensional_query": [s for s in run.SPAN_NAMES
                          if s.startswith("query.") and s != "query.optimize"],
    "index_lifecycle": [s for s in run.SPAN_NAMES
                        if s.startswith("index.") and s != "index.fsck"],
    "dedup_ingest": ["dedup.build", "dedup.ingest"],
}


def test_metric_lists_match_benchmark_json():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.per_layer_units()


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_tiny_traced_run(workload, tmp_path):
    res = run.run_once(workload, seed=5, seconds=1, trace=True,
                       work=str(tmp_path), sizes=TINY[workload])
    assert res["failures"] == []
    assert res["attempted"] >= 3
    e2e = res["e2e"]
    assert set(e2e) == set(run.END_TO_END)
    assert all(v > 0 for v in e2e.values()), e2e
    layer = res["layer"]
    assert set(layer) == set(run.per_layer_units())
    for span in SPANS[workload]:
        assert layer[f"{span}.wall_s"] > 0, span
        assert layer[f"{span}.jobs"] >= 1, span
        assert 0 <= layer[f"{span}.driver_s"] <= layer[f"{span}.wall_s"] + 1e-6
    # a workload records nothing on the other workloads' layers
    others = [s for w, ss in SPANS.items() if w != workload for s in ss]
    assert all(layer[f"{s}.wall_s"] == 0 for s in others)
    assert layer[f"{workload}.codegen_compile_s"] > 0
    assert layer["trace.coverage"] > 0.9
