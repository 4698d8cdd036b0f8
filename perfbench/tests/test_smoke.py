"""Small-N smoke runs of every workload through the correctness gate, and
the gate itself on a wrong triple set. Each run starts its own Spark
session (about a minute each on 4 cores).

    python3 -m pytest perfbench/tests/test_smoke.py -q
"""

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.path.insert(0, ROOT)

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _run(workload: str, trace: int, pages: int = 60) -> tuple[int, dict, str]:
    cmd = [
        sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
        "--seed", "7", "--seconds", "0", "--trace", str(trace), "--pages", str(pages),
    ]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    lines = p.stdout.strip().splitlines()
    return p.returncode, json.loads(lines[-1]) if lines else {}, p.stdout + p.stderr


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_workload_smoke(workload):
    rc, res, out = _run(workload, trace=0)
    assert rc == 0, out[-3000:]
    assert res["correct"] and res["failed"] == 0 and res["attempted"] == 1
    assert set(res["metrics"]) == {m["name"] for m in SPEC["end_to_end"]}
    for m in SPEC["end_to_end"]:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"] and got["value"] > 0


def test_traced_smoke():
    rc, res, out = _run("build_html", trace=1)
    assert rc == 0, out[-3000:]
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 5
    assert set(res["metrics"]) == {m["name"] for m in SPEC["per_layer"]}
    metrics = {k: v["value"] for k, v in res["metrics"].items()}
    assert metrics["functions.extract_text.rows"] > 0
    assert metrics["plans.run_pipeline.jobs"] > 0
    assert 0 < metrics["trace.coverage"] <= 1


def test_gate_rejects_wrong_triples():
    import inputs
    from web3_knowledge_graph_spark.session import get_spark

    spark = get_spark("perfbench-gate-test", cores=2)
    try:
        want, n = inputs.golden(spark, 20)
        assert inputs.mismatches(want, want) == 0
        assert inputs.mismatches(want.limit(n - 1), want) == 1
        dup = want.unionByName(want.limit(1))
        assert inputs.mismatches(dup, want) == 1
        wrong = spark.createDataFrame([("Page:x", "AUTHOR", "Wallet:y")], want.schema)
        assert inputs.mismatches(want.limit(n - 1).unionByName(wrong), want) == 2
    finally:
        spark.stop()
