"""Self-test of the benchmark: a fast smoke of every workload at
sf0.001 (one measured pass, priming plus one or two medallion cycles),
and checks that the verifier rejects wrong results.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import datagen  # noqa: E402
import run  # noqa: E402
import verify  # noqa: E402


def _declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _smoke(workload: str, trace: int) -> tuple[dict, dict]:
    """One run in a fresh process, as the benchmark is launched."""
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", "5", "--seconds", "0.1", "--trace", str(trace), "--scale", "0.001"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-1]), json.loads(lines[-2].removeprefix("detail: "))


@pytest.mark.parametrize("workload", run.WORKLOADS)
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_prints_every_metric_with_its_unit(workload, trace):
    declared = _declared()
    result, detail = _smoke(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"], detail["problems"]
    assert result["attempted"] >= 1 and result["failed"] == 0
    want = {m["name"]: m["unit"] for m in declared["per_layer" if trace else "end_to_end"]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want
    for k, v in result["metrics"].items():
        assert isinstance(v["value"], float), k
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())
    assert not os.path.exists(os.path.join(ROOT, ".perfbench_run"))


def test_declared_workloads_are_runnable():
    assert {w["name"] for w in _declared()["workloads"]} <= set(run.WORKLOADS)


def test_verifier_rejects_corrupted_query_result(tmp_path):
    datagen.write_catalog(str(tmp_path), 0.001, seed=3)
    con = verify.duckdb_catalog(str(tmp_path))
    oracle = ("SELECT n_regionkey, count(*) AS n, sum(s_acctbal) AS bal "
              "FROM supplier JOIN nation ON s_nationkey = n_nationkey GROUP BY 1")
    result = con.execute(oracle).df()
    assert verify.verify_query(result.sample(frac=1.0, random_state=1), oracle, con) is None

    changed = result.copy()
    changed.loc[0, "bal"] += 0.01
    assert "bal" in verify.verify_query(changed, oracle, con)
    assert "row count" in verify.verify_query(result.iloc[1:], oracle, con)
    assert "columns" in verify.verify_query(result.rename(columns={"n": "m"}), oracle, con)


def test_verifier_rejects_corrupted_gold(tmp_path):
    ts = pa.timestamp("us")
    batch = pa.table({
        "k": pa.array([1, 2, 1], pa.int64()),
        "v": ["a", "b", "a2"],
        "updated_at": pa.array([1_000_000, 1_000_000, 2_000_000], ts),
    })
    pq.write_table(batch, tmp_path / "batch.parquet")
    batches = [str(tmp_path / "batch.parquet")]

    def gold(rows) -> list[str]:
        path = tmp_path / "gold.parquet"
        pq.write_table(pa.table({
            "k": pa.array([r[0] for r in rows], pa.int64()),
            "v": [r[1] for r in rows],
            "updated_at": pa.array([r[2] for r in rows], ts),
        }), path)
        return [str(path)]

    cols = ["k", "v", "updated_at"]
    assert verify.verify_gold(gold([(1, "a2", 2_000_000), (2, "b", 1_000_000)]),
                              batches, "k", 1, cols) is None
    assert verify.verify_gold(gold([(1, "a", 1_000_000), (2, "b", 1_000_000)]),
                              batches, "k", 1, cols) is not None
    assert verify.verify_gold(gold([(1, "a", 1_000_000), (1, "a2", 2_000_000),
                                    (2, "b", 1_000_000)]), batches, "k", 1, cols) is not None
