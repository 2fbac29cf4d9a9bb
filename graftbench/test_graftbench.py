"""The benchmark's own checks, on small seeded inputs.

    python3 -m pytest graftbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import datagen  # noqa: E402
import gate  # noqa: E402
import run  # noqa: E402
from layers import Span  # noqa: E402


@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(run.cores()))
    from projet_etl_a_rien_spark.queries import _load_extensions
    from projet_etl_a_rien_spark.session import get_spark

    _load_extensions()
    s = get_spark("graftbench-test")
    yield s
    s.stop()


def test_same_seed_same_inputs(tmp_path, monkeypatch):
    monkeypatch.setattr(datagen, "SCALE", 0.01)
    datagen.write_tables(str(tmp_path / "a"), 7)
    datagen.write_tables(str(tmp_path / "b"), 7)
    datagen.write_tables(str(tmp_path / "c"), 8)
    same = lambda x, y, t: (tmp_path / x / t).read_bytes() == (tmp_path / y / t).read_bytes()  # noqa: E731
    for t in datagen.spec():
        assert same("a", "b", f"{t}.parquet"), t
    assert not same("a", "c", "lineitem.parquet")


def test_gate_fails_perturbed_expected(spark, tmp_path, monkeypatch):
    from projet_etl_a_rien_spark.queries import REGISTRY

    monkeypatch.setattr(datagen, "SCALE", 0.01)
    monkeypatch.setattr(gate, "INPUTS", str(tmp_path))
    name, seed = "tpch_q1_pricing_summary", 3
    gate.prepare(seed, [name])
    q = REGISTRY[name]
    actual = q.fn(spark, gate.seed_dir(seed)).toPandas()
    expected = gate.load_expected(seed, name, q.oracle)
    assert gate.check(actual, expected) is None

    col = next(c for c in expected.columns if expected[c].dtype.kind == "f")
    perturbed = expected.copy()
    perturbed.loc[0, col] += 0.01
    assert gate.check(actual, perturbed) == "value hash differs"
    assert gate.check(actual, expected.iloc[1:]).startswith("rows")
    assert gate.check(actual, expected.rename(columns={col: "other"})).startswith("columns")


def test_self_time_subtracts_covered_union():
    root = Span("pass", 0.0, 10.0, [
        Span("a", 1.0, 4.0, [Span("job", 2.0, 3.0)]),
        Span("b", 3.0, 6.0),  # overlaps a by one second
    ])
    assert root.self_time() == pytest.approx(5.0)
    assert root.children[0].self_time() == pytest.approx(2.0)


def test_tail_percentile_keeps_ten_samples_beyond():
    assert run.tail_percentile([])[0] == "none"
    assert run.tail_percentile([float(i) for i in range(19)])[0] == "p50"
    assert run.tail_percentile([float(i) for i in range(100)])[0] == "p90"
    assert run.tail_percentile([float(i) for i in range(1000)])[0] == "p99"


def _bench(trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, "graftbench/run.py", "--workload", "pipeline", "--seed", "5",
         "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.fixture(scope="module")
def traced():
    return _bench(1)


@pytest.mark.parametrize("trace,declared", [(0, "end_to_end"), (1, "per_layer")])
def test_every_declared_metric_is_emitted_with_its_unit(trace, declared, request):
    result = request.getfixturevalue("traced") if trace else _bench(0)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        want = {m["name"]: m["unit"] for m in json.load(f)[declared]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want
    assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())


def test_span_self_times_sum_to_pass_wall(traced):
    with open(os.path.join(ROOT, ".graftbench", "results", "pipeline-seed5-trace1.json")) as f:
        spans = json.load(f)["spans"]
    assert spans

    def self_sum(s):
        return s["self_s"] + sum(self_sum(c) for c in s.get("children", ()))

    for root in spans:
        wall = root["end"] - root["start"]
        assert self_sum(root) == pytest.approx(wall, rel=1e-6)
        # what no layer span covers is the tracer's own bookkeeping
        assert root["self_s"] <= run.TRACE_BOOKKEEPING_MAX * wall
