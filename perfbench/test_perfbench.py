"""The benchmark's own tests. From the repository root:

    python -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import pytest

from perfbench import gen

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SMALL = {
    "dashboard": ["--sf", "0.001"],
    "page_sync": ["--base-rows", "4000"],
}


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(workload: str, trace: int) -> tuple[list[str], dict]:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
           "--seconds", "2", "--trace", str(trace)] + SMALL[workload]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.strip().splitlines()
    return lines, json.loads(lines[-1])


@pytest.mark.parametrize("workload", sorted(SMALL))
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_every_metric_has_value_unit_and_n(workload, trace):
    spec = _spec()
    assert workload in {w["name"] for w in spec["workloads"]}
    lines, result = _run(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    wanted = spec["per_layer"] if trace else spec["end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in wanted}
    for m in wanted:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"] and isinstance(got["value"], float)
        # the human-readable line states the sample count too
        pat = rf"^{workload} {re.escape(m['name'])} = \S+ {re.escape(m['unit'])} \(n=\d+"
        assert any(re.match(pat, line) for line in lines), m["name"]
    if trace == 0:
        for name in ("wall_s", "op_tail_s", "store_mb", "fail_ratio"):
            assert any(line.startswith(f"{workload} {name} = ") for line in lines), name
    else:
        assert any(line.startswith(f"{workload} trace.unattributed_s = ") for line in lines)


def test_page_generator_is_deterministic(tmp_path):
    a = gen.write_sync_inputs(str(tmp_path / "a"), 11, base_rows=2000)
    b = gen.write_sync_inputs(str(tmp_path / "b"), 11, base_rows=2000)
    c = gen.write_sync_inputs(str(tmp_path / "c"), 12, base_rows=2000)
    pages = sorted(os.listdir(a.page_dir))
    assert pages == sorted(os.listdir(b.page_dir)) and len(pages) == gen.N_PAGES

    def read(inputs, name):
        with open(os.path.join(inputs.page_dir, name), "rb") as f:
            return f.read()

    assert all(read(a, p) == read(b, p) for p in pages)
    assert (a.expected_rows, a.expected_hash) == (b.expected_rows, b.expected_hash)
    assert any(read(a, p) != read(c, p) for p in pages)
    assert a.expected_hash != c.expected_hash
    # keep-latest has work to do: some key repeats inside a page
    env = json.loads(read(a, pages[0]))["retorno"]
    keys = [(r["item"]["id_pedido"], r["item"]["seq_item"]) for r in env[gen.RECORD_FIELD]]
    assert len(set(keys)) < len(keys)
    # a page carries whole orders: each order's items 1..n, together
    prev, last = None, 0
    for order, seq in keys:
        assert int(seq) == 1 or (order == prev and int(seq) == last + 1)
        prev, last = order, int(seq)


@pytest.fixture(scope="module")
def spark():
    from tinyerp_etl_spark.session import get_spark

    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    return get_spark("perfbench-tests")


def test_sync_check_rejects_a_plain_append(spark, tmp_path):
    from perfbench.workloads import API_SCHEMA, SYNC_SCHEMA, check_sync_table, coerce_page
    from pyspark.sql import functions as F
    from tinyerp_etl_spark.etl.merge import merge_upsert
    from tinyerp_etl_spark.sources.json_pages import read_envelope_pages

    inputs = gen.write_sync_inputs(str(tmp_path), 5, base_rows=2000)
    base = spark.read.schema(SYNC_SCHEMA).parquet(inputs.base_path)
    pages = coerce_page(read_envelope_pages(spark, inputs.page_dir, gen.RECORD_FIELD,
                                            gen.WRAPPER, API_SCHEMA))
    merged = merge_upsert(base, pages, list(gen.SYNC_KEYS), [F.col("versao").desc()])
    assert check_sync_table(merged, inputs) == []
    appended = base.unionByName(pages)
    problems = check_sync_table(appended, inputs)
    assert any(p.startswith("rows ") for p in problems)
    assert any(p.startswith("hash ") for p in problems)
