"""Self-test of the benchmark: ``python3 -m pytest perfbench/test_perfbench.py``.

Each workload runs at sf0.001 with one checked warm-up pass and the
smallest timed window, in both modes, and must emit every metric that
BENCHMARK.json names with its unit and a finite value.  Takes about five
minutes on four cores.
"""

from __future__ import annotations

import json
import math
import os
import random
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import run  # noqa: E402

with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)

_SMOKE = """
import os, sys
sys.path.insert(0, {here!r})
import run
run.SF_DIR = os.path.join(run.HERE, "data", "sf0.001")
run.WARMUP_PASSES = dict.fromkeys(run.WARMUP_PASSES, 1)
sys.exit(run.main(sys.argv[1:]))
"""


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_workload_emits_every_metric(workload, trace, tmp_path):
    out = subprocess.run(
        [sys.executable, "-c", _SMOKE.format(here=HERE), "--workload", workload,
         "--seed", "3", "--seconds", "0", "--trace", str(trace)],
        cwd=tmp_path, stdout=subprocess.PIPE, text=True, timeout=600, check=True,
    )
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    spec = SPEC["per_layer" if trace else "end_to_end"]
    assert set(res["metrics"]) == {m["name"] for m in spec}
    for m in spec:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]
        assert math.isfinite(got["value"]), m["name"]
    assert os.listdir(tmp_path) == []  # nothing written to the working directory


def test_percentile_needs_ten_samples_above():
    assert run.percentile(list(range(1, 21)), 50) == 10
    with pytest.raises(ValueError):
        run.percentile(list(range(1, 20)), 50)
    assert run.percentile(list(range(1, 101)), 90) == 90
    with pytest.raises(ValueError):
        run.percentile(list(range(1, 100)), 90)


def test_registry_workloads_are_all_checked():
    from tidb_spark.queries import all_queries
    from workloads import REGISTRY

    queries = all_queries()
    for names in REGISTRY.values():
        assert names and all(queries[n].oracle for n in names)


def test_sql_session_read_burst_repeats_each_statement():
    from workloads import BURST_REPEATS, READ_TEMPLATES, SqlSession

    wl = SqlSession(os.path.join(HERE, "data", "sf0.001"))
    try:
        ops = wl.next_pass(random.Random(1))
    finally:
        wl.close()
    reads = [op for op in ops if op.kind == "read"]
    assert ops[: len(reads)] == reads  # the read burst, then the write burst
    assert len(reads) == len(READ_TEMPLATES) * BURST_REPEATS
    assert len({id(op) for op in reads}) == len(READ_TEMPLATES)


def test_refuses_to_run_outside_a_checkout(tmp_path):
    """A directory holding only BENCHMARK.json and the benchmark's files."""
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"), tmp_path)
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "tpch", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, stdout=subprocess.PIPE, text=True, timeout=60, check=False,
    )
    assert out.returncode == 2 and out.stdout == ""
