"""Tests of the benchmark itself: the seeded corpus generator, a minimal
run of every workload on a tiny corpus, and the refusal to run without
the program. Run from the repository root:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import duckdb
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import corpus  # noqa: E402
import run  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

TINY_SF = 0.001


def _oracle_rows(corpus_dir: str, keys) -> dict:
    """Normalised DuckDB oracle rows per key, via tools/check.py."""
    saved = list(sys.path)
    sys.path.insert(0, ROOT)
    try:
        from kwery_spark import registry

        registry.load_all()
        import importlib.util

        spec = importlib.util.spec_from_file_location("kwery_check", os.path.join(ROOT, "tools", "check.py"))
        check = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(check)
    finally:
        sys.path[:] = saved
    conn = check.duck_conn(corpus_dir)
    try:
        out = {}
        for key in keys:
            rel = conn.sql(registry.ORACLES[key])
            cols = list(rel.columns)
            out[key] = check.norm_rows(cols, check.pandas_rows(rel.df()))
        return out
    finally:
        conn.close()


def test_same_seed_same_fingerprint(tmp_path):
    a = corpus.ensure(str(tmp_path / "a"), TINY_SF, 7)[1]["fingerprint"]
    b = corpus.ensure(str(tmp_path / "b"), TINY_SF, 7)[1]["fingerprint"]
    assert a == b


def test_other_seed_reorders_rows_with_identical_oracles(tmp_path):
    d1, m1, _ = corpus.ensure(str(tmp_path), TINY_SF, 1)
    d2, m2, _ = corpus.ensure(str(tmp_path), TINY_SF, 2)
    assert m1["fingerprint"] != m2["fingerprint"]
    con = duckdb.connect()
    try:
        for table, key in (("orders", "o_orderkey"), ("lineitem", "l_orderkey"),
                           ("documents", "doc_id")):
            k1, k2 = (
                [r[0] for r in con.execute(f"SELECT {key} FROM '{d}/{table}.parquet'").fetchall()]
                for d in (d1, d2)
            )
            assert k1 != k2, f"{table}: same row order under two seeds"
            assert sorted(k1) == sorted(k2), f"{table}: different rows under two seeds"
    finally:
        con.close()
    keys = sorted({k for w in WORKLOADS.values() for k in w.ops})
    assert _oracle_rows(d1, keys) == _oracle_rows(d2, keys)


def _lines(stdout: str) -> dict[str, list[str]]:
    return {ln.split()[0]: ln.split()[1:] for ln in stdout.splitlines() if ln.strip()}


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_minimal_run_prints_every_metric(workload, tmp_path):
    """The shortest run (one first pass, the minimum warm passes) on a tiny
    corpus, traced, so both metric sets are printed."""
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload, "--seed", "3",
         "--seconds", "0", "--trace", "1", "--sf", str(TINY_SF), "--work", str(tmp_path)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-2000:]
    lines = _lines(proc.stdout)
    for name, unit in run.END_TO_END + (("op_p50_s", "s"), ("op_tail_s", "s"),
                                        ("fail_ratio", "ratio")):
        assert lines[name][1] == unit, name
    assert float(lines["fail_ratio"][0]) == 0.0
    for name, unit in run.PER_LAYER.items():
        assert lines[name][1] == unit, name
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0
    assert set(result["metrics"]) == set(run.PER_LAYER)


def test_refuses_without_the_program(tmp_path):
    """In a directory holding only the benchmark, it exits non-zero and
    prints no result."""
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns(".work", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", sorted(WORKLOADS)[0], "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
