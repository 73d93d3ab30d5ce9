"""The runner's self-checks and the helpers its output checks rest on."""

import hashlib
import os
import sys

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import run  # noqa: E402
import workloads  # noqa: E402


def test_bucket_ids_match_spark():
    # pmod(hash(k), 32) as Spark computes it for these binary keys
    keys = [hashlib.sha256(str(i).encode()).digest() for i in range(10)]
    assert list(workloads.spark_bucket_ids(keys, 32)) == [15, 19, 17, 16, 20, 14, 8, 27, 31, 1]


def test_counts_must_repeat_across_runs_of_a_seed(tmp_path, monkeypatch):
    monkeypatch.setattr(run, "WORK_ROOT", str(tmp_path))
    assert run.check_counts_across_runs("crawl_bfs", 7, {"pages": 100}) is None
    assert run.check_counts_across_runs("crawl_bfs", 7, {"pages": 100}) is None
    assert "differ" in run.check_counts_across_runs("crawl_bfs", 7, {"pages": 101})
    # another seed keeps its own record
    assert run.check_counts_across_runs("crawl_bfs", 8, {"pages": 101}) is None


def test_canon_ignores_row_order_column_order_and_number_types():
    a = pd.DataFrame({"k": [2, 1], "v": [0.5, 3.0], "s": ["x", None]})
    b = pd.DataFrame({"s": [None, "x"], "v": [3, 0.5000000000001], "k": [1.0, 2.0]})
    assert workloads._canon(a) == workloads._canon(b)
    c = b.assign(v=[3, 0.6])
    assert workloads._canon(a) != workloads._canon(c)
