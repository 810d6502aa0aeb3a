"""Self-tests for the benchmark's helpers (no Spark needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_p90_needs_ten_samples_beyond_it():
    assert not stats.tail_supported(99, 0.9)
    assert stats.tail_supported(100, 0.9)
    assert not stats.tail_supported(999, 0.99)
    assert stats.tail_supported(1000, 0.99)


def test_percentile_interpolates():
    xs = list(range(1, 101))
    assert stats.percentile(xs, 0.5) == pytest.approx(50.5)
    assert stats.percentile(xs, 0.9) == pytest.approx(90.1)
    assert stats.percentile([7.0], 0.9) == 7.0


def test_kind_p50_weights_kinds_equally():
    # one kind sampled far more often does not dominate
    lat = {"fast": [10.0] * 9, "slow": [1000.0]}
    assert stats.kind_p50(lat) == pytest.approx(100.0)


def test_rate_counts_straddling_statements_by_share():
    # two whole statements plus half of one cut by the deadline
    iv = [(0.0, 1.0), (1.0, 2.0), (3.0, 5.0), (-1.0, 0.0)]
    assert stats.rate_in_window(iv, 0.0, 4.0) == pytest.approx(2.5 / 4.0)


def _write_inputs(root: str, seed: int) -> str:
    orders = gen.orders(seed, 400, 50)
    gen.write_csv_dir(orders, "o_orderkey", seed, 4, os.path.join(root, "orders"))
    gen.write_csv(gen.lineitem(seed, orders, 2), os.path.join(root, "lineitem.csv"))
    gen.write_csv(gen.customer(seed, 50), os.path.join(root, "customer.csv"))
    return gen.digest(root)


def test_same_seed_same_digest(tmp_path):
    a = _write_inputs(str(tmp_path / "a"), 7)
    b = _write_inputs(str(tmp_path / "b"), 7)
    c = _write_inputs(str(tmp_path / "c"), 8)
    assert a == b
    assert a != c


def test_file_assignment_is_a_function_of_key_and_seed():
    keys = gen.orders(3, 1000, 10).column("o_orderkey").to_numpy()
    first = gen.file_of(keys, 3, 4)
    assert (first == gen.file_of(keys[::-1], 3, 4)[::-1]).all()
    assert set(first.tolist()) == {0, 1, 2, 3}
    assert (first != gen.file_of(keys, 4, 4)).any()


def test_statement_mix_is_seeded():
    okeys = list(range(100))
    a = [s.sql for s in workloads.exec_round(workloads.random.Random(5), okeys)]
    b = [s.sql for s in workloads.exec_round(workloads.random.Random(5), okeys)]
    assert a == b


def test_printed_end_to_end_names_are_declared():
    res = workloads.Result(setup_s=1.0, peak_rss_mb=1.0)
    res.record("a", 0.0, 0.5)
    printed = {n: u for n, (_, u) in res.end_to_end().items()}
    declared = {m["name"]: m["unit"] for m in _spec()["end_to_end"]}
    assert printed == declared


def test_printed_layer_names_are_declared():
    printed = {n: u for n, (u, _) in layers.LAYER_MAP.items()}
    declared = {m["name"]: m["unit"] for m in _spec()["per_layer"]}
    assert printed == declared


def test_workload_names_are_declared():
    assert set(workloads.WORKLOADS) == {w["name"] for w in _spec()["workloads"]}


def test_diff_tolerates_summation_noise_only():
    got = check.canon_rows([("a", 174486.74349999998), ("b", 1)])
    want = check.canon_rows([("b", 1), ("a", 174486.7435)])
    assert check.diff_message(got, want) is None
    assert check.diff_message(got, check.canon_rows([("a", 174486.8), ("b", 1)]))
    assert check.diff_message(got[:1], want) == "1 rows, expected 2"
