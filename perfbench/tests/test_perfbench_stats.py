"""Unit tests for the benchmark's statistics helpers and its metric names.

Run with ``python -m pytest perfbench/tests -q`` from the repository root.
"""

from __future__ import annotations

import json
import re
from pathlib import Path

import pytest

from perfbench import stats

BENCHMARK = Path(__file__).resolve().parents[2] / "BENCHMARK.json"
#: The benchmark contract's charsets: names start with a letter or digit and
#: hold at most 64 letters, digits, ``_``, ``.`` and ``-``; units at most 16
#: letters, digits, ``_``, ``/``, ``%``, ``.`` and ``-``.
NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.\-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.\-]{1,16}")


def test_benchmark_json_names_and_units():
    spec = json.loads(BENCHMARK.read_text())
    names = [m["name"] for key in ("end_to_end", "per_layer") for m in spec[key]]
    names += [w["name"] for w in spec["workloads"]]
    assert len(names) == len(set(names))
    assert all(NAME.fullmatch(n) for n in names)
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert UNIT.fullmatch(m["unit"]), m
        assert m["unit"] == stats.unit_of(m["name"]), m
    assert {"name": "setup_s", "unit": "s", "better": "lower", "bound": 0.25} in spec["end_to_end"]


@pytest.mark.parametrize("name", ["control_stream/pass_s", "_x", "a b", "x" * 65])
def test_name_charset_rejects(name):
    assert not NAME.fullmatch(name)


def test_tail_needs_ten_samples_beyond_the_percentile():
    # 19 samples: p50 is rank 10 with 9 beyond it, so no percentile qualifies
    assert stats.tail(list(range(19))) == (0.0, 0.0, 19)
    # 20 samples: p50 (rank 10) has exactly 10 beyond it; p75 (rank 15) has 5
    assert stats.tail(list(range(1, 21))) == (50.0, 10.0, 20)
    # 100 samples: p90 (rank 90) has 10 beyond it; p95 has only 5
    assert stats.tail([float(x) for x in range(1, 101)]) == (90.0, 90.0, 100)
    # 1000 samples: p99 (rank 990) has 10 beyond; p99.9 has 1
    assert stats.tail([float(x) for x in range(1, 1001)]) == (99.0, 990.0, 1000)


def test_tail_ignores_sample_order():
    samples = [5.0, 1.0, 4.0] * 10
    assert stats.tail(samples) == stats.tail(sorted(samples))


def test_exact_count_needs_a_repeat():
    assert stats.exact_count([55, 55, 55])
    assert stats.exact_count([30, 30])
    assert not stats.exact_count([75, 76])
    assert not stats.exact_count([34])
    assert not stats.exact_count([])


def test_busy_frac():
    assert stats.busy_frac((100.0, 50.0), (200.0, 75.0)) == 0.75
    assert stats.busy_frac((0.0, 0.0), (0.0, 0.0)) == 0.0


def test_median_of_empty_is_zero():
    assert stats.median([]) == 0.0
    assert stats.median([3.0, 1.0, 2.0]) == 2.0
