"""The benchmark's own checks: the correctness rule rejects wrong
results, the tail-percentile rule, the event-log reader and the
stolen-time adjustment.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import os
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from check import gmean, mismatch, tail  # noqa: E402
from eventlog import parse  # noqa: E402
from hostmeter import HostMeter, read_ticks  # noqa: E402


@pytest.fixture
def want() -> pd.DataFrame:
    return pd.DataFrame({
        "symbol": ["click", "view", "click"],
        "ts": pd.to_datetime(["2024-01-01 01:00", "2024-01-01 00:00", "2024-01-01 00:00"]),
        "close": [1.25, 2.5, 0.1],
        "n": [3, 4, 5],
    })


def test_accepts_reordered_rows_columns_and_float_noise(want):
    got = want.iloc[::-1][["n", "close", "ts", "symbol"]].copy()
    got["close"] = got["close"] + 1e-12
    assert mismatch(got, want) is None


@pytest.mark.parametrize("corrupt", [
    lambda d: d.assign(close=d["close"] + 1e-6),
    lambda d: d.assign(n=d["n"].where(d["n"] != 4, 40)),
    lambda d: d.iloc[:2],
    lambda d: d.rename(columns={"close": "price"}),
    lambda d: d.assign(symbol=d["symbol"].replace("view", "views")),
], ids=["float", "int", "missing_row", "column_name", "string"])
def test_rejects_a_wrong_result(want, corrupt):
    assert mismatch(corrupt(want.copy()), want) is not None


def test_tail_has_ten_samples_beyond_it():
    values = list(range(1, 27))  # 26 samples
    p, v = tail(values)
    assert (p, v) == (61, 16)
    assert sum(x > v for x in values) == 10
    assert tail(list(range(100))) == (90, 89)
    assert tail(list(range(1000)))[0] == 99


def test_tail_needs_more_than_ten_samples():
    assert tail(list(range(10))) is None
    assert tail(list(range(11))) == (9, 0)


def test_eventlog_totals_by_job_group():
    groups = parse(os.path.join(HERE, "fixtures", "eventlog.jsonl"))
    g = groups["timed/p0/sma/exec"]
    assert (g["jobs"], g["stages"], g["tasks"]) == (1, 2, 2)
    assert g["task_s"] == pytest.approx(0.25)
    assert g["task_cpu_s"] == pytest.approx(0.19)
    assert g["gc_s"] == pytest.approx(0.005)
    # (300 - 200 - 20 - 10) + (100 - 50 - 5 - (1500 - 1480)) ms
    assert g["scheduler_delay_s"] == pytest.approx(0.095)
    assert g["shuffle_write_bytes"] == 512
    assert g["shuffle_read_bytes"] == 512
    assert g["spill_bytes"] == 96
    assert (g["python_bytes_sent"], g["python_bytes_received"]) == (100, 40)
    assert groups[""]["tasks"] == 1


def test_gmean():
    assert gmean([2.0, 8.0]) == pytest.approx(4.0)
    assert gmean([0.7]) == pytest.approx(0.7)


def test_adjust_removes_the_stolen_share():
    m = HostMeter()
    # (time, busy ticks, stolen ticks): 1 s with no steal, then 1 s in
    # which a quarter of the CPU time asked for was stolen
    m.samples = [(10.0, 0, 0), (11.0, 300, 0), (12.0, 600, 100)]
    assert m.adjust(10.0, 11.0) == pytest.approx(1.0)
    assert m.stolen_share(11.0, 12.0) == pytest.approx(0.25)
    assert m.adjust(11.0, 12.0) == pytest.approx(0.75)
    # an interval between samples widens to the samples around it
    assert m.stolen_share(11.2, 11.8) == pytest.approx(0.25)
    assert m.adjust(10.0, 12.0) == pytest.approx(2.0 * 600 / 700)


def test_meter_samples_this_machine():
    busy, steal = read_ticks()
    assert busy > 0 and steal >= 0
    with HostMeter(period_s=0.01) as m:
        sum(range(200_000))
    assert len(m.samples) >= 2
    t0, t1 = m.samples[0][0], m.samples[-1][0]
    assert 0.0 <= m.adjust(t0, t1) <= t1 - t0
