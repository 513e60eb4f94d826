"""Tests for the benchmark's own logic.

    python3 -m pytest perfbench/tests -q                  # unit tests
    PERFBENCH_SMOKE=1 python3 -m pytest perfbench/tests -q  # + workload smoke runs

The smoke runs start Spark and take about a minute each.
"""

from __future__ import annotations

import json
import os
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent.parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import layers  # noqa: E402
import measure  # noqa: E402
from measure import Lateness, Span, Tracer  # noqa: E402


# -- highest supported percentile ------------------------------------------

@pytest.mark.parametrize(
    "n, expected",
    [(19, None), (20, 50.0), (39, 50.0), (40, 75.0), (99, 75.0), (100, 90.0),
     (999, 90.0), (1000, 99.0), (10**6, 99.0)],
)
def test_highest_supported_percentile(n, expected):
    assert measure.highest_supported_percentile(n) == expected


def test_supported_means_ten_samples_beyond():
    from fractions import Fraction

    for n in range(1, 3000, 7):
        for pct in measure.PERCENTILE_LADDER:
            cut = Fraction(n) * Fraction(pct).limit_denominator(100) / 100
            rank = -(-cut.numerator // cut.denominator)  # nearest rank
            beyond = sum(1 for i in range(1, n + 1) if i > rank)
            assert measure.samples_beyond(n, pct) == beyond
            assert measure.supported(n, pct) == (beyond >= 10)


def test_percentile_interpolates():
    assert measure.percentile([3, 1, 2], 50) == 2
    assert measure.percentile([0, 10], 25) == 2.5
    with pytest.raises(ValueError):
        measure.percentile([], 50)


# -- metric names -----------------------------------------------------------

@pytest.mark.parametrize("name", ["setup_s", "lever.on_batch_us_p50", "a-b.c_9", "9x"])
def test_metric_name_accepts(name):
    assert measure.check_metric_name(name) == name


@pytest.mark.parametrize("name", ["", "a b", "lat/ms", "x" * 65, "_lead", ".lead", "é"])
def test_metric_name_rejects(name):
    with pytest.raises(ValueError):
        measure.check_metric_name(name)


def test_benchmark_json_matches_layers():
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert bench["per_layer"] == layers.benchmark_entries()
    names = [m["name"] for m in bench["per_layer"] + bench["end_to_end"]]
    assert len(names) == len(set(names))
    for name in names:
        measure.check_metric_name(name)
    for m in bench["end_to_end"]:
        assert 0 < m["bound"] <= 0.25
    setup = next(m for m in bench["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"])
    import run

    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)


# -- span self time ---------------------------------------------------------

def _span(idx, start, end, parent=None, name="x.y"):
    return Span(name, start, end, parent, "r", idx=idx)


def test_self_time_subtracts_union_of_children():
    spans = [
        _span(0, 0.0, 10.0),
        _span(1, 1.0, 3.0, parent=0),
        _span(2, 2.0, 5.0, parent=0),   # overlaps span 1: union 1..5
        _span(3, 8.0, 12.0, parent=0),  # clipped to the parent: 8..10
        _span(4, 1.5, 2.5, parent=1),   # grandchild: only counts against span 1
    ]
    st = measure.self_times(spans)
    assert st[0] == pytest.approx(10.0 - 4.0 - 2.0)
    assert st[1] == pytest.approx(2.0 - 1.0)
    assert st[4] == pytest.approx(1.0)


def test_layer_self_seconds_sums_by_prefix():
    spans = [
        _span(0, 0.0, 4.0, name="operators.build"),
        _span(1, 1.0, 2.0, parent=0, name="catalog.load_table"),
        _span(2, 5.0, 6.0, name="operators.execute"),
    ]
    assert measure.layer_self_seconds(spans) == pytest.approx({"operators": 4.0, "catalog": 1.0})


def test_tracer_nests_and_disabled_records_nothing():
    t = Tracer(True)
    with t.span("a.x", request="q1"):
        with t.span("b.y"):
            pass
    assert [s.parent for s in t.spans] == [None, 0]
    assert t.spans[1].request == "q1"
    off = Tracer(False)
    with off.span("a.x"):
        pass
    assert off.spans == []


# -- generator lateness -----------------------------------------------------

def test_schedule_never_slips():
    assert [measure.schedule(100.0, 0.5, k) for k in range(3)] == [100.0, 100.5, 101.0]


def test_lateness_counts_early_as_zero_and_takes_p99():
    late = Lateness()
    late.record(due=10.0, actual=9.9)
    for i in range(99):
        late.record(due=float(i), actual=i + 0.001)
    late.record(due=0.0, actual=0.5)
    assert min(late.late_s) == 0.0
    assert late.p99_ms() == pytest.approx(measure.percentile(late.late_s, 99) * 1e3)
    assert 1.0 < late.p99_ms() < 500.0


def test_stream_file_is_seeded_and_stamped():
    import datagen

    a, due = datagen.stream_file(7, 3, 100, 1000.0, 0.1)
    b, _ = datagen.stream_file(7, 3, 100, 1000.0, 0.1)
    assert a.equals(b)
    assert due[0] == 1000.0 and due[-1] < 1000.1
    assert a.column("event_id").to_pylist() == list(range(300, 400))


def test_tables_are_seeded():
    import datagen

    a = datagen.build_tables(1, 0.001, {"orders", "lineitem"})
    b = datagen.build_tables(1, 0.001, {"orders", "lineitem"})
    c = datagen.build_tables(2, 0.001, {"orders", "lineitem"})
    assert a["lineitem"].equals(b["lineitem"])
    assert not a["lineitem"].equals(c["lineitem"])


# -- stream result check -----------------------------------------------------

def test_stream_check_counts_each_event_once_and_spurious_rows():
    import pandas as pd
    import streamlever

    oracle = pd.DataFrame({"wstart": [0, 0, 5], "key": [1, 2, 1], "cnt": [3, 4, 5], "vsum": [30, 40, 50]})
    assert streamlever.count_failed(oracle, oracle.copy(), 12) == (0, 0)
    got = pd.DataFrame({"wstart": [0, 0, 10], "key": [1, 2, 9], "cnt": [3, 3, 1], "vsum": [30, 40, 7]})
    # key 2 wrong (4 events), window 5 missing (5 events), window 10 spurious
    assert streamlever.count_failed(oracle, got, 12) == (4 + 5 + 1, 1)
    assert streamlever.count_failed(oracle, got.iloc[:0], 12) == (12, 0)
    assert streamlever.count_failed(oracle.iloc[:0], got, 2) == (2, 3)


# -- smoke runs ---------------------------------------------------------------

smoke = pytest.mark.skipif(
    not os.environ.get("PERFBENCH_SMOKE"), reason="set PERFBENCH_SMOKE=1 to start Spark"
)


@smoke
@pytest.mark.parametrize("workload", ["query-mix", "stream-lever"])
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_run(workload, trace, monkeypatch, capsys):
    import querymix
    import run

    # sf0.01 tables: a pass takes seconds instead of tens of seconds
    monkeypatch.setattr(querymix, "TABLES", tuple((t, 0.01) for t, _ in querymix.TABLES))
    # the stream needs a few 3 s batches before the Lever loop has history
    seconds = "8" if workload == "stream-lever" else "1"
    assert run.main(["--workload", workload, "--seed", "1", "--seconds", seconds, "--trace", str(trace)]) == 0
    out = capsys.readouterr().out.strip().splitlines()
    res = json.loads(out[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    expected = bench["per_layer"] if trace else bench["end_to_end"]
    assert set(res["metrics"]) == {m["name"] for m in expected}
    if not trace:
        assert all(v["value"] > 0 for v in res["metrics"].values())
    elif workload == "stream-lever":
        assert res["metrics"]["lever.plans_emitted"]["value"] > 0
    else:
        assert res["metrics"]["operators.jobs"]["value"] > 0
        assert res["metrics"]["llm.jobs"]["value"] > 0
    assert not (ROOT / run.WORK_DIR).exists()
