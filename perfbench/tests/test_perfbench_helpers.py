"""Tests for the benchmark's own helpers (no Spark needed).

Run with ``python3 -m pytest perfbench/tests -q`` from the repository root.
"""

import json
import os
import re

import pytest

from perfbench import harness, inputs, stats
from perfbench.harness import Run, Sample
from perfbench.tracing import Span, Spans, self_ms

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# -- percentile rule ----------------------------------------------------------

@pytest.mark.parametrize("n", range(1, 400))
def test_reported_tail_leaves_at_least_ten_samples_beyond(n):
    values = list(range(n))
    t = stats.tail(values)
    if t is None:
        assert stats.tail_percentile(n) is None
        return
    p, v = t
    assert 50 < p <= 99
    assert sum(1 for x in values if x > v) >= stats.TAIL_MIN_BEYOND


def test_tail_is_p90_at_100_samples_and_absent_when_too_few():
    assert stats.tail_percentile(100) == 90
    assert stats.tail(list(range(100))) == (90, 89.0)
    assert stats.tail_percentile(20) is None
    assert stats.tail_percentile(10) is None


def test_tail_percentile_is_the_highest_supported():
    for n in range(21, 400):
        p = stats.tail_percentile(n)
        values = list(range(n))
        if p < 99:
            above = stats.percentile(values, p + 1)
            assert sum(1 for x in values if x > above) < stats.TAIL_MIN_BEYOND


def test_mix_op_ms_weights_kind_medians_and_ignores_the_window_composition():
    run = Run("w", 1, 1.0, False, "work")
    shares = {"get": 0.6, "scan": 0.4}
    for ms in (100.0, 200.0, 300.0):
        run.samples.append(Sample("get", ok=True, total_ms=ms, plan_ms=0.0, exec_ms=ms))
    assert run.mix_op_ms(shares) is None  # no completed scan yet
    run.samples.append(Sample("scan", ok=True, total_ms=1000.0, plan_ms=0.0, exec_ms=1000.0))
    assert run.mix_op_ms(shares) == pytest.approx(0.6 * 200 + 0.4 * 1000)
    # one more scan of the same latency moves the median over all ops, not this
    run.samples.append(Sample("scan", ok=True, total_ms=1000.0, plan_ms=0.0, exec_ms=1000.0))
    assert run.mix_op_ms(shares) == pytest.approx(0.6 * 200 + 0.4 * 1000)
    assert run.latency_summary()["all"]["p50_ms"] == 300.0


def test_normalized_divides_by_the_median_reference_time():
    run = Run("w", 1, 1.0, False, "work")
    # one slow reference job does not move the median
    run.refs = [100.0, 200.0, 1000.0]
    out = run.normalized({"op_ms": 400.0, "batch_s": 3.0, "setup_s": 0.5})
    assert out["ref_job_ms"] == 200.0
    assert out["op_norm_ms"] == pytest.approx(400.0 * harness.REF_SCALE_MS / 200.0)
    assert out["batch_norm_s"] == pytest.approx(3.0 * harness.REF_SCALE_MS / 200.0)
    # the raw figures stay, and a metric that was not measured stays missing
    assert out["op_ms"] == 400.0 and out["setup_s"] == 0.5
    assert run.normalized({"op_ms": None, "batch_s": 3.0})["op_norm_ms"] is None


# -- span self time -------------------------------------------------------------

def _span(i, start, end, parent=None):
    return Span(i, parent, f"s{i}", None, start, end, "t")


def test_self_time_subtracts_children_once_and_clips_to_the_span():
    parent = _span(1, 0.0, 10.0)
    children = [
        _span(2, 1.0, 3.0, 1),
        _span(3, 2.0, 4.0, 1),   # overlaps the first: 1..4 covered once
        _span(4, 6.0, 7.0, 1),
        _span(5, 9.0, 12.0, 1),  # runs past the parent: only 9..10 counts
    ]
    assert self_ms(parent, children) == pytest.approx((10 - 3 - 1 - 1) * 1000)
    assert self_ms(parent, []) == pytest.approx(10_000)


def test_recorder_nests_spans_and_sums_self_time():
    rec = Spans(enabled=True)
    with rec.span("outer", op="op-1"):
        with rec.span("inner"):
            pass
    by_name = {s.name: s for s in rec.spans}
    assert by_name["inner"].parent == by_name["outer"].id
    assert by_name["inner"].op == "op-1"
    layers = rec.layers()
    outer = by_name["outer"]
    assert layers["outer"]["self_ms"] == pytest.approx(
        outer.ms - by_name["inner"].ms, abs=1e-6)
    assert layers["inner"]["calls"] == 1


def test_disabled_recorder_records_nothing():
    rec = Spans(enabled=False)
    with rec.span("x"):
        pass
    assert rec.spans == [] and rec.layers() == {}


# -- generator determinism ---------------------------------------------------------

def test_transactions_same_seed_same_checksum_other_seed_differs():
    a = inputs.checksum(inputs.transactions(5, rows=2_000))
    assert a == inputs.checksum(inputs.transactions(5, rows=2_000))
    assert a != inputs.checksum(inputs.transactions(6, rows=2_000))


def test_testdata_same_seed_same_checksum_other_seed_differs():
    def digest(seed):
        return [inputs.checksum(t) for t in inputs.testdata(seed, 0.001).values()]

    assert digest(3) == digest(3)
    assert digest(3) != digest(4)


def test_answers_match_the_raw_rows():
    txns = inputs.transactions(1, rows=3_000)
    ans = inputs.TxnAnswers(txns)
    assert sum(ans.rows_per_key.values()) == txns.num_rows
    assert ans.rows_in_days(ans.first_day, ans.first_day + 10_000) == txns.num_rows
    last, full = ans.bulk_boundary(500)
    assert sum(full.values()) < 500 <= sum(full.values()) + ans.rows_per_key[last]


# -- the benchmark definition ------------------------------------------------------

def test_benchmark_json_has_the_contract_shape():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert set(spec) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    name = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
    names = [w["name"] for w in spec["workloads"]]
    names += [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names)) and all(name.match(n) for n in names)
    assert all(set(w) == {"name", "why"} for w in spec["workloads"])
    assert all(set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
               for m in spec["end_to_end"])
    assert all(set(m) == {"name", "unit", "better"} for m in spec["per_layer"])
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["unit"] == "s" and setup[0]["better"] == "lower"
    assert setup[0]["bound"] == max(m["bound"] for m in spec["end_to_end"])
