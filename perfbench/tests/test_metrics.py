"""Metric arithmetic of the benchmark: tail rule, failure share, status-store
aggregation, spreads. Run with ``python3 -m pytest perfbench/tests -q``."""

from __future__ import annotations

import os
import statistics
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import metrics  # noqa: E402
import tracing  # noqa: E402


def test_tail_leaves_ten_samples_beyond():
    values = [float(v) for v in range(1, 41)]  # 40 samples
    tail = metrics.tail_percentile(values)
    assert tail == {"pct": 75.0, "value": 30.0, "n": 40}
    assert sum(v > tail["value"] for v in values) == 10


def test_tail_needs_more_than_ten_samples():
    assert metrics.tail_percentile([1.0] * 10) is None
    tail = metrics.tail_percentile([float(v) for v in range(11)])
    assert tail["value"] == 0.0 and tail["n"] == 11


def test_tail_ignores_input_order():
    values = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 10.0, 0.0, 11.0]
    assert metrics.tail_percentile(values)["value"] == 1.0


def test_failed_frac_counts_each_failed_operation():
    assert metrics.failed_frac(12, 0) == 0.0
    assert metrics.failed_frac(8, 2) == 0.25


@pytest.mark.parametrize("attempted, failed", [(0, 0), (3, 4), (3, -1)])
def test_failed_frac_rejects_impossible_counts(attempted, failed):
    with pytest.raises(ValueError):
        metrics.failed_frac(attempted, failed)


def _stage(status, **kw):
    base = {k: 0 for k in metrics.STAGE_SUMS}
    base.update(kw)
    base["status"] = status
    return base


def test_skipped_stages_are_counted_not_timed():
    stages = [
        _stage("COMPLETE", tasks=4, executor_run_ms=2000, executor_cpu_ns=10**9, shuffle_write_bytes=5),
        # a skipped stage carries the figures of the run that produced its
        # output; none of them may be added again
        _stage("SKIPPED", tasks=4, executor_run_ms=9000, executor_cpu_ns=9 * 10**9, shuffle_write_bytes=7),
        _stage("COMPLETE", tasks=2, executor_run_ms=500, spill_bytes=3, failed_tasks=1),
    ]
    tot = metrics.aggregate_stages(2, stages)
    assert tot["jobs"] == 2
    assert (tot["stages"], tot["stages_skipped"]) == (2, 1)
    assert tot["tasks"] == 6
    assert tot["executor_run_ms"] == 2500
    assert tot["executor_cpu_ns"] == 10**9
    assert tot["shuffle_write_bytes"] == 5
    assert (tot["spill_bytes"], tot["failed_tasks"]) == (3, 1)


def test_spark_layer_units():
    tot = metrics.aggregate_stages(
        1, [_stage("COMPLETE", executor_run_ms=1500, executor_cpu_ns=5 * 10**8, gc_ms=20, input_bytes=2 * 10**6)]
    )
    layer = metrics.spark_layer(tot)
    assert layer["spark.executor_run_s"] == 1.5
    assert layer["spark.executor_cpu_s"] == 0.5
    assert layer["spark.gc_s"] == 0.02
    assert layer["spark.input_mb"] == 2.0


def test_late_early_ratio_and_bases():
    le = metrics.late_early_ratio([1.0, 1.0, 1.0, 2.0, 2.0, 2.0, 3.0, 3.0, 3.0])
    assert le == {"ratio": 3.0, "early_s": 1.0, "late_s": 3.0, "n_each": 3}
    assert metrics.late_early_ratio([1.0, 2.0]) is None


def test_halves_ratio_is_one_when_flat():
    assert metrics.halves_ratio([2.0, 2.0, 2.0, 2.0]) == 1.0
    assert metrics.halves_ratio([1.0, 1.0, 2.0, 2.0, 2.0]) == 2.0
    assert metrics.halves_ratio([1.0, 2.0, 3.0]) is None


def test_iqr_spread_matches_statistics_quantiles():
    values = [10.0, 11.0, 9.5, 10.2, 10.8, 9.9, 10.1, 10.4, 10.0, 12.0]
    q1, _, q3 = statistics.quantiles(values, n=4)
    assert metrics.iqr_spread(values) == (q3 - q1) / statistics.median(values)


def test_spans_record_parent():
    spans = tracing.Spans()
    with spans.span("outer"):
        with spans.span("inner"):
            pass
    outer, inner = spans.as_records()
    assert (outer["parent"], inner["parent"]) == (None, 0)
    assert outer["start"] <= inner["start"] <= inner["end"] <= outer["end"]


def test_reported_metrics_match_benchmark_json():
    import json

    import run

    with open(os.path.join(os.path.dirname(run.HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.E2E
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.LAYER


def test_dsl_check_counts_a_wrong_sink_as_failed(tmp_path):
    from workloads import DslTfidf

    wl = DslTfidf.__new__(DslTfidf)
    wl.corpus = str(tmp_path / "corpus.txt")
    (tmp_path / "corpus.txt").write_text("A b b.\nB c.\n")
    wl.expected = wl.reference()
    sink = tmp_path / "sink"
    sink.mkdir()
    (sink / "part-00000").write_text("\n".join(wl.expected) + "\n")
    assert wl.check(None, str(sink)) == 0
    (sink / "part-00001").write_text("extra\t1\t0.5\n")
    assert wl.check(None, str(sink)) == 1


def test_work_cpu_leaves_out_jit_compiling():
    assert metrics.work_cpu_s((10.0, 2.0), (15.0, 3.5)) == 3.5


def test_batch_cpu_splits_a_missed_mark_evenly():
    start = (0.0, 0.0)
    marks = {0: (8.0, 3.0), 1: (11.0, 4.0), 3: (17.0, 4.0)}  # batch 2 missed
    assert metrics.batch_cpu(start, marks, [0, 1, 2, 3]) == [5.0, 2.0, 3.0, 3.0]
