"""Self-tests of the benchmark's own helpers (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), os.path.join(os.path.dirname(HERE), "hook")]

import eventlog  # noqa: E402
from measure import percentile  # noqa: E402
from perfbench_trace import fold_spans, self_times  # noqa: E402

CAPTURED = os.path.join(HERE, "data", "small_eventlog.jsonl")


def test_percentile_needs_ten_samples_beyond():
    xs = list(range(1, 101))  # 100 samples: exactly 10 lie beyond p90
    assert percentile(xs, 0.9) == 90
    assert percentile(xs, 0.5) == 50
    with pytest.raises(ValueError):
        percentile(xs[:99], 0.9)  # 9 beyond
    with pytest.raises(ValueError):
        percentile(xs, 0.95)  # 5 beyond
    assert percentile(list(range(20)), 0.5) == 9  # 10 beyond the median


def test_percentile_ignores_input_order():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0] * 20
    assert percentile(xs, 0.5) == 3.0


def test_fold_captured_event_log():
    with open(CAPTURED) as fh:
        totals = eventlog.fold(fh)
    agg = totals["t/agg"]
    assert agg.jobs == 1
    assert len(agg.stages) == 2  # map side + reduce side of the groupBy
    assert agg.tasks == 4 + 2
    assert agg.failed_tasks == 0
    assert agg.shuffle_write_mb > 0 and agg.shuffle_read_mb > 0
    assert agg.task_run_s > 0 and agg.task_cpu_s > 0
    scan = totals["t/scan"]
    # the parquet footer/schema job (1 task) and the scan of 2 files
    assert scan.jobs == 2 and scan.tasks == 3
    assert scan.input_records == 1000  # 2 files x 500 rows
    assert scan.files_read == 2
    assert scan.shuffle_write_mb == 0
    # per-description task counts add up to the log's task ends
    with open(CAPTURED) as fh:
        n_task_ends = sum('"SparkListenerTaskEnd"' in line for line in fh)
    assert sum(t.tasks for t in totals.values()) == n_task_ends


def test_outside_jobs_counts_uncovered_time_once():
    jobs = [(100, 200), (150, 300), (400, 450)]
    # phase 0..500 ms: jobs cover 100..300 and 400..450 -> 250 ms outside
    assert eventlog.outside_jobs_s([(0, 500)], jobs) == pytest.approx(0.25)
    assert eventlog.outside_jobs_s([(120, 180)], jobs) == 0.0


def test_self_time_with_nested_spans():
    # 1 [0,10] has children 2 [1,4] and 3 [3,6] (overlapping: cover 1..6)
    # and 4 [8,9]; 2 has child 5 [2,3]
    spans = [(1, None, 0, 10), (2, 1, 1, 4), (3, 1, 3, 6), (4, 1, 8, 9), (5, 2, 2, 3)]
    st = self_times(spans)
    assert st[1] == pytest.approx(10 - 5 - 1)
    assert st[2] == pytest.approx(3 - 1)
    assert st[3] == pytest.approx(3)
    assert st[4] == pytest.approx(1)
    assert st[5] == pytest.approx(1)


def test_self_time_clips_children_to_parent():
    st = self_times([(1, None, 0, 4), (2, 1, 3, 7)])
    assert st[1] == pytest.approx(3)


def test_fold_spans_totals_per_name():
    spans = [
        (1, None, "split", 0.0, 10.0, 0.0, 8.0),
        (2, 1, "kernel", 1.0, 6.0, 1.0, 5.0),
        (3, 1, "kernel", 6.0, 8.0, 5.0, 6.5),
    ]
    layers = fold_spans(spans)
    assert layers["kernel"]["calls"] == 2
    assert layers["kernel"]["wall_s"] == pytest.approx(7.0)
    assert layers["split"]["self_wall_s"] == pytest.approx(3.0)
    assert layers["split"]["self_cpu_s"] == pytest.approx(8.0 - 5.5)



def test_slow_blocks_count_only_calls_made_by_encode_flat():
    import perfbench_trace

    rec = perfbench_trace.Recorder(out_dir=HERE)
    count = perfbench_trace.AFTER["cost.choose_with_stats"]
    count(rec, None)  # the giant-row path: no enclosing encode_flat
    rec.enter("encode.encode_flat")
    count(rec, None)  # the batched kernel's slow path
    rec.enter("cost.choose")
    count(rec, None)  # inside another span under encode_flat
    assert rec.counts["encode.slow_blocks"] == 1
