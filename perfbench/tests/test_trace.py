"""The event-log reader on a stored sample.

The sample is a trimmed event log of three spans (an aggregation, a
parquet write of it, and a join that reuses the aggregation's shuffle);
``spans.json`` holds what the tracer recorded from statusTracker in the
same run. The log must reproduce those counts exactly.
"""

import json
import os

import pytest

from perfbench import trace
from perfbench.run import tail

DATA = os.path.join(os.path.dirname(__file__), "data", "eventlog")


@pytest.fixture(scope="module")
def log():
    return trace.read_event_log(trace.event_log_files(DATA))


@pytest.fixture()
def spans():
    with open(os.path.join(DATA, "spans.json")) as fh:
        return [trace.Span(phase="timed", parent=None, **s) for s in json.load(fh)]


def test_reads_every_job_and_stage(log):
    assert sorted(log["jobs"]) == list(range(8))
    assert log["jobs"][1]["stages"] == [1, 2]
    assert log["jobs"][0]["group"] == "agg"
    assert all("end" in j and j["end"] >= j["submit"] for j in log["jobs"].values())
    # stages 1, 4, 7, 10 were skipped: they ran as 0, 3, 6, 9 in an earlier job
    assert sorted(log["stages"]) == [0, 2, 3, 5, 6, 8, 9, 11]
    assert sum(s["tasks"] for s in log["stages"].values()) == 20


def test_log_counts_equal_status_tracker_counts(log, spans):
    owner = trace.stage_owners(log)
    for s in spans:
        m = trace.span_log_metrics(s, log, owner)
        assert (m["stages"], m["tasks"], m["failed"]) == (s.stages, s.tasks, s.failed_tasks)
        assert 0 <= m["driver_only_s"] <= s.wall_s
        assert m["run_s"] >= m["cpu_s"] > 0


def test_layer_metrics(log, spans):
    layers, mismatched = trace.layer_metrics(spans, log)
    assert mismatched == []
    assert layers["write.jobs"] == 2 and layers["join.jobs"] == 4
    assert layers["write.bytes_written_mb"] == 845 / 1e6
    assert layers["write.files_written"] == 1
    assert layers["agg.shuffle_write_mb"] > 0 and layers["agg.bytes_written_mb"] == 0
    assert layers["agg.calls"] == 1


def test_layer_metrics_reports_count_mismatch(log, spans):
    spans[2].tasks += 1
    assert trace.layer_metrics(spans, log)[1] == ["join"]


def test_warmup_spans_are_left_out(spans):
    spans[0].phase = "warmup"
    layers, _ = trace.layer_metrics(spans)
    assert "agg.calls" not in layers and "write.calls" in layers
    assert "write.exec_run_s" not in layers  # untraced: statusTracker counts only


def test_covered_merges_overlaps():
    assert trace._covered([(0, 2), (1, 3), (5, 6)]) == 4
    assert trace._covered([]) == 0


def test_tail_percentile():
    assert tail([3.0, 1.0, 2.0]) == (3.0, 100.0)
    xs = [float(i) for i in range(1, 21)]
    assert tail(xs) == (10.0, 50.0)
