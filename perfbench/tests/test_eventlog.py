"""Event-log parser on a small recorded Spark 4.1 log.

``data/events_1_small`` is a trimmed real log: a ``multimodal_pdf_meta``
run under job group ``multimodal_pdf_meta`` (a ``mapInPandas`` plan), the
wire-log write under group ``wire``, and one ``silver_upsert_stream``
commit (batch 0) of a streaming query.
"""

import os
import shutil

import pytest

from perfbench.tracing import Spans, read_event_log

DATA = os.path.join(os.path.dirname(__file__), "data", "events_1_small")


@pytest.fixture(scope="module")
def log():
    return read_event_log(DATA)


def test_jobs_are_keyed_by_group_and_streaming_batch(log):
    assert log.select(group="multimodal_pdf_meta").jobs == 3
    assert log.select(group="wire").jobs == 5
    qids = {j.query_id for j in log.jobs if j.query_id}
    assert len(qids) == 1
    qid = qids.pop()
    commit = log.select(query_id=qid, batch_id=0)
    assert commit.jobs == 6 and len(commit.stages) == 6
    assert log.select(query_id=qid, batch_id=1).jobs == 0


def test_only_executed_stages_count(log):
    s = log.select(group="multimodal_pdf_meta")
    assert len(s.stages) == 3
    assert all(st.completed for st in s.stages)


def test_python_runner_metrics_come_from_task_accumulables(log):
    pdf = log.select(group="multimodal_pdf_meta")
    assert pdf.python_s > 0
    assert pdf.arrow_sent == 784 and pdf.arrow_returned == 3792
    wire = log.select(group="wire")
    assert wire.python_s == 0 and wire.arrow_sent == 0


def test_shuffle_and_run_time_sum_over_tasks(log):
    wire = log.select(group="wire")
    assert wire.shuffle_bytes == 402865
    assert wire.executor_run_s == pytest.approx(2.183)


def test_task_skew_is_max_over_median_of_slowest_stage(log):
    wire = log.select(group="wire")
    slow = max((s for s in wire.stages if s.task_ms), key=lambda s: s.wall_ms)
    import statistics

    assert wire.task_skew == pytest.approx(max(slow.task_ms) / statistics.median(slow.task_ms))
    assert log.select(group="absent").task_skew == 1.0


def test_rolling_layout_reads_every_part_in_order(tmp_path, log):
    """Spark 4 rolls the log into eventlog_v2_<app>/events_<n>_<app>."""
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    with open(DATA) as fh:
        lines = fh.readlines()
    half = len(lines) // 2
    (app / "events_2_local-1").write_text("".join(lines[half:]))
    (app / "events_1_local-1").write_text("".join(lines[:half]) + '{"Event": "trunc')
    (app / "appstatus_local-1").write_text("")
    rolled = read_event_log(str(tmp_path))
    assert len(rolled.jobs) == len(log.jobs)
    for group in ("multimodal_pdf_meta", "wire"):
        a, b = rolled.select(group=group), log.select(group=group)
        assert (a.jobs, len(a.stages), a.shuffle_bytes) == (b.jobs, len(b.stages), b.shuffle_bytes)


def test_spans_keep_parents_and_write_once(tmp_path):
    spans = Spans()
    with spans.span("workload", None) as top:
        with spans.span("pass", top["id"]) as p:
            spans.add("commit", p, 0.25, batch_id=0)
    assert [(r["name"], r["parent"]) for r in spans.records] == [
        ("workload", None), ("pass", top["id"]), ("commit", p["id"])]
    assert Spans.duration(spans.records[-1]) == 0.25
    assert Spans.duration(top) >= Spans.duration(p) >= 0
    out = tmp_path / "out" / "spans.json"
    spans.write(str(out))
    import json

    assert [r["name"] for r in json.loads(out.read_text())] == ["workload", "pass", "commit"]
    shutil.rmtree(tmp_path / "out")
