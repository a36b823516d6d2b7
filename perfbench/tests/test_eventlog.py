"""The event-log parser on a small log recorded from Spark 4.1: one
job running a pandas UDF on two tasks, then one shuffle-read job."""

import json
import os

import pytest

import eventlog

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
#: the SQL execution's start and end in the recorded log
LO, HI = 1792205293681, 1792205300297


@pytest.fixture(scope="module")
def events():
    return eventlog.read_events(DATA)


def test_reads_every_line(events):
    assert len(events) == 11
    assert eventlog.log_files(DATA) == [os.path.join(DATA, "eventlog_small.jsonl")]


def test_whole_window(events):
    m = eventlog.summarize(events, LO, HI)
    assert m["spark.jobs"] == 2
    assert m["spark.stages"] == 2
    assert m["spark.tasks"] == 3
    assert m["spark.executor_run_s"] == pytest.approx((3351 + 3354 + 98) / 1e3)
    assert m["spark.executor_cpu_s"] == pytest.approx((488966582 + 628587640 + 96040029) / 1e9)
    assert m["spark.gc_s"] == pytest.approx(0.118)
    assert m["spark.shuffle_write_bytes"] == 353
    assert m["spark.shuffle_read_bytes"] == 353
    assert m["spark.input_bytes"] == 0
    assert m["spark.spill_bytes"] == 0
    assert m["python.boot_s"] == pytest.approx(3.9)
    assert m["python.init_s"] == pytest.approx(1.653)
    assert m["python.run_s"] == pytest.approx(5.577)
    assert m["python.bytes_sent"] == 162800
    assert m["python.bytes_received"] == 160288
    # jobs ran [95944, 99893] and [300085, 300281] (ms, offset 1792205200000)
    assert m["spark.driver_s"] == pytest.approx((HI - LO - 3949 - 196) / 1e3)


def test_window_selects_work_started_inside(events):
    m = eventlog.summarize(events, LO, 1792205300000)
    assert m["spark.jobs"] == 1
    assert m["spark.tasks"] == 2
    assert m["python.bytes_sent"] == 162800
    empty = eventlog.summarize(events, 0, 1000)
    assert empty["spark.jobs"] == empty["spark.tasks"] == 0
    assert empty["spark.driver_s"] == pytest.approx(1.0)


def test_job_still_running_at_window_end_counts_to_the_end(tmp_path):
    (tmp_path / "events_1_app").write_text(
        json.dumps({"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000}) + "\n"
    )
    (tmp_path / "appstatus_app").write_text("")
    m = eventlog.summarize(eventlog.read_events(str(tmp_path)), 0, 3000)
    assert m["spark.jobs"] == 1
    assert m["spark.driver_s"] == pytest.approx(1.0)
