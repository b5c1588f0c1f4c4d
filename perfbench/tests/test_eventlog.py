"""The event-log parser over a tiny hand-written log.

    python3 -m pytest perfbench/tests -q
"""

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from eventlog import EventLog, load_events  # noqa: E402

FIXTURE = os.path.join(HERE, "fixtures", "tiny_eventlog.json")


@pytest.fixture()
def log():
    return EventLog.parse(load_events(FIXTURE))


def test_window_keeps_jobs_submitted_inside(log):
    assert len(log.jobs) == 7
    inside = log.window(1000, 2500)
    assert sorted(inside.jobs) == [0, 1, 2, 3, 4, 5]
    assert sorted(inside.stages) == [0, 1, 3, 5, 6, 7]


def test_layer_metrics(log):
    m = log.window(1000, 2500).layer_metrics()
    assert m == pytest.approx({
        # the failed task of the Python stage is ignored
        "transport.py_start_s": 0.08,
        "transport.py_init_s": 0.6,
        "transport.py_run_s": 2.4,
        "transport.bytes_to_py": 2000,
        "transport.bytes_from_py": 1600,
        # what the Python stage reads / writes through the shuffle
        "stage.repartition_shuffle_bytes": 6000,
        "stage.dedup_shuffle_bytes": 1200,
        # stage 5 reads exactly the Python stage's shuffle output
        "stage.dedup_run_s": 0.07,
        "stage.spill_bytes": 64,
        "stage.map_task_skew": 1.5,
        "stage.jvm_cpu_s": 0.106,
    })


def test_job_attribution(log):
    inside = log.window(1000, 2500)
    assert inside.collect_seconds("relations.py") == pytest.approx(0.25)
    assert inside.jobs_per_stream_batch() == {3: 2}


def test_rolling_directory(tmp_path):
    """Spark 4 rolls the log into eventlog_v2_<app>/events_<n>_<app>."""
    lines = open(FIXTURE).read().splitlines(keepends=True)
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    (d / "events_2_local-1").write_text("".join(lines[12:]))
    (d / "events_1_local-1").write_text("".join(lines[:12]))
    (d / "appstatus_local-1").write_text("")
    assert load_events(str(tmp_path)) == load_events(FIXTURE)
