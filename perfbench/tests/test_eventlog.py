"""Event-log parser and span self time, checked against a committed fixture.

``fixtures/eventlog_small.jsonl`` is a trimmed Spark 4.1 event log of two
job groups: ``g1`` ran a polygon filter (pandas UDF) and an aggregate,
``g2`` ran one aggregate twice. Stage 1 is listed by job 1 but skipped.

Run with ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tracing import Tracer, event_log_files, parse_event_log  # noqa: E402

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "eventlog_small.jsonl")


@pytest.fixture(scope="module")
def groups():
    return parse_event_log([FIXTURE])


def test_jobs_stages_tasks_per_group(groups):
    assert set(groups) == {"g1", "g2"}
    g1, g2 = groups["g1"], groups["g2"]
    assert (g1.jobs, g1.stages, g1.tasks) == (2, 2, 3)
    assert (g2.jobs, g2.stages, g2.tasks) == (2, 2, 3)


def test_job_wall_and_executor_time(groups):
    g1 = groups["g1"]
    # job 0: 1792175816406 → 1792175820134; job 1: …820320 → …820636
    assert g1.job_wall_s == pytest.approx(3.728 + 0.316)
    assert g1.executor_run_s == pytest.approx(3.273 + 3.270 + 0.163)
    assert g1.executor_cpu_s == pytest.approx(
        (502662870 + 429023106 + 116728613) / 1e9
    )
    assert g1.gc_s == pytest.approx(0.073)
    assert g1.non_executor_s(slots=2) == pytest.approx(
        g1.job_wall_s - g1.executor_run_s / 2
    )


def test_shuffle_bytes(groups):
    assert groups["g1"].shuffle_write_mb == pytest.approx((189 + 185) / 1e6)
    assert groups["g1"].shuffle_read_mb == pytest.approx(374 / 1e6)
    assert groups["g2"].shuffle_write_mb == pytest.approx((170 + 173) / 1e6)
    assert groups["g2"].spill_mb == 0


def test_python_worker_metrics_only_where_the_udf_ran(groups):
    py = groups["g1"].python
    assert py["sent_mb"] == pytest.approx(2 * 35456 / 1e6)
    assert py["run_s"] == pytest.approx((2862 + 2791) / 1e3)
    assert py["start_s"] == pytest.approx((1711 + 1720) / 1e3)
    assert not groups["g2"].python


def test_event_log_files_reads_plain_files(tmp_path):
    (tmp_path / "app-1").write_text("")
    roll = tmp_path / "eventlog_v2_app-2"
    roll.mkdir()
    (roll / "events_1_app-2").write_text("")
    (roll / "appstatus_app-2").write_text("")
    assert [os.path.basename(p) for p in event_log_files(str(tmp_path))] == [
        "events_1_app-2", "app-1",
    ]


def test_self_time_subtracts_children():
    tr = Tracer()
    with tr.span("request"):
        with tr.span("a"):
            pass
        with tr.span("b"):
            pass
    req, a, b = tr.spans
    assert (a.parent, b.parent, req.parent) == (req.id, req.id, None)
    st = tr.self_times()
    assert st[req.id] == pytest.approx(req.duration - a.duration - b.duration)
    assert st[a.id] == pytest.approx(a.duration)
