from pathlib import Path

import pytest

import eventlog

FIXTURE = Path(__file__).parent / "fixtures" / "eventlog_small.jsonl"
MB = 1024 * 1024


@pytest.fixture(scope="module")
def log():
    # recorded from two jobs groups: "shuffle" (a groupBy count over 2
    # input partitions) and "python" (a mapInArrow pass-through)
    return eventlog.parse_file(str(FIXTURE))


def test_task_metrics_are_summed_per_job_group(log):
    assert set(log.groups) == {"shuffle", "python"}
    sh = log.groups["shuffle"]
    assert (sh.jobs, sh.stages, sh.tasks) == (2, 2, 3)
    assert sh.executor_run_s == pytest.approx((419 + 502 + 252) / 1e3)
    assert sh.executor_cpu_s == pytest.approx(
        (152187498 + 134427804 + 76152017) / 1e9
    )
    assert sh.shuffle_write_mb == pytest.approx((176 + 178) / MB)
    assert sh.shuffle_read_mb == pytest.approx(354 / MB)
    assert sh.python_worker_s == 0


def test_python_sql_metrics_use_the_plan_metric_unit(log):
    py = log.groups["python"]
    assert py.tasks == 3
    assert py.executor_run_s == pytest.approx((2042 + 2046 + 53) / 1e3)
    assert py.python_worker_s == pytest.approx((1621 + 1662) / 1e3)
    assert py.python_boot_s == pytest.approx((1144 + 1135) / 1e3)
    assert py.python_sent_mb == pytest.approx(2 * 8432 / MB)


def test_total_and_job_spans(log):
    total = log.total()
    assert total.tasks == 6
    assert len(total.spans) == 4
    only = log.total(lambda g: g == "python")
    assert only.tasks == 3


def test_covered_is_the_union_of_spans_clipped_to_the_window():
    spans = [(0.0, 2.0), (1.0, 3.0), (5.0, 6.0), (9.0, 12.0)]
    assert eventlog.covered(spans, 0.0, 10.0) == pytest.approx(3.0 + 1.0 + 1.0)
    assert eventlog.covered(spans, 2.5, 5.5) == pytest.approx(1.0)
    assert eventlog.covered([], 0.0, 1.0) == 0.0
