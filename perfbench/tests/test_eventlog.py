"""The event-log fold on a small recorded log (trimmed to the fields the
fold reads): a mapInPandas over 1,000 rows in 4 tasks, repartitioned to 3
and written as parquet, then a count of the written table."""

import json
import os

import pytest

import eventlog

DATA = os.path.join(os.path.dirname(__file__), "data", "small_eventlog.jsonl")
SECOND_SQL_MS = 1792207999697   # start of the count's SQL execution


@pytest.fixture(scope="module")
def events():
    with open(DATA) as f:
        return [json.loads(line) for line in f]


def test_fold_counts(events):
    m = eventlog.fold(events)
    assert set(m) == {k for k, _ in eventlog.METRICS}
    assert m["spark.sql_executions"] == 2
    assert m["spark.jobs"] == 5
    assert m["spark.python_operator_runs"] == 1
    assert m["spark.output_rows"] == 1000
    assert m["spark.python_worker_s"] == pytest.approx(5.336)
    assert m["spark.python_worker_start_s"] == pytest.approx(2.837)
    assert m["spark.arrow_to_python_mb"] * 2**20 == pytest.approx(4 * 2240)
    assert m["spark.arrow_from_python_mb"] * 2**20 == pytest.approx(4 * 2176)
    assert m["spark.shuffle_write_mb"] == m["spark.shuffle_read_mb"] > 0
    assert m["spark.output_mb"] * 2**20 == pytest.approx(1062 + 1053 + 1045)
    # heaviest stage: the Python stage, tasks of 2.815, 2.811, 0.249, 0.268 s
    assert m["spark.task_s_max"] == pytest.approx(2.815)
    assert m["spark.task_s_p50"] == pytest.approx((0.268 + 2.811) / 2)
    assert m["spark.task_skew"] == pytest.approx(2.815 / ((0.268 + 2.811) / 2))


def test_fold_window_and_per_job(events):
    late = eventlog.fold(events, since_ms=SECOND_SQL_MS)
    assert late["spark.sql_executions"] == 1
    assert late["spark.jobs"] == 2
    assert late["spark.python_operator_runs"] == 0
    assert late["spark.output_rows"] == 0
    halved = eventlog.fold(events, n_jobs=2)
    assert halved["spark.jobs"] == 2.5
    assert halved["spark.output_rows"] == 500


def test_read_events_spark_layout(tmp_path, events):
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    lines = [json.dumps(e) for e in events]
    (app / "events_1_local-1").write_text("\n".join(lines[:9]) + "\n")
    (app / "events_2_local-1").write_text("\n".join(lines[9:]) + "\n")
    assert eventlog.read_events(str(tmp_path)) == events
