"""Event-log parser against a committed excerpt of a real Spark 4 log.

The excerpt keeps the job, stage and task-end events (trimmed to the fields
the parser reads) of a two-group run: ``q_a`` is an ``applyInPandas`` over a
shuffle, ``q_b`` a two-stage aggregation. One hand-added job outside any
group carries a spill and a remote shuffle read.
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

import eventlog  # noqa: E402

EXCERPT = os.path.join(os.path.dirname(__file__), "data", "eventlog_excerpt.jsonl")
MB = 2**20


@pytest.fixture(scope="module")
def parsed():
    return eventlog.parse(EXCERPT)


def test_groups(parsed):
    assert set(parsed["groups"]) == {"q_a", "q_b", eventlog.UNGROUPED}


def test_counts(parsed):
    a, b = parsed["groups"]["q_a"], parsed["groups"]["q_b"]
    assert (a["spark.jobs"], a["spark.stages"], a["spark.tasks"]) == (2, 2, 3)
    assert (b["spark.jobs"], b["spark.stages"], b["spark.tasks"]) == (2, 2, 3)
    t = parsed["total"]
    assert (t["spark.jobs"], t["spark.stages"], t["spark.tasks"]) == (5, 5, 7)


def test_task_metrics(parsed):
    a = parsed["groups"]["q_a"]
    assert a["spark.task_run_s"] == pytest.approx((238 + 235 + 2722) / 1e3)
    assert a["spark.task_cpu_s"] == pytest.approx(
        (175381791 + 116127308 + 692534519) / 1e9
    )
    assert a["spark.gc_s"] == pytest.approx((15 + 15 + 22) / 1e3)
    assert a["spark.shuffle_write_mb"] == pytest.approx((51309 + 53965) / MB)
    assert a["spark.shuffle_read_mb"] == pytest.approx(105274 / MB)
    assert parsed["groups"]["q_b"]["spark.shuffle_read_mb"] == pytest.approx(874 / MB)


def test_python_exec_metrics(parsed):
    a = parsed["groups"]["q_a"]
    assert a["python.arrow_to_worker_mb"] == pytest.approx(326440 / MB)
    assert a["python.arrow_from_worker_mb"] == pytest.approx(1288 / MB)
    assert parsed["groups"]["q_b"]["python.arrow_to_worker_mb"] == 0.0


def test_spill_and_remote_read_ungrouped(parsed):
    u = parsed["groups"][eventlog.UNGROUPED]
    assert u["spark.spill_mb"] == pytest.approx(1.0)  # disk bytes, not memory bytes
    assert u["spark.shuffle_read_mb"] == pytest.approx(2.0)
    assert parsed["total"]["spark.spill_mb"] == pytest.approx(1.0)


def test_totals_are_group_sums(parsed):
    for k, v in parsed["total"].items():
        assert v == pytest.approx(sum(g[k] for g in parsed["groups"].values()))


def test_log_directory(tmp_path):
    (tmp_path / "local-1").write_text(open(EXCERPT).read())
    (tmp_path / ".local-1.crc").write_bytes(b"\0")
    assert eventlog.parse(str(tmp_path)) == eventlog.parse(EXCERPT)
