"""perfbench/eventlog.py against a small recorded Spark event log.

``data/eventlog.jsonl`` is the job, stage and task events (plus one SQL
plan event, which the parser must skip) of a two-core local session
that ran one job before the traced call and two jobs inside it: a
two-stage aggregation under the span ``agg`` (layer ``layer_a``) and a
``count`` submitted by the call's root span itself. ``data/spans.json``
holds the spans the tracer recorded for that call.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import eventlog  # noqa: E402
from spans import Span  # noqa: E402

DATA = Path(__file__).resolve().parent / "data"


@pytest.fixture(scope="module")
def log():
    return eventlog.parse(DATA / "eventlog.jsonl")


@pytest.fixture(scope="module")
def spans():
    return [Span(**s) for s in json.loads((DATA / "spans.json").read_text())]


def test_parser_reads_jobs_stages_and_tasks(log):
    assert len(log.jobs) == 3
    assert all(j.end >= j.submit > 0 for j in log.jobs.values())
    assert [j.description for j in log.jobs.values()].count(None) == 1
    assert all(t.launch >= log.stages[t.stage].submit > 0 for t in log.tasks)
    # range() reads no file but counts the rows it generates: 5 + 1000 + 10
    assert sum(t.input_bytes for t in log.tasks) == 0
    assert sum(t.input_rows for t in log.tasks) == 1015
    assert sum(t.shuffle_write_bytes for t in log.tasks) > 0
    assert sum(t.shuffle_read_bytes for t in log.tasks) == sum(
        t.shuffle_write_bytes for t in log.tasks
    )
    assert not any(t.failed for t in log.tasks)


def test_call_totals_attribute_jobs_to_spans(log, spans):
    root = next(s for s in spans if s.parent is None)
    got = eventlog.call_totals(log, spans, root)
    assert got["spark.jobs"] == 2  # the job before the call is not in it
    assert got["layer_a.jobs"] == 1
    assert got["spark.unattributed_job_share"] == pytest.approx(0.5)
    # the aggregation's two stages ran two tasks each; the root count's
    # tasks and shuffle are in the runtime totals but in no layer
    assert got["layer_a.tasks"] == 4
    assert got["spark.tasks"] > got["layer_a.tasks"]
    assert 0 < got["layer_a.shuffle_write_bytes"] < got["spark.shuffle_write_bytes"]
    assert got["spark.single_task_stage_share"] < 1
    assert got["trace.self_s_sum"] == pytest.approx(root.end - root.start)
    assert 0 <= got["driver.idle_s"] <= root.end - root.start
    assert got["spark.executor_run_s"] >= 0 and got["spark.failed_tasks"] == 0


def test_covered_merges_overlaps_and_clips():
    assert eventlog.covered([(1, 3), (2, 5), (7, 8), (9, 20)], 0, 10) == pytest.approx(6)
    assert eventlog.covered([], 0, 10) == 0
    assert eventlog.covered([(-5, 2)], 0, 10) == pytest.approx(2)
