"""Event-log folding against a small recorded log.

``data/tiny_eventlog.jsonl`` is a real Spark 4 event log, cut down to the
four event kinds the fold reads. It was recorded at local[2] with three
spans: ``op:pipeline`` holding ``s1_text`` (two jobs, then a 0.3 s sleep)
and ``s2_mentions`` (two jobs), one job in ``op:pipeline`` after them, and
two jobs outside every span.
"""

import json
import os

import pytest

from tracing import (
    OUTSIDE,
    Span,
    Tracer,
    fold_event_log,
    layer_metrics,
    query_metrics,
    stage_span_share,
)

LOG = os.path.join(os.path.dirname(__file__), "data", "tiny_eventlog.jsonl")
SPANS = [
    Span("s1_text", 1792220086.3865323, 1792220090.3655767),
    Span("s2_mentions", 1792220090.3673089, 1792220091.2766538),
    Span("op:pipeline", 1792220086.386188, 1792220091.464724),
]


@pytest.fixture(scope="module")
def groups():
    with open(LOG) as f:
        return fold_event_log(f)


def test_jobs_and_tasks_follow_the_job_group(groups):
    assert {g: (v.jobs, v.tasks) for g, v in groups.items()} == {
        "s1_text": (2, 3),
        "s2_mentions": (2, 3),
        "op:pipeline": (1, 1),
        OUTSIDE: (2, 3),
    }


def test_task_metrics_are_summed_per_group(groups):
    s1 = groups["s1_text"]
    assert (s1.run_ms, s1.gc_ms, s1.shuffle_write_b, s1.spill_b) == (303, 34, 118, 0)
    assert sorted(s1.task_ms) == [128, 225, 255]
    s2 = groups["s2_mentions"]
    assert (s2.run_ms, s2.gc_ms, s2.shuffle_write_b) == (366, 40, 266)
    assert s2.job_ms == [(1792220090783, 1792220090995),
                         (1792220091147, 1792220091256)]


def test_layer_metrics(groups):
    m = layer_metrics(groups, SPANS, cores=2, rounds=1)
    wall = 1792220090.3655767 - 1792220086.3865323
    assert m["functions.text.wall_s"] == pytest.approx(wall)
    assert m["functions.text.jobs"] == 2
    assert m["functions.text.executor_run_s"] == pytest.approx(0.303)
    assert m["functions.text.shuffle_write_mb"] == pytest.approx(118 / 2**20)
    assert m["functions.text.task_skew"] == pytest.approx(255 / 225)
    assert m["functions.text.core_idle_s"] == pytest.approx(2 * wall - 0.303)
    assert m["functions.mentions.task_skew"] == pytest.approx(1.0)
    assert m["operators.streaming.jobs"] == 0
    assert m["operators.streaming.task_skew"] == 0
    # span time outside jobs: s1 jobs cover 0.489 + 0.171 s, s2 jobs 0.321 s
    s2_wall = 1792220091.2766538 - 1792220090.3673089
    assert m["plans.checkpoint.driver_s"] == pytest.approx(
        wall - 0.660 + s2_wall - 0.321)


def test_layer_metrics_are_per_round(groups):
    one = layer_metrics(groups, SPANS, cores=2, rounds=1)
    two = layer_metrics(groups, SPANS, cores=2, rounds=2)
    assert two["functions.text.jobs"] == one["functions.text.jobs"] / 2
    assert two["functions.text.task_skew"] == one["functions.text.task_skew"]


def test_stage_span_share():
    inner = SPANS[0].wall + SPANS[1].wall
    assert stage_span_share(SPANS, "op:pipeline") == pytest.approx(
        inner / SPANS[2].wall)
    assert stage_span_share(SPANS, "op:missing") == 0.0


def test_disabled_tracer_records_nothing():
    t = Tracer()
    with t.span("s1_text"):
        pass
    assert not t.enabled and t.spans == []


def _task_end(stage: int, records: int) -> str:
    return json.dumps({
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {"Launch Time": 0, "Finish Time": 10},
        "Task Metrics": {"Executor Run Time": 8, "Input Metrics": {
            "Records Read": records}},
    })


def test_page_scan_input_goes_to_sources_tables():
    lines = [
        json.dumps({"Event": "SparkListenerStageSubmitted",
                    "Stage Info": {"Stage ID": s},
                    "Properties": {"spark.jobGroup.id": g}})
        for s, g in ((0, "s1_text"), (1, "s5_char_sets"))
    ] + [_task_end(0, 40), _task_end(0, 10), _task_end(1, 99)]
    groups = fold_event_log(lines)
    assert groups["s1_text"].input_records == 50
    # the checkpoint read in S5 is not a page scan
    m = layer_metrics(groups, [], cores=2, rounds=2)
    assert m["sources.tables.input_records"] == 25


def test_query_metrics_are_one_sweep(groups):
    spans = [Span("kg_pagerank", 10.0, 12.5), Span("s1_text", 12.5, 13.0)]
    m = query_metrics({"kg_pagerank": groups["s1_text"]}, spans)
    assert m["queries.kg_pagerank.wall_s"] == pytest.approx(2.5)
    assert m["queries.kg_pagerank.jobs"] == 2
    assert m["queries.ev_sessions.wall_s"] == 0
