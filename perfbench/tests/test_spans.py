import os
import threading

import pytest

from spans import EventLog, Job, Span, Stage, Tracer, covered, parse_event_log, per_name, span_costs

DATA = os.path.join(os.path.dirname(__file__), "data")


class FakeClock:
    def __init__(self):
        self.t = 100.0

    def __call__(self):
        return self.t


def test_self_time_subtracts_only_direct_children():
    clock = FakeClock()
    tr = Tracer(clock)
    with tr.span("outer"):
        clock.t = 101.0
        with tr.span("a"):
            clock.t = 103.0
            with tr.span("a.inner"):
                clock.t = 103.5
        clock.t = 104.0
        with tr.span("b"):
            clock.t = 104.25
        clock.t = 110.0
    costs = span_costs(tr.spans, None)
    by = {s.name: c for s, c in zip(tr.spans, costs)}
    assert by["outer"]["wall_s"] == pytest.approx(10.0)
    assert by["outer"]["self_s"] == pytest.approx(10.0 - 2.5 - 0.25)
    assert by["a"]["self_s"] == pytest.approx(2.5 - 0.5)
    assert by["a.inner"]["self_s"] == by["a.inner"]["wall_s"] == pytest.approx(0.5)
    assert [s.parent for s in tr.spans] == [-1, 0, 1, 0]


def test_spans_nest_per_thread():
    tr = Tracer()

    def other():
        with tr.span("other"):
            pass

    with tr.span("main"):
        t = threading.Thread(target=other)
        t.start()
        t.join(timeout=10)
        assert not t.is_alive()
    other = next(s for s in tr.spans if s.name == "other")
    assert other.parent == -1


def test_covered_merges_overlapping_intervals():
    assert covered(0, 10, [(1, 3), (2, 5), (8, 12), (-4, -1)]) == pytest.approx(6)
    assert covered(0, 10, []) == 0


def _log():
    # job 0 runs stages 0 and 1; job 1 lists stage 1 again (skipped) and runs 2
    log = EventLog()
    log.jobs = {0: Job(1.10, 1.40, [0, 1]), 1: Job(1.60, 1.90, [1, 2]), 2: Job(3.00, 3.10, [3])}
    log.stages = {
        (0, 0): Stage(1.11, tasks=4, cpu_s=0.4, shuffle_bytes=100),
        (1, 0): Stage(1.30, tasks=2, cpu_s=0.2, spill_bytes=7),
        (2, 0): Stage(1.61, tasks=3, cpu_s=0.3, shuffle_bytes=50),
        (3, 0): Stage(3.01, tasks=1, cpu_s=0.1),
    }
    return log


def test_jobs_go_to_the_innermost_span_and_roll_up():
    spans = [Span("op", 1, 1.0, 2.0), Span("child", 1, 1.5, 1.95, parent=0)]
    costs = span_costs(spans, _log())
    op, child = costs
    assert (child["jobs"], child["stages"], child["tasks"]) == (1, 1, 3)
    assert child["shuffle_bytes"] == 50
    assert (op["jobs"], op["stages"], op["tasks"]) == (2, 3, 9)
    assert op["executor_cpu_s"] == pytest.approx(0.9)
    assert op["spill_bytes"] == 7
    # driver time: the span minus the union of job intervals inside it
    assert op["driver_s"] == pytest.approx(1.0 - 0.3 - 0.3)
    assert child["driver_s"] == pytest.approx(0.45 - 0.3)


def test_a_job_from_another_thread_counts_by_submission_time():
    # a pool thread's job has no span of its own; its submission time
    # falls inside the caller's span
    spans = [Span("reports.metrics", 1, 2.95, 3.2)]
    (cost,) = span_costs(spans, _log())
    assert cost["jobs"] == 1 and cost["tasks"] == 1


def test_event_times_truncated_to_milliseconds_still_match():
    spans = [Span("op", 1, 1.1004, 1.5)]
    (cost,) = span_costs(spans, _log())
    assert cost["jobs"] == 1


def test_per_name_means_and_absent_names():
    spans = [Span("x", 1, 0.0, 1.0), Span("x", 2, 2.0, 5.0)]
    out = per_name(spans, span_costs(spans, None), ["x", "y"])
    assert out["x"]["wall_s"] == pytest.approx(2.0)
    assert out["x"]["calls"] == 2
    assert out["y"]["calls"] == 0 and out["y"]["wall_s"] == 0


# The recorded log: a DataFrame aggregation, a count submitted from a second
# Python thread, and an RDD reduceByKey collected twice, whose second job
# skips the already written shuffle stage. Expected totals are the raw
# event counts of the file.
EXPECTED = {"jobs": 6, "stages": 7, "tasks": 16, "shuffle_bytes": 1547, "cpu_s": 0.965142349}


def test_parser_counts_a_recorded_event_log():
    log = parse_event_log([os.path.join(DATA, "small_eventlog.jsonl")])
    assert len(log.jobs) == EXPECTED["jobs"]
    assert len(log.stages) == EXPECTED["stages"]
    assert sum(s.tasks for s in log.stages.values()) == EXPECTED["tasks"]
    assert sum(s.shuffle_bytes for s in log.stages.values()) == EXPECTED["shuffle_bytes"]
    assert sum(s.cpu_s for s in log.stages.values()) == pytest.approx(EXPECTED["cpu_s"])
    assert all(j.end >= j.submit for j in log.jobs.values())
    # the second collect lists its shuffle stage again but does not run it
    ran = {sid for sid, _ in log.stages}
    assert {1, 4, 8}.isdisjoint(ran) and {6, 7, 9} <= ran
