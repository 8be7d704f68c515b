import os

import pytest
import tracing as tr

FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures", "eventlog.jsonl")


class Clock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t


def test_self_time_subtracts_the_union_of_children():
    clock = Clock()
    t = tr.Tracer(clock)
    with t.span("op") as op:
        clock.t = 1.0
        with t.span("a"):
            clock.t = 3.0
        clock.t = 4.0
        with t.span("b"):
            clock.t = 5.0
            with t.span("b.inner"):
                clock.t = 5.5
            clock.t = 6.0
        clock.t = 10.0
    spans = {s.name: s for s in t.spans}
    selfs = tr.self_times(t.spans)
    assert selfs[op.span_id] == pytest.approx(10.0 - 2.0 - 2.0)
    assert selfs[spans["b"].span_id] == pytest.approx(1.5)
    assert selfs[spans["b.inner"].span_id] == pytest.approx(0.5)
    # self times of a tree account for the root's wall time exactly
    assert sum(selfs.values()) == pytest.approx(op.dur)
    assert {s.trace_id for s in t.spans} == {op.span_id}
    assert spans["b.inner"].parent == spans["b"].span_id


def test_covered_merges_overlapping_and_clips():
    assert tr.covered([(0, 2), (1, 3), (5, 6)], 0, 10) == pytest.approx(4.0)
    assert tr.covered([(-5, 1), (9, 20)], 0, 10) == pytest.approx(2.0)
    assert tr.covered([], 0, 10) == 0.0


def test_wrap_records_spans_and_restores():
    class Thing:
        def work(self, x):
            return x * 2

    clock = Clock()
    t = tr.Tracer(clock)
    seen = []
    t.wrap(Thing, "work", "thing.work", after=lambda out, a, kw: seen.append(out))
    assert Thing().work(3) == 6
    assert seen == [6]
    assert [s.name for s in t.spans] == ["thing.work"]
    t.unwrap_all()
    Thing().work(1)
    assert len(t.spans) == 1


def test_parse_event_log_fixture():
    with open(FIXTURE) as f:
        jobs = tr.parse_event_log(f)
    # job 2 never ended and is dropped
    assert [j["job_id"] for j in jobs] == [0, 1]
    j0, j1 = jobs
    assert j0["start"] == pytest.approx(1000.1)
    assert j0["end"] == pytest.approx(1000.6)
    assert j0["stages"] == 2
    assert j0["tasks"] == 2
    assert j0["executor_cpu_s"] == pytest.approx(0.4)
    assert j0["executor_run_s"] == pytest.approx(0.5)
    assert j0["gc_ms"] == 12
    assert j0["shuffle_write_bytes"] == 1048576
    assert j0["spill_bytes"] == 2048
    assert j0["exec_memory_peak_bytes"] == 500 * 2**20
    assert j1["tasks"] == 1
    assert j1["exec_memory_peak_bytes"] == 200 * 2**20


def test_jobs_attach_to_the_containing_top_span_and_give_driver_gap():
    with open(FIXTURE) as f:
        jobs = tr.parse_event_log(f)
    clock = Clock()
    t = tr.Tracer(clock)
    clock.t = 1000.0
    with t.span("round") as r1:
        clock.t = 1000.2
        with t.span("tables.load"):
            clock.t = 1000.3
        clock.t = 1001.0
    clock.t = 1001.5
    with t.span("round") as r2:
        clock.t = 1003.0
    by = tr.attach_jobs(jobs, t.spans)
    assert [j["job_id"] for j in by[r1.span_id]] == [0]
    assert [j["job_id"] for j in by[r2.span_id]] == [1]
    assert tr.driver_gap(r1, by[r1.span_id]) == pytest.approx(0.5)
    assert tr.driver_gap(r2, by[r2.span_id]) == pytest.approx(1.0)


def test_proc_sampler_sees_this_process():
    with tr.ProcSampler(interval=0.05) as s:
        pass
    assert s.samples >= 2
    assert s.peak_mb > 1.0
    assert tr.python_worker_cpu_s(os.getpid()) >= 0.0
