"""Tests for the benchmark's own helpers (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import threading

import pytest

from perfbench import eventlog, hostfit, stats
from perfbench.trace import Span, Tracer, self_time, union_length

EXCERPT = os.path.join(os.path.dirname(__file__), "data", "eventlog_excerpt.jsonl")


# -- event-log reducer -------------------------------------------------------

def test_reducer_attributes_jobs_stages_and_tasks_to_groups():
    log = eventlog.reduce_log(EXCERPT)
    assert sorted(log.jobs) == [0, 1, 2]
    assert {j.group for j in log.jobs.values()} == {None, "s1", "s2"}
    s1 = eventlog.group_totals(log, {"s1"})
    assert s1["jobs"] == 1 and s1["stages"] == 2 and s1["tasks"] == 3
    assert s1["shuffle_write_bytes"] == 4096 + 2048
    assert s1["shuffle_write_records"] == 30
    assert s1["shuffle_read_bytes"] == 1000 + 500
    assert s1["shuffle_read_records"] == 30
    assert s1["spill_bytes"] == 100 + 7
    assert s1["run_s"] == pytest.approx(0.6)
    assert s1["cpu_s"] == pytest.approx(0.45)
    assert s1["gc_s"] == pytest.approx(0.01)
    assert s1["task_s"] == pytest.approx(0.7)
    s2 = eventlog.group_totals(log, {"s2"})
    assert s2["jobs"] == 1 and s2["tasks"] == 2 and s2["failed_tasks"] == 1
    assert eventlog.group_totals(log, {"s1", "s2"})["jobs"] == 2


def test_reducer_reads_operator_scopes_and_job_intervals():
    log = eventlog.reduce_log(EXCERPT)
    udf = [s for s in log.stages.values() if "MapInPandas" in s.scopes]
    assert [s.stage_id for s in udf] == [2]
    assert udf[0].execution_id == "7"
    assert eventlog.job_intervals(log, {"s1"}) == [(1000.0, 1000.5)]
    assert log.jobs[2].succeeded is False


# -- spans and self time -----------------------------------------------------

def _span(name, start, end, parent=None):
    return Span(name, name, parent, start, end)


def test_union_length_merges_overlaps_and_clips():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([(0, 10)], 2, 4) == 2
    assert union_length([]) == 0


def test_self_time_counts_overlapping_children_once():
    # the concurrent frontier append and bloom build overlap in time
    round_ = _span("round", 0.0, 10.0)
    append = _span("append", 4.0, 8.0, "round")
    build = _span("build", 5.0, 9.0, "round")
    publish = _span("publish", 9.5, 9.75, "round")
    assert self_time(round_, [append, build, publish]) == pytest.approx(4.75)
    # a child that outlives its parent counts only inside the parent
    late = _span("late", 9.0, 12.0, "round")
    assert self_time(round_, [late]) == pytest.approx(9.0)


def test_tracer_parents_worker_thread_spans_to_the_driver_span():
    tr = Tracer()
    with tr.span("round") as outer:
        with tr.span("select"):
            pass
        t = threading.Thread(target=lambda: tr.span("append").__enter__())
        t.start()
        t.join()
    by_name = {s.name: s for s in tr.spans}
    assert by_name["select"].parent == outer.id
    assert by_name["append"].parent == outer.id
    assert outer.end >= outer.start


def test_wrap_records_span_and_unwrap_restores():
    class Table:
        def append(self, x):
            return x + 1

    tr = Tracer()
    orig = Table.__dict__["append"]
    tr.wrap(Table, "append", "Table.append", lambda args: {"arg": args[1]})
    assert Table().append(1) == 2
    assert [(s.name, s.attrs) for s in tr.spans] == [("Table.append", {"arg": 1})]
    tr.unwrap_all()
    assert Table.__dict__["append"] is orig


# -- percentile rule -----------------------------------------------------------

@pytest.mark.parametrize("n, want", [
    (19, None), (20, 50), (39, 50), (40, 75), (50, 80), (58, 80),
    (99, 80), (100, 90), (200, 95), (1000, 99), (10_000, 99.9),
])
def test_tail_percentile_leaves_ten_samples_beyond(n, want):
    assert stats.tail_percentile(n) == want


def test_percentile_interpolates():
    assert stats.percentile([1, 2, 3, 4], 50) == 2.5
    assert stats.percentile(range(101), 80) == 80


# -- host fit ------------------------------------------------------------------

def test_fit_cpus_defaults_to_the_affinity_set():
    assert hostfit.fit_cpus(None, [0, 1, 2, 3]) == 4
    assert hostfit.fit_cpus(2, [0, 1, 2, 3]) == 2


@pytest.mark.parametrize("requested", [5, 8, 32, 0])
def test_fit_cpus_rejects_requests_beyond_the_affinity_set(requested):
    with pytest.raises(hostfit.HostMisfit):
        hostfit.fit_cpus(requested, [0, 1, 2, 3])


def test_driver_memory_is_sized_from_memtotal():
    gib = 1 << 30
    assert hostfit.driver_mem_mb(2 * gib) == 1024
    assert hostfit.driver_mem_mb(6 * gib) == 1536
    assert hostfit.driver_mem_mb(128 * gib) == 2048


def test_steal_pct_reads_the_eighth_cpu_field():
    before = [0] * 10
    after = [90, 0, 0, 0, 0, 0, 0, 10, 0, 0]
    assert hostfit.steal_pct(before, after) == pytest.approx(10.0)
