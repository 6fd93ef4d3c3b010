"""Event-log parser on a recorded fixture.

``fixtures/events_full_mode`` is the start of a real ``local[4]`` event log
of two full-stats-mode micro-batches (job groups ``b0`` and ``b1``; the
side-thread stats jobs carry no group), cut to its first ten jobs and to the
fields the parser reads.
"""

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import eventlog  # noqa: E402

FIXTURE = os.path.join(HERE, "fixtures", "events_full_mode")


def jobs():
    return eventlog.parse(eventlog.read_events(FIXTURE))


def test_jobs_groups_and_stage_owners():
    js = jobs()
    assert [j.job_id for j in js] == list(range(10))
    assert [j.group for j in js] == [None, "b0", None, "b0", None, "b0",
                                     None, None, "b1", None]
    # a stage belongs to the first job listing it, once
    owned = [s.stage_id for j in js for s in j.stages]
    assert owned == sorted(set(owned)) == list(range(14))


def test_task_metrics_summed_per_stage():
    by_id = {j.job_id: j for j in jobs()}
    (map_stage,) = by_id[3].stages
    assert (map_stage.tasks, map_stage.run_ms) == (4, 2414)
    assert map_stage.shuffle_write == 936596
    assert map_stage.input == 537581
    assert map_stage.kind == "map"
    write = by_id[5].stages[1]
    assert (write.kind, write.output, write.tasks) == ("write", 416448, 1)
    # a reused shuffle stage is listed but never runs
    assert by_id[5].stages[0].tasks == 0
    assert by_id[5].total("run_ms") == 604
    assert by_id[5].total("run_ms", "map") == 0


def test_ungrouped_jobs_attributed_by_span():
    js = jobs()
    start, end = 1792237238.0, 1792237243.0  # batch b0's span, epoch s
    assert [j.job_id for j in eventlog.jobs_in(js, "b0", start, end)] == [
        0, 1, 2, 3, 4, 5, 6]
    # without a span only the group's own jobs count
    assert [j.job_id for j in eventlog.jobs_in(js, "b1")] == [8]
