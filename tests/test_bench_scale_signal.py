"""bench.time_query's per-run scale signal is a ``perfbench.tracing``
status-store delta: equal to a direct delta over one run, and None, not
an undercount, once the store has evicted part of the window."""

from __future__ import annotations

from types import SimpleNamespace

from bench import mark, noop_write, time_query
from perfbench.tracing import Job, Stage, StatusStore, delta


def test_per_run_record_matches_a_direct_store_delta(spark):
    def build():
        # one shuffle under AQE: a map-stage job, then the result job
        return spark.range(1000).selectExpr("id % 7 AS k").groupBy("k").count()

    store = StatusStore(spark)
    before = mark(store)
    noop_write(build())
    direct = store.since(before)
    assert direct["jobs"] == 2
    per_run = time_query(store, build)["per_run"]
    assert per_run["jobs"] == direct["jobs"]
    assert per_run["stages"] == direct["stages"]


def test_evicted_window_reads_none():
    # window = jobs after 5, stages after 10
    assert delta((5, 10), [], [], (6, 11)) is not None  # nothing evicted
    assert delta((5, 10), [], [], (3, 4)) is not None  # evicted before it
    assert delta((5, 10), [], [], (7, 11)) is None  # job 6 evicted
    assert delta((5, 10), [], [], (6, 12)) is None  # stage 11 evicted


def _job(job_id, stage_ids):
    return Job(job_id, None, tuple(stage_ids), None, None)


def _stage(stage_id):
    return Stage(stage_id, 1, 0, 0, 0, 1, 1, 0, 0, 10, 0)


def test_delta_is_none_when_oldest_new_stage_evicted():
    # snapshot after job 0 (stages 0, 1); job 1 runs stages 2-4, then the
    # store drops its oldest stages 0-2, the first of the window among them
    jobs = [_job(0, [0, 1]), _job(1, [2, 3, 4])]
    stages = [_stage(s) for s in (3, 4)]
    assert delta((0, 1), jobs, stages, (0, 3)) is None


def test_delta_ignores_eviction_before_the_snapshot():
    # snapshot after job 0 (stages 0, 1); job 1 runs stage 2, then the
    # store drops stage 0, which is older than the window
    jobs = [_job(0, [0, 1]), _job(1, [2])]
    stages = [_stage(s) for s in (1, 2)]
    d = delta((0, 1), jobs, stages, (0, 1))
    assert d["stages"] == 1
    assert d["jobs"] == 1


def test_per_run_is_none_when_skipped_stages_were_evicted(spark):
    class Store:
        """Marks (5, 10) before and (8, 19) after three runs of one job
        and three stages: ``since`` returns a delta holding ``held`` of the
        window's 9 stages, as when skipped stages inside it were evicted."""

        _bus = SimpleNamespace(waitUntilEmpty=lambda: None)

        def __init__(self, held):
            self.held, self.marks = held, iter([(5, 10), (8, 19)])

        def snapshot(self):
            return next(self.marks)

        def since(self, before):
            fields = ("shuffle_write_bytes", "shuffle_read_bytes", "input_bytes")
            return {"jobs": 3, "stages": self.held, **dict.fromkeys(fields, 0)}

    def build():
        return spark.range(1)

    assert time_query(Store(9), build)["per_run"]["stages"] == 3
    assert time_query(Store(8), build)["per_run"] is None
