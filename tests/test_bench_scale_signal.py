"""bench._ScaleSignal: per-query deltas read from Spark's status store
must be None, not an undercount, once the store has evicted stages
launched since the snapshot."""

from __future__ import annotations

from types import SimpleNamespace

from bench import _ScaleSignal


class _Seq:
    """The py4j view of a Scala Seq: size() and apply(i)."""

    def __init__(self, items):
        self._items = list(items)

    def size(self):
        return len(self._items)

    def apply(self, i):
        return self._items[i]


class _FakeStore:
    def __init__(self):
        self.stages, self.jobs = [], []

    def run_job(self, job_id, stage_ids, shuffle_write=10):
        self.jobs.append(SimpleNamespace(jobId=lambda j=job_id: j))
        for s in stage_ids:
            self.stages.append(
                SimpleNamespace(
                    stageId=lambda s=s: s,
                    shuffleWriteBytes=lambda b=shuffle_write: b,
                    shuffleReadBytes=lambda: 0,
                    inputBytes=lambda: 1,
                )
            )

    def evict(self, stage_id):
        self.stages = [s for s in self.stages if s.stageId() != stage_id]

    def stageList(self, *args):
        return _Seq(reversed(self.stages))  # newest first, like the store

    def jobsList(self, *args):
        return _Seq(reversed(self.jobs))


def _signal(store):
    sig = _ScaleSignal.__new__(_ScaleSignal)
    sig._store, sig._empty, sig._no_quantiles = store, None, None
    sig._max_stage = sig._max_job = -1
    return sig


def test_delta_counts_stages_since_snapshot():
    store = _FakeStore()
    store.run_job(0, [0, 1])
    sig = _signal(store)
    sig.snapshot()
    store.run_job(1, [2, 3])
    store.run_job(2, [4])
    assert sig.delta() == {
        "shuffle_write_bytes": 30,
        "shuffle_read_bytes": 0,
        "input_bytes": 3,
        "jobs": 2,
        "stages": 3,
    }


def test_delta_is_none_after_eviction_inside_the_window():
    store = _FakeStore()
    store.run_job(0, [0, 1])
    sig = _signal(store)
    sig.snapshot()
    store.run_job(1, [2, 3, 4])
    store.evict(3)  # a gap in the ids since the snapshot
    assert sig.delta() is None


def test_delta_is_none_when_oldest_new_stage_evicted():
    store = _FakeStore()
    store.run_job(0, [0, 1])
    sig = _signal(store)
    sig.snapshot()
    store.run_job(1, [2, 3, 4])
    for s in (0, 1, 2):  # the store drops its oldest stages first
        store.evict(s)
    assert sig.delta() is None


def test_delta_ignores_eviction_before_the_snapshot():
    store = _FakeStore()
    store.run_job(0, [0, 1])
    sig = _signal(store)
    sig.snapshot()
    store.run_job(1, [2])
    store.evict(0)
    assert sig.delta()["stages"] == 1
