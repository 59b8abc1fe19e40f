"""The per-session cache ledger (operators/caching.py) under threads."""

from __future__ import annotations

import sys
import threading

from dbt_gdpr_anonymizer_spark.operators.caching import persist, release_caches


class _Frame:
    """Stands in for a DataFrame: the ledger reads only ``persist``,
    ``unpersist`` and ``sparkSession``."""

    def __init__(self, session):
        self.sparkSession = session
        self.unpersisted = 0

    def persist(self):
        return self

    def unpersist(self):
        self.unpersisted += 1


def test_concurrent_persist_and_release_lose_no_cache():
    """Persists racing releases: every frame is unpersisted exactly once,
    none is dropped between the ledger and a release."""
    session = object()
    frames = [[_Frame(session) for _ in range(300)] for _ in range(8)]
    stop = threading.Event()

    def releaser():
        while not stop.is_set():
            release_caches(_Frame(session))

    def persister(batch):
        for f in batch:
            persist(f)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        rel = threading.Thread(target=releaser)
        workers = [threading.Thread(target=persister, args=(b,)) for b in frames]
        rel.start()
        for w in workers:
            w.start()
        for w in workers:
            w.join(timeout=60)
        stop.set()
        rel.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not rel.is_alive() and not any(w.is_alive() for w in workers)
    release_caches(_Frame(session))
    assert [f.unpersisted for b in frames for f in b] == [1] * 2400
