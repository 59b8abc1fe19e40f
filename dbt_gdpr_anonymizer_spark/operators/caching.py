"""Cache lifetime for operators that persist intermediates.

Several operators (``neardup_pairs``, ``ngram_jaccard_pairs``,
``simhash_neardup_pairs``, ``connected_components``) persist an expensive
intermediate (shingle sets, per-round labels) that feeds multiple branches
of the returned plan — Catalyst has no cross-branch subplan reuse, so the
cache is what keeps those plans linear. The cache must stay alive until the
caller has CONSUMED the returned DataFrame (collect/write); Spark blocks
evict lazily under memory pressure, but a long-lived session invoking such
an operator repeatedly accumulates dead blocks until then.

Contract: every persist in the package goes through ``persist``, which
records the frame in a ledger kept per SparkSession. After consuming a
result, the caller releases the ledger of that result's session::

    pairs = neardup_pairs(docs)
    pairs.write.parquet(out)
    release_caches(pairs)        # frees every cache the session holds

A release frees every cache made since the previous release, whichever
frame it hangs off — wrappers that ``select``/``join`` on an operator's
output, and queries that raise after an operator persisted, need no
bookkeeping. Releasing before a result is consumed is safe but wasteful
(its work re-executes uncached), so harnesses consume one result, release,
then build the next. Do not re-run a frame after the release: a plan
Spark already compiled against a cache (an earlier action or explain)
persists that cache's RDD again on its next run, outside the ledger.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, SparkSession

__all__ = ["persist", "release_caches"]

_LOCK = threading.Lock()
_LEDGER: dict[SparkSession, list[DataFrame]] = {}


def persist(df: DataFrame) -> DataFrame:
    """``df.persist()`` (default storage level), recorded in the ledger of
    ``df``'s session until the next ``release_caches``."""
    df = df.persist()
    with _LOCK:
        _LEDGER.setdefault(df.sparkSession, []).append(df)
    return df


def release_caches(df: DataFrame) -> None:
    """Unpersist every frame the ledger holds for ``df``'s session and
    empty that ledger (idempotent). Call after ``df`` has been consumed."""
    with _LOCK:
        held = _LEDGER.pop(df.sparkSession, [])
    for dep in held:
        dep.unpersist()
