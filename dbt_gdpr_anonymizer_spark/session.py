"""SparkSession factory.

Local mode is a single JVM; on a real cluster the same settings apply per
executor. AQE is on so shuffle partition counts, skew joins, and broadcast
decisions re-plan at runtime from observed sizes — the main lever that lets
one logical plan serve both the sf0.01 test scale and a 100 TB deployment.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import threading
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import SparkSession


def host_cpus() -> int:
    """Cores a local run uses: ``SPARK_GRAFT_CPUS``, else the host's count."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4)))


# One scratch root per process (keyed by pid: a forked child makes its own)
_scratch_roots: dict[int, str] = {}
_scratch_lock = threading.Lock()


def _remove_scratch(pid: int, root: str) -> None:
    # a forked child inherits the exit hook; only the creator removes
    if os.getpid() == pid:
        shutil.rmtree(root, ignore_errors=True)


def scratch_dir(prefix: str) -> str:
    """A new directory under this process's scratch root, which is
    removed when the process exits. For files a returned DataFrame reads
    lazily (a stream sink, a round-trip write): they must outlive the
    call that made them."""
    pid = os.getpid()
    with _scratch_lock:
        if pid not in _scratch_roots:
            root = tempfile.mkdtemp(prefix="gdpr_scratch_")
            _scratch_roots[pid] = root
            atexit.register(_remove_scratch, pid, root)
    return tempfile.mkdtemp(prefix=prefix, dir=_scratch_roots[pid])


@contextmanager
def scoped_conf(spark: SparkSession, conf: dict[str, str]) -> Iterator[None]:
    """Set the session confs in ``conf`` for the body of a ``with`` block,
    then restore each prior value, or unset a key that had none. A conf
    read at analysis time (a parquet read flag) stays in force for a
    DataFrame built inside the block; one read at execution (the shuffle
    partition count) holds only for what executes inside it."""
    prior = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prior.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def get_spark(
    app_name: str = "gdpr-anonymizer-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-aware defaults.

    ``master``/``shuffle_partitions`` default from ``SPARK_GRAFT_CPUS`` so the
    bench harness and tests share one code path; on a cluster pass
    ``master=None`` with a pre-configured environment and these fall away.
    """
    cpus = host_cpus()
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Parallelism floor for file scans: without it a table smaller than
        # maxPartitionBytes (128 MB) reads as ONE split and the scan + partial
        # aggregation run on a single core regardless of cluster size. At
        # 100 TB every table exceeds the split size and the floor is inert.
        # cores/2 beats cores at bench scale (q1 median 0.50s vs 0.69s,
        # join_revenue 0.85s vs 0.95s at sf0.1/32 cores): a ~340 KB-per-task
        # split spends more on scheduling than it recovers, while cores/2
        # still keeps every core busy through the partial-agg stage (2
        # waves). Don't lower openCostInBytes alongside it — more sub-4MB
        # tasks cost more in scheduling than they recover.
        .config("spark.sql.files.minPartitionNum", str(max(2, cpus // 2)))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
