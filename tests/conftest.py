from __future__ import annotations

import pytest

from bench import mark
from dbt_gdpr_anonymizer_spark.session import get_spark
from perfbench.tracing import StatusStore


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", master="local[4]", shuffle_partitions=4)
    yield s


# The reference CI golden fixture (.github/workflows/ci.yml:61-64), verbatim.
CI_ROWS = [
    (
        "TEST001",
        "Service Test 1",
        "Ministère A",
        "ministere",
        "test1@example.fr",
        "+33 1 23 45 67 89",
        "https://example.fr",
        "10 rue de Paris",
        "75001",
        "Paris",
        "Paris",
        48.8566,
        2.3522,
        "75056",
        "2025-01-01",
    ),
    (
        "TEST002",
        "Service Test 2",
        "Agence B",
        "etablissement-public",
        "test2@example.fr",
        "+33 2 98 76 54 32",
        "https://example2.fr",
        "20 rue de Marseille",
        "13001",
        "Marseille",
        "Marseille",
        43.2965,
        5.3698,
        "13055",
        "2025-01-02",
    ),
]

RAW_SCHEMA = (
    "service_id string, service_name string, parent_organization string, "
    "organization_type string, contact_email string, contact_phone string, "
    "website string, street_address string, postal_code string, city string, "
    "commune string, latitude double, longitude double, insee_code string, "
    "last_updated string"
)


@pytest.fixture(scope="session")
def ci_raw(spark):
    return spark.createDataFrame(CI_ROWS, RAW_SCHEMA)


def unpartitioned_windows(df) -> list[str]:
    """Collect logical Window nodes with an empty partitionSpec — the
    shape Spark executes as a single-partition WindowExec (whole input
    through one task). Shared by the registry-wide plan-invariant test
    and the operator-level plan-shape tests; change detection logic HERE,
    not in per-test copies."""

    def walk(node, acc):
        if node.getClass().getSimpleName() == "Window":
            if node.partitionSpec().isEmpty():
                acc.append(node.toString().splitlines()[0])
        ch = node.children()
        for i in range(ch.size()):
            walk(ch.apply(i), acc)
        return acc

    return walk(df._jdf.queryExecution().optimizedPlan(), [])


def persistent_rdd_ids(spark) -> set[int]:
    """Ids of the RDDs the JVM holds persisted. Compare as sets ("no NEW
    id remains"), not sizes: Spark's ContextCleaner evicts GC'd blocks of
    earlier tests asynchronously, while unpersist removes an id
    synchronously."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k) for k in jmap.keySet().toArray()}


def jobs_launched(spark, fn) -> int:
    """Spark jobs started while ``fn()`` runs, read from Spark's status
    store by the benchmark's collector (jobs from other threads included)."""
    store = StatusStore(spark)
    before = mark(store)
    fn()
    return store.since(before)["jobs"]


@pytest.fixture
def literal_modes(spark):
    """Call to iterate over both ``spark.sql.parser.escapedStringLiterals``
    settings (set on the session while each is yielded); the setting is
    unset afterwards. SQL text must be built inside the loop: it is
    parsed when built."""
    key = "spark.sql.parser.escapedStringLiterals"

    def modes():
        for value in ("false", "true"):
            spark.conf.set(key, value)
            yield value

    yield modes
    spark.conf.unset(key)
