"""Tests of the benchmark itself.

    python3 -m pytest perfbench/tests -q

Run from the repository root.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))

import gen  # noqa: E402
import tracing  # noqa: E402
import worker  # noqa: E402


def _tree_digest(root: str) -> dict[str, str]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


@pytest.mark.parametrize("workload", ["publish", "registry"])
def test_generator_is_byte_identical_per_seed(tmp_path, workload):
    a = gen.prepare(workload, 7, str(tmp_path / "a"))
    b = gen.prepare(workload, 7, str(tmp_path / "b"))
    assert _tree_digest(a["dir"]) == _tree_digest(b["dir"])
    assert {k: v for k, v in a.items() if k != "dir"} == {k: v for k, v in b.items() if k != "dir"}


def test_generator_depends_on_seed(tmp_path):
    a = gen.prepare("publish", 1, str(tmp_path))
    b = gen.prepare("publish", 2, str(tmp_path))
    assert a["mart_digest"] != b["mart_digest"]
    assert 0 < a["mart_rows"] < a["rows"]
    assert 0 < a["planted"] < 100


def test_generator_redoes_inputs_left_without_a_manifest(tmp_path):
    a = gen.prepare("publish", 3, str(tmp_path))
    before = _tree_digest(a["dir"])
    os.remove(os.path.join(a["dir"], "manifest.json"))  # as if interrupted
    os.remove(os.path.join(a["dir"], "services.parquet"))
    assert gen.prepare("publish", 3, str(tmp_path)) == a
    assert _tree_digest(a["dir"]) == before


def test_mart_digest_ignores_row_order():
    rows = [("a", 1.5, None), ("b", 2.0, "x")]
    assert gen.digest(rows) == gen.digest(rows[::-1])
    assert gen.digest(rows) != gen.digest([("a", 1.5, None), ("b", 2.0, "y")])


def _job(i, stages, desc=None):
    return tracing.Job(i, desc, tuple(stages), 1000 * i, 1000 * i + 500)


def _stage(i, tasks=2):
    return tracing.Stage(i, tasks, 10**9, 1000, 10, 100, 5, 50, 0, 7, 0)


def test_delta_groups_jobs_by_description():
    jobs = [_job(3, [5], "gdpr-anonymizer layer=mart"), _job(2, [3, 4], "gdpr-anonymizer layer=enriched"), _job(1, [2])]
    stages = [_stage(i) for i in (5, 4, 3, 2)]
    d = tracing.delta((0, 1), jobs, stages, oldest=(0, 0))
    assert d["jobs"] == 3 and d["stages"] == 4 and d["tasks"] == 8
    per = d["by_description"]
    assert per["gdpr-anonymizer layer=enriched"]["stages"] == 2
    assert sum(x["jobs"] for x in per.values()) == d["jobs"]
    assert sum(x["stages"] for x in per.values()) == d["stages"]


def test_delta_reads_none_when_the_window_was_evicted():
    jobs, stages = [_job(12, [30])], [_stage(30)]
    assert tracing.delta((10, 20), jobs, stages, oldest=(11, 21)) is not None
    assert tracing.delta((10, 20), jobs, stages, oldest=(12, 21)) is None  # job 11 gone
    assert tracing.delta((10, 20), jobs, stages, oldest=(11, 25)) is None  # stages 21-24 gone
    assert tracing.delta((-1, -1), [], [], oldest=(None, None)) is not None


def test_covered_time_is_the_union_of_intervals():
    assert tracing.covered_s([(0, 1000), (500, 1500), (3000, 4000)], 0, 3500) == 2.0


def test_benchmark_json_lists_every_per_layer_metric():
    with open(os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert [m["name"] for m in bench["per_layer"]] == list(worker.PER_LAYER)
    assert [m["unit"] for m in bench["per_layer"]] == list(worker.PER_LAYER.values())
    assert [w["name"] for w in bench["workloads"]] == list(worker.WORKLOADS)


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[2]")
        .appName("perfbench-tests")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.retainedJobs", "20")
        .config("spark.ui.retainedStages", "20")
        .config("spark.sql.warehouse.dir", str(tmp_path_factory.mktemp("wh")))
        .getOrCreate()
    )
    yield s
    s.stop()


def test_span_job_counts_sum_to_the_iteration_total(spark):
    tr = tracing.Tracer(tracing.StatusStore(spark))
    tr.begin()
    with tr.span("a"):
        spark.range(100).count()
    with tr.span("b"):
        spark.range(100).selectExpr("id % 3 as k").groupBy("k").count().collect()
        spark.range(10).collect()
    tr.end()
    jobs = [s.spark["jobs"] for s in tr.spans]
    assert all(j > 0 for j in jobs)
    assert sum(jobs) == tr.iterations[0]["spark"]["jobs"]


def test_evicted_window_reads_none(spark):
    tr = tracing.Tracer(tracing.StatusStore(spark))
    with tr.span("many"):
        for _ in range(30):  # more jobs than spark.ui.retainedJobs
            spark.range(10).count()
    assert tr.spans[-1].spark is None
