"""One perfbench workload, run in its own process.

    python3 perfbench/worker.py --workload W --seed N --seconds S --trace 0|1 --work DIR

It starts the Spark session ``SESSION_STARTS`` times (the first start
launches the JVM), runs one untimed pass that checks every output, then
repeats iterations for ``--seconds``, the first ``warmup`` of them (a
number set per workload) untimed. With ``--trace 1`` the second half of
that window runs with spans and status-store reads on, and it reports
per-layer numbers and the tracing overhead. The last stdout line is one
JSON object; ``perfbench/run.py`` is the entry point that prepares inputs
and starts this process.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import random
import shutil
import statistics
import sys
import time
import traceback

T0 = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import pyarrow.dataset as ds  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

import gen  # noqa: E402
from tracing import BatchLog, StatusStore, Tracer, covered_s  # noqa: E402

from dbt_gdpr_anonymizer_spark.config import EngineSettings  # noqa: E402
from dbt_gdpr_anonymizer_spark.operators.caching import release_caches  # noqa: E402
from dbt_gdpr_anonymizer_spark.operators.report import export_report, pii_inventory  # noqa: E402
from dbt_gdpr_anonymizer_spark.operators.validate import run_validation_gate, scan_for_pii  # noqa: E402
from dbt_gdpr_anonymizer_spark.plans.pipeline import run_pipeline  # noqa: E402
from dbt_gdpr_anonymizer_spark.policy import SERVICES_POLICY, mask_model  # noqa: E402
from dbt_gdpr_anonymizer_spark.queries import all_queries  # noqa: E402
from dbt_gdpr_anonymizer_spark.session import get_spark  # noqa: E402
from dbt_gdpr_anonymizer_spark.sources.ingest import SEED_SCHEMA  # noqa: E402
from dbt_gdpr_anonymizer_spark.streaming.anonymize import stream_anonymize, write_stream_parquet  # noqa: E402

# Every setting pinned, so no environment variable changes what runs.
CONF = EngineSettings(
    salt_key=gen.SALT,
    k_anonymity_min=5,
    retention_days_default=730,
    gps_precision=2,
    environment="benchmark",
)

# Registry queries the workload runs: two that end in a global sort and
# an exact similarity join built on the prefix-filter chain.
REGISTRY = ("k_anonymity", "q1_pricing_summary", "ngram_jaccard_neardup")
PIPELINE_LAYERS = ("anonymized", "enriched", "mart")
# Session starts per run; ``setup_s`` is their median. The first one also
# launches the JVM, so the median is a warm start.
SESSION_STARTS = 5

# name -> unit, in the order BENCHMARK.json lists them.
PER_LAYER = {
    "session.get_spark_s": "s",
    "session.first_job_s": "s",
    "session.cold_start_s": "s",
    "plans.pipeline.run_pipeline.driver_s": "s",
    "plans.pipeline.core_busy_ratio": "ratio",
    **{
        f"plans.pipeline.{layer}.{m}": u
        for layer in PIPELINE_LAYERS
        for m, u in (("wall_s", "s"), ("task_cpu_s", "s"), ("tasks", "count"), ("bytes_written", "B"))
    },
    "operators.validate.run_validation_gate.wall_s": "s",
    "operators.validate.run_validation_gate.jobs": "count",
    "operators.validate.run_validation_gate.task_cpu_s": "s",
    "operators.report.export_report.wall_s": "s",
    **{f"queries.{n}.{m}": u for n in REGISTRY for m, u in (("wall_s", "s"), ("jobs", "count"))},
    "queries.shuffle_bytes": "B",
    "queries.stages": "count",
    "streaming.anonymize.wall_s": "s",
    "streaming.anonymize.addBatch_s": "s",
    "streaming.anonymize.walCommit_s": "s",
    "streaming.anonymize.commit_s": "s",
    "streaming.anonymize.batches": "count",
    "driver.peak_rss_mb": "MB",
    "driver.gc_s": "s",
    "driver.jit_s": "s",
    "spark.jobs": "count",
    "spark.task_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B",
    "trace.jobs_unattributed": "count",
    "trace.overhead_s": "s",
    "plans.pipeline.bytes_written_per_input_byte": "B/B",
    "streaming.anonymize.bytes_written_per_input_byte": "B/B",
}


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def dir_bytes(path: str, skip: tuple[str, ...] = ("_", ".")) -> int:
    total = 0
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(skip)]
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files if not f.startswith(skip))
    return total


def parquet_rows(path: str) -> int:
    return ds.dataset(path, format="parquet").count_rows()


def norm_val(v) -> str:
    """Value rendering of the repository's correctness checker."""
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(round(v, 9))
    if isinstance(v, bool):
        return str(v).lower()
    return str(v)


def table_hash(cols: list[str], rows: list[tuple]) -> str:
    """Order-insensitive md5 of a result: columns sorted by name, rows sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    h = hashlib.md5()
    for line in sorted("|".join(norm_val(r[i]) for i in order) for r in rows):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def result_of(df) -> dict:
    rows = [tuple(r) for r in df.collect()]
    return {"rows": len(rows), "hash": table_hash(df.columns, rows)}


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()
    release_caches(df)


class Publish:
    """The services table published by both product paths.

    Batch, as ``scripts/run_pipeline.py`` does it: raw parquet -> the four
    layers (three written as parquet) -> PII report -> validation gate.
    Stream: the same rows as JSON drops, one file per micro-batch, through
    ``stream_anonymize`` into a checkpointed parquet sink."""

    streaming_queries = 1
    # No untimed iteration: the first one after the checked pass runs up to
    # half again as long while the JIT catches up, and the median of the
    # three or more the window holds leaves it out.
    warmup = 0

    def __init__(self, spark, m: dict, work: str, seed: int):
        self.spark, self.m = spark, m
        self.raw = os.path.join(m["dir"], "services.parquet")
        self.drops = os.path.join(m["dir"], "drops")
        self.out = os.path.join(work, "publish-out")
        self.sink = os.path.join(work, "stream-out")
        self.ckpt = os.path.join(work, "stream-ckpt")
        self.rows = m["rows"]

    def prep(self) -> None:
        # Pipeline layers overwrite their output; a stream sink and its
        # checkpoint must start empty to drain every drop again.
        shutil.rmtree(self.sink, ignore_errors=True)
        shutil.rmtree(self.ckpt, ignore_errors=True)

    def body(self, tr: Tracer):
        with tr.span("plans.pipeline.run_pipeline"):
            raw = self.spark.read.parquet(self.raw)
            layers = run_pipeline(raw, SERVICES_POLICY, CONF, output_root=self.out)
        with tr.span("operators.report.export_report"):
            export_report(pii_inventory(self.spark, [SERVICES_POLICY], CONF), f"{self.out}/pii_report")
        with tr.span("operators.validate.run_validation_gate"):
            code = run_validation_gate(layers["enriched"], layers["mart"], failures_root=f"{self.out}/test_results")
        with tr.span("streaming.anonymize"):
            src = self.spark.readStream.schema(SEED_SCHEMA).option("maxFilesPerTrigger", 1).json(self.drops)
            q = write_stream_parquet(stream_anonymize(src, SERVICES_POLICY, CONF), self.sink, self.ckpt, available_now=True)
            q.awaitTermination()
        return code

    def verify(self, code) -> list[bool]:
        with open(f"{self.out}/pii_report/pii_report.json") as fh:
            report_rows = len(json.load(fh))
        mart_rows = parquet_rows(f"{self.out}/mart")
        sink_rows = parquet_rows(self.sink)
        ok = code == 0 and mart_rows == self.m["mart_rows"] and report_rows == 5 and sink_rows == self.rows
        if not ok:
            log(
                f"publish: gate={code} mart_rows={mart_rows}/{self.m['mart_rows']} "
                f"report_rows={report_rows} sink_rows={sink_rows}/{self.rows}"
            )
        return [ok]

    def check(self, tr: Tracer) -> list[bool]:
        self.prep()
        ok = self.verify(self.body(tr))[0]
        mart = pq.read_table(f"{self.out}/mart", columns=gen.MART_COLUMNS)
        got = gen.digest(list(zip(*(mart.column(c).to_pylist() for c in gen.MART_COLUMNS))))
        if got != self.m["mart_digest"]:
            log(f"publish: mart digest {got} != expected {self.m['mart_digest']}")
            ok = False
        # The stream sink must equal batch mask_model over the same rows,
        # keep no raw value of a PII column, and show exactly the emails
        # planted in the pass-through website column to the PII scan.
        batch = mask_model(self.spark.read.schema(SEED_SCHEMA).json(self.drops), SERVICES_POLICY, CONF)
        sink = pq.read_table(self.sink, columns=batch.columns)
        if gen.digest(zip(*(sink.column(c).to_pylist() for c in batch.columns))) != gen.digest(batch.collect()):
            log("publish: stream sink differs from the batch mask_model output")
            ok = False
        raw = pq.read_table(self.raw)
        for c in SERVICES_POLICY.pii_columns():
            values = {v for v in raw.column(c).to_pylist() if v is not None}
            if c in ("latitude", "longitude"):
                values = {float(v) for v in values}
            kept = sum(v in values for v in sink.column(f"{c}_anon").to_pylist())
            if kept:
                log(f"publish: {kept} raw values of {c} survive in the stream sink")
                ok = False
        hits = scan_for_pii(self.spark.read.parquet(self.sink), "stream_sink").count()
        if hits != min(self.m["planted"], 100):  # the scan samples <= 100 per column
            log(f"publish: PII scan found {hits} values, {self.m['planted']} planted")
            ok = False
        return [ok]

    def bytes_written_per_input_byte(self) -> dict[str, float]:
        layers = sum(dir_bytes(f"{self.out}/{layer}") for layer in PIPELINE_LAYERS)
        return {
            "plans.pipeline.bytes_written_per_input_byte": layers / self.m["parquet_bytes"],
            "streaming.anonymize.bytes_written_per_input_byte": dir_bytes(self.sink) / self.m["drop_bytes"],
        }


class Registry:
    """The ``REGISTRY`` queries to a noop sink, in a seed-shuffled order."""

    streaming_queries = 0
    # The first iteration after the checked pass runs up to half again as
    # long while the JIT compiles the queries' hot paths. The time keeps
    # falling by about a fifth over the next few; more warm-up would leave
    # fewer timed iterations, and the host's speed swings more than that.
    warmup = 1

    def __init__(self, spark, m: dict, work: str, seed: int):
        self.spark, self.m = spark, m
        self.sf_dir = m["dir"]
        self.order = list(REGISTRY)
        random.Random(seed).shuffle(self.order)
        self.queries = all_queries()
        with open(os.path.join(HERE, "expected.json")) as fh:
            self.expected = json.load(fh)
        self.rows = 0  # input records of one pass, measured by check()

    def prep(self) -> None:
        pass

    def body(self, tr: Tracer):
        failed = []
        for name in self.order:
            try:
                with tr.span(f"queries.{name}"):
                    noop(self.queries[name](self.spark, self.sf_dir))
            except Exception:
                log(f"registry: {name} raised\n{traceback.format_exc()}")
                failed.append(name)
        return failed

    def verify(self, failed) -> list[bool]:
        return [name not in failed for name in self.order]

    def check(self, tr: Tracer) -> list[bool]:
        store = StatusStore(self.spark)
        before = store.snapshot()
        oks = []
        for name in self.order:
            try:
                with tr.span(f"queries.{name}"):
                    df = self.queries[name](self.spark, self.sf_dir)
                    got = result_of(df)
                    release_caches(df)
            except Exception:
                log(f"registry: {name} raised\n{traceback.format_exc()}")
                oks.append(False)
                continue
            if got != self.expected[name]:
                log(f"registry: {name} {got} != pinned {self.expected[name]}")
            oks.append(got == self.expected[name])
        d = store.since(before)
        self.rows = d["input_records"] if d else 0
        return oks

    def bytes_written_per_input_byte(self) -> dict[str, float]:
        return {}


WORKLOADS = {"publish": Publish, "registry": Registry}


def start_session(work: str):
    """get_spark plus a first job; returns (spark, get_spark_s, first_job_s)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    t0 = time.perf_counter()
    spark = get_spark(
        "perfbench",
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )
    t1 = time.perf_counter()
    spark.range(1).collect()
    return spark, t1 - t0, time.perf_counter() - t1


def jvm_ms(spark) -> dict[str, int]:
    """The driver JVM's cumulative GC and JIT compilation milliseconds."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    beans = mf.getGarbageCollectorMXBeans()
    return {
        "gc": sum(beans.get(i).getCollectionTime() for i in range(beans.size())),
        "jit": mf.getCompilationMXBean().getTotalCompilationTime(),
    }


def vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def timed_loop(
    wl, seconds: float, tr: Tracer, warmup: int = 0, min_timed: int = 3
) -> tuple[list[float], int, int]:
    """Back-to-back iterations inside a window of ``seconds``.

    The first ``warmup`` iterations only warm the JIT and are left out of
    the returned walls. After them, the next iteration starts only if one
    as long as the last would still end inside the window, so a run does
    not overshoot it by a whole iteration; but at least ``min_timed`` timed
    iterations run."""
    walls, attempted, failed = [], 0, 0
    end = time.perf_counter() + seconds
    while len(walls) < warmup + min_timed or time.perf_counter() + walls[-1] <= end:
        wl.prep()
        tr.begin()
        t0 = time.perf_counter()
        try:
            result = wl.body(tr)
        except Exception:
            log(f"iteration raised\n{traceback.format_exc()}")
            walls.append(time.perf_counter() - t0)
            tr.end()
            attempted, failed = attempted + 1, failed + 1
            continue
        walls.append(time.perf_counter() - t0)
        tr.end()
        oks = wl.verify(result)
        attempted += len(oks)
        failed += oks.count(False)
    return walls[warmup:], attempted, failed


def per_layer(tr: Tracer, cores: int) -> dict[str, float]:
    """Per-iteration sums of each layer metric, then the median over
    iterations. A metric of a layer the workload does not run reads 0."""
    rows: list[dict[str, float]] = []
    for it, rec in sorted(tr.iterations.items()):
        v = {k: 0.0 for k in PER_LAYER}
        spans = [s for s in tr.spans if s.iteration == it]
        for s in spans:
            wall, sp = s.end - s.start, s.spark
            if sp is None:
                continue
            if s.parent is None:
                v["spark.task_cpu_s"] += sp["task_cpu_s"]
                v["spark.gc_s"] += sp["gc_s"]
                v["spark.shuffle_write_bytes"] += sp["shuffle_write_bytes"]
                v["spark.spill_bytes"] += sp["spill_bytes"]
                v["spark.jobs"] += sp["jobs"]
            if s.name == "plans.pipeline.run_pipeline":
                lo, hi = s.start * 1e3, s.end * 1e3
                v["plans.pipeline.run_pipeline.driver_s"] += wall - covered_s(sp["job_intervals"], lo, hi)
                v["plans.pipeline.core_busy_ratio"] += sp["task_run_s"] / (wall * cores)
                for layer in PIPELINE_LAYERS:
                    d = sp["by_description"].get(f"gdpr-anonymizer layer={layer}")
                    if d is None:
                        continue
                    v[f"plans.pipeline.{layer}.wall_s"] += covered_s(d["job_intervals"], lo, hi)
                    v[f"plans.pipeline.{layer}.task_cpu_s"] += d["task_cpu_s"]
                    v[f"plans.pipeline.{layer}.tasks"] += d["tasks"]
                    v[f"plans.pipeline.{layer}.bytes_written"] += d["bytes_written"]
            elif s.name == "operators.validate.run_validation_gate":
                v[f"{s.name}.wall_s"] += wall
                v[f"{s.name}.jobs"] += sp["jobs"]
                v[f"{s.name}.task_cpu_s"] += sp["task_cpu_s"]
            elif s.name == "operators.report.export_report":
                v[f"{s.name}.wall_s"] += wall
            elif s.name == "streaming.anonymize":
                v["streaming.anonymize.wall_s"] += wall
            elif s.name.startswith("queries."):
                v[f"{s.name}.wall_s"] += wall
                v[f"{s.name}.jobs"] += sp["jobs"]
                v["queries.shuffle_bytes"] += sp["shuffle_write_bytes"]
                v["queries.stages"] += sp["stages"]
        if rec["spark"] is not None:
            v["trace.jobs_unattributed"] = rec["spark"]["jobs"] - v["spark.jobs"]
        for b in rec["batches"]:
            dur = b["duration_ms"]
            v["streaming.anonymize.addBatch_s"] += dur.get("addBatch", 0) / 1e3
            v["streaming.anonymize.walCommit_s"] += dur.get("walCommit", 0) / 1e3
            v["streaming.anonymize.commit_s"] += dur.get("commitOffsets", 0) / 1e3
            v["streaming.anonymize.batches"] += 1
        rows.append(v)
    return {k: statistics.median(r[k] for r in rows) if rows else 0.0 for k in PER_LAYER}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--inputs", required=True)
    args = ap.parse_args(argv)

    m = gen.prepare(args.workload, args.seed, args.inputs)
    work = os.path.join(args.work, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    starts = []
    spark = None
    for _ in range(SESSION_STARTS):
        if spark is not None:
            spark.stop()
        spark, g, f = start_session(work)
        starts.append((g, f))
    try:
        return run(spark, args, m, work, starts)
    finally:
        jvm = spark.sparkContext._gateway.proc
        spark.stop()
        jvm.stdin.close()
        try:
            jvm.wait(timeout=30)
        except Exception:
            jvm.kill()
            jvm.wait()
        shutil.rmtree(work, ignore_errors=True)


def run(spark, args, m: dict, work: str, starts: list[tuple[float, float]]) -> int:
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    wl = WORKLOADS[args.workload](spark, m, work, args.seed)

    phases = {"ready": time.perf_counter()}
    # Untimed pass: full correctness check, and the JVM's warm-up.
    tr = Tracer(None)
    try:
        oks = wl.check(tr)
    except Exception:
        log(f"check pass raised\n{traceback.format_exc()}")
        oks = [False]
    attempted, failed = len(oks), oks.count(False)

    phases["checked"] = time.perf_counter()
    # The JIT is still compiling hard after the first pass: the window
    # opens with the workload's warm-up iterations. A traced run splits the
    # window between this untraced loop and the traced one.
    window = args.seconds / 2 if args.trace else args.seconds
    # Three timed iterations at least, so one slow iteration never sets
    # wall_s.
    walls, a, f = timed_loop(wl, window, Tracer(None), warmup=wl.warmup)
    phases["timed"] = time.perf_counter()
    attempted, failed = attempted + a, failed + f
    wall = statistics.median(walls)
    jvm_pid = spark.sparkContext._gateway.proc.pid
    setup = statistics.median(g + f for g, f in starts)
    metrics = {
        "setup_s": (setup, "s"),
        "wall_s": (wall, "s"),
    }
    summary = {
        "rows_per_s": wl.rows / wall,
        "iterations": len(walls),
        "walls": walls,
        "cores": cores,
        "phases_s": {k: round(v - T0, 2) for k, v in phases.items()},
    }

    if args.trace:
        listener = BatchLog()
        spark.streams.addListener(listener)
        tr = Tracer(StatusStore(spark), listener, wl.streaming_queries)
        jvm0 = jvm_ms(spark)
        twalls, a, f = timed_loop(wl, window, tr, min_timed=1)
        jvm1 = jvm_ms(spark)
        attempted, failed = attempted + a, failed + f
        spark.streams.removeListener(listener)
        layer = per_layer(tr, cores)
        layer["session.get_spark_s"] = statistics.median(g for g, _ in starts)
        layer["session.first_job_s"] = statistics.median(f for _, f in starts)
        layer["session.cold_start_s"] = sum(starts[0])
        layer["driver.peak_rss_mb"] = (vm_hwm_kb("self") + vm_hwm_kb(jvm_pid)) / 1024
        # Per iteration, like the other layer metrics.
        for k in jvm0:
            layer[f"driver.{k}_s"] = (jvm1[k] - jvm0[k]) / 1e3 / len(twalls)
        layer["trace.overhead_s"] = statistics.median(twalls) - wall
        layer.update(wl.bytes_written_per_input_byte())
        if layer["trace.jobs_unattributed"]:
            log(f"trace: {layer['trace.jobs_unattributed']} jobs outside any span")
            failed += 1
        path = os.path.join(args.work, f"trace-{args.workload}-{args.seed}.json")
        with open(path, "w") as fh:
            json.dump(tr.to_json(), fh)
        summary["trace_file"] = os.path.relpath(path)
        out_metrics = {k: {"value": layer[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        out_metrics = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}

    log(
        "summary "
        + json.dumps(
            {
                **summary,
                **{k: v for k, (v, _) in metrics.items()},
                "failed_ratio": failed / attempted,
            }
        )
    )
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": out_metrics,
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
