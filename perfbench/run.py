"""perfbench — the repository benchmark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Workloads (sizes in ``gen.py``):

* ``publish``   the services table through both product paths: batch
                ``run_pipeline`` (three parquet layers) -> PII report ->
                validation gate, and the same rows as JSON drops through
                ``stream_anonymize`` into a checkpointed parquet sink;
* ``registry``  five batch registry queries to a noop sink, seed-shuffled.

The seed makes the inputs; they are generated once under ``.perfbench/``
in the working directory, with everything else the run writes. The
workload then runs in a child process (``worker.py``) at
``SPARK_GRAFT_CPUS`` cores (default: all), and the last line of stdout is
its JSON result: end-to-end metrics with ``--trace 0``, per-layer metrics
with ``--trace 1``. A summary with ``failed_ratio`` goes to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("publish", "registry")
TIMEOUT_S = 170


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "dbt_gdpr_anonymizer_spark")):
        print("perfbench: run from the repository root (package not found)", file=sys.stderr)
        return 2
    base = os.path.join(root, ".perfbench")
    inputs, work = os.path.join(base, "inputs"), os.path.join(base, "work")
    tmp = os.path.join(work, "tmp")
    os.makedirs(inputs, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)

    sys.path.insert(0, HERE)
    import gen

    gen.prepare(args.workload, args.seed, inputs)

    env = dict(os.environ)
    env.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    env.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        PYTHONDONTWRITEBYTECODE="1",
        PYTHONHASHSEED="0",
    )
    cmd = [
        sys.executable,
        os.path.join(HERE, "worker.py"),
        "--workload", args.workload,
        "--seed", str(args.seed),
        "--seconds", str(args.seconds),
        "--trace", str(args.trace),
        "--work", work,
        "--inputs", inputs,
    ]
    proc = subprocess.Popen(cmd, env=env, stdout=subprocess.PIPE, text=True, start_new_session=True)
    # Stopped from outside, take the worker and its JVM down too.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    try:
        out, _ = proc.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: {args.workload} exceeded {TIMEOUT_S}s", file=sys.stderr)
        out = ""
    finally:
        # The worker and the JVM it launched share one process group.
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
    lines = [ln for ln in out.splitlines() if ln.startswith("{")]
    if proc.returncode != 0 or not lines:
        print(f"perfbench: worker exited with {proc.returncode} and no result", file=sys.stderr)
        return 1
    result = json.loads(lines[-1])
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
