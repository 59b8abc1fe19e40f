"""Per-query optimization profiler (r11): build/exec split, job count,
and formatted-plan capture for the queries under optimization.

Usage:
    python scripts/profile_query.py [--tier registry|staged]
        [--plans OUTDIR --tag before|after] [sf_dir] name [name ...]

For each named query of the tier (default ``registry``), measures with
``bench.time_query`` (median of 3 after one warm-up, the bench
methodology):
  build  = py4j plan-construction wall (callable -> DataFrame)
  exec   = noop-sink execution wall (full computation, no sink cost)
  total  = build + exec wall of one run
  jobs   = Spark jobs launched by one build + exec (status-store delta,
           jobs from streaming threads included)
and optionally writes ``<OUTDIR>/<name>_<tag>.txt`` with the
``explain("formatted")`` output, so plan claims in OPTIMIZATION_r11.md are
checkable without running Spark.
"""

from __future__ import annotations

import argparse
import contextlib
import functools
import io
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import time_query, warm_session  # noqa: E402
from dbt_gdpr_anonymizer_spark.queries import all_queries  # noqa: E402
from dbt_gdpr_anonymizer_spark.session import get_spark  # noqa: E402
from perfbench.tracing import StatusStore  # noqa: E402
from scripts.check_correctness import pop_tier  # noqa: E402


def _dump_plan(path: str, df) -> None:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    with open(path, "w") as f:
        f.write(buf.getvalue())


def main() -> None:
    tier = pop_tier()
    ap = argparse.ArgumentParser()
    ap.add_argument("--plans", default=None, help="dir for explain dumps")
    ap.add_argument("--tag", default="before")
    ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.1")
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()

    spark = get_spark("profile")
    qs = all_queries(tier)
    store = StatusStore(spark)
    warm_session(spark, args.sf_dir)
    if args.plans:
        os.makedirs(args.plans, exist_ok=True)

    out: dict[str, dict] = {}
    for name in args.names:
        on_warm = None
        if args.plans:
            on_warm = functools.partial(
                _dump_plan, f"{args.plans}/{name}_{args.tag}.txt"
            )
        t = time_query(store, functools.partial(qs[name], spark, args.sf_dir), on_warm)
        per_run = t.pop("per_run")
        out[name] = {**t, "jobs": per_run and per_run["jobs"]}
        print(name, out[name], flush=True)
    print(json.dumps({"sf_dir": args.sf_dir, "profile": out}))


if __name__ == "__main__":
    main()
