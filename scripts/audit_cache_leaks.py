"""Empirical cache-leak audit over one tier of the query registry.

Operators persist multi-branch intermediates through
``operators.caching.persist``, which records each one in a per-session
ledger; ``release_caches(result)`` unpersists the whole ledger.
``tests/test_registry_tiers.py`` fails on any other persist in the
package, so a leak here means the ledger itself misbehaves — this audit
confirms that EMPIRICALLY: run each query at sf0.001, consume it (noop
write), release_caches(result), and compare the JVM persistent-RDD
registry size before/after. Any positive delta is a leak chargeable to
that query.

localCheckpoint-based queries (CHECKPOINT_BASED: lineage truncation keeps
their 3^rounds analyzer blowup away) hold their checkpoint blocks until
the ContextCleaner GCs the RDD — release_caches cannot free them by
design. So before charging a leak the audit nudges a JVM GC and re-reads,
and it reports residual checkpoint storage apart from persist() leaks.

Usage: python scripts/audit_cache_leaks.py [--tier staged] [sf_dir] [query ...]
Exits non-zero if any query leaks or fails.
"""

from __future__ import annotations

import gc
import sys
import time

sys.path.insert(0, ".")

from dbt_gdpr_anonymizer_spark.operators.caching import release_caches  # noqa: E402
from dbt_gdpr_anonymizer_spark.queries import all_queries  # noqa: E402
from dbt_gdpr_anonymizer_spark.session import get_spark  # noqa: E402
from scripts.check_correctness import pop_tier  # noqa: E402

CHECKPOINT_BASED = {"dbscan_customers", "kcore_spatial_customers"}


def main() -> int:
    tier = pop_tier()
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])
    spark = get_spark("cache-leak-audit")
    jsc = spark.sparkContext._jsc.sc()
    jvm = spark.sparkContext._jvm
    leaks: dict[str, int] = {}
    residuals: dict[str, int] = {}
    errors: dict[str, str] = {}
    for name, fn in all_queries(tier).items():
        if only and name not in only:
            continue
        before = jsc.getPersistentRDDs().size()
        try:
            df = fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            release_caches(df)
        except Exception as e:  # surface, keep auditing the rest
            errors[name] = f"{type(e).__name__}: {e}"[:200]
            continue
        df = None
        after = jsc.getPersistentRDDs().size()
        if after > before:
            for _ in range(6):
                gc.collect()  # drop py4j refs so ContextCleaner can act
                jvm.System.gc()
                time.sleep(0.5)
                after = jsc.getPersistentRDDs().size()
                if after <= before:
                    break
        if after > before:
            if name in CHECKPOINT_BASED:
                residuals[name] = after - before
                print(f"CHECKPOINT-RESIDUAL {after - before:2d}  {name}",
                      flush=True)
            else:
                leaks[name] = after - before
                print(f"LEAK {after - before:2d}  {name}", flush=True)
    print(
        f"\n{len(leaks)} leaking querie(s), "
        f"{len(residuals)} checkpoint residual(s), {len(errors)} error(s)"
    )
    for n, e in errors.items():
        print(f"ERROR {n}: {e}")
    return 1 if leaks or errors else 0


if __name__ == "__main__":
    raise SystemExit(main())
