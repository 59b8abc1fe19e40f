"""One-shot wall-clock sweep of EVERY registry query at a given sf dir.

The per-round bench times only the headline set; this sweep catches scale
landmines hiding in non-headline queries (the r7 char-entropy HOF lesson:
correct at sf0.01, 42 s at sf0.1). Usage:

    python scripts/time_all_queries.py [sf_dir] [threshold_sec]

Prints queries slower than threshold (default 2 s), slowest first, then a
JSON line with every timing. Streaming replays are expected to be slow
(stateful micro-batch drains) and are marked.
"""

from __future__ import annotations

import json
import sys
import time

sys.path.insert(0, ".")

from dbt_gdpr_anonymizer_spark.queries import all_queries  # noqa: E402
from dbt_gdpr_anonymizer_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    threshold = float(sys.argv[2]) if len(sys.argv) > 2 else 2.0
    spark = get_spark("sweep")
    times: dict[str, float] = {}
    errs: dict[str, str] = {}
    from dbt_gdpr_anonymizer_spark.operators.caching import release_caches

    for name, fn in all_queries().items():
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            df.collect()
            times[name] = round(time.time() - t0, 2)
            # release the operators' persisted intermediates, or the
            # sweep accumulates blocks across every query and late-query
            # timings pay eviction pressure
            release_caches(df)
        except Exception as e:  # noqa: BLE001
            errs[name] = f"{type(e).__name__}: {e}"[:200]
    for name, sec in sorted(times.items(), key=lambda kv: -kv[1]):
        if sec >= threshold:
            print(f"SLOW {sec:8.2f}s  {name}")
    for name, err in errs.items():
        print(f"ERR  {name}: {err}")
    print(json.dumps({"sf_dir": sf_dir, "times": times, "errors": errs}))


if __name__ == "__main__":
    main()
