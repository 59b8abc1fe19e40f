"""Cap-bounded DuckDB-ONLY sweep of every registered oracle at a given
sf dir — finds oracles that are pathological at scale without paying for
the Spark side (the sibling of time_all_queries.py, which sweeps the
Spark side). An uncapped full checker run at sf0.1 can stall for an hour
inside one O(n^2) brute-force oracle; this tells you which, in minutes.

    python scripts/sweep_oracles.py [sf_dir] [cap_sec]

Prints every oracle slower than 2 s, CAPPED lines for cap breaches, a
final summary, and one JSON line with all timings.
"""

from __future__ import annotations

import json
import sys
import threading
import time

sys.path.insert(0, ".")

import duckdb  # noqa: E402

from dbt_gdpr_anonymizer_spark.queries import all_oracles, duckdb_views  # noqa: E402
from dbt_gdpr_anonymizer_spark.session import host_cpus  # noqa: E402


def main() -> None:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    cap = float(sys.argv[2]) if len(sys.argv) > 2 else 20.0
    con = duckdb_views(duckdb.connect(), sf)
    con.execute(f"set threads to {host_cpus()}")
    times: dict[str, float] = {}
    capped: list[str] = []
    errs: dict[str, str] = {}
    for name, sql in all_oracles().items():
        timer = threading.Timer(cap, con.interrupt)
        timer.start()
        t0 = time.time()
        try:
            con.execute(sql).fetchall()
            dt = round(time.time() - t0, 2)
            times[name] = dt
            if dt >= 2.0:
                print(f"{dt:8.2f}s  {name}", flush=True)
        except duckdb.InterruptException:
            capped.append(name)
            print(f"CAPPED>{cap:.0f}s  {name}", flush=True)
        except duckdb.Error as e:
            errs[name] = str(e)[:160]
            print(f"ERR {name}: {errs[name]}", flush=True)
        finally:
            timer.cancel()
    print("capped:", capped, flush=True)
    print("errors:", errs, flush=True)
    print(json.dumps({"sf": sf, "cap": cap, "times": times,
                      "capped": capped, "errors": errs}))


if __name__ == "__main__":
    main()
