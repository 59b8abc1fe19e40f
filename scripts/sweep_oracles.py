"""Cap-bounded DuckDB-ONLY sweep of every registered oracle at a given
sf dir — finds oracles that are pathological at scale without paying for
the Spark side (the sibling of time_all_queries.py, which sweeps the
Spark side). An uncapped full checker run at sf0.1 can stall for an hour
inside one O(n^2) brute-force oracle; this tells you which, in minutes.
Each oracle runs once through ``bench.OracleTimer.run_capped``.

    python scripts/sweep_oracles.py [sf_dir] [cap_sec]

Prints every oracle slower than 2 s, CAPPED lines for cap breaches, a
final summary, and one JSON line with all timings.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

from bench import OracleTimer  # noqa: E402


def main() -> None:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    cap = float(sys.argv[2]) if len(sys.argv) > 2 else 20.0
    timer = OracleTimer(sf, cap)
    times: dict[str, float] = {}
    capped: list[str] = []
    errs: dict[str, str] = {}
    for name, sql in timer.oracles.items():
        try:
            dt = timer.run_capped(sql)
        except duckdb.Error as e:
            errs[name] = str(e)[:160]
            print(f"ERR {name}: {errs[name]}", flush=True)
            continue
        if dt is None:
            capped.append(name)
            print(f"CAPPED>{cap:.0f}s  {name}", flush=True)
            continue
        times[name] = round(dt, 2)
        if dt >= 2.0:
            print(f"{dt:8.2f}s  {name}", flush=True)
    print("capped:", capped, flush=True)
    print("errors:", errs, flush=True)
    print(json.dumps({"sf": sf, "cap": cap, "times": times,
                      "capped": capped, "errors": errs}))


if __name__ == "__main__":
    main()
