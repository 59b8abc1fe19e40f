"""Pin the registry workload's expected results.

    python3 perfbench/pin.py

Run from the repository root. Generates the registry tables, runs the
``worker.REGISTRY`` queries on Spark and their DuckDB oracles
(``queries.all_oracles``) on the same files, and writes ``perfbench/expected.json`` with each query's row
count and order-insensitive hash, but only if every query matches its
oracle. Re-run it only when the registry data generator changes.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main() -> int:
    sys.path.insert(0, HERE)
    sys.path.insert(0, os.getcwd())
    import duckdb

    import gen
    from worker import REGISTRY, result_of, table_hash

    from dbt_gdpr_anonymizer_spark.operators.caching import release_caches
    from dbt_gdpr_anonymizer_spark.queries import all_oracles, all_queries
    from dbt_gdpr_anonymizer_spark.session import get_spark

    m = gen.prepare("registry", 0, os.path.join(os.getcwd(), ".perfbench", "inputs"))
    spark = get_spark("perfbench-pin")
    con = duckdb.connect()
    for name in m["rows"]:
        con.execute(f"create view {name} as select * from '{m['dir']}/{name}.parquet'")
    queries, oracles = all_queries(), all_oracles()
    pinned, bad = {}, []
    for name in REGISTRY:
        df = queries[name](spark, m["dir"])
        got = result_of(df)
        release_caches(df)
        res = con.execute(oracles[name])
        rows = res.fetchall()
        want = {"rows": len(rows), "hash": table_hash([d[0] for d in res.description], rows)}
        status = "ok" if got == want and got["rows"] else "MISMATCH"
        print(f"{name}: spark {got} oracle {want} {status}", flush=True)
        if status != "ok":
            bad.append(name)
        pinned[name] = got
    spark.stop()
    if bad:
        print(f"not pinned: {bad}", file=sys.stderr)
        return 1
    with open(os.path.join(HERE, "expected.json"), "w") as fh:
        json.dump(pinned, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
