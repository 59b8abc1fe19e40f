"""Local mimic of the driver's t2 correctness gate.

Runs every query of a tier on Spark and its oracle twin on DuckDB over the
same parquet dir, then compares row count, column names, and an
order-insensitive value hash (columns sorted by name, rows sorted, values
rendered with repr-level precision). Usage::

    python scripts/check_correctness.py [--tier staged] [sf_dir] [query ...]

``--tier registry`` (the default) checks the driver contract,
``queries()``/``oracle_sql()``; ``--tier staged`` checks the staged
candidates outside it.

Set ``CHECK_JSON=/path/out.json`` to also write a driver-shaped artifact
({name: {rows_match, schema_match, hash_match, spark_rows, oracle_rows,
err}}) for diffing against the driver's CORRECTNESS_r{N}.json.

Set ``CHECK_PANDAS=1`` to fetch the DuckDB side via ``fetchdf()`` instead
of ``fetchall()`` — emulating the external driver's pandas/Arrow path,
where HUGEINT and DECIMAL degrade to float64 (``6.0`` vs Spark's ``6``)
and a nullable integer column becomes float64 wholesale. The default
``fetchall()`` returns Python ints/Decimals and HIDES those divergences —
that gap is exactly how the round-3/4 red rows stayed invisible locally.
Run both modes before promoting a new oracle.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import sys
import traceback

import duckdb

sys.path.insert(0, ".")

from dbt_gdpr_anonymizer_spark import queries as Q  # noqa: E402


def norm_val(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(round(v, 9))
    if isinstance(v, bool):
        return str(v).lower()
    return str(v)


def table_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(norm_val(r[i]) for i in order) for r in rows)
    h = hashlib.md5()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()


def pop_tier() -> str:
    """Take ``--tier registry|staged`` (default ``registry``) out of
    ``sys.argv``, leaving ``[sf_dir] [query ...]``; shared with
    scripts/audit_cache_leaks.py."""
    ap = argparse.ArgumentParser(
        usage="%(prog)s [--tier {registry,staged}] [sf_dir] [query ...]"
    )
    ap.add_argument("--tier", choices=Q.TIERS, default="registry")
    args, rest = ap.parse_known_args()
    sys.argv[1:] = rest
    return args.tier


def main():
    tier = pop_tier()
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    from dbt_gdpr_anonymizer_spark.operators.caching import release_caches
    from dbt_gdpr_anonymizer_spark.session import get_spark

    spark = get_spark("correctness-check")
    con = Q.duckdb_views(duckdb.connect(), sf_dir)

    qs, oracles = Q.all_queries(tier), Q.all_oracles(tier)
    report: dict[str, dict] = {}
    npass = nfail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
            release_caches(sdf)
            if name not in oracles:
                print(f"  {name}: rows-only ({len(srows)} rows) OK")
                report[name] = {
                    "rows_match": None,
                    "schema_match": None,
                    "hash_match": None,
                    "spark_rows": len(srows),
                    "oracle_rows": None,
                    "err": None,
                }
                npass += 1
                continue
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            if os.environ.get("CHECK_PANDAS"):
                import pandas as pd

                # Empirical driver-fetch model (4 rounds of evidence):
                # declared-BIGINT columns render as integers even when
                # nullable (asof_join's nullable right attrs are green),
                # while HUGEINT/DECIMAL degrade to float64 ("6.0" — the
                # r4 red rows). fetchdf degrades BOTH, so restore int
                # rendering only where DESCRIBE says integer.
                int_cols = {
                    c
                    for c, ty, *_ in con.execute(
                        f"describe ({oracles[name]})"
                    ).fetchall()
                    if ty in ("BIGINT", "INTEGER", "SMALLINT", "TINYINT")
                }
                res = con.execute(oracles[name])

                def _pd_val(v, is_int):
                    # pandas missing markers (None / NaN / NaT) → SQL NULL
                    # (driver-green rows with nullable columns prove its
                    # canonicalizer does the same)
                    if v is None or v is pd.NaT:
                        return None
                    if isinstance(v, float) and math.isnan(v):
                        return None
                    if is_int and isinstance(v, float):
                        return int(v)
                    return v.item() if hasattr(v, "item") else v

                pdf = res.fetchdf()
                is_int = [c in int_cols for c in pdf.columns]
                orows = [
                    tuple(
                        _pd_val(v, ii) for v, ii in zip(row, is_int)
                    )
                    for row in pdf.itertuples(index=False, name=None)
                ]
            else:
                orows = res.fetchall()
            ok_cols = sorted(scols) == sorted(ocols)
            ok_rows = len(srows) == len(orows)
            sh, oh = table_hash(scols, srows), table_hash(ocols, orows)
            ok = ok_cols and ok_rows and sh == oh
            report[name] = {
                "rows_match": ok_rows,
                "schema_match": ok_cols,
                "hash_match": sh == oh,
                "spark_rows": len(srows),
                "oracle_rows": len(orows),
                "err": None,
            }
            if ok:
                npass += 1
                print(f"  {name}: PASS ({len(srows)} rows)")
            else:
                nfail += 1
                print(
                    f"  {name}: FAIL cols={ok_cols} rows={len(srows)}/{len(orows)} "
                    f"hash={'ok' if sh == oh else 'MISMATCH'}"
                )
                if not ok_cols:
                    print(f"    spark={sorted(scols)}\n    duck ={sorted(ocols)}")
                elif sh != oh:
                    order = sorted(range(len(scols)), key=lambda i: scols[i])
                    sset = sorted("|".join(norm_val(r[i]) for i in order) for r in srows)
                    oord = sorted(range(len(ocols)), key=lambda i: ocols[i])
                    oset = sorted("|".join(norm_val(r[i]) for i in oord) for r in orows)
                    for a, b in zip(sset, oset):
                        if a != b:
                            print(f"    spark: {a[:200]}\n    duck : {b[:200]}")
                            break
        except Exception as e:
            nfail += 1
            report[name] = {
                "rows_match": False,
                "schema_match": False,
                "hash_match": False,
                "spark_rows": None,
                "oracle_rows": None,
                "err": repr(e)[:200],
            }
            print(f"  {name}: ERROR")
            traceback.print_exc(limit=3)
    out_path = os.environ.get("CHECK_JSON")
    if out_path:
        with open(out_path, "w") as f:
            json.dump(report, f, indent=2)
        print(f"report written to {out_path}")
    print(f"\n{npass} pass, {nfail} fail")
    return 1 if nfail else 0


if __name__ == "__main__":
    sys.exit(main())
