"""Deterministic R× replication of an SF dir — the scale-signal fixture.

The committed testdata tops out at sf0.1, where the whole bench is
scheduling-overhead-bound (r11 driver scaling block: every query's
8-vs-32-core ratio ≈ 1), so plan-structural wins are invisible in local
wall-clock. This script builds a larger fixture (default 10× sf0.1 ≈ sf1)
by replicating each FACT table R times with disjoint key ranges —
replica i adds ``i * 10_000_000`` to every entity key, so joins and
group-bys keep their selectivity while row counts scale linearly. Every
key must lie in [0, 10_000_000); the script checks this before writing
anything and fails naming the table and column otherwise.
Dimension tables (region, nation, part, supplier) are copied once.

Pure pyarrow (no Spark, no randomness — byte-deterministic given the
input dir), writes one parquet file per table. NOT an oracle fixture:
used only by scripts/spot_bench_scaled.py to measure core-count scaling
on data-bound queries (near-dup queries are excluded there — replicated
documents are exact duplicates of their sources, which would quadratically
inflate the candidate pair set instead of scaling the honest workload).

Usage: python scripts/make_scaled_data.py [src_dir] [out_dir] [R]
Defaults: /root/testdata/sf0.1 /tmp/scaled_sf1 10
"""

from __future__ import annotations

import os
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

OFFSET = 10_000_000
DIM_TABLES = ["region", "nation", "part", "supplier"]
# table -> columns that get the per-replica key offset
FACT_KEYS = {
    "customer": ["c_custkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}


def check_key_range(table: str, tb: pa.Table, keys: list[str]) -> None:
    """Raise unless every key column lies in [0, OFFSET): replica i shifts
    keys by i * OFFSET, so a key outside that range collides with a
    shifted key of another replica."""
    for k in keys:
        mm = pc.min_max(tb.column(k))
        lo, hi = mm["min"].as_py(), mm["max"].as_py()
        if hi is not None and (lo < 0 or hi >= OFFSET):
            raise ValueError(
                f"{table}.{k}: keys span [{lo}, {hi}], outside [0, {OFFSET}); "
                "replicas would collide"
            )


def main() -> None:
    src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/scaled_sf1"
    r = int(sys.argv[3]) if len(sys.argv) > 3 else 10
    bases = {t: pq.read_table(f"{src}/{t}.parquet") for t in FACT_KEYS}
    for t, keys in FACT_KEYS.items():
        check_key_range(t, bases[t], keys)
    os.makedirs(out, exist_ok=True)
    for t in DIM_TABLES:
        pq.write_table(pq.read_table(f"{src}/{t}.parquet"), f"{out}/{t}.parquet")
        print(f"{t}: copied")
    for t, keys in FACT_KEYS.items():
        base = bases[t]
        parts = []
        for i in range(r):
            tb = base
            if i:
                for k in keys:
                    idx = tb.schema.get_field_index(k)
                    shifted = pc.add(tb.column(k), pa.scalar(
                        i * OFFSET, type=tb.schema.field(k).type))
                    tb = tb.set_column(idx, tb.schema.field(k), shifted)
            parts.append(tb)
        full = pa.concat_tables(parts)
        # many small row groups: Spark parallelizes a single parquet file
        # by assigning row GROUPS to byte-range splits — one huge row
        # group reads on one core no matter how many splits the scan is
        # forced into (measured: the 50K-doc documents table scanned
        # single-core and every document query went scale-flat)
        pq.write_table(
            full, f"{out}/{t}.parquet", row_group_size=max(
                10_000, full.num_rows // 64
            )
        )
        print(f"{t}: {base.num_rows} -> {full.num_rows}")


if __name__ == "__main__":
    main()
