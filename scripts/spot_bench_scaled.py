"""Core-count scaling spot-bench on the replicated large fixture.

Times a fixed list of DATA-BOUND headline queries (no near-dup class —
see make_scaled_data.py — and no capped-oracle queries) with
``bench.time_query`` at the current ``$SPARK_GRAFT_CPUS``: one warm-up +
median of 3, exactly the bench methodology. Run it twice (cpus=8 and
cpus=32) over the same fixture and compare: ratios well above 1 show the
plans are data-parallel once rows dominate scheduling overhead — the
scale signal the sf0.1 bench cannot produce (r11 driver scaling block ≈ 1
everywhere).

Usage:
    python scripts/make_scaled_data.py            # once, builds /tmp/scaled_sf1
    SPARK_GRAFT_CPUS=8  python scripts/spot_bench_scaled.py > SCALE_SPOT_c8.json
    SPARK_GRAFT_CPUS=32 python scripts/spot_bench_scaled.py > SCALE_SPOT_c32.json
"""

from __future__ import annotations

import functools
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import time_query, warm_session  # noqa: E402
from perfbench.tracing import StatusStore  # noqa: E402

QUERIES = [
    "q1_pricing_summary",
    "q5_local_supplier_volume",
    "join_revenue_by_nation",
    "topk_orders_per_bucket",
    "hourly_event_rollup",
    "sessionize_events",
    "winsorized_stats_events",
    "word_frequency_zipf",
    "tfidf_top_terms",
    "text_quality_profile",
    "bigram_lm_perplexity_documents",
    "char_entropy_documents",
    "stream_sessionize_events",
]


def main() -> None:
    sf_dir = os.environ.get("SCALED_DIR", "/tmp/scaled_sf1")
    from dbt_gdpr_anonymizer_spark.queries import all_queries
    from dbt_gdpr_anonymizer_spark.session import get_spark

    spark = get_spark("spot_scaled")
    qs = all_queries()
    store = StatusStore(spark)
    warm_session(spark, sf_dir)
    out: dict[str, float] = {}
    for name in QUERIES:
        out[name] = time_query(store, functools.partial(qs[name], spark, sf_dir))["total"]
        print(f"# {name}: {out[name]}", file=sys.stderr, flush=True)
    print(
        json.dumps(
            {
                "fixture": sf_dir,
                "cpus": int(os.environ.get("SPARK_GRAFT_CPUS", "0")),
                "queries": out,
                "total": round(sum(out.values()), 3),
            },
            indent=1,
            sort_keys=True,
        )
    )


if __name__ == "__main__":
    main()
