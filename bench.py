"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on local[$SPARK_GRAFT_CPUS].

Prints ONE COMPACT JSON line (last line of stdout):
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...,
   "batch_spark_sec": ..., "batch_duck_sec": ..., "batch_ratio": ...}

and writes the full per-query detail (per-query Spark medians, co-timed
DuckDB oracle medians, ratios, cap/error lists) to BENCH_DETAIL.json next
to this file. The r6 artifact was lost because the single line outgrew the
driver's tail capture — the final line is now kept small on purpose.

Each query is forced with a noop write (full computation, no sink cost,
result never collected to the driver — the honest distributed-execution
timing). Value = total wall seconds across headline queries.
"""

from __future__ import annotations

import functools
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from perfbench.tracing import StatusStore  # noqa: E402

# Representative of every operator family: masking pipeline, relational
# agg/join/window, events (sessionize/rollup/json), validation union.
HEADLINE = [
    "mask_model_customer",
    "union_violations",
    "k_anonymity",
    "q1_pricing_summary",
    "join_revenue_by_nation",
    "topk_orders_per_bucket",
    "sessionize_events",
    "hourly_event_rollup",
    "json_props_extract",
    "exact_dedup_documents",
    "minhash_lsh_neardup",
    "ann_cosine_topk",
    "text_quality_profile",
    "rolling_fingerprint_documents",
    "winnow_overlap_pairs",
    "tfidf_top_terms",
    "sliding_window_rollup",
    # iterative + inverted-index + exact-similarity plans
    "ngram_jaccard_neardup",
    "neardup_components",
    "bm25_search",
    # newest plan shapes: Gravano gram-filter join + codegen noise ladder
    "edit_distance_neardup",
    "dp_noisy_order_counts",
    # 6-table broadcast/AQE join chain (TPC-H Q5 shape)
    "q5_local_supplier_volume",
    # r5 additions: the stateful-streaming drain (applyInPandasWithState
    # sessionization over a 3-batch replay — the drain runs inside the
    # callable, which is why timing starts before query construction) and
    # the broadcast contains-any erasure anti-join
    "stream_sessionize_events",
    "erasure_cascade_documents",
    # r5 new plan shapes: full-vocabulary explode + TakeOrdered top-k,
    # line-level explode/rebuild, and the one-pass grouping-sets ladder
    "word_frequency_zipf",
    "boilerplate_line_filter_documents",
    "k_anonymity_generalize",
    # r5 batch-2/3 shapes: staged user-keyed funnel joins, full-outer
    # fingerprint diff, and the two-phase vocab-build + token equi-join
    "funnel_conversion",
    "corpus_snapshot_diff",
    "vocab_oov_rate",
    # r5 batch 4-6 shapes: the stream-stream join state store (drain runs
    # inside the callable, like the sessionize drain), the QI-window
    # microaggregation, and the order-statistic winsorize
    "stream_interval_join_clicks",
    "microaggregate_acctbal",
    "winsorized_stats_events",
    # r7 new plan shapes: the positional-gram inverted index + df>1
    # semi-join (profile), its surgical-removal sibling (adds the bounded
    # coverage expansion + order-preserving rebuild), and the
    # kmeans-clustered within-cell dominance join
    "cross_doc_span_profile_documents",
    "remove_duplicate_spans_documents",
    "semantic_dedup_embeddings",
    # r7-late new plan shapes: the double-generate pair expansion with one
    # big hash agg (covariance), the anchor-normalized positional-index
    # aggregation (phrase), and the two vocabulary-keyed model scoring
    # joins (NB classifier, bigram LM). Excluded by design: the Python
    # codec tiers (multimodal_gif_features, warc_ingest_documents — pure-
    # Python LZW/gzip per item, the FF1 precedent) and
    # html_text_extract_documents (correct single-scan codegen plan, but
    # java.util.regex pays a measured ~7x constant factor vs RE2 on the
    # dotall element-drop patterns — an engine constant, not a plan gap;
    # 1.95s absolute at sf0.1).
    "embedding_int8_covariance",
    "phrase_search_documents",
    "naive_bayes_lang_classifier",
    "bigram_lm_perplexity_documents",
    # r7-late batch-2 shapes: the iterative persisted-rank join loop
    # (PageRank), the skew-aware two-phase domain cap (count agg +
    # broadcast semi-join + bounded window), the array-side char-count
    # fold (entropy), and the from_json + higher-order-function
    # validation projection (SFT). Excluded by design:
    # unicode_nfc_profile_documents (Arrow pandas-UDF tier, the FF1
    # precedent) and stream_quota_documents (stateful drain, excluded
    # from the batch aggregate like the other streaming replays).
    "pagerank_documents",
    "domain_cap_documents",
    "char_entropy_documents",
    "sft_chat_stats_documents",
    # r8 new plan shapes: the 4-layer masking pipeline composition (one
    # Catalyst-fused projection chain over a broadcast dim join), the
    # two-run SCD2 snapshot merge (full-outer join + disjoint-arm unions,
    # twice), and the rewritten gap-islands (range-bucketed two-pass
    # row_number replacing the single-partition global window — timed so
    # a regression back to the global sort shows up as a step change).
    "mart_pipeline_services",
    "scd2_snapshot_orders",
    "orderkey_gap_islands",
]

# Stateful micro-batch replays: stream_sessionize_events and
# stream_interval_join_clicks time a 3-batch stateful REPLAY end to end
# (temp-file batch prep, state-store checkpoints per micro-batch, Python
# state workers or double-sided join state), so regressions in state
# sizing or partitioning show up here. Their oracle is a batch EQUIVALENCE
# check (same final rows), not a throughput baseline — a one-pass batch
# engine vs a 3-micro-batch stateful drain with checkpoints is not a
# comparison. They are excluded from the batch ratio and reported
# separately.
_STREAMING_REPLAYS = {"stream_sessionize_events", "stream_interval_join_clicks"}

# Per-oracle wall cap: the brute-force near-dup oracles are O(n²) by
# construction (that is the point — Spark's banded plans replace them) and
# run >120s at sf0.1; a capped run records null ("DuckDB exceeded the cap")
# instead of stalling the bench.
_DUCK_CAP_SEC = float(os.environ.get("BENCH_DUCK_CAP_SEC", "30"))

# Per-run status-store fields of the scale signal: shuffle bytes and
# job/stage counts follow the plan, not host load, so they witness plan
# structure where sf0.1 timings are scheduling-bound.
_SCALE_FIELDS = ("shuffle_write_bytes", "shuffle_read_bytes", "input_bytes", "jobs")


def noop_write(df) -> None:
    """Force ``df`` in full without a sink cost or a collect to the driver."""
    df.write.format("noop").mode("overwrite").save()


def warm_session(spark, sf_dir: str) -> None:
    """Warm the JVM and parquet footers once, so per-query numbers measure
    the query, not session startup."""
    noop_write(spark.read.parquet(f"{sf_dir}/customer.parquet"))


def mark(store: StatusStore) -> tuple[int, int]:
    """``store.snapshot()`` once the listener bus has drained, so jobs that
    already finished fall before the mark, not inside the window."""
    store._bus.waitUntilEmpty()
    return store.snapshot()


def time_query(store: StatusStore, build, on_warm=None) -> dict:
    """One untimed warm-up (plan compilation, code generation, footer
    cache), then three timed runs of ``build()`` written to the noop sink.

    Single-sample local-JVM timings jitter by 50-80% from GC and scheduler
    noise; the median is the number that scales with data volume. Each run
    starts its clock BEFORE ``build()``: streaming entries drain their
    stream inside the callable, and plan build is part of what a user
    pays. Operator caches are released after every run, so each
    timed run is cold-cache, the number a fresh job would see, and
    re-invocations do not pile up identical cached blocks that later
    queries pay to evict.
    ``on_warm(df)`` sees the warm-up frame after it ran.

    Returns the medians ``build``, ``exec`` and ``total`` (seconds) and
    ``per_run``: the status-store delta over the timed runs divided by
    three (jobs from streaming threads included), or None when the store
    evicted part of the window (``spark.ui.retainedStages``)."""
    from dbt_gdpr_anonymizer_spark.operators.caching import release_caches

    warm = build()
    noop_write(warm)
    if on_warm is not None:
        on_warm(warm)
    release_caches(warm)
    before = mark(store)
    runs = []
    for _ in range(3):
        t0 = time.perf_counter()
        df = build()
        t1 = time.perf_counter()
        noop_write(df)
        t2 = time.perf_counter()
        runs.append((t1 - t0, t2 - t1, t2 - t0))
        release_caches(df)
    build_s, exec_s, total_s = (round(sorted(r)[1], 3) for r in zip(*runs))
    d = store.since(before)
    after = store.snapshot()
    per_run = None
    # Ids are dense, so the window holds every id from the mark to the
    # newest. Spark evicts never-run (skipped) stages first, which leaves
    # older stages in place: ``since`` cannot see that loss, the id span can.
    span = (after[0] - before[0], after[1] - before[1])
    if d is not None and (d["jobs"], d["stages"]) == span:
        per_run = {k: round(d[k] / 3) for k in _SCALE_FIELDS}
        per_run["stages"] = round(d["stages"] / 3, 1)
    return {"build": build_s, "exec": exec_s, "total": total_s, "per_run": per_run}


class OracleTimer:
    """Times one query's DuckDB oracle on the same host, same session,
    same parquet: warm-up + median of three, each run interrupted at
    ``cap_sec``. ``time_one`` returns None for no oracle, cap exceeded, or
    oracle error (errors recorded separately — a broken oracle must not
    masquerade as a timeout).

    Callers interleave ``time_one`` with the Spark timings so each query's
    two sides are measured ADJACENT in time: minutes of host-load drift
    between an all-Spark phase and an all-DuckDB phase would land entirely
    on one side of the ratio (r10 closing band 1.678-2.014 on identical
    code); co-timing per query makes each ratio robust to slow drift."""

    def __init__(self, sf_dir: str, cap_sec: float = _DUCK_CAP_SEC):
        import duckdb

        from dbt_gdpr_anonymizer_spark.queries import all_oracles, duckdb_views
        from dbt_gdpr_anonymizer_spark.session import host_cpus

        self._duckdb = duckdb
        self.cap_sec = cap_sec
        self.oracles = all_oracles()
        self.con = duckdb_views(duckdb.connect(), sf_dir)
        self.con.execute(f"set threads to {host_cpus()}")
        self.capped: set[str] = set()
        self.errors: dict[str, str] = {}

    def run_capped(self, sql: str) -> float | None:
        """Returns elapsed sec; None = interrupted at the cap. A genuine
        oracle failure raises (duckdb.InterruptException is the documented
        interrupt type; a raw duckdb.Error here means the SQL is broken)."""
        import threading

        timer = threading.Timer(self.cap_sec, self.con.interrupt)
        timer.start()
        t0 = time.perf_counter()
        try:
            self.con.execute(sql).fetchall()
            return time.perf_counter() - t0
        except self._duckdb.InterruptException:
            return None
        except self._duckdb.Error as e:
            # Race guard: an interrupt that lands mid-parse can surface as a
            # generic Error whose message names the interrupt. Anything else
            # is a real failure and propagates.
            if "interrupt" in str(e).lower():
                return None
            raise
        finally:
            timer.cancel()

    def time_one(self, name: str) -> float | None:
        sql = self.oracles.get(name)
        if sql is None:
            return None
        runs: list[float] = []
        try:
            for i in range(4):  # 1 warm-up + 3 timed
                r = self.run_capped(sql)
                if r is None:
                    self.capped.add(name)
                    return None
                if i:
                    runs.append(r)
        except Exception as e:  # broken oracle SQL — surface, don't mislabel
            self.errors[name] = f"{type(e).__name__}: {e}"[:300]
            return None
        return round(sorted(runs)[1], 3)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from dbt_gdpr_anonymizer_spark.queries import all_queries
    from dbt_gdpr_anonymizer_spark.session import get_spark

    spark = get_spark("bench")
    qs = all_queries()
    names = [n for n in HEADLINE if n in qs]
    warm_session(spark, sf_dir)

    oracle_timer = OracleTimer(sf_dir)
    store = StatusStore(spark)
    timings: dict[str, float] = {}
    duck: dict[str, float | None] = {}
    scale: dict[str, dict | None] = {}
    for name in names:
        t = time_query(store, functools.partial(qs[name], spark, sf_dir))
        timings[name], scale[name] = t["total"], t["per_run"]
        # The oracle runs IMMEDIATELY after the query's Spark runs, so each
        # ratio's two sides see the same host state (see OracleTimer).
        duck[name] = oracle_timer.time_one(name)

    duck_capped, duck_errors = oracle_timer.capped, oracle_timer.errors
    ratio = {
        n: (round(timings[n] / duck[n], 2) if duck.get(n) else None)
        for n in names
    }
    batch = [n for n in names if n not in _STREAMING_REPLAYS]
    comparable = [n for n in batch if duck.get(n)]
    spark_batch = sum(timings[n] for n in comparable)
    duck_batch = sum(duck[n] for n in comparable)

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf
    detail = {
        "metric": "headline_total_wall",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf_val,
        # same-host, same-session DuckDB oracle timings (median of 3,
        # per-query cap) — null means no oracle or DuckDB exceeded the cap
        # (the brute-force near-dup oracles at sf>=0.1)
        "duck_sec": duck,
        "ratio": ratio,
        "duck_cap_sec": oracle_timer.cap_sec,
        "duck_capped": sorted(duck_capped),
        "duck_errors": duck_errors,
        "streaming_replays": sorted(_STREAMING_REPLAYS & set(names)),
        # batch-comparable aggregate: excludes stateful replays and capped
        # oracles on BOTH sides, so the ratio compares like with like
        "batch_spark_sec": round(spark_batch, 3),
        "batch_duck_sec": round(duck_batch, 3),
        "batch_ratio": (
            round(spark_batch / duck_batch, 3) if duck_batch else None
        ),
        # r12 (additions-only): per-query per-run shuffle/input bytes and
        # job/stage counts from the AppStatusStore — deterministic plan
        # witnesses that survive host-load noise (see time_query).
        "scale_signal_per_run": scale,
    }
    # Full per-query detail goes to a file: the r6 single-line emission
    # outgrew the driver's tail capture and the round's Spark timings were
    # lost ("parsed": null). The file is the record; the last stdout line
    # stays compact so the driver can always parse it.
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
    )
    with open(detail_path, "w") as f:
        json.dump(detail, f, indent=1, sort_keys=True)
    # r8 (r7 VERDICT #8): ALSO append to an accumulating history so
    # per-query Spark times survive the driver overwriting
    # BENCH_DETAIL.json each round — the r6-vs-r7 per-query regression
    # comparison was impossible because r6's timings were lost. Each line
    # is self-identifying (UTC timestamp + git HEAD at run time).
    try:
        import subprocess

        head = subprocess.run(
            ["git", "rev-parse", "--short", "HEAD"],
            capture_output=True,
            text=True,
            cwd=os.path.dirname(os.path.abspath(__file__)),
            timeout=10,
        ).stdout.strip()
    except Exception:
        head = None
    hist_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "BENCH_DETAIL_HISTORY.jsonl",
    )
    with open(hist_path, "a") as f:
        f.write(
            json.dumps(
                {
                    # "ts" is the canonical key (r8 VERDICT #4 audited for
                    # it and read the missing key as null); "ts_utc" kept
                    # for the r8-era lines' shape.
                    "ts": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
                    "ts_utc": time.strftime(
                        "%Y-%m-%dT%H:%M:%SZ", time.gmtime()
                    ),
                    "git_head": head,
                    **detail,
                },
                sort_keys=True,
            )
            + "\n"
        )
    compact = {
        "metric": "headline_total_wall",
        "value": detail["value"],
        "unit": "sec",
        # per-query Spark medians — the r1-r5 lines carried this map and
        # parsed; what broke r6 was ALSO inlining the per-query duck_sec +
        # ratio maps. Those now live only in BENCH_DETAIL.json.
        "queries": timings,
        "sf": sf_val,
        "batch_spark_sec": detail["batch_spark_sec"],
        "batch_duck_sec": detail["batch_duck_sec"],
        "batch_ratio": detail["batch_ratio"],
        "duck_capped_n": len(duck_capped),
        "duck_errors_n": len(duck_errors),
        "detail": "BENCH_DETAIL.json",
    }
    print(json.dumps(compact))


if __name__ == "__main__":
    main()
