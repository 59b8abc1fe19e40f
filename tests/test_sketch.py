"""operators/sketch: X169 count-min heavy hitters, X170 deterministic HLL."""

import hashlib
import math
from collections import Counter

from dbt_gdpr_anonymizer_spark.streaming.anonymize import write_stream_parquet


def _cm_replay(texts, depth, width, salt="cm"):
    """Pure-python count-min replay using the repo's tokenizer contract
    (lowercased alnum words — replicated via the Spark words() output in
    the test corpus, which is already normalized)."""
    counts = Counter(w for t in texts for w in t.split())
    grid = [Counter() for _ in range(depth)]
    buckets = {}
    for w, c in counts.items():
        for i in range(depth):
            h = hashlib.md5(f"{salt}{i}:{w}".encode()).hexdigest()
            b = int(h[:5], 16) % width
            buckets[(i, w)] = b
            grid[i][b] += c
    est = {
        w: min(grid[i][buckets[(i, w)]] for i in range(depth))
        for w in counts
    }
    return counts, est


def test_countmin_matches_python_replay(spark):
    """Tiny width forces collisions; estimates must equal the replay and
    always upper-bound the exact count."""
    from dbt_gdpr_anonymizer_spark.operators.sketch import (
        countmin_heavy_hitters,
    )
    from dbt_gdpr_anonymizer_spark.operators.caching import release_caches

    texts = [
        "apple banana apple cherry",
        "banana apple date egg fig",
        "apple grape banana cherry cherry",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    out = countmin_heavy_hitters(df, depth=3, width=4, k=100)
    rows = out.collect()
    release_caches(out)
    counts, est = _cm_replay(texts, depth=3, width=4)
    assert len(rows) == len(counts)
    for r in rows:
        assert r.exact_count == counts[r.token], r.token
        assert r.cm_estimate == est[r.token], r.token
        assert r.cm_estimate >= r.exact_count  # one-sided error
    # release order: (estimate desc, token)
    keys = [(-r.cm_estimate, r.token) for r in rows]
    assert keys == sorted(keys)


def test_countmin_topk_limit(spark):
    from dbt_gdpr_anonymizer_spark.operators.sketch import (
        countmin_heavy_hitters,
    )
    from dbt_gdpr_anonymizer_spark.operators.caching import release_caches

    df = spark.createDataFrame(
        [(1, "a a a b b c d e f g")], ["doc_id", "text"]
    )
    out = countmin_heavy_hitters(df, depth=4, width=256, k=2)
    rows = out.collect()
    release_caches(out)
    assert len(rows) == 2
    assert rows[0].token == "a" and rows[0].exact_count == 3
    # width 256 over 7 tokens: collisions vanishingly unlikely with
    # these fixed hashes — estimate equals exact here
    assert rows[0].cm_estimate == 3


def _hll_replay(groups, b=8, salt="hll"):
    m = 1 << b
    alpha_m2 = 0.7213 / (1.0 + 1.079 / m) * m * m
    out = {}
    for g, values in groups.items():
        regs = {}
        for v in values:
            h = hashlib.md5(f"{salt}:{v}".encode()).hexdigest()
            j = int(h[: b // 4], 16)
            w52 = int(h[b // 4 : b // 4 + 13], 16)
            bits = bin(w52)[2:].zfill(52)
            p = bits.find("1")
            rho = 53 if p < 0 else p + 1
            regs[j] = max(regs.get(j, 0), rho)
        s = 0.0
        for jj in range(m):
            s = s + 0.5 ** regs.get(jj, 0)
        v0 = m - len(regs)
        e = alpha_m2 / s
        if e <= 2.5 * m and v0 > 0:
            e = m * math.log(m / v0)
        out[g] = (
            math.floor(e),
            v0,
            sum(regs.values()),
            max(regs.values()) if regs else None,
        )
    return out


def test_hll_matches_python_replay(spark):
    from dbt_gdpr_anonymizer_spark.operators.sketch import hll_distinct

    data = []
    groups = {"a": [f"u{i}" for i in range(40)], "b": [f"v{i}" for i in range(700)]}
    for g, vs in groups.items():
        for v in vs:
            data.append((g, v))
            data.append((g, v))  # duplicates must not move anything
    df = spark.createDataFrame(data, ["grp", "uid"])
    rows = {
        r.grp: (
            r.hll_distinct,
            r.n_zero_registers,
            r.register_sum,
            r.register_max,
        )
        for r in hll_distinct(df, ["grp"], "uid").collect()
    }
    assert rows == _hll_replay(groups)


def test_hll_accuracy_and_correction_branches(spark):
    """Small group routes through linear counting (V>0, E<=2.5m); the
    estimate should land within ~3 sigma (rsd = 1.04/sqrt(256) ≈ 6.5%)."""
    from dbt_gdpr_anonymizer_spark.operators.sketch import hll_distinct

    df = spark.createDataFrame(
        [("g", f"user-{i}") for i in range(2000)], ["grp", "uid"]
    )
    (r,) = hll_distinct(df, ["grp"], "uid").collect()
    assert abs(r.hll_distinct - 2000) < 2000 * 0.2
    # 2000 >> m=256: every register should be hit — raw branch
    assert r.n_zero_registers == 0

    df2 = spark.createDataFrame(
        [("g", f"user-{i}") for i in range(30)], ["grp", "uid"]
    )
    (r2,) = hll_distinct(df2, ["grp"], "uid").collect()
    assert r2.n_zero_registers > 0  # linear-counting branch
    assert abs(r2.hll_distinct - 30) <= 10


def test_hll_rejects_bad_b(spark):
    import pytest

    from dbt_gdpr_anonymizer_spark.operators.sketch import hll_distinct

    df = spark.createDataFrame([("g", "u")], ["grp", "uid"])
    with pytest.raises(ValueError):
        hll_distinct(df, ["grp"], "uid", b=6)
    with pytest.raises(ValueError):
        hll_distinct(df, ["grp"], "uid", b=4)


def _bloom_replay(doc_grams, bench_ids, m_bits, k, salt="bloom"):
    """Pure-python replay: bit set from benchmark grams, all-k probe."""
    def positions(g):
        return [
            int(hashlib.md5(f"{salt}{i}:{g}".encode()).hexdigest()[:5], 16)
            % m_bits
            for i in range(k)
        ]

    bench_grams = {
        g for d, gs in doc_grams.items() if d in bench_ids for g in gs
    }
    bits = {p for g in bench_grams for p in positions(g)}
    out = {}
    for d, gs in doc_grams.items():
        if d in bench_ids:
            continue
        flagged = sum(
            1 for g in gs if all(p in bits for p in positions(g))
        )
        exact = sum(1 for g in gs if g in bench_grams)
        if flagged:
            out[d] = (len(gs), flagged, exact)
    return out


def test_bloom_gate_matches_python_replay(spark):
    """Tiny filter (m_bits=128) forces false positives; the replay must
    agree exactly and n_bloom_flagged >= n_exact_matches everywhere."""
    from dbt_gdpr_anonymizer_spark.operators.sketch import (
        bloom_contamination_gate,
    )
    from dbt_gdpr_anonymizer_spark.operators.caching import release_caches

    docs = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over a sleeping cat"),
        (3, "completely unrelated text about spark clusters"),
        (4, "another benchmark sentence held out for evals"),
        (5, "short"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    bench = spark.createDataFrame([(1,), (4,)], ["doc_id"])
    out = bloom_contamination_gate(df, bench, m_bits=128, k=2, n=3)
    rows = {
        r.doc_id: (r.n_grams, r.n_bloom_flagged, r.n_exact_matches)
        for r in out.collect()
    }
    release_caches(out)

    # python gram derivation mirrors the operator: distinct word
    # 3-grams, whole text when shorter
    def grams(t, n=3):
        ws = t.split()
        if len(ws) >= n:
            seen, gs = set(), []
            for i in range(len(ws) - n + 1):
                g = " ".join(ws[i : i + n])
                if g not in seen:
                    seen.add(g)
                    gs.append(g)
            return gs
        return [" ".join(ws)]

    doc_grams = {d: grams(t) for d, t in docs}
    want = _bloom_replay(doc_grams, {1, 4}, m_bits=128, k=2)
    assert rows == want
    for ngrams, flagged, exact in rows.values():
        assert flagged >= exact  # one-sided: no false negatives


def test_bloom_gate_no_false_negatives_property(spark):
    """Every doc the exact tier flags must be flagged by the gate with
    n_bloom_flagged >= its exact count — on a larger corpus and a
    realistic filter size."""
    from dbt_gdpr_anonymizer_spark.operators.sketch import (
        bloom_contamination_gate,
    )
    from dbt_gdpr_anonymizer_spark.operators.dedup import (
        benchmark_contamination,
    )
    from dbt_gdpr_anonymizer_spark.operators.caching import release_caches

    words = "alpha beta gamma delta epsilon zeta eta theta".split()
    docs = [
        (i, " ".join(words[(i + j) % len(words)] for j in range(6)))
        for i in range(30)
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    bench = spark.createDataFrame([(0,), (7,)], ["doc_id"])
    out = bloom_contamination_gate(df, bench, m_bits=65536, k=3, n=5)
    got = {r.doc_id: r for r in out.collect()}
    release_caches(out)
    exact_out = benchmark_contamination(df, bench, n=5)
    exact = {r.doc_id: r.n_shared_grams for r in exact_out.collect()}
    for d, cnt in exact.items():
        assert d in got, d
        assert got[d].n_bloom_flagged >= cnt
        assert got[d].n_exact_matches == cnt


def test_bloom_gate_rejects_bad_m(spark):
    import pytest

    from dbt_gdpr_anonymizer_spark.operators.sketch import (
        bloom_contamination_gate,
    )

    df = spark.createDataFrame([(1, "x")], ["doc_id", "text"])
    bench = spark.createDataFrame([(1,)], ["doc_id"])
    with pytest.raises(ValueError):
        bloom_contamination_gate(df, bench, m_bits=1000)
    with pytest.raises(ValueError):
        bloom_contamination_gate(df, bench, m_bits=1 << 21)


def test_hll_register_table_streams(spark, tmp_path):
    """The register build is a SINGLE streaming-compatible max
    aggregation: drive it end-to-end under Structured Streaming
    (file source → windowed registers with a watermark → availableNow
    sink), fold the sunk registers at read time, and the estimates must
    equal the batch operator on the same data."""
    import os
    from datetime import datetime, timedelta

    from pyspark.sql import functions as F

    from dbt_gdpr_anonymizer_spark.operators.sketch import (
        hll_distinct,
        hll_estimate_from_registers,
        hll_register_table,
    )

    base = datetime.fromisoformat("2024-01-01 00:00:00")
    rows = [
        (base + timedelta(hours=(i * 7) % 48), f"user-{i % 37}")
        for i in range(300)
    ]
    # a trailing late-day event pushes the watermark past both days so
    # every window closes and appends before availableNow drains
    rows.append((base + timedelta(days=30), "flush"))
    src = tmp_path / "src"
    df = spark.createDataFrame(rows, "ts timestamp, uid string")
    df.coalesce(1).write.mode("overwrite").parquet(str(src))

    stream = (
        spark.readStream.schema("ts timestamp, uid string")
        .parquet(str(src))
        .withWatermark("ts", "1 hour")
    )
    # group by the FULL window struct — extracting .start would strip
    # the event-time marker and break append-mode eligibility
    regs = hll_register_table(
        stream.select(F.window("ts", "1 day").alias("day_w"), "uid"),
        ["day_w"],
        "uid",
    )
    out_dir = tmp_path / "sink"
    write_stream_parquet(
        regs, f"{out_dir}/out", f"{out_dir}/ckpt", available_now=True
    ).awaitTermination()

    sunk = spark.read.parquet(f"{out_dir}/out").select(
        F.col("day_w.start").alias("day"), "_j", "_m"
    )
    got = {
        (r.day, r.hll_distinct, r.n_zero_registers, r.register_sum)
        for r in hll_estimate_from_registers(sunk, ["day"]).collect()
    }

    batch = hll_distinct(
        df.select(F.date_trunc("day", "ts").alias("day"), "uid"),
        ["day"],
        "uid",
    )
    want = {
        (r.day, r.hll_distinct, r.n_zero_registers, r.register_sum)
        for r in batch.collect()
        # the flush day never closes (nothing after it) — drop it from
        # the batch expectation too
        if r.day != base + timedelta(days=30)
    }
    assert got == want and len(got) >= 2


def test_cm_grid_table_equals_batch_grid(spark):
    """The streamed-rows grid must equal the batch operator's
    count-table-folded grid by associativity — pinned exactly."""
    from pyspark.sql import functions as F

    from dbt_gdpr_anonymizer_spark.functions.text import words
    from dbt_gdpr_anonymizer_spark.operators.sketch import cm_grid_table

    texts = [
        "apple banana apple cherry",
        "banana apple date egg fig",
        "apple grape banana cherry cherry",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    toks = df.select(F.explode(words("text")).alias("w")).filter(
        F.col("w") != ""
    )
    grid = {
        (r._i, r._b): r._cnt
        for r in cm_grid_table(toks, [], "w", depth=3, width=4).collect()
    }
    # replay: batch grid from exact counts
    import hashlib
    from collections import Counter

    counts = Counter(w for t in texts for w in t.split())
    want: dict = {}
    for w, c in counts.items():
        for i in range(3):
            b = int(
                hashlib.md5(f"cm{i}:{w}".encode()).hexdigest()[:5], 16
            ) % 4
            want[(i, b)] = want.get((i, b), 0) + c
    assert grid == want


def test_cm_grid_table_streams(spark, tmp_path):
    """End-to-end under Structured Streaming: file source → watermarked
    daily-window grid → availableNow parquet sink; the merged sunk grid
    must equal the batch grid on the same data."""
    from datetime import datetime, timedelta

    from pyspark.sql import functions as F

    from dbt_gdpr_anonymizer_spark.operators.sketch import cm_grid_table

    base = datetime.fromisoformat("2024-01-01 00:00:00")
    rows = [
        (base + timedelta(hours=(i * 5) % 40), f"tok{i % 9}")
        for i in range(200)
    ]
    rows.append((base + timedelta(days=30), "flush"))
    src = tmp_path / "src"
    df = spark.createDataFrame(rows, "ts timestamp, w string")
    df.coalesce(1).write.mode("overwrite").parquet(str(src))

    stream = (
        spark.readStream.schema("ts timestamp, w string")
        .parquet(str(src))
        .withWatermark("ts", "1 hour")
    )
    grid = cm_grid_table(
        stream.select(F.window("ts", "1 day").alias("day_w"), "w"),
        ["day_w"],
        "w",
        depth=2,
        width=16,
    )
    out_dir = tmp_path / "sink"
    write_stream_parquet(
        grid, f"{out_dir}/out", f"{out_dir}/ckpt", available_now=True
    ).awaitTermination()

    sunk = (
        spark.read.parquet(f"{out_dir}/out")
        .select(F.col("day_w.start").alias("day"), "_i", "_b", "_cnt")
        .groupBy("day", "_i", "_b")
        .agg(F.sum("_cnt").cast("long").alias("_cnt"))  # merge-by-sum
    )
    got = {(r.day, r._i, r._b): r._cnt for r in sunk.collect()}

    batch = cm_grid_table(
        df.select(F.date_trunc("day", "ts").alias("day"), "w"),
        ["day"],
        "w",
        depth=2,
        width=16,
    )
    flush_day = base + timedelta(days=30)
    want = {
        (r.day, r._i, r._b): r._cnt
        for r in batch.collect()
        if r.day != flush_day  # its window never closes in-stream
    }
    assert got == want and len(got) >= 4


def test_sketch_plan_shapes(spark):
    """Scale-contract pins: the CM estimate lookup and the bloom bit
    probe are broadcast HASH equi-joins (never sort-merge or nested
    loop), and the HLL register build plans a partial (map-side)
    aggregation before its single exchange."""
    from dbt_gdpr_anonymizer_spark.operators.caching import release_caches
    from dbt_gdpr_anonymizer_spark.operators.sketch import (
        bloom_contamination_gate,
        countmin_heavy_hitters,
        hll_register_table,
    )

    df = spark.createDataFrame(
        [(i, f"tok{i} tok{i+1} tok{i+2} filler words here") for i in range(20)],
        ["doc_id", "text"],
    )

    cm = countmin_heavy_hitters(df, depth=2, width=64, k=5)
    plan = cm._jdf.queryExecution().executedPlan().toString()
    release_caches(cm)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    # top-k is TakeOrdered, not a global window
    assert "TakeOrderedAndProject" in plan and "Window" not in plan

    bench = spark.createDataFrame([(0,), (1,)], ["doc_id"])
    bg = bloom_contamination_gate(df, bench, m_bits=1024, k=2, n=3)
    plan = bg._jdf.queryExecution().executedPlan().toString()
    release_caches(bg)
    # the bit-set probe and the bench joins broadcast; the final per-doc
    # assembly joins (flagged × totals × exact, corpus-sized both sides)
    # are legitimately sort-merge at scale and NOT asserted against
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan

    regs = hll_register_table(df.select("doc_id", "text"), ["doc_id"], "text")
    plan = regs._jdf.queryExecution().executedPlan().toString()
    assert "partial_max" in plan  # map-side combine before the shuffle
    assert plan.count("Exchange") == 1  # one keyed shuffle, nothing else


def test_bloom_bitmask_and_flag_grams_match_gate(spark):
    """The stateless bitmask probe must agree with the batch gate: per
    non-bench doc, the count of flagged grams equals n_bloom_flagged."""
    from pyspark.sql import functions as F

    from dbt_gdpr_anonymizer_spark.operators.caching import release_caches
    from dbt_gdpr_anonymizer_spark.operators.sketch import (
        bloom_bitmask,
        bloom_contamination_gate,
        bloom_flag_grams,
    )

    docs = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over a sleeping cat"),
        (3, "completely unrelated text about spark clusters"),
        (4, "another benchmark sentence held out for evals"),
        (5, "short"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    bench_ids = {1, 4}
    bench = spark.createDataFrame([(i,) for i in bench_ids], ["doc_id"])

    mask = bloom_bitmask(
        df.join(F.broadcast(bench), "doc_id"), m_bits=1024, k=2, n=3
    )
    assert len(mask) == 1024 and set(mask) <= {"0", "1"}

    flags = bloom_flag_grams(
        df.join(F.broadcast(bench), "doc_id", "left_anti"),
        mask,
        k=2,
        n=3,
    )
    got = {
        r.doc_id: r.nf
        for r in flags.filter("flagged")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("nf"))
        .collect()
    }
    gate = bloom_contamination_gate(df, bench, m_bits=1024, k=2, n=3)
    want = {r.doc_id: r.n_bloom_flagged for r in gate.collect()}
    release_caches(gate)
    assert got == want


def test_bloom_flag_grams_streams(spark, tmp_path):
    """The probe is stateless, so it must run unchanged under
    Structured Streaming append mode — no watermark, no state store."""
    from pyspark.sql import functions as F

    from dbt_gdpr_anonymizer_spark.operators.sketch import (
        bloom_bitmask,
        bloom_flag_grams,
    )

    bench = spark.createDataFrame(
        [(0, "alpha beta gamma delta epsilon")], ["doc_id", "text"]
    )
    mask = bloom_bitmask(bench, m_bits=512, k=2, n=3)

    corpus = [
        (1, "alpha beta gamma something else entirely"),
        (2, "no overlap whatsoever in this document"),
    ]
    src = tmp_path / "src"
    df = spark.createDataFrame(corpus, "doc_id long, text string")
    df.coalesce(1).write.mode("overwrite").parquet(str(src))
    stream = spark.readStream.schema("doc_id long, text string").parquet(
        str(src)
    )
    out_dir = tmp_path / "sink"
    flagged = bloom_flag_grams(stream, mask, k=2, n=3)
    write_stream_parquet(
        flagged, f"{out_dir}/out", f"{out_dir}/ckpt", available_now=True
    ).awaitTermination()
    sunk = spark.read.parquet(f"{out_dir}/out")
    got = {
        (r.doc_id, r.gram): r.flagged for r in sunk.collect()
    }
    batch = {
        (r.doc_id, r.gram): r.flagged
        for r in bloom_flag_grams(df, mask, k=2, n=3).collect()
    }
    assert got == batch
    assert got[(1, "alpha beta gamma")] is True
    assert not any(f for (d, _), f in got.items() if d == 2)


def test_hll_set_overlap_matches_replay(spark):
    """Pair estimates must equal a python replay built from the same
    register derivation: per-group, union (register max), and the
    signed inclusion-exclusion intersection."""
    from dbt_gdpr_anonymizer_spark.operators.caching import release_caches
    from dbt_gdpr_anonymizer_spark.operators.sketch import hll_set_overlap

    rows = (
        [("x", f"u{i}") for i in range(300)]
        + [("y", f"u{i}") for i in range(150, 450)]  # overlaps x on 150
        + [("z", f"w{i}") for i in range(40)]  # disjoint
        + [(None, "ghost")]  # NULL group excluded
    )
    df = spark.createDataFrame(rows, "grp string, uid string")
    out = hll_set_overlap(df, "grp", "uid")
    got = {
        (r.group_a, r.group_b): (
            r.hll_a,
            r.hll_b,
            r.hll_union,
            r.hll_intersection,
        )
        for r in out.collect()
    }
    release_caches(out)

    m = 256
    alpha_m2 = 0.7213 / (1.0 + 1.079 / m) * m * m

    def regs_of(values):
        regs = {}
        for v in values:
            h = hashlib.md5(f"hll:{v}".encode()).hexdigest()
            j = int(h[:2], 16)
            bits = bin(int(h[2:15], 16))[2:].zfill(52)
            p = bits.find("1")
            rho = 53 if p < 0 else p + 1
            regs[j] = max(regs.get(j, 0), rho)
        return regs

    def est(regs):
        s = 0.0
        for jj in range(m):
            s = s + 0.5 ** regs.get(jj, 0)
        v0 = m - len(regs)
        e = alpha_m2 / s
        if e <= 2.5 * m and v0 > 0:
            e = m * math.log(m / v0)
        return math.floor(e)

    sets = {
        "x": {f"u{i}" for i in range(300)},
        "y": {f"u{i}" for i in range(150, 450)},
        "z": {f"w{i}" for i in range(40)},
    }
    names = sorted(sets)
    want = {}
    for i, a in enumerate(names):
        for c in names[i + 1 :]:
            ra, rc = regs_of(sets[a]), regs_of(sets[c])
            ru = {
                j: max(ra.get(j, 0), rc.get(j, 0))
                for j in set(ra) | set(rc)
            }
            ea, ec, eu = est(ra), est(rc), est(ru)
            want[(a, c)] = (ea, ec, eu, ea + ec - eu)
    assert got == want
    # sanity: overlapping pair shows meaningful intersection,
    # disjoint pair shows ~0 (possibly negative — signed by design)
    assert got[("x", "y")][3] > 80
    assert abs(got[("x", "z")][3]) < 40


def test_hll_set_overlap_single_group_empty(spark):
    from dbt_gdpr_anonymizer_spark.operators.caching import release_caches
    from dbt_gdpr_anonymizer_spark.operators.sketch import hll_set_overlap

    df = spark.createDataFrame(
        [("only", f"u{i}") for i in range(5)], "grp string, uid string"
    )
    out = hll_set_overlap(df, "grp", "uid")
    rows = out.collect()
    release_caches(out)
    assert rows == []


def test_cm_join_size_estimate_bounds_and_replay(spark):
    """The estimate must equal the python replay and upper-bound the
    exact join size; at generous width with few keys it is exact."""
    from pyspark.sql import functions as F

    from dbt_gdpr_anonymizer_spark.operators.sketch import (
        cm_grid_table,
        cm_join_size_estimate,
    )

    a = spark.createDataFrame(
        [(f"k{i % 7}",) for i in range(50)], ["key"]
    )
    b = spark.createDataFrame(
        [(f"k{i % 11}",) for i in range(80)], ["key"]
    )
    exact = a.join(b, "key").count()

    for width in (4, 1024):
        ga = cm_grid_table(a, [], "key", depth=3, width=width)
        gb = cm_grid_table(b, [], "key", depth=3, width=width)
        (r,) = cm_join_size_estimate(ga, gb, depth=3).collect()
        # python replay
        from collections import Counter

        ca = Counter(f"k{i % 7}" for i in range(50))
        cb = Counter(f"k{i % 11}" for i in range(80))
        grids_a = [Counter() for _ in range(3)]
        grids_b = [Counter() for _ in range(3)]
        for c, grids in ((ca, grids_a), (cb, grids_b)):
            for k_, n_ in c.items():
                for i in range(3):
                    h = hashlib.md5(f"cm{i}:{k_}".encode()).hexdigest()
                    grids[i][int(h[:5], 16) % width] += n_
        want = min(
            sum(
                grids_a[i][bkt] * grids_b[i][bkt]
                for bkt in grids_a[i]
            )
            for i in range(3)
        )
        assert r.cm_join_estimate == want
        assert r.cm_join_estimate >= exact  # one-sided
        if width == 1024:
            # 7+11 keys over 1024 buckets: no collisions -> exact
            assert r.cm_join_estimate == exact
