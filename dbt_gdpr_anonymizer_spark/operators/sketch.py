"""Deterministic, mergeable frequency/cardinality sketches.

At 100 TB the exact aggregates (``groupBy(token).count()``,
``countDistinct``) still run — they are linear shuffles — but two
pipeline-telemetry questions want CONSTANT-memory, mergeable state
instead: "which tokens are heavy, roughly how heavy?" (count-min
sketch, Cormode & Muthukrishnan 2005) and "how many distinct keys,
without a distinct shuffle?" (HyperLogLog, Flajolet et al. 2007).
Engine builtins exist (``approx_count_distinct`` is HLL++) but their
internals are engine-private, so their outputs can never be
hash-compared across engines and their state can never be merged with
a sketch built elsewhere. These twins are fully DETERMINISTIC — every
hash is the repo's md5-nibble idiom, every float fold has a pinned
sequential order — so a DuckDB oracle replays them bit-for-bit, and
the register/counter state is plain integer columns any engine can
merge (counters by ``+``, registers by ``max``).

No reference counterpart: tabodino/dbt-gdpr-anonymizer has no sketch
tier; this extends the LLM-pipeline telemetry surface (the
approx_distinct_sketch query certifies Spark's builtin HLL only
within an error band — these are exact-replayable).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dbt_gdpr_anonymizer_spark.functions.text import words
from dbt_gdpr_anonymizer_spark.operators.caching import persist

__all__ = [
    "bloom_bitmask",
    "bloom_contamination_gate",
    "bloom_flag_grams",
    "cm_grid_table",
    "cm_join_size_estimate",
    "countmin_heavy_hitters",
    "hll_distinct",
    "hll_estimate_from_registers",
    "hll_register_table",
    "hll_set_overlap",
]


def _nibble_bucket(h: Column, n_buckets: int) -> Column:
    """First 5 md5 hex nibbles parsed positionally, mod ``n_buckets`` —
    the established cross-engine bucket idiom (_hbucket_sql twin)."""
    return (F.conv(F.substring(h, 1, 5), 16, 10).cast("bigint") % n_buckets).cast(
        "int"
    )


def countmin_heavy_hitters(
    docs: DataFrame,
    *,
    depth: int = 4,
    width: int = 256,
    k: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
    salt: str = "cm",
) -> DataFrame:
    """X169 count-min sketch heavy hitters (Cormode & Muthukrishnan
    2005): a ``depth × width`` counter grid where row ``i`` buckets
    token ``w`` at ``md5(salt‖i‖':'‖w)`` (5-nibble parse mod width) and
    the point estimate is ``min_i grid[i][bucket_i(w)]`` — an upper
    bound on the true count that collisions can only inflate, never
    deflate (the one-sided error CM guarantees). Released: the top
    ``k`` tokens by estimate with the exact count alongside, so the
    overestimate is *visible* per row.

    Scale shape: ONE corpus pass (explode → map-side-combined token
    counts); the grid is built FROM that vocab-bounded table — summing
    per-token counts into buckets is associative, so this is
    bit-identical to streaming the corpus through the sketch, without
    the depth× corpus blow-up (at 100 TB you'd sketch per partition
    and merge grids by ``+``; the grid here IS that mergeable state).
    The grid (depth·width rows) broadcasts into the estimate lookup —
    a broadcast HASH equi-join on (row, bucket), not a nested loop.
    The top-k release is orderBy+limit (TakeOrdered partial top-k per
    partition), no global window. Everything is INTEGER-exact — no
    float anywhere.

    Returns ``(token, exact_count BIGINT, cm_estimate BIGINT)``,
    ordered ``(cm_estimate DESC, token)``, ``k`` rows.
    """
    wc = persist(
        docs.select(F.explode(words(text_col)).alias("_w"))
        .filter(F.col("_w") != "")
        .groupBy("_w")
        .agg(F.count(F.lit(1)).cast("long").alias("_c"))
    )
    h = F.md5(
        F.concat(
            F.lit(salt), F.col("_i").cast("string"), F.lit(":"), F.col("_w")
        )
    )
    keyed = wc.select(
        "_w",
        "_c",
        F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("_i"),
    ).select("_w", "_c", "_i", _nibble_bucket(h, width).alias("_b"))
    grid = keyed.groupBy("_i", "_b").agg(F.sum("_c").alias("_cnt"))
    est = (
        keyed.join(F.broadcast(grid), ["_i", "_b"])
        .groupBy("_w")
        .agg(
            F.min("_cnt").cast("long").alias("cm_estimate"),
            # _c is constant per token; max() just carries it through
            F.max("_c").cast("long").alias("exact_count"),
        )
    )
    return (
        est.select(
            F.col("_w").alias("token"), "exact_count", "cm_estimate"
        )
        .orderBy(F.desc("cm_estimate"), "token")
        .limit(k)
    )


def cm_grid_table(
    df: DataFrame,
    group_cols: list[str],
    token_col: str,
    *,
    depth: int = 4,
    width: int = 256,
    salt: str = "cm",
) -> DataFrame:
    """X169b — the count-min GRID as a frame, built by streaming rows
    through the sketch: every input row (one token occurrence) fans out
    to ``depth`` probes and the grid cell counts them. One SINGLE
    count aggregation — exactly what Structured Streaming append mode
    supports (put an event-time window in ``group_cols`` plus a
    watermark; the end-to-end stream drive is unit-pinned) — and the
    emitted ``(group…, _i, _b, _cnt)`` rows ARE the mergeable state:
    grids from different shards, windows, or engines merge by
    ``groupBy(group, _i, _b).sum(_cnt)``. By associativity this equals
    :func:`countmin_heavy_hitters`'s batch grid (which folds the
    vocab-bounded count table instead — cheaper when the corpus is at
    rest); the equality is unit-pinned. Only non-empty cells emit.

    Same salted md5 bucket derivation as the batch operator, so the
    two tiers' grids are interchangeable state.
    """
    h = F.md5(
        F.concat(
            F.lit(salt),
            F.col("_i").cast("string"),
            F.lit(":"),
            F.col(token_col),
        )
    )
    probes = df.select(
        *group_cols,
        F.col(token_col),
        F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("_i"),
    ).select(*group_cols, "_i", _nibble_bucket(h, width).alias("_b"))
    return probes.groupBy(*group_cols, "_i", "_b").agg(
        F.count(F.lit(1)).cast("long").alias("_cnt")
    )


def hll_distinct(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    *,
    b: int = 8,
    salt: str = "hll",
) -> DataFrame:
    """X170 deterministic HyperLogLog distinct estimate (Flajolet,
    Fusy, Gandouet & Meunier 2007) per group: value ``v`` hashes to
    ``md5(salt‖':'‖v)``; the first ``b/4`` hex nibbles pick one of
    ``m = 2^b`` registers and the NEXT 13 nibbles form a 52-bit window
    whose leading-zero run sets ``rho`` (position of the first 1 bit;
    53 if the window is all zeros). Register ``j`` keeps
    ``M_j = max(rho)`` — duplicates hash identically, so NO distinct
    shuffle ever happens: the whole pass is one map-side-combined
    ``(group, j) → max`` aggregate, and registers from different
    shards/engines merge by ``max`` (the property the engine-private
    builtin sketches cannot offer). Estimate
    ``E = α_m·m²/Σ_j 2^(−M_j)`` with the standard small-range linear
    counting correction ``m·ln(m/V)`` when ``E ≤ 2.5m`` and ``V`` (the
    zero-register count) is positive; the large-range 32-bit-hash
    correction is unnecessary — the 52-bit window never saturates at
    any real cardinality.

    Float determinism: ``2^(−M_j)`` terms are exact binary powers,
    folded SEQUENTIALLY in register order (j = 0 … m−1, initial 0.0) —
    the oracle replays the identical IEEE chain via
    ``list_reduce(list_prepend(0.0, …))``; ``α_m·m²`` is computed ONCE
    driver-side and embedded as the same literal in both engines. The
    integer register witnesses (``register_sum``, ``register_max``,
    ``n_zero_registers``) pin the full register state exactly, so a
    single-bit register divergence breaks the hash even where the
    floored estimate would absorb it.

    Constraints: ``b`` must be a multiple of 4 (nibble-aligned) and
    ``m = 2^b ≥ 128`` (the α constant below is the m ≥ 128 one).

    NULL values are ignored (``COUNT(DISTINCT …)`` semantics — both
    engines agree on that, and a NULL would otherwise poison the md5
    concat). Returns ``(group_cols…, hll_distinct BIGINT,
    n_zero_registers BIGINT, register_sum BIGINT, register_max
    BIGINT)``.
    """
    regs = hll_register_table(
        df, group_cols, value_col, b=b, salt=salt
    )
    return hll_estimate_from_registers(regs, group_cols, b=b)


def hll_register_table(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    *,
    b: int = 8,
    salt: str = "hll",
) -> DataFrame:
    """The HLL register state of :func:`hll_distinct`, exposed as a
    frame: ``(group_cols…, _j INT, _m INT)`` with one row per non-empty
    register. This IS the sketch's mergeable state — register tables
    from different shards, days, or engines merge by
    ``groupBy(group, _j).max(_m)`` — and the aggregation is a SINGLE
    streaming-compatible ``max``: put an event-time window in
    ``group_cols`` (plus a watermark on the source) and this exact
    expression runs under Structured Streaming append mode, sinking
    registers continuously; :func:`hll_estimate_from_registers` folds
    the sunk state into estimates at read time (a second chained
    aggregation is not streamable, and the fold belongs at the reader
    anyway — the state stays mergeable until someone asks for the
    number)."""
    if b % 4 != 0 or (1 << b) < 128:
        raise ValueError("b must be a multiple of 4 with 2^b >= 128")
    df = df.filter(F.col(value_col).isNotNull())
    h = F.md5(
        F.concat(F.lit(f"{salt}:"), F.col(value_col).cast("string"))
    )
    j = F.conv(F.substring(h, 1, b // 4), 16, 10).cast("int")
    bits = F.lpad(
        F.conv(F.substring(h, b // 4 + 1, 13), 16, 2), 52, "0"
    )
    pos = F.instr(bits, "1")
    rho = F.when(pos == 0, F.lit(53)).otherwise(pos)
    return (
        df.select(*group_cols, j.alias("_j"), rho.alias("_r"))
        .groupBy(*group_cols, "_j")
        .agg(F.max("_r").alias("_m"))
    )


def hll_estimate_from_registers(
    regs: DataFrame, group_cols: list[str], *, b: int = 8
) -> DataFrame:
    """Fold a register table (``group_cols…, _j, _m`` — the
    :func:`hll_register_table` shape, possibly the union of several
    merged shards) into the released estimate columns of
    :func:`hll_distinct`. Registers dedupe by max first, so feeding an
    UNMERGED union of shard tables is safe."""
    if b % 4 != 0 or (1 << b) < 128:
        raise ValueError("b must be a multiple of 4 with 2^b >= 128")
    m = 1 << b
    alpha_m2 = 0.7213 / (1.0 + 1.079 / m) * m * m
    merged = regs.groupBy(*group_cols, "_j").agg(
        F.max("_m").alias("_m")
    )
    per_group = merged.groupBy(*group_cols).agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("_j"), F.col("_m")))
        ).alias("_regs"),
        F.sum("_m").cast("long").alias("register_sum"),
        F.max("_m").cast("long").alias("register_max"),
        F.count(F.lit(1)).alias("_npresent"),
    )
    term = lambda t: F.pow(  # noqa: E731 — exact binary power 2^(−M_t)
        F.lit(0.5),
        F.coalesce(
            F.element_at(F.col("_regs"), t.cast("int")), F.lit(0)
        ).cast("double"),
    )
    s = F.aggregate(
        F.transform(F.sequence(F.lit(0), F.lit(m - 1)), term),
        F.lit(0.0).cast("double"),
        lambda acc, x: acc + x,
    )
    v = (F.lit(m) - F.col("_npresent")).cast("bigint")
    e_raw = F.lit(alpha_m2) / F.col("_s")
    e = F.when(
        (e_raw <= F.lit(2.5 * m)) & (F.col("_v") > 0),
        F.lit(float(m))
        * F.log(F.lit(float(m)) / F.col("_v").cast("double")),
    ).otherwise(e_raw)
    return (
        per_group.withColumn("_s", s)
        .withColumn("_v", v)
        .select(
            *group_cols,
            F.floor(e).cast("bigint").alias("hll_distinct"),
            F.col("_v").alias("n_zero_registers"),
            "register_sum",
            "register_max",
        )
    )


def bloom_contamination_gate(
    docs: DataFrame,
    benchmark_ids: DataFrame,
    *,
    m_bits: int = 65536,
    k: int = 3,
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    salt: str = "bloom",
) -> DataFrame:
    """X171 Bloom-filter test-set decontamination gate (Bloom 1970) —
    the CONSTANT-memory twin of dedup.benchmark_contamination: the
    benchmark's word n-grams set ``k`` md5-derived bits each in an
    ``m_bits`` filter, and a corpus gram is flagged iff ALL ``k`` of
    its bits are set. The exact tier broadcasts the full benchmark
    gram STRINGS (state grows with the eval corpus); this gate's state
    is AT MOST ``m_bits`` bit positions (a few KB) no matter how many
    eval suites feed it — the shape that still broadcasts when the
    held-out set is itself huge. Bloom's guarantee is one-sided:
    every true match is flagged (no false negatives — the property a
    decontamination gate must have), false positives only inflate the
    flag count, and the release carries the exact-match count per doc
    so the FP overshoot is *visible* row by row.

    Bit positions are ``md5(salt‖i‖':'‖gram)`` first-5-nibble parses
    mod ``m_bits`` (i = 0…k−1, the count-min key idiom; m_bits must
    be a power of two ≤ 2^20 so the 20-bit parse reduces uniformly).
    Plan shape: benchmark grams → DISTINCT bit positions (bounded by
    m_bits, broadcast); corpus grams explode to k ``(gram, i, pos)``
    probes → broadcast hash equi-join on pos → a gram is flagged when
    all k probes land (``count == k``). No window, no corpus-side
    shuffle of gram strings, integer-exact end to end.

    Returns ``(id_col, n_grams BIGINT, n_bloom_flagged BIGINT,
    n_exact_matches BIGINT)`` for every non-benchmark document with at
    least one flagged gram (the benchmark_contamination release
    contract), where ``n_bloom_flagged ≥ n_exact_matches`` always.
    """
    if m_bits & (m_bits - 1) or m_bits > (1 << 20):
        raise ValueError("m_bits must be a power of two <= 2^20")
    ws = words(text_col)
    nw = F.size("_ws")
    grams = F.array_distinct(
        F.when(
            nw >= n,
            F.transform(
                F.sequence(F.lit(1), nw - (n - 1)),
                lambda i: F.array_join(F.slice("_ws", i, n), " "),
            ),
        ).otherwise(F.array(F.array_join("_ws", " ")))
    )
    bench = benchmark_ids.select(F.col(id_col))
    # join bench ids BEFORE tokenizing: the bench branch then tokenizes
    # only the benchmark docs instead of re-running the words() chain
    # over the whole corpus a second time
    bench_grams = persist(
        docs.join(F.broadcast(bench), id_col)
        .select(F.col(id_col), ws.alias("_ws"))
        .select(F.explode(grams).alias("_gram"))
        .distinct()
    )
    pos = _nibble_bucket(
        F.md5(
            F.concat(
                F.lit(salt),
                F.col("_i").cast("string"),
                F.lit(":"),
                F.col("_gram"),
            )
        ),
        m_bits,
    )
    probe_rows = F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("_i")
    bits = (
        bench_grams.select("_gram", probe_rows)
        .select(pos.alias("_pos"))
        .distinct()
    )
    corpus_grams = persist(
        docs.join(F.broadcast(bench), id_col, "left_anti")
        .select(F.col(id_col), ws.alias("_ws"))
        .select(id_col, F.explode(grams).alias("_gram"))
    )
    flagged = (
        corpus_grams.select(id_col, "_gram", probe_rows)
        .select(id_col, "_gram", pos.alias("_pos"))
        .join(F.broadcast(bits), "_pos")
        .groupBy(id_col, "_gram")
        .agg(F.count(F.lit(1)).alias("_hits"))
        .filter(F.col("_hits") == k)
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).cast("long").alias("n_bloom_flagged"))
    )
    exact = (
        corpus_grams.join(F.broadcast(bench_grams), "_gram")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).cast("long").alias("n_exact_matches"))
    )
    totals = corpus_grams.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_grams")
    )
    return (
        flagged.join(totals, id_col)
        .join(exact, id_col, "left")
        .select(
            id_col,
            "n_grams",
            "n_bloom_flagged",
            F.coalesce("n_exact_matches", F.lit(0))
            .cast("long")
            .alias("n_exact_matches"),
        )
    )


def bloom_bitmask(
    benchmark_docs: DataFrame,
    *,
    m_bits: int = 65536,
    k: int = 3,
    n: int = 5,
    text_col: str = "text",
    salt: str = "bloom",
) -> str:
    """Collect the Bloom filter of ``benchmark_docs``'s word n-grams as
    a ``m_bits``-character '0'/'1' mask string — the DRIVER-LOCAL model
    state of :func:`bloom_contamination_gate`'s bit set (bounded by
    m_bits — 64 KB at the default — the kmeans_fit_model stance). The
    mask is the sketch's portable form: OR-merge masks from different
    eval suites character-wise, ship them to any engine, embed them as
    one literal."""
    if m_bits & (m_bits - 1) or m_bits > (1 << 20):
        raise ValueError("m_bits must be a power of two <= 2^20")
    ws = words(text_col)
    nw = F.size("_ws")
    grams = F.array_distinct(
        F.when(
            nw >= n,
            F.transform(
                F.sequence(F.lit(1), nw - (n - 1)),
                lambda i: F.array_join(F.slice("_ws", i, n), " "),
            ),
        ).otherwise(F.array(F.array_join("_ws", " ")))
    )
    pos = _nibble_bucket(
        F.md5(
            F.concat(
                F.lit(salt),
                F.col("_i").cast("string"),
                F.lit(":"),
                F.col("_gram"),
            )
        ),
        m_bits,
    )
    rows = (
        benchmark_docs.select(ws.alias("_ws"))
        .select(F.explode(grams).alias("_gram"))
        .select(
            "_gram",
            F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("_i"),
        )
        .select(pos.alias("_pos"))
        .distinct()
        .collect()
    )
    mask = ["0"] * m_bits
    for r in rows:
        mask[r._pos] = "1"
    return "".join(mask)


def bloom_flag_grams(
    docs: DataFrame,
    bitmask: str,
    *,
    k: int = 3,
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    salt: str = "bloom",
) -> DataFrame:
    """The STREAMING-native form of the Bloom gate: a STATELESS
    row-level probe — explode grams, derive the k salted positions, and
    flag a gram iff every indexed character of the ``bitmask`` literal
    is '1' (one O(1) ``substring`` per probe; no join, no aggregation,
    no state) — so it runs unchanged under Structured Streaming append
    mode (end-to-end stream drive unit-pinned; equality with the
    batch gate's per-gram flags pinned too). Per-doc rollups belong to
    the reader, exactly like the HLL/CM register/grid sinks.

    Returns ``(id_col, gram, flagged BOOLEAN)`` — one row per distinct
    gram occurrence per document.
    """
    m_bits = len(bitmask)
    if m_bits & (m_bits - 1) or m_bits > (1 << 20):
        raise ValueError("bitmask length must be a power of two <= 2^20")
    ws = words(text_col)
    nw = F.size("_ws")
    grams = F.array_distinct(
        F.when(
            nw >= n,
            F.transform(
                F.sequence(F.lit(1), nw - (n - 1)),
                lambda i: F.array_join(F.slice("_ws", i, n), " "),
            ),
        ).otherwise(F.array(F.array_join("_ws", " ")))
    )
    mask = F.lit(bitmask)

    def hit(i: int):
        pos = _nibble_bucket(
            F.md5(
                F.concat(
                    F.lit(salt),
                    F.lit(str(i)),
                    F.lit(":"),
                    F.col("gram"),
                )
            ),
            m_bits,
        )
        return F.substring(mask, pos + 1, 1) == "1"

    flag = hit(0)
    for i in range(1, k):
        flag = flag & hit(i)
    return (
        docs.select(F.col(id_col), ws.alias("_ws"))
        .select(id_col, F.explode(grams).alias("gram"))
        .select(id_col, "gram", flag.alias("flagged"))
    )


def hll_set_overlap(
    df: DataFrame,
    group_col: str,
    value_col: str,
    *,
    b: int = 8,
    salt: str = "hll",
) -> DataFrame:
    """X176 HLL set-algebra overlap: for every unordered pair of
    groups, the estimated distinct-value cardinalities of each side,
    their UNION (the max-merge of the two register tables — the HLL
    merge identity: registers of A∪B are exactly max(M_A, M_B)), and
    the inclusion-exclusion INTERSECTION estimate ``|A| + |B| − |A∪B|``
    — the "audience overlap" question (shared users across event
    types, shared vocabulary across sources) answered WITHOUT any
    pairwise distinct-shuffle: one register build over the corpus,
    then all pair arithmetic happens on the m-bounded register tables.
    The intersection estimate is signed — inclusion-exclusion over
    three ±1σ estimates can dip below zero for near-disjoint sets;
    releasing the raw signed value keeps the estimator honest (clamp
    at the consumer if needed).

    Scale shape: ONE map-side-combined (group, register) max aggregate
    (no distinct shuffle, the :func:`hll_distinct` pass); the group
    domain is collected driver-side (bounded — the kmeans model-state
    stance) to build the pair list as a LITERAL frame, so the pair
    fan-out is two broadcast equi-joins onto the register table —
    deliberately NOT a non-equi self-join (which would plan a nested
    loop). Estimates reuse :func:`hll_estimate_from_registers`
    verbatim: the union sketch is just the concatenation of both
    sides' registers tagged with the pair key, re-merged by the fold's
    own max.

    Returns ``(group_a, group_b, hll_a BIGINT, hll_b BIGINT,
    hll_union BIGINT, hll_intersection BIGINT)`` with
    ``group_a < group_b``; NULL groups are excluded (a NULL group is
    not a set name).
    """
    regs = persist(hll_register_table(
        df.filter(F.col(group_col).isNotNull()),
        [group_col],
        value_col,
        b=b,
        salt=salt,
    ))
    groups = sorted(
        r[0] for r in regs.select(group_col).distinct().collect()
    )
    pairs = [(a, c) for i, a in enumerate(groups) for c in groups[i + 1 :]]
    if not pairs:
        spark = df.sparkSession
        empty = spark.createDataFrame(
            [],
            f"group_a string, group_b string, hll_a bigint, "
            f"hll_b bigint, hll_union bigint, hll_intersection bigint",
        )
        return empty
    spark = df.sparkSession
    pair_df = spark.createDataFrame(pairs, ["group_a", "group_b"])

    per_group = hll_estimate_from_registers(regs, [group_col], b=b).select(
        F.col(group_col).alias("_g"),
        F.col("hll_distinct").alias("_e"),
    )
    # union sketch per pair: both sides' registers tagged (a, b); the
    # estimate fold re-merges by max, which IS the HLL union
    tag_a = F.broadcast(pair_df).join(
        regs, F.col("group_a") == F.col(group_col)
    ).select("group_a", "group_b", "_j", "_m")
    tag_b = F.broadcast(pair_df).join(
        regs, F.col("group_b") == F.col(group_col)
    ).select("group_a", "group_b", "_j", "_m")
    union_est = hll_estimate_from_registers(
        tag_a.unionByName(tag_b), ["group_a", "group_b"], b=b
    ).select("group_a", "group_b", F.col("hll_distinct").alias("hll_union"))
    return (
        union_est.join(
            per_group.select(
                F.col("_g").alias("group_a"), F.col("_e").alias("hll_a")
            ),
            "group_a",
        )
        .join(
            per_group.select(
                F.col("_g").alias("group_b"), F.col("_e").alias("hll_b")
            ),
            "group_b",
        )
        .select(
            "group_a",
            "group_b",
            "hll_a",
            "hll_b",
            "hll_union",
            (F.col("hll_a") + F.col("hll_b") - F.col("hll_union"))
            .cast("bigint")
            .alias("hll_intersection"),
        )
    )


def cm_join_size_estimate(
    grid_a: DataFrame, grid_b: DataFrame, *, depth: int = 4
) -> DataFrame:
    """X177 sketch-based join-size estimation (the count-min /
    AGMS inner-product estimator, Alon-Gibbons-Matias-Szegedy 1999;
    Cormode & Muthukrishnan 2005 §4.2): given the CM grids of two
    relations' join keys (:func:`cm_grid_table`, same depth/width/salt
    on both sides), ``|A ⋈ B| = Σ_key cntA(key)·cntB(key)`` is
    estimated by ``min_i Σ_b gridA[i][b]·gridB[i][b]`` — an UPPER
    bound (collisions only add non-negative cross terms, the same
    one-sided guarantee as CM point queries), with expected
    overestimate ≤ F1(A)·F1(B)/width per row, tightening as width
    grows. This is the join-cardinality question a 100 TB planner
    wants answered BEFORE executing the join: two constant-size grids
    (mergeable by + across shards) replace touching either relation.

    Plan: one hash equi-join of two depth×width-bounded frames,
    map-side-combined per-row sums, a depth-row min — integer-exact
    end to end. A sketch row with NO shared bucket has inner product 0
    and must WIN the min (the estimate is then exactly 0) — the equi
    join drops such rows, so the final agg treats fewer-than-``depth``
    surviving rows as a zero row (hypothesis-caught: disjoint key sets
    previously returned NULL / an overestimate over surviving rows
    only). Returns one row ``(cm_join_estimate BIGINT)``.
    """
    prod = grid_a.alias("a").join(
        grid_b.alias("b"), ["_i", "_b"]
    ).select(
        F.col("_i"),
        (F.col("a._cnt") * F.col("b._cnt")).cast("long").alias("_p"),
    )
    per_row = prod.groupBy("_i").agg(F.sum("_p").alias("_ip"))
    return per_row.agg(
        F.min("_ip").alias("_m"), F.count(F.lit(1)).alias("_c")
    ).select(
        F.when(F.col("_c") < depth, F.lit(0))
        .otherwise(F.col("_m"))
        .cast("long")
        .alias("cm_join_estimate")
    )
