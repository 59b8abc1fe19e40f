"""Relational operators Spark lacks natively: as-of join and SCD2 snapshots.

Both are built from one union + window pass — no range-condition join (which
Catalyst can only execute as a broadcast-nested-loop) and no per-group
Python. This is the shape that scales: a single hash shuffle on the join
key, then a sorted window scan within each partition.

No direct reference equivalent: the reference *declares* dbt snapshots
(timestamp strategy, dbt_project.yml:161-173) but ships none; SCD2 here
implements that declared surface.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from dbt_gdpr_anonymizer_spark.operators.caching import persist

__all__ = [
    "asof_join",
    "scd2_from_changes",
    "interval_join",
    "skew_safe_distinct_count",
    "salted_join",
    "incremental_merge",
    "snapshot_diff",
    "range_bucket_offsets",
    "global_row_number",
    "snapshot_merge",
    "group_quantiles_exact",
]


def group_quantiles_exact(
    df: DataFrame,
    group_col: str,
    value_col: str,
    ps: Sequence[tuple[int, int]],
    *,
    out_value: str = "q_value",
) -> DataFrame:
    """X162 EXACT per-group discrete quantiles at corpus scale — without
    Spark's ``percentile`` UDAF, which buffers every group member in
    executor memory (fine for a demo, a 100 TB OOM for a hot group).

    Contract (pinned, engine-portable): for each group g with n non-NULL
    values and each quantile p = num/den, return the smallest value v
    whose cumulative count reaches ``ceil(p·n)`` — the classic
    inverse-ECDF discrete quantile. ``ps`` is a sequence of INTEGER
    rationals ``(num, den)`` (e.g. ``[(1, 2), (95, 100)]``) so the
    target rank ``ceil(num·n / den) = (num·n + den − 1) div den`` is
    exact integer arithmetic in any engine — no float rank, no
    interpolation, no engine-specific quantile definition to match.

    Plan shape: ONE map-side-combined ``(group, value)`` count table —
    bounded by distinct values per group (integer-unit money/score
    domains are small by construction), never row count — then a
    running sum over that bounded per-group histogram (window
    PARTITIONED by group; the hot-group population never sorts, only
    its distinct values do), a tiny cross join against the |ps|-row
    quantile table, and a min-aggregate. NULL values are excluded from
    n (SQL aggregate convention); NULL groups are ordinary groups.
    Returns ``(group_col, p_num, p_den, q_value)`` — one row per group
    per p; empty groups (all-NULL values) produce no rows.
    """
    if not ps:
        raise ValueError("group_quantiles_exact: ps must be non-empty")
    for num, den in ps:
        if not (isinstance(num, int) and isinstance(den, int)):
            raise ValueError(
                "group_quantiles_exact: ps must be integer (num, den) "
                f"rationals, got ({num!r}, {den!r})"
            )
        if den <= 0 or num < 0 or num > den:
            raise ValueError(
                f"group_quantiles_exact: p must satisfy 0 <= num/den <= 1 "
                f"with den > 0, got ({num}, {den})"
            )
    cnt = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(group_col, value_col)
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    w = (
        Window.partitionBy(group_col)
        .orderBy(F.col(value_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wn = Window.partitionBy(group_col).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    run = cnt.select(
        group_col,
        value_col,
        F.sum("_c").over(w).alias("_cum"),
        F.sum("_c").over(wn).alias("_n"),
    )
    # The |ps|-row quantile table rides an exploded LITERAL array — a
    # Generate, not a join: no BroadcastNestedLoopJoin appears in the
    # plan for what is structurally a constant fan-out.
    p_arr = F.array(
        *[
            F.struct(
                F.lit(int(n)).cast("long").alias("p_num"),
                F.lit(int(d)).cast("long").alias("p_den"),
            )
            for n, d in ps
        ]
    )
    target = F.expr("(p_num * _n + p_den - 1) div p_den")
    return (
        run.select(
            group_col,
            value_col,
            "_cum",
            "_n",
            F.explode(p_arr).alias("_p"),
        )
        .select(
            group_col,
            value_col,
            "_cum",
            "_n",
            F.col("_p.p_num").alias("p_num"),
            F.col("_p.p_den").alias("p_den"),
        )
        .groupBy(group_col, "p_num", "p_den")
        .agg(
            F.min(
                F.when(F.col("_cum") >= target, F.col(value_col))
            ).alias(out_value)
        )
    )


def range_bucket_offsets(
    df: DataFrame,
    order_col: str,
    *,
    weight_col: str | None = None,
    n_buckets: int = 64,
) -> DataFrame:
    """Shared two-pass machinery for exact global order-dependent
    computations WITHOUT a single-partition window (the 100×-scale
    killer: an unpartitioned ORDER BY serializes the whole input through
    one task). Returns ``df`` plus two columns:

    * ``_gb`` — a range bucket on ``order_col`` from driver-collected
      approxQuantile split points (splits need not be balanced or even
      deterministic — ONLY consistent between the two passes, which they
      are because they're collected once);
    * ``_goff`` — the exact total of all PRECEDING buckets (row count,
      or ``sum(weight_col)`` when given), broadcast back from a
      ≤ ``n_buckets``-row driver prefix sum.

    A per-bucket window ordered by ``order_col`` plus ``_goff`` then
    equals the corresponding global window exactly (integer counts/sums
    are associative): ``row_number() + _goff`` for global numbering,
    ``sum(w).over(bucket window) + _goff`` for a global running total.
    Requires a numeric ``order_col`` (approxQuantile). The bucketed
    input is persisted across the two passes (freed by
    ``release_caches``, see operators/caching.py).
    """
    from pyspark.sql.types import (
        IntegerType,
        IntegralType,
        LongType,
        NumericType,
        StructField,
        StructType,
    )

    if not isinstance(df.schema[order_col].dataType, NumericType):
        raise ValueError(
            f"range_bucket_offsets: order_col {order_col!r} must be "
            "numeric (range buckets come from approxQuantile); for other "
            "types, map to a numeric sort key first"
        )
    if weight_col is not None and not isinstance(
        df.schema[weight_col].dataType, IntegralType
    ):
        # The prefix sum below runs through int(run): a double/decimal
        # weight would silently truncate and break the documented exact
        # equivalence to the global running total. All current callers
        # pass integral token counts; fail fast rather than drift.
        raise ValueError(
            f"range_bucket_offsets: weight_col {weight_col!r} must be an "
            "integral type (the broadcast prefix sum is exact integer "
            "arithmetic); scale fractional weights to integer units "
            "(_cents/_ppm) first"
        )
    probs = [i / n_buckets for i in range(1, n_buckets)]
    splits = sorted(set(df.stat.approxQuantile(order_col, probs, 0.001)))
    bucket = F.lit(0)
    for s in splits:
        bucket = bucket + F.when(
            F.col(order_col) > F.lit(s), 1
        ).otherwise(0)
    b = persist(df.withColumn("_gb", bucket))
    agg = (
        F.count(F.lit(1))
        if weight_col is None
        else F.sum(F.col(weight_col))
    )
    totals = {
        r["_gb"]: r["_t"]
        for r in b.groupBy("_gb").agg(agg.alias("_t")).collect()
    }
    off_rows, run = [], 0
    for k in sorted(totals):
        off_rows.append((k, int(run)))
        run += totals[k]
    offs = F.broadcast(
        df.sparkSession.createDataFrame(
            off_rows,
            StructType(
                [
                    StructField("_gb", IntegerType(), False),
                    StructField("_goff", LongType(), False),
                ]
            ),
        )
    )
    return b.join(offs, "_gb")


def global_row_number(
    df: DataFrame,
    order_col: str,
    *,
    out_col: str = "rn",
    n_buckets: int = 64,
) -> DataFrame:
    """Exact global ``row_number() over (order by order_col)`` via
    :func:`range_bucket_offsets`: each bucket runs its own row_number and
    adds its broadcast offset. Output numbering is identical to the
    global window whenever ``order_col`` values are distinct; under ties
    the within-tie order is arbitrary in BOTH formulations (ties land in
    one bucket, so the distribution of tied ranks is the same set either
    way).
    """
    bo = range_bucket_offsets(df, order_col, n_buckets=n_buckets)
    w = Window.partitionBy("_gb").orderBy(F.col(order_col))
    return bo.withColumn(
        out_col,
        (F.row_number().over(w) + F.col("_goff")).cast("long"),
    ).drop("_gb", "_goff")


def snapshot_merge(
    snapshot: DataFrame | None,
    source: DataFrame,
    *,
    key: str,
    updated_col: str | None = None,
    attr_cols: Sequence[str],
    strategy: str = "timestamp",
    check_cols: Sequence[str] | None = None,
    run_ts=None,
    invalidate_hard_deletes: bool = False,
) -> DataFrame:
    """dbt snapshot merge, BOTH strategies — the last declared reference
    construct without a twin (the reference configures timestamp-strategy
    snapshots at dbt_project.yml:161-173 but ships an empty snapshots
    dir): given the current SCD2 snapshot state and a new source state,
    emit the next snapshot state.

    ``strategy="timestamp"`` (dbt's declared one): a source row whose
    ``updated_col`` is STRICTLY newer than its key's current version
    opens a new version (``valid_from = updated``) and closes the old one
    (``valid_to = new updated``); a source row with an equal or older
    timestamp is a no-op. Re-running with the same source is IDEMPOTENT
    (the strict ``>``: the second pass sees updated == valid_from and
    no-ops) — the kill-and-resume property a scheduler retry needs.

    ``strategy="check"`` (dbt's other strategy, for sources without a
    reliable updated_at): a source row is a change when ANY ``check_cols``
    value differs NULL-SAFELY from the current version; versions are
    stamped with the caller-supplied ``run_ts`` (an explicit literal, per
    the repo's no-current_timestamp determinism rule — dbt stamps the run
    wall clock here, which is exactly what makes its snapshots
    unreproducible). ``check_cols`` defaults to ``attr_cols``; ``run_ts``
    must advance between runs (dbt has the same contract). Re-running the
    same source is idempotent regardless of run_ts: equal attrs are
    no-ops.

    Shared rules: keys absent from the source keep their current version
    open by default (dbt's default); with
    ``invalidate_hard_deletes=True`` (dbt's snapshot config of the same
    name) a current version whose key is ABSENT from the source is
    CLOSED with ``valid_to = run_ts`` — dbt stamps the run wall clock
    here for BOTH strategies, so this flag requires an explicit
    ``run_ts`` even under the timestamp strategy (the repo's
    no-current_timestamp determinism rule). A later reappearance of the
    key inserts a fresh version (dbt's behavior). Re-running the same
    source is still idempotent: the deleted key's version is already
    closed, so the second pass sees nothing to close. Keys absent from
    the snapshot insert fresh. Source must carry at most one row per
    key per run (the dbt uniqueness contract — duplicate-key behavior is
    undefined there too). Timestamp-strategy source rows with a NULL
    ``updated_col`` cannot be versioned: the current version stays open
    and new keys don't insert — but the row still counts as PRESENT for
    hard-delete purposes (an unstampable row is bad data, not a
    deletion; letting the NULL flow through the strict ``>`` would
    silently DELETE the key's open version — three-valued logic fails
    all three disjoint arms).

    Plan: ONE full-outer hash join on ``key`` between the snapshot's
    current versions and the source, then three disjoint projections
    unioned with the closed history — one shuffle regardless of history
    depth; history rows are never rewritten. Returns
    ``(key, *attr_cols, valid_from, valid_to)`` where an open version has
    ``valid_to IS NULL``.
    """
    if strategy == "timestamp":
        if updated_col is None:
            raise ValueError(
                "snapshot_merge: strategy='timestamp' requires updated_col"
            )
        stamp = F.col(updated_col)
    elif strategy == "check":
        if run_ts is None:
            raise ValueError(
                "snapshot_merge: strategy='check' requires an explicit "
                "run_ts (dbt stamps the run wall clock here; this engine "
                "requires the literal so snapshots stay reproducible)"
            )
        stamp = F.lit(run_ts)
        check_cols = list(check_cols if check_cols is not None else attr_cols)
    else:
        raise ValueError(f"snapshot_merge: unknown strategy {strategy!r}")
    if invalidate_hard_deletes and run_ts is None:
        raise ValueError(
            "snapshot_merge: invalidate_hard_deletes requires an explicit "
            "run_ts (dbt stamps the run wall clock on the closed version; "
            "this engine requires the literal so snapshots stay "
            "reproducible)"
        )
    # NULL-stamped rows are kept here as PRESENT (they matter to the
    # hard-delete arm) but every version-opening/closing arm below
    # requires a non-null _s_upd — see the docstring's NULL contract.
    src = source.select(
        F.col(key),
        stamp.alias("_s_upd"),
        *[F.col(a).alias(f"_s_{a}") for a in attr_cols],
        F.lit(1).alias("_s_here"),
    )
    if not invalidate_hard_deletes:
        # Without the hard-delete arm, a NULL-stamped row is
        # indistinguishable from an absent key (every arm below either
        # requires a non-null _s_upd or treats the row as kept-current,
        # which is also what key-absence yields), so pre-filtering is a
        # semantic no-op — and it restores the IsNotNull pushdown to the
        # source scan that the r9 hard-delete change removed (the scd2
        # bench regression suspect). Under the check strategy the stamp
        # is a literal and the filter folds away.
        src = src.filter(F.col("_s_upd").isNotNull())
    if snapshot is None:
        return src.filter(F.col("_s_upd").isNotNull()).select(
            key,
            *[F.col(f"_s_{a}").alias(a) for a in attr_cols],
            F.col("_s_upd").alias("valid_from"),
            F.lit(None).cast(src.schema["_s_upd"].dataType).alias(
                "valid_to"
            ),
        )
    snap = snapshot.select(key, *attr_cols, "valid_from", "valid_to")
    hist = snap.filter(F.col("valid_to").isNotNull())
    cur = snap.filter(F.col("valid_to").isNull()).withColumn(
        "_c_here", F.lit(1)
    )
    j = cur.join(src, key, "full_outer")
    if strategy == "timestamp":
        # coalesce(…, false): a NULL _s_upd (present-but-unstampable
        # source row) must read as NOT-changed, not as three-valued
        # NULL — a NULL `changed` would fall through BOTH the changed
        # filter and kept_cur's ~changed, silently deleting the open
        # version (the same failure mode the NULL-stamp guard exists
        # for).
        is_change = F.coalesce(
            F.col("_s_upd") > F.col("valid_from"), F.lit(False)
        )
    else:  # check: any tracked column differs, null-safely
        is_change = ~F.struct(
            *[F.col(c) for c in check_cols]
        ).eqNullSafe(F.struct(*[F.col(f"_s_{c}") for c in check_cols]))
    changed = (
        F.col("_c_here").isNotNull()
        & F.col("_s_here").isNotNull()
        & is_change
    )
    # Hard-delete invalidation (dbt invalidate_hard_deletes): a current
    # version whose key is absent from THIS run's source closes at
    # run_ts. Disjoint from every other arm (_s_here is null here, not
    # null everywhere else).
    deleted = (
        F.col("_c_here").isNotNull() & F.col("_s_here").isNull()
        if invalidate_hard_deletes
        else F.lit(False)
    )
    # The four disposition arms are emitted from ONE evaluation of the
    # join — a guarded struct per arm, explode(filter(...)) dropping the
    # arms a row doesn't take (a changed row takes TWO: it closes the
    # old version and opens the new one). The previous shape filtered
    # the join once per arm and unioned: ReuseExchange dedupes the
    # shuffle writes but each arm still re-reads and re-joins, so a
    # chained multi-run merge (scd2_snapshot_orders: two runs) paid the
    # join 3-4× per run. Semantics and output are byte-identical.
    ts_t = snap.schema["valid_from"].dataType

    def _arm(cond, attrs, vfrom, vto):
        return F.when(
            cond,
            F.struct(
                F.col(key).alias(key),
                *[a.alias(n) for n, a in zip(attr_cols, attrs)],
                vfrom.alias("valid_from"),
                vto.alias("valid_to"),
            ),
        )
    cur_attrs = [F.col(a) for a in attr_cols]
    src_attrs = [F.col(f"_s_{a}") for a in attr_cols]
    arms = [
        # closed: the changed key's old version, valid_to = new stamp
        _arm(changed, cur_attrs, F.col("valid_from"),
             F.col("_s_upd").cast(ts_t)),
        # kept: current version unchanged (and not hard-deleted)
        _arm(F.col("_c_here").isNotNull() & ~changed & ~deleted,
             cur_attrs, F.col("valid_from"), F.col("valid_to")),
        # opened: new key or changed key's fresh version
        _arm(
            F.col("_s_here").isNotNull()
            & F.col("_s_upd").isNotNull()
            & (F.col("_c_here").isNull() | changed),
            src_attrs, F.col("_s_upd"), F.lit(None).cast(ts_t),
        ),
    ]
    if invalidate_hard_deletes:
        arms.insert(1, _arm(deleted, cur_attrs, F.col("valid_from"),
                            F.lit(run_ts).cast(ts_t)))
    merged = (
        j.select(
            F.explode(
                F.filter(F.array(*arms), lambda s: s.isNotNull())
            ).alias("_r")
        )
        .select("_r.*")
    )
    return hist.unionByName(merged)


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    *,
    left_ts: str = "ts",
    right_ts: str = "ts",
    right_cols: Sequence[str] | None = None,
    suffix: str = "_asof",
) -> DataFrame:
    """Backward as-of join: for each left row, attach the latest right row
    with ``right_ts <= left_ts`` within the same ``on`` key (inclusive —
    DuckDB ``ASOF JOIN ... ON l.ts >= r.ts`` semantics). Left rows without
    a match keep NULLs (left-join behavior).

    Plan: tag and union both sides, then one window per key ordered by
    (ts, side, right-row struct) carrying the last-seen right row forward
    as a struct (``ignorenulls`` over the struct, so NULL attribute values
    inside a right row are preserved, not skipped). The struct itself is
    the tiebreaker: when several right rows share (key, ts) the field-wise
    max row wins, deterministically across runs — a bare (ts, side) order
    would let F.last pick an arbitrary tied row. Cost = one shuffle on
    ``on`` + one sort — no quadratic range join, no driver involvement.
    """
    right_cols = list(
        right_cols
        if right_cols is not None
        else [c for c in right.columns if c not in (on, right_ts)]
    )
    r_struct = F.struct(
        F.col(right_ts).alias("_rts"), *[F.col(c) for c in right_cols]
    )
    r = right.select(
        F.col(on),
        F.col(right_ts).alias("_ts"),
        F.lit(0).alias("_side"),
        r_struct.alias("_r"),
    )
    l = left.select(
        "*", F.col(left_ts).alias("_ts"), F.lit(1).alias("_side")
    )
    u = l.unionByName(r, allowMissingColumns=True)
    w = (
        Window.partitionBy(on)
        .orderBy("_ts", "_side", "_r")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = u.withColumn("_last_r", F.last("_r", ignorenulls=True).over(w))
    out = carried.filter(F.col("_side") == 1).drop("_ts", "_side", "_r")
    out = out.select(
        *[c for c in left.columns],
        F.col("_last_r._rts").alias(f"{right_ts}{suffix}"),
        *[F.col(f"_last_r.{c}").alias(f"{c}{suffix}") for c in right_cols],
    )
    return out


def scd2_from_changes(
    changes: DataFrame,
    key: str,
    ts_col: str,
    attr_cols: Sequence[str],
    *,
    order_cols: Sequence[str] = (),
) -> DataFrame:
    """Build an SCD2 (slowly-changing-dimension type 2) history from a
    change stream: consecutive rows with identical tracked attributes are
    compressed, each surviving version gets ``valid_from``/``valid_to``
    and an ``is_current`` flag.

    Two windows over the same key partitioning (Catalyst reuses one
    shuffle+sort): lag-compare a null-safe struct of the tracked attributes
    to drop no-op changes, then lead() for the validity interval. The
    emulation of dbt's timestamp-strategy snapshot without MERGE support.
    """
    s = F.struct(*[F.col(c) for c in attr_cols])
    w1 = Window.partitionBy(key).orderBy(ts_col, *order_cols)
    compressed = (
        changes.withColumn("_prev", F.lag(s).over(w1))
        .filter(~F.col("_prev").eqNullSafe(s))
        .drop("_prev")
    )
    w2 = Window.partitionBy(key).orderBy(ts_col)
    valid_to = F.lead(ts_col).over(w2)
    return compressed.select(
        key,
        *attr_cols,
        F.col(ts_col).alias("valid_from"),
        valid_to.alias("valid_to"),
        valid_to.isNull().alias("is_current"),
    )


def interval_join(
    points: DataFrame,
    intervals: DataFrame,
    *,
    on: str | None = None,
    point_ts: str = "ts",
    start_col: str = "start",
    end_col: str = "end",
    bucket_seconds: int = 3600,
) -> DataFrame:
    """Range (point-in-interval) join without a nested-loop plan.

    Catalyst executes a raw ``p.ts BETWEEN i.start AND i.end`` join as a
    broadcast-nested-loop — O(|points|·|intervals|). Here both sides are
    bucketized on a fixed time grid: each point maps to one bucket, each
    interval explodes to the buckets it spans, and the join is a hash
    equi-join on (bucket [, key]) followed by the exact range filter.

    Pick ``bucket_seconds`` near the median interval length: shorter → more
    explosion rows per interval; longer → more false candidates per bucket.
    Inner-join semantics (only matched pairs); wrap with a left join against
    the interval table for retain-unmatched semantics.

    Timestamps: bucket values are derived via ``timestamp_ntz``, so they are
    a pure function of each column's WALL-CLOCK value — identical in any
    session timezone (an earlier ``cast("timestamp")`` shifted NTZ inputs
    by the session offset in non-UTC sessions, silently dropping matches at
    bucket boundaries). Mixing a TZ column on one side with an NTZ column
    on the other is still inherently ambiguous — use matching types.
    """
    us = 1_000_000 * bucket_seconds

    def _micros(c: str) -> F.Column:
        # NTZ-based micros: timestampdiff on timestamp_ntz operands is pure
        # value arithmetic, no session-timezone dependency; TZ inputs are
        # rendered in the session tz consistently on both join sides
        return F.expr(
            "timestampdiff(MICROSECOND, "
            "timestamp_ntz'1970-01-01 00:00:00', "
            f"cast(`{c}` as timestamp_ntz))"
        )

    p = points.withColumn("_bucket", (_micros(point_ts) / us).cast("long"))
    i = intervals.withColumn(
        "_bucket",
        F.explode(
            F.sequence(
                (_micros(start_col) / us).cast("long"),
                (_micros(end_col) / us).cast("long"),
            )
        ),
    )
    keys = ["_bucket"] + ([on] if on else [])
    return (
        p.join(i, keys)
        .filter(
            (F.col(point_ts) >= F.col(start_col))
            & (F.col(point_ts) <= F.col(end_col))
        )
        .drop("_bucket")
    )


def skew_safe_distinct_count(
    df: DataFrame, keys: Sequence[str], value: str
) -> DataFrame:
    """COUNT(DISTINCT value) per key group for skewed keys.

    Single-shuffle ``countDistinct`` builds a per-key distinct set on one
    reducer — a hot key OOMs it. Two-phase shape: global distinct on
    (keys, value) first (partial-aggregated map-side, so the hot key's
    duplicates collapse before the shuffle), then a plain count per key.
    Combine with AQE skew handling (enabled in session.py) for the join
    case.
    """
    return (
        df.select(*keys, value)
        .distinct()
        .groupBy(*keys)
        .agg(F.count(F.lit(1)).alias(f"n_distinct_{value}"))
    )


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    on: Sequence[str] | str,
    *,
    salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equi-join that survives a hot join key by key-salting.

    A shuffle join sends every row of a hot key to ONE reducer; AQE's
    skew-join split (enabled in session.py) fixes this at runtime for
    sort-merge joins, but not when a deterministic partitioning must be
    preserved or the skew is on the build side. Explicit salting is the
    planned-ahead alternative: the fact side gets a deterministic salt in
    ``[0, salts)`` (xxhash64 of the whole row — stable across retries,
    unlike ``rand()``), the dim side is replicated once per salt value,
    and the join key becomes (key…, salt). The hot key's rows spread over
    ``salts`` reducers; cost is materializing dim ``salts`` times, so use
    for fact⋈dim shapes where dim is far smaller but too big (or too
    skew-prone) to broadcast.

    Supported ``how``: inner / left (dim replication preserves exactly the
    plain-join semantics for these; right/full would duplicate unmatched
    dim rows per salt).
    """
    if how not in ("inner", "left"):
        raise ValueError("salted_join supports how='inner' or 'left'")
    keys = [on] if isinstance(on, str) else list(on)
    salt = F.pmod(
        F.xxhash64(*[F.col(c) for c in fact.columns]), F.lit(salts)
    ).cast("int")
    f = fact.withColumn("_salt", salt)
    d = dim.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(salts - 1)))
    )
    return f.join(d, keys + ["_salt"], how).drop("_salt")


def incremental_merge(
    existing: DataFrame,
    updates: DataFrame,
    keys: list[str],
) -> DataFrame:
    """dbt-style incremental merge (``unique_key`` upsert): rows from
    ``updates`` replace same-key rows in ``existing``; new keys append.

    The reference's dbt project materializes tables by full rebuild
    (dbt_project/dbt_project.yml:81-110 — no incremental models); this is
    the incremental-materialization counterpart a production deployment
    adds first. One plan: priority-tag both sides, union, keep rank 1 per
    key — a single hash shuffle on the key, no full outer join (which
    shuffles both sides AND pays null-handling on every column).

    At 100 TB the win comes from pairing this with a partitioned sink:
    restrict ``existing`` to the partitions ``updates`` touches (partition
    pruning on the read), merge, and write back with dynamic partition
    overwrite — the merge then scans only the touched partitions, which is
    exactly Delta/Iceberg MERGE minus the transaction log.
    """
    w = Window.partitionBy(*keys).orderBy(F.col("_prio").desc())
    cols = existing.columns
    if set(cols) != set(updates.columns):
        raise ValueError("incremental_merge: schemas must match")
    tagged = updates.select(*cols).withColumn(
        "_prio", F.lit(1)
    ).unionByName(existing.select(*cols).withColumn("_prio", F.lit(0)))
    return (
        tagged.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .drop("_prio", "_rk")
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_col: str,
    fingerprint_col: str,
) -> DataFrame:
    """Dataset-version delta between two corpus snapshots: classify every
    key as ``added`` / ``removed`` / ``changed`` / ``unchanged`` by
    comparing a per-row content fingerprint (caller-supplied — md5 of the
    payload, or a winnowing fingerprint for near-identity).

    The shape a data-versioning layer (lakehouse time travel, training-set
    release audits) needs before re-training: what moved between corpus
    vN and vN+1, without diffing payloads row-by-row.

    Plan: one key-keyed full-outer join — both sides hash-partition on the
    key, the comparison is a row-local CASE. No fingerprint recompute here;
    at 100 TB fingerprints are computed once per snapshot write, and the
    diff only ever moves (key, fingerprint) pairs, not payloads.

    Output: (key, status, old_fp, new_fp).
    """
    o = old.select(
        F.col(key_col).alias("key"),
        F.col(fingerprint_col).alias("old_fp"),
    )
    n = new.select(
        F.col(key_col).alias("key"),
        F.col(fingerprint_col).alias("new_fp"),
    )
    return o.join(n, "key", "full_outer").select(
        "key",
        F.when(F.col("old_fp").isNull(), F.lit("added"))
        .when(F.col("new_fp").isNull(), F.lit("removed"))
        .when(F.col("old_fp") != F.col("new_fp"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
        .alias("status"),
        "old_fp",
        "new_fp",
    )
