"""Data-layout optimization: Z-order (Morton) clustering keys.

At 100 TB the dominant cost of every selective query is the SCAN, and
the only thing that cuts a scan without an index is file-level
min/max pruning — which works exactly as well as the data is
clustered on the predicate columns. Sorting clusters ONE column;
interleaving the bits of several columns (the Z-order / Morton curve,
Morton 1966; the layout behind Delta ``OPTIMIZE ZORDER BY`` and
Iceberg's sort-order Z-curves) clusters ALL of them at once: rows
close in Z-key are close in every interleaved dimension, so each
file's per-column min/max ranges stay narrow and a predicate on ANY
of the dimensions prunes most files.

The operator here computes the key; the layout itself is then one
``df.repartitionByRange(n, "zkey").sortWithinPartitions("zkey")``
before the write — both plain Spark, both linear. Everything is
INTEGER-exact per-row codegen (no UDF, no shuffle in the key
computation itself): quantization is integer multiply-divide against
a 1-row min/max stats frame (broadcast cross join — the bounded
1-row-stats pattern), and the bit interleave is a generated
shift/mask expression, so a DuckDB oracle replays the key
bit-for-bit.

No reference counterpart: tabodino/dbt-gdpr-anonymizer materializes
models without any layout control; this extends the scale surface
(the anonymized marts this engine writes at 100 TB need clustered
layout far more than the reference's DuckDB-local outputs did).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["zorder_key", "zorder_layout_stats"]

_INTEGRAL = {"tinyint", "smallint", "int", "bigint"}


def _interleave(quantized: list[Column], bits: int) -> Column:
    """Morton-interleave ``n`` quantized ``bits``-bit values: output bit
    ``i*n + j`` is bit ``i`` of input ``j``. Generated as ``n*bits``
    shift/mask terms OR-folded together — the bits are disjoint, so the
    fold order is irrelevant and the whole expression is one
    whole-stage-codegen span (no UDF, no loop at runtime)."""
    n = len(quantized)
    terms = [
        F.shiftleft(F.shiftright(col, i).bitwiseAND(F.lit(1)), i * n + j)
        for i in range(bits)
        for j, col in enumerate(quantized)
    ]
    return reduce(lambda a, b: a.bitwiseOR(b), terms)


def zorder_key(
    df: DataFrame,
    cols: list[str],
    *,
    bits: int = 16,
    key_name: str = "zkey",
) -> DataFrame:
    """Append a Z-order (Morton) key over ``cols`` to ``df``.

    Each column is quantized to ``[0, 2**bits)`` by integer
    multiply-divide against its global min/max — ``(v - mn) * (2**bits
    - 1) div (mx - mn)`` — then the quantized values' bits are
    interleaved into one BIGINT key (low bit of column 0 is the key's
    low bit). All-integer arithmetic: ``v - mn >= 0`` so ``div``
    truncation IS floor, and ``range * (2**bits - 1)`` stays far below
    2**63 for any realistic key domain. A constant column (``mx ==
    mn``) quantizes to 0 — it contributes nothing to the curve rather
    than failing.

    ``cols`` must be integral types — quantizing a double with float
    division would put an engine-rounding boundary inside the key (the
    ``range_bucket_offsets.weight_col`` fail-fast precedent). Cast
    dates/timestamps to epoch days/seconds first.

    Scale shape: the min/max stats frame is ONE row, broadcast
    cross-joined in (the bounded 1-row-stats pattern); the key itself
    is pure per-row codegen. The whole thing adds zero shuffles —
    the layout pass that consumes it (``repartitionByRange(key)`` +
    sorted write) is the only exchange, and it is the point.
    """
    if not 1 <= bits * len(cols) <= 62:
        raise ValueError("bits * len(cols) must fit a positive BIGINT")
    for c in cols:
        t = dict(df.dtypes).get(c)
        if t not in _INTEGRAL:
            raise TypeError(
                f"zorder_key: column {c!r} has type {t}; cast to an "
                "integral type first (float quantization would put an "
                "engine-rounding boundary inside the key)"
            )
    stats = df.agg(
        *[
            f(c).cast("long").alias(f"_{nm}_{c}")
            for c in cols
            for nm, f in (("mn", F.min), ("mx", F.max))
        ]
    )
    top = (1 << bits) - 1
    bound = df.crossJoin(F.broadcast(stats))
    quantized = [
        F.when(
            F.col(f"_mx_{c}") == F.col(f"_mn_{c}"), F.lit(0).cast("long")
        ).otherwise(
            F.expr(
                f"(cast({c} as bigint) - _mn_{c}) * {top} div "
                f"(_mx_{c} - _mn_{c})"
            )
        )
        for c in cols
    ]
    out = bound.withColumn(key_name, _interleave(quantized, bits)).drop(
        *[f"_{nm}_{c}" for c in cols for nm in ("mn", "mx")]
    )
    return out


def zorder_layout_stats(
    df: DataFrame,
    cols: list[str],
    *,
    bits: int = 16,
    n_buckets: int = 64,
) -> DataFrame:
    """The pruning story made measurable: assign each row to one of
    ``n_buckets`` equal Z-key-space slices (``zkey div (2**(bits*n) /
    n_buckets)`` — fixed boundaries, no data-dependent split, no
    window) and release each bucket's row count plus per-dimension
    min/max — exactly the file-footer statistics a reader prunes on.
    Narrow ranges in EVERY dimension at once is what Z-order buys over
    a plain sort (which narrows only its leading column).

    Returns one row per non-empty bucket:
    ``(zbucket, n_rows, {col}_min, {col}_max ...)``.
    One shuffle (the groupBy), map-side combined.
    """
    n = len(cols)
    span = (1 << (bits * n)) // n_buckets
    keyed = zorder_key(df, cols, bits=bits)
    aggs = [F.count(F.lit(1)).cast("long").alias("n_rows")]
    for c in cols:
        aggs.append(F.min(c).cast("long").alias(f"{c}_min"))
        aggs.append(F.max(c).cast("long").alias(f"{c}_max"))
    return (
        keyed.withColumn(
            "zbucket", F.expr(f"zkey div {span}").cast("int")
        )
        .groupBy("zbucket")
        .agg(*aggs)
    )
