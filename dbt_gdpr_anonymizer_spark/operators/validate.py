"""Anonymization validation suite — distributed re-design of the reference's
driver-side checks.

Reference: src/dbt_gdpr_anonymizer/scripts/validate_anonymization.py and
tests/assert_no_pii_in_marts.sql. The reference samples ≤100 distinct values
per column into the driver and regex-matches in Python; here every scan is a
DataFrame filter (``rlike``), so matching runs on executors and the driver
only sees counts/samples — the design that survives a 100 TB mart.

Java regex (unlike DuckDB's RE2) supports the reference's negative
lookaheads, so the patterns are reproduced verbatim.

Scale notes:
  * Wide projections and aggregates are built as parsed SQL text, one
    string per output column with its alias inside (``selectExpr``), not as
    chained ``Column`` calls: each ``Column`` call is a py4j round trip
    (PySpark 4.1: ``F.col`` 13 commands, ``F.col(c).alias(n)`` 24), and the
    gate's Column form cost ~100 commands per mart string column, ~7,900
    per run on the 19-string-column services mart (~2.4 s of driver time
    before its first job, 4 cores). As text it is a few commands per
    column. Literals go through ``functions/sqltext.sql_str``, which means
    the same under both ``spark.sql.parser.escapedStringLiterals``
    settings (a wrongly quoted regex would match nothing and pass PII).
  * ``validate()`` fuses every per-table check into one aggregation per
    table instead of re-running the full lineage per metric. When
    ``run_pipeline`` wrote the layer, those aggregates rode the write as
    an ``Observation`` and the gate reads the observed row
    (``bind_observed``): only the k-anonymity group-by runs.
  * ``scan_for_pii`` is a single scan: each row is exploded into its
    (column × pattern) cells once, then filtered — not a union of N×P
    subplans each re-reading the table.
  * GPS precision uses a decimal round-trip, not ``x*100 == floor(x*100)``:
    the float product of a correctly-rounded double (e.g. 4.35*100 =
    434.99999999999994) fails the floor test, producing false violations.
"""

from __future__ import annotations

import weakref
from collections.abc import Sequence
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dbt_gdpr_anonymizer_spark.functions.masking import mask_coordinates_sql
from dbt_gdpr_anonymizer_spark.functions.sqltext import (
    check_quoted_names,
    sql_ident,
    sql_str,
)

# validate_anonymization.py:23-35 — PII detection patterns (verbatim).
EMAIL_PATTERN = r"[A-Za-z0-9._%+-]+@(?!anonymized\.gouv\.fr)[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_PATTERN = r"\+33\s*[1-9]\s*\d{2}\s*\d{2}\s*\d{2}\s*\d{2}(?!\s*XX)"
ADDRESS_PATTERN = r"(?i)\d+\s+(?:rue|avenue|boulevard|place|impasse)\s+[\w\s]+"

PII_PATTERNS = {
    "non_anonymized_email": EMAIL_PATTERN,
    "unmasked_fr_phone": PHONE_PATTERN,
    "street_address": ADDRESS_PATTERN,
}

# A literal that every match of the pattern contains. The regex then runs
# only on cells holding it; ``contains`` compares bytes without building a
# Java String, and the count cannot change. The address pattern has no
# such literal (its only fixed text is case-insensitive).
_PATTERN_GUARDS = {EMAIL_PATTERN: "@", PHONE_PATTERN: "+33"}


def _match_count(col: str, pattern: str) -> str:
    """``count_if`` text: the cells of ``col`` that ``pattern`` matches."""
    match = f"{sql_ident(col)} RLIKE {sql_str(pattern)}"
    guard = _PATTERN_GUARDS.get(pattern)
    if guard is not None:
        match = f"contains({sql_ident(col)}, {sql_str(guard)}) AND {match}"
    return f"count_if({match})"


def _too_precise(c: str, precision: int = 2) -> str:
    """True when coordinate ``c`` carries more than ``precision`` decimals.

    Decimal round-trip comparison: exact for any double that IS the rounded
    value, immune to the ``x*100 != floor(x*100)`` float fragility (the
    reference's string ``split_part`` check has the same intent).
    """
    return f"{c} != {mask_coordinates_sql(c, precision)}"


# The three singular tests (assert_no_pii_in_marts.sql:18-70): name ->
# (violation condition, then the column_name, value and issue_type of a
# failing row). ``validate()`` counts the conditions and
# ``assert_no_pii_in_mart`` returns the rows.
_MART_TESTS = {
    "email": (
        "contact_email IS NOT NULL"
        " AND NOT contact_email LIKE '%@anonymized.gouv.fr'",
        "contact_email",
        "contact_email",
        "Non-anonymized email detected",
    ),
    "phone": (
        "contact_phone IS NOT NULL AND NOT contact_phone LIKE '%XX%'",
        "contact_phone",
        "contact_phone",
        "Non-masked phone number detected",
    ),
    "gps": (
        "latitude IS NOT NULL AND longitude IS NOT NULL AND ("
        f"{_too_precise('latitude')} OR {_too_precise('longitude')})",
        "latitude/longitude",
        "concat_ws(', ', cast(latitude as string), cast(longitude as string))",
        "GPS coordinates too precise",
    ),
}


def _string_columns(df: DataFrame) -> list[str]:
    return [
        f.name for f in df.schema.fields if f.dataType.simpleString() == "string"
    ]


def assert_no_pii_in_mart(mart: DataFrame) -> DataFrame:
    """The singular end-to-end PII test (assert_no_pii_in_marts.sql:18-70).

    Returns the violations DataFrame (empty == pass): un-anonymized emails,
    unmasked phones, and >2-decimal GPS coordinates, UNION ALL'd with the
    reference's 4-column shape.
    """
    parts = [
        mart.filter(cond).selectExpr(
            "'mart_services_open_data' AS table_name",
            f"'{column}' AS column_name",
            f"{value} AS value",
            f"'{issue}' AS issue_type",
        )
        for cond, column, value, issue in _MART_TESTS.values()
    ]
    return parts[0].unionByName(parts[1]).unionByName(parts[2])


def scan_for_pii(
    df: DataFrame,
    table_name: str = "table",
    patterns: dict[str, str] = PII_PATTERNS,
    sample_per_column: int = 100,
) -> DataFrame:
    """Regex PII scan over every string column — ONE scan of the table.

    Each row is exploded into its (column, value) string cells, cross-
    producted with the (issue, pattern) list via a second explode, then
    filtered with ``regexp_like(value, pattern)``. The table is read once;
    the reference reads it once per column (validate_anonymization.py:96-134)
    and the previous design here unioned N×P limited subplans.

    ``sample_per_column`` caps output rows per (column, issue) via a window
    over the (tiny) post-filter match set.
    """
    string_cols = _string_columns(df)
    if not string_cols:
        raise ValueError("no string columns to scan")
    check_quoted_names(df.sparkSession, string_cols)

    cells = ", ".join(
        f"named_struct('column_name', {sql_str(c)}, 'value', {sql_ident(c)})"
        for c in string_cols
    )
    pats = ", ".join(
        f"named_struct('issue_type', {sql_str(issue)}, 'pattern', {sql_str(pat)})"
        for issue, pat in patterns.items()
    )
    return (
        df.selectExpr(f"explode(array({cells})) AS cell")
        .filter("cell.value IS NOT NULL")
        .selectExpr(
            "cell.column_name", "cell.value", f"explode(array({pats})) AS p"
        )
        .filter("regexp_like(value, p.pattern)")
        .selectExpr(
            f"{sql_str(table_name)} AS table_name",
            "column_name",
            "value",
            "p.issue_type AS issue_type",
            "row_number() OVER (PARTITION BY column_name, p.issue_type"
            " ORDER BY value) AS _rn",
        )
        .filter(f"_rn <= {int(sample_per_column)}")
        .drop("_rn")
    )


@dataclass
class QualityMetrics:
    emails: dict
    phones: dict
    coordinates: dict


# The nine conditional aggregates (validate_anonymization.py:154-211),
# computable in one pass. ``bad`` counts are derived as total - ok so the
# two can never disagree. ``count`` and ``count_if`` are 0, not NULL, over
# an empty table.
_COORDS = "latitude_anon IS NOT NULL AND longitude_anon IS NOT NULL"
_QUALITY_AGGS = (
    "count(contact_email_anon) AS email_total",
    "count_if(contact_email_anon LIKE '%@anonymized.gouv.fr') AS email_ok",
    "count(contact_phone_anon) AS phone_total",
    "count_if(contact_phone_anon LIKE '%XX XX XX XX') AS phone_ok",
    f"count_if({_COORDS}) AS coord_total",
    f"count_if({_COORDS} AND NOT ({_too_precise('latitude_anon')})"
    f" AND NOT ({_too_precise('longitude_anon')})) AS coord_ok",
)


def _metrics_from_row(row) -> QualityMetrics:
    def rate(ok: int, total: int) -> float:
        return (ok / total * 100) if total else 0.0

    return QualityMetrics(
        emails={
            "total": row["email_total"],
            "properly_anonymized": row["email_ok"],
            "improperly_anonymized": row["email_total"] - row["email_ok"],
            "success_rate": rate(row["email_ok"], row["email_total"]),
        },
        phones={
            "total": row["phone_total"],
            "properly_masked": row["phone_ok"],
            "improperly_masked": row["phone_total"] - row["phone_ok"],
            "success_rate": rate(row["phone_ok"], row["phone_total"]),
        },
        coordinates={
            "total": row["coord_total"],
            "properly_rounded": row["coord_ok"],
            "success_rate": rate(row["coord_ok"], row["coord_total"]),
        },
    )


# Aggregate rows observed while a layer was written, keyed by the frame
# that reads the written rows back, with the aggregate texts they answer.
# Weak keys: the row lives exactly as long as the frame.
_OBSERVED: weakref.WeakKeyDictionary[DataFrame, tuple[list[str], dict]] = (
    weakref.WeakKeyDictionary()
)


def bind_observed(df: DataFrame, aggs: list[str], row: dict) -> None:
    """Record ``row``, the values of ``aggs`` observed over exactly the rows
    and column types ``df`` reads, so the gate need not scan ``df``."""
    _OBSERVED[df] = (aggs, row)


def _aggregate_row(df: DataFrame, aggs: list[str]):
    """The values of ``aggs`` over ``df``: the observed row bound to this
    very frame, else one scan. A derived frame is always scanned."""
    seen = _OBSERVED.get(df)
    if seen is not None and seen[0] == aggs:
        return seen[1]
    return df.selectExpr(*aggs).collect()[0]


def quality_aggs(enriched: DataFrame) -> list[str]:
    """The gate's aggregates over ``enriched``: the quality metrics."""
    return list(_QUALITY_AGGS)


def mart_aggs(mart: DataFrame) -> list[str]:
    """The gate's aggregates over ``mart``: the three singular-test
    violation counts and every (string column × pattern) regex hit count.
    The hit counts travel as ONE array column, so the build costs the same
    number of py4j commands at any mart width."""
    cols = _string_columns(mart)
    check_quoted_names(mart.sparkSession, cols)
    scan = ", ".join(_match_count(c, p) for c in cols for p in PII_PATTERNS.values())
    return [
        *[f"count_if({t[0]}) AS viol_{name}" for name, t in _MART_TESTS.items()],
        f"array({scan}) AS scan",
    ]


def check_anonymization_quality(enriched: DataFrame) -> QualityMetrics:
    """Conditional-aggregate quality metrics in one pass (the reference runs
    three separate queries)."""
    return _metrics_from_row(_aggregate_row(enriched, quality_aggs(enriched)))


def k_anonymity_violations(
    df: DataFrame, quasi_identifiers: Sequence[str], k: int = 5
) -> DataFrame:
    """Groups smaller than ``k`` over the quasi-identifier set
    (validate_anonymization.py:229-243). Map-side partial aggregation makes
    this a single shuffle on the QI key at any scale. Unordered: the gate
    counts the groups or stores them as parquet."""
    return (
        df.groupBy(*quasi_identifiers)
        .agg(F.count(F.lit(1)).alias("group_size"))
        .filter(F.col("group_size") < k)
    )


def validate(
    enriched: DataFrame,
    mart: DataFrame,
    quasi_identifiers: Sequence[str] = ("organization_category",),
    k: int = 5,
) -> dict:
    """Full validation run (validate_anonymization.py:311-374).

    Three aggregations regardless of table size:
      1. one fused aggregation over ``mart`` (``mart_aggs``): the three
         singular-test violation counts AND every (string column × pattern)
         regex-scan hit count in a single pass;
      2. one fused aggregation over ``enriched``: the quality metrics;
      3. the k-anonymity group-by over ``enriched``.

    1 and 2 read the row observed when ``run_pipeline`` wrote the layer
    and returned this very frame; any other frame is scanned. Measured under AQE (4 cores): 3 Spark jobs on the frames
    ``run_pipeline`` returns, all the k-anonymity group-by's; 7 on frames
    that are scanned. Returns a report dict; callers wanting the violating
    ROWS use ``assert_no_pii_in_mart`` / ``scan_for_pii`` directly, and
    ``run_validation_gate`` persists them + sets the exit code.
    """
    names = [f"scan__{c}__{i}" for c in _string_columns(mart) for i in PII_PATTERNS]
    mrow = _aggregate_row(mart, mart_aggs(mart))
    n_pii = mrow["viol_email"] + mrow["viol_phone"] + mrow["viol_gps"]
    scan_hits = {name: v for name, v in zip(names, mrow["scan"]) if v}
    n_scan = sum(scan_hits.values())

    metrics = check_anonymization_quality(enriched)
    n_kviol = k_anonymity_violations(enriched, list(quasi_identifiers), k).count()
    return {
        "pii_violations": int(n_pii),
        "pii_scan_hits": int(n_scan),
        "pii_scan_detail": {k_: int(v) for k_, v in scan_hits.items()},
        "quality": {
            "emails": metrics.emails,
            "phones": metrics.phones,
            "coordinates": metrics.coordinates,
        },
        "k_anonymity_ok": n_kviol == 0,
        "k_anonymity_violating_groups": n_kviol,
        "passed": n_pii == 0 and n_scan == 0 and n_kviol == 0,
    }


def run_validation_gate(
    enriched: DataFrame,
    mart: DataFrame,
    quasi_identifiers: Sequence[str] = ("organization_category",),
    k: int = 5,
    failures_root: str | None = None,
) -> int:
    """CLI-style validation gate (D5): persist failing rows, return exit code.

    Reference: ``+store_failures: true`` routes failing test rows to the
    ``test_results`` schema (dbt_project.yml:144-154) and
    validate_anonymization.py:353-374 exits 1 on any violation. With
    ``failures_root`` set, violating rows (singular-test + k-anonymity
    groups) are written as parquet under ``{failures_root}/<check>``; rows
    are only computed when the fused ``validate()`` counts say they exist,
    so the green path launches ``validate()``'s jobs only: 3 on the frames
    ``run_pipeline`` returns, 7 on scanned ones (4 cores, AQE).
    """
    report = validate(enriched, mart, quasi_identifiers, k)
    if failures_root:
        if report["pii_violations"] or report["pii_scan_hits"]:
            assert_no_pii_in_mart(mart).write.mode("overwrite").parquet(
                f"{failures_root}/assert_no_pii_in_mart"
            )
            scan_for_pii(mart, "mart_services_open_data").write.mode(
                "overwrite"
            ).parquet(f"{failures_root}/pii_scan")
        if report["k_anonymity_violating_groups"]:
            k_anonymity_violations(
                enriched, list(quasi_identifiers), k
            ).write.mode("overwrite").parquet(f"{failures_root}/k_anonymity")
    return 0 if report["passed"] else 1


@dataclass(frozen=True)
class ColumnTest:
    """One declarative schema test, the dbt generic-test vocabulary
    (models/staging/schema.yml): ``unique`` / ``not_null`` /
    ``accepted_values`` / ``accepted_range`` / ``relationships``.
    ``where`` optionally scopes any test to a row predicate (the
    reference's conditional ``not_null … where: "has_email = 1"``,
    schema.yml:67-68)."""

    column: str
    test: str
    values: tuple | None = None          # accepted_values
    lo: float | None = None              # accepted_range
    hi: float | None = None
    to_table: str | None = None          # relationships
    to_field: str | None = None
    where: str | None = None


def generic_schema_tests(
    tables: dict[str, DataFrame],
    tests: dict[str, Sequence[ColumnTest]],
) -> DataFrame:
    """Declarative schema-test runner — the ``dbt test`` counterpart for
    the generic tests the reference declares per column
    (schema.yml:36-195). Returns one row per test:
    ``(table_name, column_name, test_name, n_violations)``; the gate is
    "every n_violations == 0", and failing-row persistence composes via
    :func:`run_validation_gate`'s store_failures pattern.

    Scale shape — tests are FUSED, not run one-by-one:

    * all row-local tests on a table (not_null / accepted_values /
      accepted_range, with optional ``where`` scopes) collapse into ONE
      conditional-count aggregate pass — a table with 12 declared tests
      still scans once;
    * each ``unique`` test is one groupBy on its key counting duplicated
      values (map-side partial; dbt semantics: the violation count is
      the number of DISTINCT duplicated values);
    * each ``relationships`` test is a left-anti join against the parent
      key set — parent keys are distinct-reduced first and Spark/AQE
      broadcasts a dimension-sized parent automatically.

    The per-test outputs are 1-row aggregates unioned driver-side —
    bounded by test count, never by data volume.
    """
    results: list[DataFrame] = []
    for tname, tlist in tests.items():
        if tname not in tables:
            raise ValueError(
                f"generic_schema_tests: tests reference unknown table "
                f"{tname!r}; known tables: {sorted(tables)}"
            )
        df = tables[tname]
        rowlocal = [t for t in tlist if t.test in (
            "not_null", "accepted_values", "accepted_range")]
        if rowlocal:
            aggs = []
            for i, t in enumerate(rowlocal):
                c = F.col(t.column)
                if t.test == "not_null":
                    bad = c.isNull()
                elif t.test == "accepted_values":
                    # dbt semantics: NULL is not a violation here (that's
                    # not_null's job) — SQL NOT IN returns NULL for NULL
                    bad = c.isNotNull() & ~c.isin(list(t.values))
                else:
                    bad = (c < t.lo) | (c > t.hi)
                if t.where:
                    bad = bad & F.expr(t.where)
                aggs.append(
                    F.sum(F.when(bad, 1).otherwise(0)).cast("long")
                    .alias(f"_t{i}")
                )
            row = df.agg(*aggs)
            longs = [
                F.struct(
                    F.lit(tname).alias("table_name"),
                    F.lit(t.column).alias("column_name"),
                    F.lit(t.test).alias("test_name"),
                    F.col(f"_t{i}").alias("n_violations"),
                )
                for i, t in enumerate(rowlocal)
            ]
            results.append(
                row.select(F.explode(F.array(*longs)).alias("r")).select("r.*")
            )
        for t in tlist:
            if t.test == "unique":
                dup = (
                    df.filter(F.col(t.column).isNotNull())
                    .groupBy(t.column)
                    .agg(F.count(F.lit(1)).alias("_n"))
                    .filter(F.col("_n") > 1)
                    .agg(F.count(F.lit(1)).cast("long").alias("n_violations"))
                )
                results.append(
                    dup.select(
                        F.lit(tname).alias("table_name"),
                        F.lit(t.column).alias("column_name"),
                        F.lit("unique").alias("test_name"),
                        "n_violations",
                    )
                )
            elif t.test == "relationships":
                if t.to_table not in tables:
                    raise ValueError(
                        f"generic_schema_tests: relationships test on "
                        f"{tname}.{t.column} references unknown parent "
                        f"table {t.to_table!r}; known tables: "
                        f"{sorted(tables)}"
                    )
                parent = (
                    tables[t.to_table]
                    .select(F.col(t.to_field).alias("_pk"))
                    .distinct()
                )
                orphan = (
                    df.filter(F.col(t.column).isNotNull())
                    .join(
                        parent,
                        F.col(t.column) == F.col("_pk"),
                        "left_anti",
                    )
                    .agg(F.count(F.lit(1)).cast("long").alias("n_violations"))
                )
                results.append(
                    orphan.select(
                        F.lit(tname).alias("table_name"),
                        F.lit(t.column).alias("column_name"),
                        F.lit("relationships").alias("test_name"),
                        "n_violations",
                    )
                )
    if not results:
        # Empty spec (or only unrecognized test names): return an EMPTY
        # report with the contract schema rather than IndexError — callers
        # treat "no tests declared" as vacuously passing.
        if not tables:
            raise ValueError(
                "generic_schema_tests: no tables provided and no tests "
                "produced a result"
            )
        spark = next(iter(tables.values())).sparkSession
        return spark.createDataFrame(
            [],
            "table_name string, column_name string, "
            "test_name string, n_violations long",
        )
    out = results[0]
    for r in results[1:]:
        out = out.unionByName(r)
    return out


def canary_leak_audit(
    raw: DataFrame,
    anonymized: DataFrame,
    canaries: Sequence[str],
    *,
    text_col: str = "text",
) -> DataFrame:
    """X126 plant-and-verify CANARY audit — the "secret sharer"
    extraction check (Carlini et al. 2019) applied at the
    corpus-anonymization gate: count the documents containing each
    planted canary BEFORE and AFTER the anonymization pass. A scrub/
    erasure/masking pipeline is only trusted when every canary's
    post-pass count is zero; a nonzero ``leaked`` row is the audit
    evidence that a redaction regex or term list has a hole.

    The canary list is bounded audit state (tens of literals), so each
    table is scanned ONCE with one sum-of-contains aggregate per canary
    (codegen conditions, no join, no shuffle beyond the 1-row partial
    agg); only the 2·m counts cross the driver. Returns
    ``(canary, n_raw, n_anonymized, leaked)``.
    """
    spark = raw.sparkSession
    canaries = list(canaries)
    if not canaries:  # nothing planted -> empty audit, not an agg error
        return spark.createDataFrame(
            [],
            "canary string, n_raw bigint, n_anonymized bigint, "
            "leaked boolean",
        )

    def counts(df: DataFrame) -> list[int]:
        row = df.agg(
            *[
                F.sum(
                    F.col(text_col).contains(F.lit(c)).cast("long")
                ).alias(f"_c{i}")
                for i, c in enumerate(canaries)
            ]
        ).collect()[0]
        return [int(row[f"_c{i}"] or 0) for i in range(len(canaries))]

    n_raw = counts(raw)
    n_anon = counts(anonymized)
    return spark.createDataFrame(
        [
            (c, r, a, a > 0)
            for c, r, a in zip(canaries, n_raw, n_anon)
        ],
        "canary string, n_raw bigint, n_anonymized bigint, leaked boolean",
    )


def fd_conformance(
    df: DataFrame,
    lhs_cols: list[str],
    rhs_col: str,
) -> DataFrame:
    """Functional-dependency conformance report: does ``lhs_cols →
    rhs_col`` hold, and how badly not — the schema-level data-quality
    check (Codd FDs; the profiling primitive behind tools like
    Deequ's uniqueness/consistency constraints) a pipeline runs before
    trusting a column as a join key or a generalization target.

    A left-hand-side group VIOLATES the FD when it maps to more than
    one distinct non-NULL ``rhs_col`` value (NULL rhs values are
    ignored — SQL distinct-aggregate convention, documented). Released
    as ONE summary row, all exact integers:
    ``(n_groups, n_violating, n_rows_violating, conformance_ppm)``
    with ``conformance_ppm = 1e6·(n_groups − n_violating) div
    n_groups`` (NULL when the frame is empty).

    Scale shape: one distinct-aggregate groupBy over the lhs key
    (map-side partial on (lhs, rhs) distinct), one 1-row rollup — no
    window, no join, no second corpus pass.
    """
    g = df.groupBy(*[F.col(c) for c in lhs_cols]).agg(
        F.countDistinct(F.col(rhs_col)).alias("_nd"),
        F.count(F.lit(1)).cast("long").alias("_n"),
    )
    viol = F.when(F.col("_nd") > 1, 1).otherwise(0)
    return g.agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.sum(viol).cast("long").alias("n_violating"),
        F.sum(F.when(F.col("_nd") > 1, F.col("_n")).otherwise(0))
        .cast("long")
        .alias("n_rows_violating"),
    ).select(
        "n_groups",
        "n_violating",
        "n_rows_violating",
        F.when(
            F.col("n_groups") > 0,
            F.expr(
                "(n_groups - n_violating) * 1000000 div n_groups"
            ),
        )
        .cast("long")
        .alias("conformance_ppm"),
    )
