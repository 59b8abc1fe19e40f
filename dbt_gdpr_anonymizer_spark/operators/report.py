"""PII inventory report — the DPO-facing audit artifact.

Reference: dbt_project/macros/privacy/generate_pii_report.sql (Jinja walk of
the graph emitting UNION ALL literals) and scripts/export_pii_report.py
(the same inventory hard-coded in Python). Here there is exactly one source
of truth — the policy registry — turned into a small DataFrame; no codegen,
no duplication.
"""

from __future__ import annotations

import csv
import json
from dataclasses import replace
from pathlib import Path

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from dbt_gdpr_anonymizer_spark.config import EngineSettings, settings
from dbt_gdpr_anonymizer_spark.policy import (
    ColumnPolicy,
    TablePolicy,
    validate_policy,
)

REPORT_SCHEMA = T.StructType(
    [
        T.StructField("model_name", T.StringType(), False),
        T.StructField("column_name", T.StringType(), False),
        T.StructField("pii_type", T.StringType(), True),
        T.StructField("anonymization_method", T.StringType(), True),
        T.StructField("data_owner", T.StringType(), True),
        T.StructField("legal_basis", T.StringType(), True),
        T.StructField("retention_days", T.IntegerType(), True),
        T.StructField("k_anonymity_target", T.IntegerType(), True),
    ]
)


def _local_frame(
    spark: SparkSession, schema: T.StructType, rows: list[tuple], n_keys: int
) -> DataFrame:
    """Policy-sized ``rows`` as a DataFrame ordered by their first
    ``n_keys`` fields. Sorted here: a Spark sort would cost two jobs. An
    Arrow table plans as a LocalRelation, so collect() (a timestamp
    column included) runs on the driver with no job; a list of rows
    would be scanned as an RDD, one job."""
    rows = sorted(rows, key=lambda r: r[:n_keys])
    table = pa.Table.from_pylist(
        [dict(zip(schema.names, r)) for r in rows],
        schema=to_arrow_schema(schema),
    )
    return spark.createDataFrame(table)


def _reported_pii(
    tp: TablePolicy, conf: EngineSettings
) -> list[tuple[str, ColumnPolicy]]:
    """``tp``'s PII columns in name order, their data owner, retention
    and k target defaulted from ``conf``. ``validate_policy`` runs first,
    the compile-gate (D1) masking runs too: a PII column whose method is
    missing or unknown raises instead of being reported as masked."""
    validate_policy(tp)
    return [
        (
            col,
            replace(
                p,
                data_owner=p.data_owner or conf.data_owner,
                retention_days=p.retention_days
                if p.retention_days is not None
                else conf.retention_days_default,
                k_anonymity_target=p.k_anonymity_target
                if p.k_anonymity_target is not None
                else conf.k_anonymity_min,
            ),
        )
        for col, p in sorted(tp.pii_columns().items())
    ]


def pii_inventory(
    spark: SparkSession,
    policies: list[TablePolicy],
    conf: EngineSettings | None = None,
    *,
    with_timestamp: bool = True,
) -> DataFrame:
    """Inventory of every PII column across models (generate_pii_report.sql:20-93).

    A policy with a PII column whose method is missing or unknown raises
    ``PolicyError`` (``_reported_pii``).
    """
    conf = conf or settings()
    rows = [
        (
            tp.name,
            col,
            p.pii_type,
            p.anonymization_method,
            p.data_owner,
            p.legal_basis,
            p.retention_days,
            p.k_anonymity_target,
        )
        for tp in policies
        for col, p in _reported_pii(tp, conf)
    ]
    df = _local_frame(spark, REPORT_SCHEMA, rows, 2)
    if with_timestamp:
        df = df.selectExpr("*", "current_timestamp() AS report_generated_at")
    return df


def export_report(
    inventory: DataFrame, out_dir: str, formats: tuple[str, ...] = ("json", "csv")
) -> list[str]:
    """Write the report artifacts (export_pii_report.py:167-195).

    The inventory is policy-sized (tiny), so a driver-side dump of collected
    rows is appropriate — the report itself never scales with data volume.
    """
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    rows = [r.asDict() for r in inventory.collect()]
    for r in rows:
        ts = r.get("report_generated_at")
        if ts is not None:
            r["report_generated_at"] = ts.isoformat()
    written = []
    if "json" in formats:
        path = out / "pii_report.json"
        path.write_text(json.dumps(rows, indent=2, ensure_ascii=False))
        written.append(str(path))
    if "csv" in formats:
        path = out / "pii_report.csv"
        with path.open("w", newline="", encoding="utf-8") as fh:
            if rows:
                writer = csv.DictWriter(fh, fieldnames=list(rows[0].keys()))
                writer.writeheader()
                writer.writerows(rows)
        written.append(str(path))
    return written


ROPA_SCHEMA = T.StructType(
    [
        T.StructField("processing_activity", T.StringType(), False),
        T.StructField("data_categories", T.StringType(), False),
        T.StructField("special_category", T.BooleanType(), False),
        T.StructField("legal_bases", T.StringType(), True),
        T.StructField("retention_days_max", T.IntegerType(), True),
        T.StructField("n_pii_columns", T.IntegerType(), False),
        T.StructField("n_direct_identifiers", T.IntegerType(), False),
        T.StructField("data_owners", T.StringType(), True),
        T.StructField("safeguards", T.StringType(), True),
    ]
)


def processing_records(
    spark: SparkSession,
    policies: list[TablePolicy],
    conf: EngineSettings | None = None,
) -> DataFrame:
    """GDPR Art. 30(1) record of processing activities (RoPA) — the
    register every controller must be able to hand the supervisory
    authority: one row per processing activity (here: per policied
    model), aggregating the column-level metadata the policy registry
    already holds into the Art. 30(1) field set — categories of data
    (30(1)(c)), retention envelope (30(1)(f), the MAX across columns:
    the activity keeps data as long as its longest-lived column),
    technical safeguards (30(1)(g): the distinct anonymization methods
    applied), legal bases and owners. The reference exports only the
    column-level inventory (generate_pii_report.sql); the RoPA rollup is
    the controller-facing artifact derived from the same single source
    of truth — no second registry to drift.

    Like :func:`pii_inventory`, the output is policy-sized (one row per
    model, ordered by model), so driver-side assembly is the correct plan
    at any corpus scale: the register scales with the POLICY, never the
    data. Building and collecting it launches no Spark job. Like the
    inventory, a PII column whose method is missing or unknown raises
    ``PolicyError``: safeguards list only methods that exist.
    """
    conf = conf or settings()
    rows = []
    for tp in policies:
        pii = _reported_pii(tp, conf)
        if not pii:
            continue
        cats = sorted({p.pii_type for _, p in pii if p.pii_type})
        bases = sorted({p.legal_basis for _, p in pii if p.legal_basis})
        owners = sorted({p.data_owner for _, p in pii})
        methods = sorted({p.anonymization_method for _, p in pii})
        rets = [p.retention_days for _, p in pii]
        rows.append(
            (
                tp.name,
                ",".join(cats),
                any(
                    p.pii_type in ("health", "biometric", "special")
                    for _, p in pii
                ),
                ",".join(bases) or None,
                max(rets) if rets else None,
                len(pii),
                sum(
                    1
                    for _, p in pii
                    if p.pii_type == "direct_identifier"
                ),
                ",".join(owners) or None,
                ",".join(methods) or None,
            )
        )
    return _local_frame(spark, ROPA_SCHEMA, rows, 1)
