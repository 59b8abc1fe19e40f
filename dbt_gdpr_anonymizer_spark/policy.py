"""The metadata control plane: column-level privacy policy + model rewriter.

The reference declares policy as YAML ``meta:`` on dbt model columns
(models/staging/schema.yml:57-154) and expands it at Jinja compile time
(macros/privacy/mask_model.sql, macros/privacy/mask_columns.sql). Here the
policy is a plain data object applied at DataFrame-construction time — same
effect (one SELECT applying the right masking expression per column), but as
a runtime ``DataFrame -> DataFrame`` function: no codegen step, and Catalyst
still sees one flat projection it can optimize through.

Anonymization-method registry (mask_columns.sql:1-30 dispatcher):
    mask_partial     -> partial phone masking
    hash_sha256      -> salted-hash email pseudonymization
    round_2_decimals -> coordinate precision reduction
    suppress         -> NULL
    aggregate_to_city-> reference declares it (schema.yml:98) but has NO
                        dispatcher branch, so the column silently passes
                        through. We implement it for real; pass
                        ``compat_aggregate_to_city_passthrough=True`` to
                        reproduce the reference's leak-by-omission.
    (anything else)  -> pass-through
Every output column is renamed ``{col}_anon`` (including pass-throughs).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from dbt_gdpr_anonymizer_spark.config import EngineSettings, settings
from dbt_gdpr_anonymizer_spark.functions import masking
from dbt_gdpr_anonymizer_spark.functions.sqltext import (
    check_quoted_names,
    sql_ident,
    sql_str,
)


@dataclass(frozen=True)
class ColumnPolicy:
    """Per-column privacy metadata (schema.yml:57-64 field set)."""

    pii: bool = False
    pii_type: str | None = None  # direct_identifier | quasi_identifier | ...
    anonymization_method: str | None = None
    legal_basis: str | None = None
    retention_days: int | None = None
    k_anonymity_target: int | None = None
    data_owner: str | None = None


@dataclass
class TablePolicy:
    """Policy for one model: column name -> ColumnPolicy."""

    name: str
    columns: dict[str, ColumnPolicy] = field(default_factory=dict)

    @classmethod
    def from_dict(cls, name: str, raw: dict) -> "TablePolicy":
        cols = {
            col: ColumnPolicy(**{k: v for k, v in meta.items()})
            for col, meta in raw.items()
        }
        return cls(name=name, columns=cols)

    def pii_columns(self) -> dict[str, ColumnPolicy]:
        return {c: p for c, p in self.columns.items() if p.pii}


_COLUMN_POLICY_FIELDS = {
    "pii",
    "pii_type",
    "anonymization_method",
    "legal_basis",
    "retention_days",
    "k_anonymity_target",
    "data_owner",
}


def policies_from_schema_yaml(text: str) -> dict[str, "TablePolicy"]:
    """Parse the reference's dbt ``schema.yml`` shape into TablePolicy
    objects — the same metadata control plane, read at runtime instead of
    Jinja compile time.

    Expected shape (models/staging/schema.yml:49-64): ``models`` is a list
    of ``{name, columns: [{name, meta: {pii, pii_type,
    anonymization_method, ...}}]}``. Unknown meta keys are ignored (dbt
    allows arbitrary metadata); columns without ``meta`` get the default
    (non-PII) policy so the masking rewriter passes them through.
    """
    import yaml

    doc = yaml.safe_load(text) or {}
    out: dict[str, TablePolicy] = {}
    for model in doc.get("models", []) or []:
        cols: dict[str, ColumnPolicy] = {}
        for col in model.get("columns", []) or []:
            meta = col.get("meta") or {}
            kwargs = {
                k: v for k, v in meta.items() if k in _COLUMN_POLICY_FIELDS
            }
            cols[col["name"]] = ColumnPolicy(**kwargs)
        out[model["name"]] = TablePolicy(name=model["name"], columns=cols)
    return out


class PolicyError(ValueError):
    """Raised when a policy fails validation (reference: raise_compiler_error,
    generate_pii_report.sql:147-176)."""


def validate_policy(policy: TablePolicy) -> None:
    """Fail fast if any PII column lacks an anonymization method (D1)."""
    missing = [
        c
        for c, p in policy.columns.items()
        if p.pii and not p.anonymization_method
    ]
    if missing:
        raise PolicyError(
            f"PII columns without anonymization_method in '{policy.name}': "
            f"{sorted(missing)}"
        )


# Wide projections are built as parsed SQL text, one string per output
# column with the alias inside it (functions/sqltext.py): in PySpark 4.1
# ``F.col`` costs 13 py4j commands and ``F.col(c).alias(n)`` 24, while one
# ``selectExpr`` of n strings costs about n + 5. r12 measured mask_model's
# per-column Column chains at ~0.16 s of driver socket chatter per
# mart_pipeline build; as one selectExpr the build cost no longer grows
# with the column count. The four reference methods, the pass-through and
# the ``AS {name}_anon`` alias are therefore SQL text. Each template is
# the EXACT SQL form of the former Column chain — the same null/empty
# guard (CASE with no ELSE releases the same typed NULL the old
# .otherwise(lit(None)) did), the same decimal-cast rounding, the same
# sha2/substring shapes — verified hash-identical on every consumer query
# at 3 SFs. Extension methods that only exist as Columns (generalize, the
# fpe_digits HOF, the FF1 UDF) keep their Column builders; a model using
# one is projected with ``select`` and its SQL columns parsed one by one.
# Registry functions take the column NAME and return SQL text or a Column.
def _method_registry(
    conf: EngineSettings, city_column: str | None
) -> dict[str, Callable[[str], str | Column]]:
    from dbt_gdpr_anonymizer_spark.config import ANON_EMAIL_DOMAIN

    salt = sql_str(conf.salt_key)
    dom = sql_str("@" + ANON_EMAIL_DOMAIN)
    p = int(conf.gps_precision)

    def guarded(c: str, masked_sql: str) -> str:
        return f"CASE WHEN {c} IS NOT NULL AND {c} != '' THEN {masked_sql} END"

    def mask_partial(c: str) -> str:
        cs = sql_ident(c)
        return guarded(
            cs, f"concat(substring(trim({cs}), 1, 6), ' XX XX XX XX')"
        )

    def hash_sha256(c: str) -> str:
        cs = sql_ident(c)
        return guarded(
            cs,
            "concat('user_', substring(sha2(concat(lower(trim("
            f"{cs})), {salt}), 256), 1, 16), {dom})",
        )

    def round_dec(c: str) -> str:
        cs = sql_ident(c)
        return f"cast(cast(cast({cs} as double) as decimal(18,{p})) as double)"

    city = sql_ident(city_column) if city_column else "cast(null as string)"
    return {
        "mask_partial": mask_partial,
        "hash_sha256": hash_sha256,
        "round_2_decimals": round_dec,
        "suppress": lambda c: "cast(null as string)",
        "aggregate_to_city": lambda c: city,
        # extension beyond the reference's four methods: temporal
        # generalization (precision reduction for dates, the counterpart
        # of round_2_decimals for coordinates)
        "generalize_to_month": lambda c: masking.generalize_date(
            F.col(c), "month"
        ),
        # extension: format-preserving digit pseudonymization (the FPE
        # method class — masked output inhabits the input format)
        "fpe_digits": lambda c: masking.fpe_digits(F.col(c), conf.salt_key),
        # extension: real NIST SP 800-38G FF1 (functions/fpe.py — AES-128
        # Feistel, NIST-vector-validated) behind the same format contract;
        # Arrow-batched pandas UDF, the documented slow-path tier. Key is
        # derived from the configured salt (md5 → 16 bytes).
        "fpe_ff1": _ff1_method(conf),
    }


def _ff1_method(conf: EngineSettings) -> Callable[[Column], Column]:
    import hashlib

    from dbt_gdpr_anonymizer_spark.functions.fpe import ff1_digits_udf

    udf = ff1_digits_udf(hashlib.md5(conf.salt_key.encode()).hexdigest())
    return lambda c: udf(F.col(c))


def _masked(
    name: str,
    policy: ColumnPolicy | None,
    registry: dict[str, Callable[[str], str | Column]],
    compat_aggregate_to_city_passthrough: bool,
) -> str | Column:
    """One column's masked expression aliased ``{name}_anon``: SQL text
    for the reference methods and the pass-through, a Column for the
    Column-only extension methods."""
    method = policy.anonymization_method if policy else None
    if method == "aggregate_to_city" and compat_aggregate_to_city_passthrough:
        method = None  # reference behavior: no branch -> pass-through
    fn = registry.get(method or "")
    out = fn(name) if fn else sql_ident(name)
    alias = f"{name}_anon"
    if isinstance(out, str):
        return f"{out} AS {sql_ident(alias)}"
    return out.alias(alias)


def mask_column(
    name: str,
    policy: ColumnPolicy | None,
    conf: EngineSettings,
    *,
    city_column: str | None = None,
    compat_aggregate_to_city_passthrough: bool = False,
) -> Column:
    """Dispatch one column through its anonymization method (M6).

    Unknown/missing methods pass through; every result is aliased
    ``{name}_anon`` exactly like the reference dispatcher. A whole model
    goes through ``mask_model``, which builds the method registry once
    (r12: each registry build constructs the FF1 pandas UDF).
    """
    names = [name] + ([city_column] if city_column else [])
    check_quoted_names(SparkSession.active(), names)
    registry = _method_registry(conf, city_column)
    out = _masked(name, policy, registry, compat_aggregate_to_city_passthrough)
    return F.expr(out) if isinstance(out, str) else out


def mask_model(
    df: DataFrame,
    policy: TablePolicy,
    conf: EngineSettings | None = None,
    *,
    city_column: str | None = "city",
    compat_aggregate_to_city_passthrough: bool = False,
    validate: bool = True,
) -> DataFrame:
    """Model-level rewriter (M7): one projection masking every column.

    Column set and order come from the physical DataFrame (``df.columns``),
    mirroring the reference's ``adapter.get_columns_in_relation`` — columns
    absent from the policy still flow through (renamed ``_anon``). With
    only SQL-text methods in use the projection is one ``selectExpr``.
    """
    conf = conf or settings()
    if validate:
        validate_policy(policy)
    columns = df.columns
    check_quoted_names(df.sparkSession, columns)
    city = city_column if city_column in columns else None
    registry = _method_registry(conf, city)  # once, not per column (r12)
    exprs = [
        _masked(
            name,
            policy.columns.get(name),
            registry,
            compat_aggregate_to_city_passthrough,
        )
        for name in columns
    ]
    if all(isinstance(e, str) for e in exprs):
        return df.selectExpr(*exprs)
    return df.select([F.expr(e) if isinstance(e, str) else e for e in exprs])


# The reference's canonical staging policy (schema.yml:49-154), reusable in
# tests and as documentation of the expected shape.
SERVICES_POLICY = TablePolicy(
    name="stg_services_publics",
    columns={
        "contact_email": ColumnPolicy(
            pii=True,
            pii_type="direct_identifier",
            anonymization_method="hash_sha256",
            legal_basis="GDPR Art. 6.1.e",
            retention_days=730,
            data_owner="DPO",
        ),
        "contact_phone": ColumnPolicy(
            pii=True,
            pii_type="direct_identifier",
            anonymization_method="mask_partial",
            legal_basis="GDPR Art. 6.1.e",
            retention_days=730,
            data_owner="DPO",
        ),
        "street_address": ColumnPolicy(
            pii=True,
            pii_type="quasi_identifier",
            anonymization_method="aggregate_to_city",
            legal_basis="GDPR Art. 6.1.e",
            retention_days=730,
            data_owner="DPO",
        ),
        "latitude": ColumnPolicy(
            pii=True,
            pii_type="quasi_identifier",
            anonymization_method="round_2_decimals",
            k_anonymity_target=5,
            legal_basis="GDPR Art. 6.1.e",
            retention_days=730,
            data_owner="DPO",
        ),
        "longitude": ColumnPolicy(
            pii=True,
            pii_type="quasi_identifier",
            anonymization_method="round_2_decimals",
            k_anonymity_target=5,
            legal_basis="GDPR Art. 6.1.e",
            retention_days=730,
            data_owner="DPO",
        ),
    },
)
