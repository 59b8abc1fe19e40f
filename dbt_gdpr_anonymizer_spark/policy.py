"""The metadata control plane: column-level privacy policy + model rewriter.

The reference declares policy as YAML ``meta:`` on dbt model columns
(models/staging/schema.yml:57-154) and expands it at Jinja compile time
(macros/privacy/mask_model.sql, macros/privacy/mask_columns.sql). Here the
policy is a plain data object applied at DataFrame-construction time — same
effect (one SELECT applying the right masking expression per column), but as
a runtime ``DataFrame -> DataFrame`` function: no codegen step, and Catalyst
still sees one flat projection it can optimize through.

Anonymization methods (mask_columns.sql:1-30 dispatcher), each SQL text:
    mask_partial       -> partial phone masking
    hash_sha256        -> salted-hash email pseudonymization
    round_2_decimals   -> coordinate precision reduction
    suppress           -> NULL
    aggregate_to_city  -> reference declares it (schema.yml:98) but has NO
                          dispatcher branch, so the column silently passes
                          through. We implement it for real; pass
                          ``compat_aggregate_to_city_passthrough=True`` to
                          ``mask_model`` to reproduce the reference's
                          leak-by-omission.
    generalize_to_month-> extension: ``date_trunc('MONTH', c)``
    fpe_digits         -> extension: keystream digit FPE, a ``transform``
    fpe_ff1            -> extension: NIST FF1, a registered pandas UDF
    (anything else)    -> pass-through on a non-PII column; on a PII column
                          ``validate_policy`` raises PolicyError, and
                          ``mask_model``, ``mask_column`` and the PII report
                          all call it
Every output column is renamed ``{col}_anon`` (including pass-throughs).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable, NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from dbt_gdpr_anonymizer_spark.config import EngineSettings, settings
from dbt_gdpr_anonymizer_spark.functions import masking
from dbt_gdpr_anonymizer_spark.functions.sqltext import check_quoted_names, sql_ident


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


# Every method is SQL text over the quoted column name, so a whole model
# is one parsed projection: one ``selectExpr`` of one string per output
# column with the alias inside it (functions/sqltext.py). In PySpark 4.1
# ``F.col`` costs 13 py4j commands and ``F.col(c).alias(n)`` 24, while one
# ``selectExpr`` of n strings costs about n + 5, so the build cost barely
# grows with the column count. The formulas are ``functions/masking.py``'s
# ``*_sql`` text, which the masking Column forms parse too; fpe_ff1 is a
# call of a registered session function.
class _Scope(NamedTuple):
    """What a method's SQL text may depend on besides its column."""

    spark: SparkSession
    conf: EngineSettings
    city: str  # SQL text aggregate_to_city releases


def _ff1_sql(c: str, scope: _Scope) -> str:
    """Real NIST SP 800-38G FF1 (functions/fpe.py — AES-128 Feistel,
    NIST-vector-validated) behind the fpe_digits format contract, as an
    Arrow-batched pandas UDF: the documented slow-path tier. Its key is
    derived from the configured salt (md5 → 16 bytes); the UDF is built
    and registered only when a column uses it, under a name derived from
    a digest of the key, so two salts get two functions and a repeated
    call replaces the one it registered before."""
    import hashlib

    from dbt_gdpr_anonymizer_spark.functions.fpe import ff1_digits_udf

    key = hashlib.md5(scope.conf.salt_key.encode()).hexdigest()
    name = "fpe_ff1_" + hashlib.sha256(key.encode()).hexdigest()[:16]
    scope.spark.udf.register(name, ff1_digits_udf(key))
    return f"{name}({c})"


# The anonymization methods (mask_columns.sql:1-30 dispatcher and its
# extensions): name -> SQL text of the masked value.
_METHODS: dict[str, Callable[[str, _Scope], str]] = {
    "mask_partial": lambda c, s: masking.mask_phone_sql(c),
    "hash_sha256": lambda c, s: masking.mask_email_sql(c, s.conf.salt_key),
    "round_2_decimals": lambda c, s: masking.mask_coordinates_sql(
        c, int(s.conf.gps_precision)
    ),
    "suppress": lambda c, s: "cast(null as string)",
    "aggregate_to_city": lambda c, s: s.city,
    # extension: temporal generalization (precision reduction for dates,
    # the counterpart of round_2_decimals for coordinates)
    "generalize_to_month": lambda c, s: masking.generalize_date_sql(c, "month"),
    # extension: format-preserving digit pseudonymization (the FPE method
    # class — masked output inhabits the input format)
    "fpe_digits": lambda c, s: masking.fpe_digits_sql(c, s.conf.salt_key),
    "fpe_ff1": _ff1_sql,
}


def validate_policy(policy: TablePolicy) -> None:
    """Fail fast if a PII column's anonymization method is missing (D1)
    or unknown. ``mask_model``, ``mask_column``, the PII report and the
    RoPA all call it, so a PII column is neither published raw nor
    reported as masked by a method that does not exist (e.g. the typo
    ``hash_sha265``)."""
    bad = {
        f"{policy.name}.{c}" if policy.name else c: p.anonymization_method
        for c, p in sorted(policy.pii_columns().items())
        if p.anonymization_method not in _METHODS
    }
    if bad:
        raise PolicyError(
            f"PII columns without a known anonymization_method: {bad}; "
            f"known: {sorted(_METHODS)}"
        )


def _masked(
    name: str,
    policy: ColumnPolicy | None,
    scope: _Scope,
    compat_aggregate_to_city_passthrough: bool,
) -> str:
    """One column's masked value aliased ``{name}_anon``, as SQL text. A
    column without a known method passes through (``validate_policy``
    has rejected every such PII column)."""
    method = policy.anonymization_method if policy else None
    if method == "aggregate_to_city" and compat_aggregate_to_city_passthrough:
        method = None  # reference behavior: no branch -> pass-through
    c = sql_ident(name)
    fn = _METHODS.get(method or "")
    return f"{fn(c, scope) if fn else c} AS {sql_ident(f'{name}_anon')}"


def mask_column(
    name: str, policy: ColumnPolicy | None, conf: EngineSettings
) -> Column:
    """Dispatch one column through its anonymization method (M6): the
    ``mask_model`` text for that column, aliased ``{name}_anon``. With no
    frame to look the column up in, ``aggregate_to_city`` releases NULL.
    """
    validate_policy(TablePolicy("", {name: policy or ColumnPolicy()}))
    spark = SparkSession.active()
    check_quoted_names(spark, [name])
    scope = _Scope(spark, conf, "cast(null as string)")
    return F.expr(_masked(name, policy, scope, False))


def mask_model(
    df: DataFrame,
    policy: TablePolicy,
    conf: EngineSettings | None = None,
    *,
    compat_aggregate_to_city_passthrough: bool = False,
) -> DataFrame:
    """Model-level rewriter (M7): one ``selectExpr`` masking every column.

    Column set and order come from the physical DataFrame (``df.columns``),
    mirroring the reference's ``adapter.get_columns_in_relation`` — columns
    absent from the policy still flow through (renamed ``_anon``).
    ``aggregate_to_city`` releases the frame's ``city`` column, or NULL
    where it has none.
    """
    validate_policy(policy)
    columns = df.columns
    check_quoted_names(df.sparkSession, columns)
    city = sql_ident("city") if "city" in columns else "cast(null as string)"
    scope = _Scope(df.sparkSession, conf or settings(), city)
    compat = compat_aggregate_to_city_passthrough
    return df.selectExpr(
        *(_masked(n, policy.columns.get(n), scope, compat) for n in columns)
    )


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
