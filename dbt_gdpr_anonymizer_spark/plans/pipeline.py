"""The 4-layer anonymization pipeline: staging → anonymized → enriched → mart.

Reference models (all under /root/reference/dbt_project/models/):
    staging/stg_services_publics.sql            -> staging()
    intermediate/privacy/int_services_anonymized.sql -> anonymize()
    intermediate/services/int_services_enriched.sql  -> enrich()
    marts/mart_services_open_data.sql           -> mart()

Each stage is a pure ``DataFrame -> DataFrame`` function, so Catalyst sees one
lazy plan across all four layers and optimizes globally — unlike dbt, which
materializes at every model boundary. ``run_pipeline`` optionally persists
intermediate layers (the dbt behavior) when an output root is given; a
layer that should be partitioned (e.g. the mart by ``department_code``)
is written with ``sources/partitioned.write_partitioned``.

The dept→region and type→label lookups are CASE-chain expressions built from
mapping dicts (``_mapping_sql``): at their tiny cardinality an expression is
cheaper than even a broadcast join (no exchange, stays inside whole-stage
codegen), and the mapping stays data (editable, auditable). Swap to a
``broadcast()`` lookup join only if a mapping ever grows past a few hundred
entries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dbt_gdpr_anonymizer_spark.config import EngineSettings, settings
from dbt_gdpr_anonymizer_spark.functions import masking
from dbt_gdpr_anonymizer_spark.functions.sqltext import sql_ident, sql_str
from dbt_gdpr_anonymizer_spark.operators import validate
from dbt_gdpr_anonymizer_spark.policy import SERVICES_POLICY, TablePolicy, mask_model

RAW_COLUMNS = [
    "service_id",
    "service_name",
    "parent_organization",
    "organization_type",
    "contact_email",
    "contact_phone",
    "website",
    "street_address",
    "postal_code",
    "city",
    "commune",
    "latitude",
    "longitude",
    "insee_code",
    "last_updated",
]

# int_services_enriched.sql:42-76 — organization_type -> category
ORGANIZATION_CATEGORY_MAP = {
    "administration-centrale-ou-ministere": "services_centraux",
    "cabinet-ministeriel": "services_centraux",
    "service-a-competence-nationale": "services_centraux",
    "secretaire-d-etat": "services_centraux",
    "service-deconcentre": "services_centraux",
    "autorite-publique-independante": "autorites",
    "autorite-administrative-independante": "autorites",
    "etablissement-public": "operateurs",
    "groupement-d-interet-public": "operateurs",
    "etablissement-d-enseignement": "enseignement",
    "ambassade-ou-mission-diplomatique": "diplomatie",
    "institution-europeenne": "institutions",
    "institution": "institutions",
    "conseil-comite-commission-organisme-consultatif": "instances_consultatives",
}

# mart_services_open_data.sql:54-59 — type -> display label
ORGANIZATION_TYPE_LABELS = {
    "ministere": "Ministère",
    "autorite-administrative-independante": "Autorité Indépendante",
    "etablissement-public": "Établissement Public",
    "service-central": "Service Central",
}

# mart_services_open_data.sql:76-83 — department -> region
REGION_MAP = {
    **{d: "Île-de-France" for d in ["75", "77", "78", "91", "92", "93", "94", "95"]},
    **{d: "Hauts-de-France" for d in ["59", "62"]},
    **{d: "Auvergne-Rhône-Alpes" for d in ["69", "01", "42", "63"]},
    **{
        d: "Provence-Alpes-Côte d'Azur"
        for d in ["13", "83", "84", "04", "05", "06"]
    },
    **{d: "Nouvelle-Aquitaine" for d in ["33", "24", "40", "47", "64"]},
    **{d: "Occitanie" for d in ["31", "09", "12", "32", "46", "65", "81", "82"]},
}


def _mapping_sql(col: str, mapping: dict[str, str], default: str) -> str:
    """CASE chain SQL text from a mapping dict over column ``col`` (kept as
    expressions: tiny cardinality, avoids even a broadcast for the common
    enrich path). NULL input falls to ELSE.

    Quoting is ``sqltext.sql_str`` / ``sqltext.sql_ident``, so a key, value
    or column name containing backslashes, quotes or backticks routes
    exactly as raw bytes under either ``escapedStringLiterals`` setting."""
    default_sql = sql_str(default)
    if not mapping:
        return default_sql
    c = sql_ident(col)
    arms = " ".join(
        f"WHEN {c} = {sql_str(k)} THEN {sql_str(v)}" for k, v in mapping.items()
    )
    return f"CASE {arms} ELSE {default_sql} END"


# The layers are built as parsed SQL text (see the note in policy.py).
_TYPED = {
    "latitude": "cast(latitude as double) AS latitude",
    "longitude": "cast(longitude as double) AS longitude",
    "last_updated": "cast(last_updated as date) AS last_updated",
}


def staging(raw: DataFrame) -> DataFrame:
    """Clean + type the raw seed (stg_services_publics.sql:39-95)."""
    df = raw.selectExpr(
        *[_TYPED.get(c, c) for c in RAW_COLUMNS],
        "current_timestamp() AS loaded_at",
    ).filter("service_id IS NOT NULL AND service_name IS NOT NULL")
    return df.selectExpr(
        f"{masking.surrogate_key_sql('service_id')} AS service_key",
        "*",
        "CASE WHEN contact_email IS NOT NULL THEN 1 ELSE 0 END AS has_email",
        "CASE WHEN contact_phone IS NOT NULL THEN 1 ELSE 0 END AS has_phone",
        "CASE WHEN street_address IS NOT NULL THEN 1 ELSE 0 END AS has_address",
        "CASE WHEN latitude IS NOT NULL AND longitude IS NOT NULL THEN 1 ELSE 0 END"
        " AS has_coordinates",
    )


def anonymize(
    staged: DataFrame,
    policy: TablePolicy = SERVICES_POLICY,
    conf: EngineSettings | None = None,
) -> DataFrame:
    """Policy-driven masking + audit columns (int_services_anonymized.sql:41-50).

    Street addresses are aggregated to the city value. The reference has
    NO dispatcher branch for ``aggregate_to_city``, so its street
    addresses leak (pass-through) into every persisted layer;
    ``mask_model``'s ``compat_aggregate_to_city_passthrough`` reproduces
    that.
    """
    conf = conf or settings()
    return mask_model(staged, policy, conf).selectExpr(
        "*",
        "current_timestamp() AS anonymized_at",
        f"{sql_str(conf.project_version)} AS anonymization_version",
        f"{sql_str(f'round_{conf.gps_precision}_decimals')}"
        " AS gps_anonymization_method",
    )


def enrich(anon: DataFrame, conf: EngineSettings | None = None) -> DataFrame:
    """Business enrichment (int_services_enriched.sql:35-99)."""
    conf = conf or settings()
    category = _mapping_sql(
        "organization_type_anon", ORGANIZATION_CATEGORY_MAP, "autres"
    )
    geohash = masking.geohash_sql(
        "latitude_anon", "longitude_anon", conf.gps_precision
    )
    return anon.selectExpr(
        "*",
        f"{category} AS organization_category",
        "substring(postal_code_anon, 1, 2) AS department_code_anon",
        f"{geohash} AS geohash_anon",
        "CASE WHEN contact_email_anon LIKE '%@anonymized.gouv.fr' THEN 1 ELSE 0 END"
        " AS is_email_properly_anonymized",
        "CASE WHEN contact_phone_anon LIKE '%XX XX XX XX' THEN 1 ELSE 0 END"
        " AS is_phone_properly_anonymized",
    )


def mart(enriched: DataFrame, conf: EngineSettings | None = None) -> DataFrame:
    """Open-data mart: rename *_anon -> clean, region mapping, quality filter
    (mart_services_open_data.sql:37-146)."""
    conf = conf or settings()

    def renamed(*cols: str) -> list[str]:
        return [f"{c}_anon AS {c}" for c in cols]

    completeness = " + ".join(
        f"cast({c}_anon as int)"
        for c in ("has_email", "has_phone", "has_address", "has_coordinates")
    )
    label = _mapping_sql(
        "organization_type_anon", ORGANIZATION_TYPE_LABELS, "Autre"
    )
    region = _mapping_sql("department_code_anon", REGION_MAP, "Autre région")
    df = enriched.selectExpr(
        *renamed(
            "service_id", "service_name", "parent_organization", "organization_type"
        ),
        f"{label} AS organization_type_label",
        *renamed(
            "contact_email", "contact_phone", "city", "commune", "department_code"
        ),
        f"{region} AS region",
        *renamed(
            "latitude",
            "longitude",
            "geohash",
            "insee_code",
            "postal_code",
            "has_email",
            "has_phone",
            "has_address",
            "has_coordinates",
        ),
        f"{completeness} AS data_completeness_score",
        f"CASE WHEN {completeness} >= 3 THEN 'Complet'"
        f" WHEN {completeness} = 2 THEN 'Partiel'"
        " ELSE 'Minimal' END AS data_quality_level",
        "last_updated_anon AS last_updated",
        "anonymized_at",
        "current_timestamp() AS mart_created_at",
        "anonymization_version",
        "concat('GDPR Anonymizer v', anonymization_version) AS processing_pipeline",
        "'Conforme GDPR - Art. 4.5 (Pseudonymisation)' AS legal_status",
        "'Licence Ouverte / Open Licence' AS license",
    )
    return df.filter(
        "service_name IS NOT NULL AND organization_type IS NOT NULL"
        " AND data_completeness_score >= 1"
    )


# dbt_project.yml:81,95,110 — staging materializes as a view; anonymized/
# enriched/mart as tables. Mirrored here: view layers register a temp view,
# table layers persist as parquet under output_root.
MATERIALIZATION = {
    "staging": "view",
    "anonymized": "table",
    "enriched": "table",
    "mart": "table",
}

# The validation gate's aggregates per layer. They ride the layer's write
# as an Observation, so the gate reads their row instead of re-scanning.
GATE_AGGS = {"enriched": validate.quality_aggs, "mart": validate.mart_aggs}


def _write_observed(df: DataFrame, path: str, aggs: list[str]) -> DataFrame:
    """Write ``df`` as parquet; return the frame reading it
    back. ``aggs`` ride the write as an Observation, and their row is bound
    to the returned frame, which reads exactly the rows and column types
    written (``validate.bind_observed``)."""
    # The written schema made nullable is what inference would find (the
    # layers are flat); passing it skips the inference job.
    schema = T.StructType(
        [T.StructField(f.name, f.dataType, True, f.metadata) for f in df.schema]
    )
    obs = Observation()
    if aggs:
        df = df.observe(obs, *map(F.expr, aggs))
    df.write.mode("overwrite").parquet(path)
    out = df.sparkSession.read.schema(schema).parquet(path)
    if aggs:
        validate.bind_observed(out, aggs, obs.get)
    return out


def run_pipeline(
    raw: DataFrame,
    policy: TablePolicy = SERVICES_POLICY,
    conf: EngineSettings | None = None,
    output_root: str | None = None,
) -> dict[str, DataFrame]:
    """Run all four layers with reference materialization semantics (S5).

    Returns every layer so callers (tests, validation, reports) can inspect
    intermediates. View layers (staging) register a temp view; table layers
    persist as parquet under ``output_root`` and come back carrying the
    validation gate's counts for them, observed during the write
    (``GATE_AGGS``). Without ``output_root`` everything stays a lazy
    DataFrame and Catalyst optimizes across all four layers in one plan —
    the preferred mode when downstream consumers are in-process.
    Partitioned layer writes are ``sources/partitioned.write_partitioned``.
    """
    conf = conf or settings()
    conf.require_safe_salt()
    spark = raw.sparkSession

    def materialize(name: str, df: DataFrame) -> DataFrame:
        """Apply the layer's materialization; returns the DataFrame the NEXT
        stage should build on, so each table layer is computed once and
        downstream stages scan it instead of recomputing the lineage (the
        dbt barrier semantics)."""
        if MATERIALIZATION[name] == "view":
            df.createOrReplaceTempView(name)
            return df
        if output_root:
            gate = GATE_AGGS.get(name)
            return _write_observed(
                df, f"{output_root}/{name}", gate(df) if gate else []
            )
        return df

    # D4 run hooks: each layer's jobs carry a description in the Spark UI /
    # event log (the reference's query-comment + on-run hooks,
    # dbt_project.yml:186-204).
    sc = spark.sparkContext
    layers: dict[str, DataFrame] = {}
    stages = [
        ("staging", lambda: staging(raw)),
        ("anonymized", lambda: anonymize(layers["staging"], policy, conf)),
        ("enriched", lambda: enrich(layers["anonymized"], conf)),
        ("mart", lambda: mart(layers["enriched"], conf)),
    ]
    for name, build in stages:
        sc.setJobDescription(f"gdpr-anonymizer layer={name}")
        layers[name] = materialize(name, build())
    sc.setJobDescription(None)
    return layers
