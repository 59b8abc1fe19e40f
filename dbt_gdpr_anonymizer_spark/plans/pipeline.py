"""The 4-layer anonymization pipeline: staging → anonymized → enriched → mart.

Reference models (all under /root/reference/dbt_project/models/):
    staging/stg_services_publics.sql            -> staging()
    intermediate/privacy/int_services_anonymized.sql -> anonymize()
    intermediate/services/int_services_enriched.sql  -> enrich()
    marts/mart_services_open_data.sql           -> mart()

Each stage is a pure ``DataFrame -> DataFrame`` function, so Catalyst sees one
lazy plan across all four layers and optimizes globally — unlike dbt, which
materializes at every model boundary. ``run_pipeline`` optionally persists
intermediate layers (the dbt behavior) when an output root is given; at
cluster scale you would partition those writes by e.g. ``department_code``.

The dept→region and type→label lookups are CASE-chain expressions built from
mapping dicts (``_mapping_expr``): at their tiny cardinality an expression is
cheaper than even a broadcast join (no exchange, stays inside whole-stage
codegen), and the mapping stays data (editable, auditable). Swap to a
``broadcast()`` lookup join only if a mapping ever grows past a few hundred
entries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dbt_gdpr_anonymizer_spark.config import EngineSettings, settings
from dbt_gdpr_anonymizer_spark.functions import masking
from dbt_gdpr_anonymizer_spark.policy import (
    SERVICES_POLICY,
    TablePolicy,
    _sql_ident,
    _sql_str,
    mask_model,
)

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


def _mapping_expr(col, mapping: dict[str, str], default: str):
    """CASE chain from a mapping dict (kept as expressions: tiny cardinality,
    avoids even a broadcast for the common enrich path).

    Built as ONE parsed SQL string, not chained ``F.when()`` calls: each
    ``when`` is a py4j round trip, and the three pipeline maps total ~50
    entries — ~0.2 s of socket chatter per query build, measured. The
    parsed CASE is semantically identical (NULL input falls to ELSE in
    both forms). ``col`` is a plain column name string.

    Escaping is ``policy._sql_str`` / ``policy._sql_ident``: backslashes
    double before quotes do (Spark SQL string literals process backslash
    escapes by default) and backticks in the column name double, so a
    key/value/name containing either routes exactly as raw bytes."""
    if not mapping:
        return F.lit(default)
    col_sql = _sql_ident(col)
    arms = " ".join(
        f"WHEN {col_sql} = {_sql_str(k)} THEN {_sql_str(v)}"
        for k, v in mapping.items()
    )
    return F.expr(f"CASE {arms} ELSE {_sql_str(default)} END")


def staging(raw: DataFrame) -> DataFrame:
    """Clean + type the raw seed (stg_services_publics.sql:39-95)."""
    df = raw.select(
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
        F.col("latitude").cast("double").alias("latitude"),
        F.col("longitude").cast("double").alias("longitude"),
        "insee_code",
        F.col("last_updated").cast("date").alias("last_updated"),
        F.current_timestamp().alias("loaded_at"),
    ).filter(F.col("service_id").isNotNull() & F.col("service_name").isNotNull())
    flagged = df.select(
        masking.surrogate_key("service_id").alias("service_key"),
        "*",
        F.when(F.col("contact_email").isNotNull(), 1).otherwise(0).alias("has_email"),
        F.when(F.col("contact_phone").isNotNull(), 1).otherwise(0).alias("has_phone"),
        F.when(F.col("street_address").isNotNull(), 1)
        .otherwise(0)
        .alias("has_address"),
        F.when(
            F.col("latitude").isNotNull() & F.col("longitude").isNotNull(), 1
        )
        .otherwise(0)
        .alias("has_coordinates"),
    )
    return flagged


def anonymize(
    staged: DataFrame,
    policy: TablePolicy = SERVICES_POLICY,
    conf: EngineSettings | None = None,
    *,
    compat_aggregate_to_city_passthrough: bool = False,
) -> DataFrame:
    """Policy-driven masking + audit columns (int_services_anonymized.sql:41-50).

    Default actually aggregates street addresses to the city value. The
    reference has NO dispatcher branch for ``aggregate_to_city``, so its
    street addresses leak (pass-through) into every persisted layer —
    set the flag True only to reproduce that bug-compat behavior.
    """
    conf = conf or settings()
    masked = mask_model(
        staged,
        policy,
        conf,
        compat_aggregate_to_city_passthrough=compat_aggregate_to_city_passthrough,
    )
    return masked.select(
        "*",
        F.current_timestamp().alias("anonymized_at"),
        F.lit(conf.project_version).alias("anonymization_version"),
        F.lit(f"round_{conf.gps_precision}_decimals").alias(
            "gps_anonymization_method"
        ),
    )


def enrich(anon: DataFrame, conf: EngineSettings | None = None) -> DataFrame:
    """Business enrichment (int_services_enriched.sql:35-99)."""
    conf = conf or settings()
    return anon.select(
        "*",
        _mapping_expr(
            "organization_type_anon", ORGANIZATION_CATEGORY_MAP, "autres"
        ).alias("organization_category"),
        F.substring(F.col("postal_code_anon"), 1, 2).alias("department_code_anon"),
        masking.create_geohash(
            "latitude_anon", "longitude_anon", conf.gps_precision
        ).alias("geohash_anon"),
        F.when(F.col("contact_email_anon").like("%@anonymized.gouv.fr"), 1)
        .otherwise(0)
        .alias("is_email_properly_anonymized"),
        F.when(F.col("contact_phone_anon").like("%XX XX XX XX"), 1)
        .otherwise(0)
        .alias("is_phone_properly_anonymized"),
    )


def mart(enriched: DataFrame, conf: EngineSettings | None = None) -> DataFrame:
    """Open-data mart: rename *_anon -> clean, region mapping, quality filter
    (mart_services_open_data.sql:37-146)."""
    conf = conf or settings()
    completeness = (
        F.col("has_email_anon").cast("int")
        + F.col("has_phone_anon").cast("int")
        + F.col("has_address_anon").cast("int")
        + F.col("has_coordinates_anon").cast("int")
    )
    df = enriched.select(
        F.col("service_id_anon").alias("service_id"),
        F.col("service_name_anon").alias("service_name"),
        F.col("parent_organization_anon").alias("parent_organization"),
        F.col("organization_type_anon").alias("organization_type"),
        _mapping_expr(
            "organization_type_anon", ORGANIZATION_TYPE_LABELS, "Autre"
        ).alias("organization_type_label"),
        F.col("contact_email_anon").alias("contact_email"),
        F.col("contact_phone_anon").alias("contact_phone"),
        F.col("city_anon").alias("city"),
        F.col("commune_anon").alias("commune"),
        F.col("department_code_anon").alias("department_code"),
        _mapping_expr(
            "department_code_anon", REGION_MAP, "Autre région"
        ).alias("region"),
        F.col("latitude_anon").alias("latitude"),
        F.col("longitude_anon").alias("longitude"),
        F.col("geohash_anon").alias("geohash"),
        F.col("insee_code_anon").alias("insee_code"),
        F.col("postal_code_anon").alias("postal_code"),
        F.col("has_email_anon").alias("has_email"),
        F.col("has_phone_anon").alias("has_phone"),
        F.col("has_address_anon").alias("has_address"),
        F.col("has_coordinates_anon").alias("has_coordinates"),
        completeness.alias("data_completeness_score"),
        F.when(completeness >= 3, "Complet")
        .when(completeness == 2, "Partiel")
        .otherwise("Minimal")
        .alias("data_quality_level"),
        F.col("last_updated_anon").alias("last_updated"),
        F.col("anonymized_at"),
        F.current_timestamp().alias("mart_created_at"),
        F.col("anonymization_version"),
        F.concat(F.lit("GDPR Anonymizer v"), F.col("anonymization_version")).alias(
            "processing_pipeline"
        ),
        F.lit("Conforme GDPR - Art. 4.5 (Pseudonymisation)").alias("legal_status"),
        F.lit("Licence Ouverte / Open Licence").alias("license"),
    )
    return df.filter(
        F.col("service_name").isNotNull()
        & F.col("organization_type").isNotNull()
        & (F.col("data_completeness_score") >= 1)
    )


# dbt_project.yml:81,95,110 — staging materializes as a view; anonymized/
# enriched/mart as tables. Mirrored here: view layers register a temp view,
# table layers persist (parquet under output_root, or saveAsTable).
MATERIALIZATION = {
    "staging": "view",
    "anonymized": "table",
    "enriched": "table",
    "mart": "table",
}


def run_pipeline(
    raw: DataFrame,
    policy: TablePolicy = SERVICES_POLICY,
    conf: EngineSettings | None = None,
    output_root: str | None = None,
    *,
    use_catalog: bool = False,
    database: str | None = None,
    partition_by: dict[str, list[str]] | None = None,
) -> dict[str, DataFrame]:
    """Run all four layers with reference materialization semantics (S5).

    Returns every layer so callers (tests, validation, reports) can inspect
    intermediates. View layers (staging) register a temp view; table layers
    persist — as parquet under ``output_root``, or into the session catalog
    via ``saveAsTable`` when ``use_catalog`` is set (``database`` maps the
    reference's per-layer ``+schema`` routing). With neither, everything
    stays a lazy DataFrame and Catalyst optimizes across all four layers in
    one plan — the preferred mode when downstream consumers are in-process.
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
        # partition_by maps layer -> partition columns (e.g. mart by
        # department_code): downstream reads filtered on those columns get
        # partition pruning for free at cluster scale.
        parts = (partition_by or {}).get(name)
        if use_catalog:
            if database:
                spark.sql(f"CREATE DATABASE IF NOT EXISTS {database}")
            qualified = f"{database}.{name}" if database else name
            w = df.write.mode("overwrite")
            if parts:
                w = w.partitionBy(*parts)
            w.saveAsTable(qualified)
            return spark.table(qualified)
        if output_root:
            path = f"{output_root}/{name}"
            w = df.write.mode("overwrite")
            if parts:
                w = w.partitionBy(*parts)
            w.parquet(path)
            return spark.read.parquet(path)
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
