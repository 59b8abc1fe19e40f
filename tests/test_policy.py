"""Policy model, validation gate, and mask_model rewriter tests."""

from __future__ import annotations

import pytest

from dbt_gdpr_anonymizer_spark.config import EngineSettings
from dbt_gdpr_anonymizer_spark.policy import (
    SERVICES_POLICY,
    ColumnPolicy,
    PolicyError,
    TablePolicy,
    mask_model,
    validate_policy,
)

CONF = EngineSettings(salt_key="dev_salt_UNSAFE")


def test_validate_policy_gate():
    bad = TablePolicy(
        name="t", columns={"email": ColumnPolicy(pii=True, anonymization_method=None)}
    )
    with pytest.raises(PolicyError):
        validate_policy(bad)
    validate_policy(SERVICES_POLICY)  # should not raise


def test_mask_model_columns_and_order(spark, ci_raw):
    masked = mask_model(ci_raw, SERVICES_POLICY, CONF)
    # every column renamed _anon, order preserved from the physical relation
    assert masked.columns == [f"{c}_anon" for c in ci_raw.columns]


def test_mask_model_applies_methods(spark, ci_raw):
    rows = mask_model(
        ci_raw, SERVICES_POLICY, CONF, compat_aggregate_to_city_passthrough=True
    ).collect()
    r = {row["service_id_anon"]: row for row in rows}
    a = r["TEST001"]
    assert a["contact_email_anon"].startswith("user_")
    assert a["contact_email_anon"].endswith("@anonymized.gouv.fr")
    assert a["contact_phone_anon"] == "+33 1  XX XX XX XX"
    assert a["latitude_anon"] == 48.86
    assert a["longitude_anon"] == 2.35
    # reference compat: aggregate_to_city has no branch -> pass-through
    assert a["street_address_anon"] == "10 rue de Paris"
    # non-PII pass-through
    assert a["service_name_anon"] == "Service Test 1"


def test_mask_model_aggregate_to_city_real(spark, ci_raw):
    rows = mask_model(
        ci_raw, SERVICES_POLICY, CONF, compat_aggregate_to_city_passthrough=False
    ).collect()
    r = {row["service_id_anon"]: row for row in rows}
    assert r["TEST001"]["street_address_anon"] == "Paris"
    assert r["TEST002"]["street_address_anon"] == "Marseille"


def test_mask_model_suppress_and_unknown(spark):
    df = spark.createDataFrame([("x", "y")], "a string, b string")
    tp = TablePolicy(
        name="t",
        columns={
            "a": ColumnPolicy(pii=True, anonymization_method="suppress"),
            "b": ColumnPolicy(pii=False, anonymization_method="not_a_method"),
        },
    )
    row = mask_model(df, tp, CONF).collect()[0]
    assert row["a_anon"] is None
    assert row["b_anon"] == "y"  # unknown method -> pass-through


def test_policies_from_schema_yaml_reference_shape(spark):
    """Parses the reference's dbt schema.yml layout (models -> columns ->
    meta) and the result drives mask_model identically to a hand-built
    policy."""
    from dbt_gdpr_anonymizer_spark.policy import (
        mask_model,
        policies_from_schema_yaml,
    )

    yml = """
version: 2
models:
  - name: stg_services
    columns:
      - name: contact_email
        meta:
          pii: true
          pii_type: direct_identifier
          anonymization_method: hash_sha256
          legal_basis: legitimate_interest
          custom_dbt_field: ignored
      - name: latitude
        meta:
          pii: true
          pii_type: quasi_identifier
          anonymization_method: round_2_decimals
      - name: city
"""
    pols = policies_from_schema_yaml(yml)
    assert set(pols) == {"stg_services"}
    pol = pols["stg_services"]
    assert pol.columns["contact_email"].anonymization_method == "hash_sha256"
    assert pol.columns["latitude"].pii_type == "quasi_identifier"
    assert pol.columns["city"].pii is False

    df = spark.createDataFrame(
        [("a@b.fr", 48.85661, "Paris")],
        "contact_email string, latitude double, city string",
    )
    out = mask_model(df, pol).collect()[0]
    assert out["contact_email_anon"].startswith("user_")
    assert out["contact_email_anon"].endswith("@anonymized.gouv.fr")
    assert out["latitude_anon"] == 48.86
    assert out["city_anon"] == "Paris"


def test_mask_model_salt_quoting(spark, literal_modes):
    """A salt holding a backslash and a quote hashes as its raw bytes
    under both ``escapedStringLiterals`` settings."""
    import hashlib

    conf = EngineSettings(salt_key="s\\a'lt\\'")
    df = spark.createDataFrame([(" A@B.fr ",)], ["contact_email"])
    digest = hashlib.sha256(("a@b.fr" + conf.salt_key).encode()).hexdigest()
    for _ in literal_modes():
        row = mask_model(df, SERVICES_POLICY, conf).collect()[0]
        assert row.contact_email_anon == f"user_{digest[:16]}@anonymized.gouv.fr"


def test_pii_inventory_sorted_and_exported(spark, tmp_path):
    """Policies passed out of name order give rows ordered by
    (model_name, column_name); the exported JSON is those rows."""
    import json

    from dbt_gdpr_anonymizer_spark.operators.report import (
        export_report,
        pii_inventory,
    )

    def pol(name, *cols):
        return TablePolicy(
            name=name,
            columns={
                c: ColumnPolicy(pii=True, pii_type="t", anonymization_method="suppress")
                for c in cols
            },
        )

    conf = EngineSettings(
        salt_key="x", data_owner="DPO", retention_days_default=30, k_anonymity_min=5
    )
    inv = pii_inventory(
        spark, [pol("z_model", "b", "a"), pol("a_model", "é", "c")], conf,
        with_timestamp=False,
    )
    export_report(inv, str(tmp_path), formats=("json",))
    expected = [
        {
            "model_name": m,
            "column_name": c,
            "pii_type": "t",
            "anonymization_method": "suppress",
            "data_owner": "DPO",
            "legal_basis": None,
            "retention_days": 30,
            "k_anonymity_target": 5,
        }
        for m, c in [("a_model", "c"), ("a_model", "é"), ("z_model", "a"), ("z_model", "b")]
    ]
    assert [r.asDict() for r in inv.collect()] == expected
    assert (tmp_path / "pii_report.json").read_text() == json.dumps(
        expected, indent=2, ensure_ascii=False
    )


def test_mask_model_regex_column_names(spark):
    """Under spark.sql.parser.quotedRegexColumnNames=true a quoted name
    holding regex metacharacters parses as a regex. mask_model must then
    fail and name the setting and the column, never pass a column
    through; plain names give the same rows under both settings."""
    from dbt_gdpr_anonymizer_spark.functions.sqltext import REGEX_NAMES_CONF

    df = spark.createDataFrame(
        [("x@y.fr", "secret@z.fr", "Paris")],
        "`a.b+(c)` string, `axbc` string, city string",
    )
    pol = TablePolicy(
        name="t",
        columns={
            "a.b+(c)": ColumnPolicy(
                pii=True, pii_type="direct_identifier",
                anonymization_method="hash_sha256",
            ),
            "axbc": ColumnPolicy(
                pii=True, pii_type="direct_identifier",
                anonymization_method="hash_sha256",
            ),
        },
    )
    plain = df.select("axbc", "city")
    default = mask_model(df, pol, CONF).collect()
    assert default[0]["a.b+(c)_anon"].startswith("user_")
    assert default[0]["axbc_anon"].startswith("user_")
    plain_default = mask_model(plain, pol, CONF).collect()
    spark.conf.set(REGEX_NAMES_CONF, "true")
    try:
        with pytest.raises(ValueError, match="quotedRegexColumnNames") as e:
            mask_model(df, pol, CONF)
        assert "a.b+(c)" in str(e.value)
        assert mask_model(plain, pol, CONF).collect() == plain_default
    finally:
        spark.conf.unset(REGEX_NAMES_CONF)
