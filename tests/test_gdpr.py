"""Unit tests for the GDPR subject-rights operators (operators/gdpr.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from dbt_gdpr_anonymizer_spark.operators.gdpr import (
    build_keymap,
    pseudonym_token,
    reidentify,
    retention_sweep,
    subject_access_extract,
)

SALT = "unit_salt"


def test_subject_access_extract_gathers_all_tables(spark):
    cust = spark.createDataFrame(
        [(1, "Alice", "AUTO"), (2, "Bob", "BUILD")], "ck long, name string, seg string"
    )
    orders = spark.createDataFrame(
        [(10, 1, "O"), (11, 1, "F"), (12, 2, "O")], "ok long, ck long, st string"
    )
    subjects = spark.createDataFrame([(1,)], "subject_key long")
    out = subject_access_extract(
        {
            "customer": (cust, "ck", "ck", ["name", "seg"]),
            "orders": (orders, "ck", "ok", ["st"]),
        },
        subjects,
    ).collect()
    # subject 1: 2 customer fields + 2 order rows × 1 field
    assert len(out) == 4
    assert all(r.subject_key == 1 for r in out)
    got = {(r.table_name, r.record_id, r.field, r.value) for r in out}
    assert ("customer", 1, "name", "Alice") in got
    assert ("orders", 10, "st", "O") in got
    assert ("orders", 11, "st", "F") in got
    # no leakage of the other subject
    assert not any(r.value == "Bob" for r in out)


def test_retention_sweep_boundary(spark):
    df = spark.createDataFrame(
        [("2019-12-31 23:59:59",), ("2020-01-01 00:00:00",), ("2021-06-01 00:00:00",)],
        "ts string",
    ).select(F.to_timestamp("ts").alias("ts"))
    # as_of 2021-01-01, retention 366 days -> cutoff 2020-01-01 00:00:00
    # (2020 is a 366-day leap year)
    out = retention_sweep(df, "ts", "2021-01-01", 366, table_name="t")
    rows = {(r.action, r.record_year): r.n_rows for r in out.collect()}
    # one second before the cutoff purges; exactly AT the cutoff keeps
    # (strict <); later rows keep
    assert rows == {("purge", 2019): 1, ("keep", 2020): 1, ("keep", 2021): 1}
    out2 = retention_sweep(df, "ts", "2021-01-01", 300, table_name="t")
    rows2 = {(r.action, r.record_year): r.n_rows for r in out2.collect()}
    assert rows2[("purge", 2019)] == 1 and rows2[("purge", 2020)] == 1
    assert rows2[("keep", 2021)] == 1


def test_pseudonym_token_stable_and_salted(spark):
    df = spark.createDataFrame([(7,), (7,), (8,)], "k long")
    toks = df.select(pseudonym_token(F.col("k"), SALT).alias("t")).collect()
    assert toks[0].t == toks[1].t != toks[2].t
    assert toks[0].t.startswith("sub_") and len(toks[0].t) == 20
    other = df.select(pseudonym_token(F.col("k"), "other").alias("t")).collect()
    assert other[0].t != toks[0].t  # salt actually enters the hash


def test_keymap_roundtrip(spark):
    facts = spark.createDataFrame([(1, 10), (1, 20), (2, 30)], "k long, v long")
    keymap = build_keymap(facts, "k", SALT)
    assert keymap.count() == 2
    tokenized = facts.select(
        pseudonym_token(F.col("k"), SALT).alias("subject_token"), "v"
    )
    back = reidentify(tokenized, keymap)
    assert back.filter(F.col("subject_key").isNull()).count() == 0
    # every value rejoins its original key
    chk = back.groupBy("subject_key").agg(F.sum("v").alias("s")).collect()
    assert {(r.subject_key, r.s) for r in chk} == {(1, 30), (2, 30)}


def test_consent_state_latest_wins_and_tiebreak(spark):
    from dbt_gdpr_anonymizer_spark.operators.gdpr import consent_state
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    t1 = dt.datetime(2024, 1, 2)
    rows = [
        # user 1: grant then revoke -> not consented
        (1, 1, "signup", t0),
        (2, 1, "error", t1),
        # user 2: revoke then grant -> consented
        (3, 2, "error", t0),
        (4, 2, "signup", t1),
        # user 3: equal ts, higher event_id is the grant -> consented
        (5, 3, "error", t0),
        (6, 3, "signup", t0),
        # user 4: only non-ledger events -> absent
        (7, 4, "view", t1),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp"
    )
    out = {
        r.user_id: r.consented
        for r in consent_state(
            df, "user_id", "event_type", "ts", tiebreak_col="event_id"
        ).collect()
    }
    assert out == {1: False, 2: True, 3: True}


def test_processing_records_art30_rollup(spark):
    """Art. 30 RoPA: one row per policied model, categories/bases/owners
    aggregated, retention envelope is the MAX, special-category flag set
    by pii_type, models with no PII omitted."""
    from dbt_gdpr_anonymizer_spark.operators.report import (
        processing_records,
    )
    from dbt_gdpr_anonymizer_spark.policy import ColumnPolicy, TablePolicy

    policies = [
        TablePolicy(
            name="customers",
            columns={
                "email": ColumnPolicy(
                    pii=True,
                    pii_type="direct_identifier",
                    anonymization_method="hash_sha256",
                    legal_basis="consent",
                    retention_days=30,
                    data_owner="crm",
                ),
                "city": ColumnPolicy(
                    pii=True,
                    pii_type="quasi_identifier",
                    anonymization_method="aggregate_to_city",
                    legal_basis="legitimate_interest",
                    retention_days=365,
                    data_owner="crm",
                ),
                "notes": ColumnPolicy(pii=False),
            },
        ),
        TablePolicy(
            name="visits",
            columns={
                "condition": ColumnPolicy(
                    pii=True,
                    pii_type="health",
                    anonymization_method="suppress",
                    legal_basis="consent",
                    retention_days=10,
                ),
            },
        ),
        TablePolicy(name="lookup", columns={"code": ColumnPolicy()}),
    ]
    got = {r.processing_activity: r for r in
           processing_records(spark, policies).collect()}
    assert set(got) == {"customers", "visits"}  # lookup has no PII
    c = got["customers"]
    assert c.data_categories == "direct_identifier,quasi_identifier"
    assert c.special_category is False
    assert c.legal_bases == "consent,legitimate_interest"
    assert c.retention_days_max == 365  # envelope = max across columns
    assert c.n_pii_columns == 2 and c.n_direct_identifiers == 1
    assert c.safeguards == "aggregate_to_city,hash_sha256"
    v = got["visits"]
    assert v.special_category is True
    assert v.retention_days_max == 10
